"""Round-12 optimization pins: the MSF round-merge rewrite (driver
union-find for driver-sized component graphs vs the distributed CC
path) must be value-identical, and the merge threshold knob must
select the intended path."""

from pyspark.sql import functions as F


def _support_graph(spark):
    # a weighted graph with ties, multi-edges, and several components:
    # exercises the (w, u, v) tie-break and the min-id merge labels
    rows = [
        (1, 2, 1.0), (2, 3, 1.0), (1, 3, 2.0), (3, 4, 0.5), (4, 5, 0.5),
        (5, 1, 3.0), (6, 7, 1.5), (7, 8, 1.5), (6, 8, 1.5), (9, 10, 0.1),
        (2, 1, 9.0),  # reversed duplicate, heavier — must lose to min(w)
        (11, 12, 4.0), (12, 13, 4.0), (13, 11, 4.0), (13, 14, 4.0),
    ]
    return spark.createDataFrame(rows, "src long, dst long, weight double")


def _forest_rows(df):
    return sorted(tuple(r) for r in df.select("u", "v", "weight").collect())


def test_msf_local_merge_matches_distributed(spark, monkeypatch):
    from patternly_spark.operators import graph
    from patternly_spark.operators.graph import minimum_spanning_forest

    g = _support_graph(spark)
    local_path = _forest_rows(minimum_spanning_forest(g))
    # a zero driver budget forces every round onto the distributed CC merge
    monkeypatch.setattr(graph, "MSF_LOCAL_MERGE_BYTES", 0)
    dist_path = _forest_rows(minimum_spanning_forest(g))
    assert local_path == dist_path
    # spanning-forest shape: n - c edges (14 nodes, 4 components:
    # {1..5}, {6,7,8}, {9,10}, {11..14})
    assert len(local_path) == 14 - 4


def test_empty_rows_is_plan_visible_empty(spark):
    """empty_rows must (a) match createDataFrame([], schema) on schema,
    (b) optimize to an empty LocalRelation so unions/joins against it
    are pruned at plan time (the streaming seed-registry fast path)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from patternly_spark.plans import empty_rows, local_rows

    schema = StructType(
        [StructField("a", LongType()), StructField("b", StringType())]
    )
    e = empty_rows(spark, schema)
    assert e.schema == spark.createDataFrame([], schema).schema
    assert e.count() == 0
    assert "LocalRelation <empty>" in e._jdf.queryExecution().optimizedPlan().toString()
    # union against the empty seed prunes to the other side
    big = spark.createDataFrame([(1, "x"), (2, "y")], schema)
    u = big.unionByName(e)
    assert "Union" not in u._jdf.queryExecution().optimizedPlan().toString()
    assert sorted(tuple(r) for r in u.collect()) == [(1, "x"), (2, "y")]
    # local_rows([]) routes through the same fast path
    e2 = local_rows(spark, [], "a long, b string")
    assert (
        "LocalRelation <empty>"
        in e2._jdf.queryExecution().optimizedPlan().toString()
    )


def test_streaming_seed_registries_are_empty_local_relations(spark):
    """Every ``empty_*`` constructor of ``patternly_spark.streaming``
    (found by a module scan, so a new one is covered without listing it)
    builds plan-visible empty relations."""
    import importlib
    import inspect
    import pkgutil

    import patternly_spark.streaming as streaming

    ctors = {}
    for info in pkgutil.iter_modules(streaming.__path__):
        mod = importlib.import_module(f"{streaming.__name__}.{info.name}")
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if name.startswith("empty_") and fn.__module__ == mod.__name__:
                ctors[f"{info.name}.{name}"] = fn
    # the six seed registries of dedup, graph and similarity at least
    assert len(ctors) >= 6, sorted(ctors)
    for name, ctor in ctors.items():
        out = ctor(spark)
        for r in out if isinstance(out, tuple) else (out,):
            plan = r._jdf.queryExecution().optimizedPlan().toString()
            assert "LocalRelation <empty>" in plan, name


def test_msf_strict_false_budget_path(spark):
    from patternly_spark.operators.graph import minimum_spanning_forest

    g = _support_graph(spark)
    partial = minimum_spanning_forest(g, max_rounds=1, strict=False)
    full = minimum_spanning_forest(g)
    # Boruvka never retracts: the 1-round partial forest is a subset
    got = set(_forest_rows(partial))
    want = set(_forest_rows(full))
    assert got <= want
    assert len(got) >= 1

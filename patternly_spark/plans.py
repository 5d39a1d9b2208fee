"""Physical-plan auditing and partition-sizing policy — the "is this
the plan I'd want at 100 TB" check as a first-class utility instead of
ad-hoc string greps.

``plan_audit(df)`` summarizes the executed plan: shuffle count,
join strategies, Python boundaries, codegen spans, and what actually
reached the parquet scans (pushed filters, partition filters, read
schema).  ``assert_plan(df, ...)`` turns the summary into a one-line
guard for tests and pipelines — the repo's plan-shape regression tests
(pushdown, broadcast, zero-shuffle llk, no-BNLJ range join,
single-exchange packing) are all instances of these predicates.

``round_partitions`` + ``tuned_shuffle`` are the engine's
partition-sizing POLICY for round-heavy iterative operators (graph
peels, label propagation, register propagation): the sf30/sf100 scale
rehearsal (SCALING.md) measured that a ~30-round peel pays task-
scheduling overhead per round x per partition, so it wants FEWER,
larger shuffle partitions than a storage-heavy single pass — even at
the cost of graceful disk spill (q189 at sf30: 128 s spilled at 32
partitions vs 202 s spill-free at 128; see BENCH_scale_sf30_p64.json
for the 64-partition knee point).  The policy picks min(session
setting, max(bytes-derived, cores)) so it only ever LOWERS a too-high
session setting toward the measured knee, never raises it.

The policy has no off switch: its A/B is settled.  In the sf30 table
(SCALING.md, round 8) the policy under a 128-partition session beat
every fixed count, 32, 64 and 128, on both round-heavy queries.  To
run an operator at a fixed count, set the session's
``spark.sql.shuffle.partitions`` (or wrap the call in
``tuned_shuffle(spark, n)``): the policy never exceeds that ceiling.

Driver-sized relations skip distributed work under one of two budgets,
both defined here; each caller passes only its tracemalloc-measured
per-row cost, kept next to its operator, and each primitive reads its
budget when it is called (a test zeroes one to force the distributed
path).  ``DRIVER_BUDGET_BYTES`` (64 MiB) bounds what the driver process
holds: ``collect_within`` collects the relation and the caller works on
it there, beside the session, for as long as it keeps the result (the
driver-sized fit, the MSF component merge).  ``TASK_BUDGET_BYTES``
(128 MiB) bounds one Python worker's peak while ``solve_within`` runs a
kernel over the whole relation in one task (the graph solves).  That
memory is released when the task ends, and the driver receives only the
kernel's result, so the one-task budget can admit relations the driver
budget would not.
"""

from __future__ import annotations

import math
import re
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

__all__ = [
    "plan_audit",
    "assert_plan",
    "shuffle_partitions",
    "round_partitions",
    "round_shuffle",
    "tuned_shuffle",
    "empty_rows",
    "local_rows",
    "local_frame",
    "collect_within",
    "solve_within",
    "list_parts",
]

#: Driver memory a driver-sized relation may take (``collect_within``).
DRIVER_BUDGET_BYTES = 64 * 1024 * 1024

#: Python-worker memory a one-task solve may take (``solve_within``).
TASK_BUDGET_BYTES = 128 * 1024 * 1024


def _plan_string(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def plan_audit(df: DataFrame) -> dict:
    """Summarize the physical plan of ``df``.

    Returns a dict with:

    - ``exchanges``: shuffle exchanges (excluding reuse markers) — each
      is a full repartition of its input.
    - ``reused_exchanges``: shuffles Catalyst deduplicated.
    - ``broadcast_joins`` / ``sort_merge_joins`` / ``shuffled_hash_joins``:
      join strategy counts.
    - ``nested_loop_joins``: BroadcastNestedLoopJoin + CartesianProduct —
      almost always a missing equi-condition at scale.
    - ``python_evals``: rows crossing into Python
      (Batch/ArrowEvalPython, MapInPandas, FlatMapGroupsInPandas...).
    - ``codegen_spans``: WholeStageCodegen regions (wider = better).
    - ``scans``: one entry per file scan with ``pushed_filters``,
      ``partition_filters`` and ``read_schema`` as Catalyst printed them.
    - ``aqe``: whether AdaptiveSparkPlan wraps the tree.
    """
    plan = _plan_string(df)
    scans = []
    for m in re.finditer(r"FileScan \w+ [^\n]*", plan):
        line = m.group(0)
        pushed = re.search(r"PushedFilters: \[([^\]]*)\]", line)
        part = re.search(r"PartitionFilters: \[([^\]]*)\]", line)
        schema = re.search(r"ReadSchema: ([^,\n]*)", line)
        scans.append(
            {
                "pushed_filters": pushed.group(1) if pushed else "",
                "partition_filters": part.group(1) if part else "",
                "read_schema": schema.group(1) if schema else "",
            }
        )
    return {
        "exchanges": len(re.findall(r"(?<!Reused)Exchange", plan)),
        "reused_exchanges": len(re.findall(r"ReusedExchange", plan)),
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin", plan)),
        "sort_merge_joins": len(re.findall(r"SortMergeJoin", plan)),
        "shuffled_hash_joins": len(re.findall(r"ShuffledHashJoin", plan)),
        "nested_loop_joins": len(
            re.findall(r"BroadcastNestedLoopJoin|CartesianProduct", plan)
        ),
        "python_evals": len(
            re.findall(
                r"BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas"
                r"|AggregateInPandas|MapInArrow",
                plan,
            )
        ),
        "codegen_spans": len(re.findall(r"\*\(\d+\)|WholeStageCodegen", plan)),
        "scans": scans,
        "aqe": "AdaptiveSparkPlan" in plan,
    }


def assert_plan(
    df: DataFrame,
    *,
    max_exchanges: int | None = None,
    no_python: bool = False,
    no_nested_loop: bool = True,
    require_broadcast_join: bool = False,
    require_pushed_filter: str | None = None,
    require_partition_filter: bool = False,
) -> dict:
    """Assert plan-shape invariants; returns the audit for further
    checks.  Raises AssertionError naming the violated invariant with
    the audit attached — meant for tests AND for guarding production
    pipelines before a 1000-executor submit."""
    audit = plan_audit(df)
    if max_exchanges is not None and audit["exchanges"] > max_exchanges:
        raise AssertionError(
            f"plan has {audit['exchanges']} exchanges > {max_exchanges}: {audit}"
        )
    if no_python and audit["python_evals"]:
        raise AssertionError(f"plan crosses into Python {audit['python_evals']}x: {audit}")
    if no_nested_loop and audit["nested_loop_joins"]:
        raise AssertionError(f"plan contains nested-loop/cartesian joins: {audit}")
    if require_broadcast_join and not audit["broadcast_joins"]:
        raise AssertionError(f"expected a broadcast join: {audit}")
    if require_pushed_filter is not None and not any(
        require_pushed_filter in s["pushed_filters"] for s in audit["scans"]
    ):
        raise AssertionError(
            f"no scan pushed a filter matching {require_pushed_filter!r}: {audit}"
        )
    if require_partition_filter and not any(
        s["partition_filters"] for s in audit["scans"]
    ):
        raise AssertionError(f"no scan carries partition filters: {audit}")
    return audit


# ---------------------------------------------------------------------------
# Partition-sizing policy (round-heavy iterative operators)
# ---------------------------------------------------------------------------

# Target shuffle bytes PER TASK for a round-heavy operator.  Calibrated
# against the sf30/sf100 scale rehearsal (SCALING.md round-7/8 addenda):
# at sf30 the k-core peel was FASTER spilled at 32 partitions (128 s,
# 11.3 GB graceful spill) than spill-free at 128 (202 s) because ~30
# rounds pay scheduling overhead per round x per partition, and the
# avoided spill was cheap sequential disk.  512 MiB/task reproduces the
# measured winner at sf30 while still growing the partition count
# linearly with the data (sf100 -> ~3x more partitions than sf30).
ROUND_TASK_BYTES = 512 * 1024 * 1024

# Policy bytes per row of a round relation: the JVM shuffle-time
# footprint of the canonical 2-long edge row.
ROUND_ROW_BYTES = 48


def _parse_mem_bytes(s: str) -> int | None:
    """Spark memory-conf string -> bytes (``8g``/``512m``/``1t``/
    ``4096`` — a bare number follows ``spark.executor.memory``'s MiB
    default unit).  None on anything unparseable."""
    try:
        t = str(s).strip().lower().removesuffix("b")
        mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
        if t and t[-1] in mult:
            return int(float(t[:-1]) * mult[t[-1]])
        return int(float(t) * (1 << 20))
    except (ValueError, TypeError):
        return None


def _heap_task_bytes_cap(spark) -> int:
    """Upper bound on per-task bytes the EXECUTOR HEAP can actually
    sort: half the heap per concurrent task slot, floored at 64 MiB.
    The 512 MiB/task policy target implicitly assumes ~1 GiB+ of heap
    per core (any production executor sizing); a local[32] session on
    an 8g heap has 256 MiB/core, where a 512 MiB task's sort pointer
    arrays alone are ~128 MiB humongous allocations — the round-10
    sf30 repeat protocol caught q189/q218 OOMing ~1 in 3 runs exactly
    there.  Capping task bytes by heap-per-slot makes the policy
    deployment-aware: production sizings keep the measured 512 MiB
    optimum, memory-tight local sessions trade a few more partitions
    for never OOMing.

    WHICH heap depends on the deployment: in ``local[*]`` the driver
    JVM's ``Runtime.maxMemory`` IS the task heap, divided by the local
    core count.  On a real cluster the driver heap says NOTHING about
    executors (an 8g driver in front of 400 executor cores is normal),
    so the cap reads ``spark.executor.memory`` / ``spark.executor.
    cores`` from the conf instead — and when those are absent
    (platform-managed sizing) it declines to cap at all, leaving the
    measured 512 MiB policy target in force."""
    try:
        master = str(spark.conf.get("spark.master", "") or "")
    except Exception:
        master = ""
    if master.startswith("local"):
        try:
            max_mem = int(spark._jvm.java.lang.Runtime.getRuntime().maxMemory())
        except Exception:
            return ROUND_TASK_BYTES
        cores = max(1, spark.sparkContext.defaultParallelism)
        return max(64 * 1024 * 1024, int(max_mem / cores / 2))
    try:
        em = spark.conf.get("spark.executor.memory", None)
        ec = spark.conf.get("spark.executor.cores", None)
    except Exception:
        return ROUND_TASK_BYTES
    mem_bytes = _parse_mem_bytes(em) if em else None
    if not mem_bytes:
        return ROUND_TASK_BYTES
    try:
        cores = max(1, int(ec)) if ec else 1
    except (ValueError, TypeError):
        cores = 1
    return max(64 * 1024 * 1024, int(mem_bytes / cores / 2))


def shuffle_partitions(spark, default: int = 200) -> int:
    """The session's shuffle-partition setting as an int, robust to
    AQE-managed platforms where ``spark.sql.shuffle.partitions`` is the
    literal string ``"auto"`` (int() would raise ValueError there)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", str(default)))
    except (ValueError, TypeError):
        return int(default)


def _round_count(spark, n_bytes: float) -> int:
    """The one partition-sizing rule behind ``round_partitions``,
    ``round_partitions_for`` and ``fanout_respread``, for a relation of
    ``n_bytes`` policy bytes:

        n = min(session shuffle partitions,
                max(ceil(n_bytes / task bytes), cores))

    - never EXCEEDS the session setting (the user's ceiling stands);
    - never drops below the cluster's core count (parallelism floor),
      unless the session setting itself is lower;
    - grows linearly with the relation so a 100 TB peel still gets
      bytes-proportional partitions from a huge session setting while a
      GB-scale peel on the same session is capped near the core count,
      where ~30 rounds x scheduling overhead would otherwise dominate
      (q189 at sf30: spilled-at-32 beat clean-at-128 by 1.6x).

    Task bytes are ``ROUND_TASK_BYTES`` capped by what the heap per
    task slot can sort (``_heap_task_bytes_cap``)."""
    sess = shuffle_partitions(spark)
    cores = max(1, spark.sparkContext.defaultParallelism)
    task_bytes = min(ROUND_TASK_BYTES, _heap_task_bytes_cap(spark))
    by_bytes = max(1, math.ceil(n_bytes / float(task_bytes)))
    return max(1, min(sess, max(by_bytes, min(cores, sess))))


def round_partitions(spark, n_rows: int) -> int:
    """Shuffle-partition count for a ROUND-HEAVY iterative operator
    whose per-round relation has ``n_rows`` rows (e.g. the canonical
    edge set of a graph peel): ``_round_count`` at ``ROUND_ROW_BYTES``
    per row (VERDICT r7 item 1 — the measured sf30/sf100 asymmetry as
    engine policy instead of prose)."""
    return _round_count(spark, int(n_rows) * ROUND_ROW_BYTES)


#: plan-stats sizeInBytes (unsafe-row accounting) -> the policy's
#: ROUND_ROW_BYTES units, calibrated on the canonical 2-long edge schema
#: (stats report 12 B/row there; the policy's 48 B/row models the JVM
#: shuffle-time footprint).  Only the RATIO matters — the policy is an
#: order-of-magnitude partition sizer, not a byte counter.
_STATS_INFLATION = 4.0


def plan_size_bytes(df) -> int | None:
    """Catalyst's sizeInBytes estimate for ``df``'s optimized plan —
    FREE (no job), but an estimate even on a localCheckpoint-pinned
    relation: a pinned 948-row ``distinct`` reported the size of its
    1,000 input rows.  None when the estimate is the unknown sentinel
    (defaultSizeInBytes ~ 2^63, e.g. any relation built from a Python
    list) or non-positive."""
    try:
        sz = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    if sz <= 0 or sz >= (1 << 60):
        return None
    return sz


def round_partitions_for(spark, df) -> int:
    """``round_partitions`` for a (pinned) relation WITHOUT a count
    job: the size comes from the optimized plan's statistics (free;
    ~15 ms vs ~0.8 s for a count over a pinned 3M-row relation —
    measured, BENCH_policy_ab_sf01.json context), scaled by the
    documented stats->policy calibration.  Falls back to one count job
    only when stats are unavailable.

    The stats are Catalyst's size propagation rather than exact bytes,
    pinned or not; the result is clamped to [core floor, session
    ceiling], so a mis-estimate degrades to the session's partition
    counts at worst.  An operator that has just counted its relation
    sizes from that count instead (``round_partitions``)."""
    sz = plan_size_bytes(df)
    if sz is None:
        return round_partitions(spark, df.count())
    return _round_count(spark, sz * _STATS_INFLATION)


def round_shuffle(df):
    """``tuned_shuffle`` at ``round_partitions_for(df)``: the scope of
    a ROUND-HEAVY loop iterating over ``df`` (graph peels, label and
    register propagation), which wants bytes-sized shuffle partitions,
    not the session default.  Values are partition-count invariant;
    only wall clock changes."""
    spark = df.sparkSession
    return tuned_shuffle(spark, round_partitions_for(spark, df))


def empty_rows(spark, schema) -> DataFrame:
    """A zero-row DataFrame as a plan-visible EMPTY LocalRelation.

    ``spark.createDataFrame([], schema)`` builds a
    defaultParallelism-sliced ExistingRDD: every consumption schedules
    one pickle-RDD task per core, and — worse — Catalyst cannot prove
    the relation empty, so an empty seed registry drags its whole
    union/join subtree through planning and execution on EVERY
    streaming microbatch.  ``.limit(0)`` triggers the optimizer's
    OptimizeLimitZero rewrite to ``LocalRelation <empty>``, which
    PropagateEmptyRelation then folds: unions drop the empty side
    outright and left-joins against it collapse to null projections
    (measured on the probe session: ``union(empty)`` optimizes to the
    bare other side).  Values and schema are exactly those of the
    default path — empty is empty; ``limit(0)`` preserves the schema
    including nullability."""
    return spark.createDataFrame([], schema).limit(0)


def local_rows(spark, rows, schema: str) -> DataFrame:
    """Driver-computed rows as a ONE-partition DataFrame.

    ``spark.createDataFrame(list, schema)`` parallelizes the local list
    over ``defaultParallelism`` slices, so every consumption of an
    8-row driver readout (a Newton-solver result, an agreement matrix,
    a weight table) runs one Python-worker task PER CORE — measured
    0.34 s vs 0.19 s warm per noop save on local[32], and ~1 s/task
    cold while the workers start (r11 q250 profile: a 35 s save stage
    for 8 rows).  A driver-sized relation belongs in one slice at any
    scale: broadcast consumers read it in a single build task and no
    scheduler rounds are spent on empty slices.  Values and schema are
    exactly those of the default path.  Empty input returns the
    plan-visible empty LocalRelation (``empty_rows``) so downstream
    unions/joins can prune it at plan time."""
    if not rows:
        return empty_rows(spark, schema)
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def local_frame(spark, pdf, schema) -> DataFrame:
    """A driver-built pandas frame as a ONE-partition DataFrame, rows in
    frame order (the ``local_rows`` rule for a frame too large for
    Python rows).  An object column of numpy arrays is packed into one
    Arrow list array: pandas' own Arrow conversion walks every element
    (measured 33 B of driver memory per element and 13x the time of the
    packed table, 3,000 x 200 int8)."""
    cols = {}
    for name in pdf.columns:
        col = pdf[name]
        if col.dtype == object:
            arrays = col.tolist()
            offsets = np.zeros(len(arrays) + 1, dtype=np.int32)
            np.cumsum([len(a) for a in arrays], out=offsets[1:])
            cols[name] = pa.ListArray.from_arrays(pa.array(offsets), pa.array(np.concatenate(arrays)))
        else:
            cols[name] = pa.array(col.to_numpy())
    return spark.createDataFrame(pa.table(cols), schema).coalesce(1)


def list_parts(col) -> tuple[np.ndarray, np.ndarray, np.ndarray | None]:
    """An Arrow list column as numpy: (values, offsets, present), where
    row i holds ``values[offsets[i]:offsets[i + 1]]``, a null list holds
    nothing, and ``present`` masks the non-null elements (None when every
    element is present; a null element's slot in ``values`` is
    undefined).  Views of the Arrow buffers where their types allow."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks() if col.num_chunks != 1 else col.chunk(0)
    offsets = col.offsets.to_numpy().astype(np.int64)
    values = col.values.slice(offsets[0], offsets[-1] - offsets[0])
    present = None
    if values.null_count:
        present = values.is_valid().to_numpy(zero_copy_only=False)
    return values.to_numpy(zero_copy_only=False), offsets - offsets[0], present


def collect_within(
    df: DataFrame, row_bytes: float, list_col: str | None = None, element_bytes: float = 0
) -> tuple[pa.Table | None, int, int]:
    """Measure a relation against the driver budget and, when it fits,
    collect it: one job.

    A relation costs ``rows * row_bytes + elements * element_bytes``,
    where elements is the total length of its list column ``list_col``
    (null elements included, a null list holds none; none without a list
    column); it fits when that is below ``DRIVER_BUDGET_BYTES``.  The
    relation is coalesced to at most ``defaultParallelism`` partitions,
    and each task keeps its Arrow batches while its partition costs less
    than the budget over that count, so the driver never receives more
    than the budget.  A task over its share returns only its (rows,
    elements).  The driver sums the counts and applies the budget: the
    relation is collected a second time only when it fits but a skewed
    partition held its rows back.  A budget of 0 admits nothing and runs
    no job.

    Returns (the relation as an Arrow table in no fixed row order, or
    None when it does not fit; rows; elements).  Rows and elements are
    None when no job ran."""
    import pyarrow.compute as pc
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    budget = DRIVER_BUDGET_BYTES
    if budget <= 0:
        return None, None, None
    parts = max(1, df.sparkSession.sparkContext.defaultParallelism)
    share = budget / parts
    names = df.columns
    schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in df.schema]
        + [T.StructField("__rows", T.LongType()), T.StructField("__elements", T.LongType())]
    )
    arrow_schema = to_arrow_schema(schema)

    def measure(batches):
        kept, rows, elements = [], 0, 0
        for batch in batches:
            rows += batch.num_rows
            if list_col is not None:
                offsets = batch.column(list_col).offsets
                elements += offsets[-1].as_py() - offsets[0].as_py()
            if kept is not None and rows * row_bytes + elements * element_bytes < share:
                kept.append(batch)
            else:
                kept = None  # over the share: count the rest only
        for batch in kept or ():
            counts = pa.nulls(batch.num_rows, pa.int64())
            yield pa.RecordBatch.from_arrays(batch.columns + [counts, counts], schema=arrow_schema)
        summary = [pa.nulls(1, f.type) for f in list(arrow_schema)[:-2]] + [pa.array([rows]), pa.array([elements])]
        yield pa.RecordBatch.from_arrays(summary, schema=arrow_schema)

    table = df.coalesce(parts).mapInArrow(measure, schema).toArrow()
    summary = np.flatnonzero(table.column("__rows").is_valid().to_numpy(zero_copy_only=False))
    rows = int(pc.sum(table.column("__rows")).as_py() or 0)
    elements = int(pc.sum(table.column("__elements")).as_py() or 0)
    if rows * row_bytes + elements * element_bytes >= budget:
        return None, rows, elements
    if table.num_rows - summary.size < rows:
        return df.toArrow(), rows, elements
    # the data rows lie between the tasks' summary rows: zero-copy slices
    bounds = np.concatenate([[-1], summary, [table.num_rows]])
    kept = [table.slice(a + 1, b - a - 1) for a, b in zip(bounds[:-1], bounds[1:]) if b - a > 1]
    if not kept:
        return table.slice(0, 0).select(names), rows, elements
    return pa.concat_tables(kept).select(names), rows, elements


def solve_within(df: DataFrame, kernel, schema, row_bytes: float) -> tuple[DataFrame | None, DataFrame]:
    """Run ``kernel`` over the whole of a relation in one task when the
    relation fits the one-task budget, and serve its result: one job
    beyond the relation's own shuffle stages, two after a shuffle.

    The relation fits when its rows times ``row_bytes`` are below
    ``TASK_BUDGET_BYTES``; cap is the largest row count that does.  One
    task reads ``df.coalesce(1).limit(cap + 1)``: when it sees at most
    cap rows it yields ``kernel(table)`` (an Arrow table of all of them
    -> an Arrow table with ``schema``'s column names), else only a flag.  The driver
    collects that result and serves it as a one-partition frame with
    ``schema`` (a StructType).  A relation with no rows gives no rows
    without calling ``kernel``.  A budget that admits no row runs no
    job.

    When ``df``'s plan has an exchange, its last stage (a join or an
    aggregate, whose input can be far larger than the relation) would
    run in that one task under ``coalesce(1)``, and a caller's
    distributed path would run its shuffles again after a failed probe.
    Such a relation is pinned lazily (DISK_ONLY) and read as
    ``pin.limit(cap + 1).coalesce(1)``: its tasks keep their parallelism
    and each materializes its partition of the pin, passing at most
    cap + 1 rows to the one exchange that gathers them for the solve, at
    the cost of one more job.

    Returns (the served result, or None when the relation is over the
    budget; the relation the caller's distributed path should read:
    ``df``, or its pin)."""
    from pyspark import StorageLevel
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    cap = math.ceil(TASK_BUDGET_BYTES / row_bytes) - 1
    if cap < 1:
        return None, df
    task_schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in schema] + [T.StructField("__over", T.BooleanType())]
    )
    arrow_schema = to_arrow_schema(task_schema)
    out_schema = pa.schema(list(arrow_schema)[:-1])

    def solve(batches):
        batches = list(batches)
        if sum(b.num_rows for b in batches) > cap:
            flag = [pa.nulls(1, f.type) for f in out_schema] + [pa.array([True])]
            yield pa.RecordBatch.from_arrays(flag, schema=arrow_schema)
        elif batches:
            out = kernel(pa.Table.from_batches(batches)).select(out_schema.names).cast(out_schema)
            over = pa.nulls(out.num_rows, pa.bool_())
            yield from out.append_column(arrow_schema.field("__over"), [over]).to_batches()

    if plan_audit(df)["exchanges"]:
        df = df.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
        # coalesce(1) keeps the task to one where AQE drops a limit the
        # gathered rows cannot reach
        rows = df.limit(cap + 1).coalesce(1)
    else:
        rows = df.coalesce(1).limit(cap + 1)
    table = rows.mapInArrow(solve, task_schema).toArrow()
    if table.column("__over").null_count < table.num_rows:
        return None, df
    result = table.drop_columns(["__over"])
    return df.sparkSession.createDataFrame(result, schema).coalesce(1), df


def fanout_respread(df: DataFrame, fanout: int) -> DataFrame:
    """Compute-aware parallelism floor for a relation about to be
    exploded ``fanout``x and probed through a per-row kernel
    (optimization guide §2.5: AQE coalesces a small post-aggregate
    relation to ~64 MiB partitions by BYTES, but it cannot see that a
    downstream Generate multiplies per-partition work ``fanout``x — a
    tiny distinct-keys relation then runs its whole explode + verify
    pipeline on 1-2 cores).  One round-robin exchange re-spreads the
    relation to the partition count the round policy would pick for the
    post-explode bytes (plan-stats size x ``fanout``), clamped as always
    to [core floor, session ceiling]; without plan stats it lands on
    the core floor (no job is ever run to size it).

    Scale-adaptive, not a local constant: at 100 TB the plan-stats
    size is large, so the policy lands at the session ceiling exactly
    like every other big shuffle; locally it lands at the core floor.
    Values are unaffected (round-robin repartition is deterministic
    under Spark's sort-before-repartition default, and the call sites
    are explode+join+distinct pipelines that are partition-count
    invariant)."""
    sz = plan_size_bytes(df)
    n_bytes = 0 if sz is None else sz * _STATS_INFLATION * max(1, int(fanout))
    return df.repartition(_round_count(df.sparkSession, n_bytes))


@contextmanager
def tuned_shuffle(spark, n_partitions: int):
    """Temporarily pin ``spark.sql.shuffle.partitions`` to
    ``n_partitions`` for the queries PLANNED inside the block (each
    round of an iterative operator plans and executes eagerly inside
    its loop, so the loop body is exactly the scope that matters).
    Restores the previous raw value — including the literal ``"auto"``
    on AQE-managed platforms — on exit, even on error.

    Session-global for the duration: a concurrent streaming microbatch
    planned inside the window would also pick up the tuned count.  That
    is benign by construction — every operator in this engine is
    partition-count invariant on VALUES (the driver gate replays all
    oracles on a vanilla 200-partition session) — but keep timing runs
    serial as always.
    """
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(int(n_partitions)))
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

"""Round-8 hardening: the partition-sizing policy (plans.round_partitions
/ tuned_shuffle), the ST24b retention-horizon bounded TF-IDF registry,
the ST37 Kleinberg deployment shape (event-log registry + batch replay),
the streaming-DiD string-unit fix, degenerate-input NULL conventions for
DiD / Mann-Whitney, and the first-write crash window of the exactly-once
flat-seed fallback."""

import math

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# partition-sizing policy
# ---------------------------------------------------------------------------


def test_shuffle_partitions_handles_auto(spark):
    """Vanilla Spark validates the conf (can't SET "auto" here), but
    AQE-managed platforms return the literal string "auto" from the
    getter — fake the conf to exercise that path."""
    from patternly_spark.plans import shuffle_partitions

    assert shuffle_partitions(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )

    class _AutoConf:
        def get(self, key, default=None):
            return "auto"

    class _AutoSpark:
        conf = _AutoConf()

    assert shuffle_partitions(_AutoSpark(), default=77) == 77


def test_round_partitions_policy_shape(spark):
    """min(session, max(bytes-derived, cores)): small relations land on
    the core floor, huge ones on the session ceiling."""
    from patternly_spark.plans import (
        ROUND_TASK_BYTES,
        _heap_task_bytes_cap,
        round_partitions,
    )

    sess = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cores = spark.sparkContext.defaultParallelism
    floor = min(cores, sess)
    # round-10: task bytes are heap-aware — the policy sorts what the
    # heap per task slot can actually hold (sf30 OOM finding)
    eff = min(ROUND_TASK_BYTES, _heap_task_bytes_cap(spark))
    assert 64 * 1024 * 1024 <= eff <= ROUND_TASK_BYTES
    # tiny relation: scheduling overhead dominates -> core floor
    assert round_partitions(spark, 1000) == floor
    # bytes-proportional middle: ceil(bytes / task) once above the floor
    rows_mid = (floor + 1) * eff // 48
    expect = min(sess, max(math.ceil(rows_mid * 48 / eff), floor))
    assert round_partitions(spark, rows_mid) == expect
    # huge relation: capped at the session setting (never exceeds it)
    assert round_partitions(spark, 10**15) == sess


def test_round_partitions_for_counts_only_without_stats(spark):
    """With no plan stats, round_partitions_for delegates to the
    row-count rule through one count job (with stats it runs none:
    test_round_partitions_for_uses_plan_stats_not_count)."""
    from patternly_spark.plans import round_partitions, round_partitions_for

    class Boom:
        called = False

        def count(self):
            Boom.called = True
            return 1000

    # no plan stats on the fake -> falls back to the one count job
    assert round_partitions_for(spark, Boom()) == round_partitions(spark, 1000)
    assert Boom.called is True


def test_round_partitions_for_uses_plan_stats_not_count(spark):
    """On a real pinned relation the policy reads Catalyst's
    sizeInBytes (free) instead of running a count job: same floor on a
    small relation, and a large pinned relation lands in the
    bytes-proportional regime consistent with the stats calibration."""
    import math as _math

    from pyspark.sql import functions as F

    from patternly_spark.plans import (
        ROUND_TASK_BYTES,
        _STATS_INFLATION,
        _heap_task_bytes_cap,
        plan_size_bytes,
        round_partitions_for,
    )

    sess = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cores = spark.sparkContext.defaultParallelism
    floor = min(cores, sess)
    small = (
        spark.range(100)
        .select(F.col("id").alias("u"), F.col("id").alias("v"))
        .localCheckpoint(eager=True)
    )
    assert plan_size_bytes(small) is not None
    assert round_partitions_for(spark, small) == floor
    big = (
        spark.range(400_000)
        .select(F.col("id").alias("u"), (F.col("id") * 7).alias("v"))
        .localCheckpoint(eager=True)
    )
    sz = plan_size_bytes(big)
    assert sz is not None and sz >= 400_000 * 8
    eff = min(ROUND_TASK_BYTES, _heap_task_bytes_cap(spark))
    expect = max(
        1,
        min(
            sess,
            max(
                _math.ceil(sz * _STATS_INFLATION / float(eff)),
                floor,
            ),
        ),
    )
    assert round_partitions_for(spark, big) == expect


def test_fanout_respread_policy_shape(spark):
    """r11: fanout_respread spreads a tiny pre-explode relation to the
    core floor (AQE would coalesce it to 1-2 partitions by bytes and
    serialize the downstream Generate), and sizes a huge one into the
    bytes*fanout-proportional regime capped at the session ceiling."""
    import math as _math

    from pyspark.sql import functions as F

    from patternly_spark.plans import (
        ROUND_TASK_BYTES,
        _STATS_INFLATION,
        _heap_task_bytes_cap,
        fanout_respread,
        plan_size_bytes,
    )

    sess = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cores = spark.sparkContext.defaultParallelism
    floor = min(cores, sess)
    small = spark.range(100).select(F.col("id").alias("k")).localCheckpoint(eager=True)
    out = fanout_respread(small, 200)
    assert f"RoundRobinPartitioning({floor})" in out._jdf.queryExecution().toString()
    big = spark.range(3_000_000).select(F.col("id").alias("k")).localCheckpoint(eager=True)
    sz = plan_size_bytes(big)
    eff = min(ROUND_TASK_BYTES, _heap_task_bytes_cap(spark))
    expect = max(1, min(sess, max(_math.ceil(sz * _STATS_INFLATION * 200 / float(eff)), floor)))
    outb = fanout_respread(big, 200)
    assert f"RoundRobinPartitioning({expect})" in outb._jdf.queryExecution().toString()


def test_local_rows_single_partition_same_values(spark):
    """r11: a driver-computed readout must land in ONE partition — the
    default createDataFrame parallelizes a tiny list over
    defaultParallelism slices, paying one Python-worker task per core
    every time the relation is consumed (q250 profile: a 35 s save
    stage for 8 rows, cold)."""
    from patternly_spark.plans import local_rows

    rows = [("a", 1.0), ("b", 2.0)]
    df = local_rows(spark, rows, "k string, v double")
    assert df.rdd.getNumPartitions() == 1
    assert sorted((r["k"], r["v"]) for r in df.collect()) == rows
    empty = local_rows(spark, [], "k string, v double")
    assert empty.count() == 0 and empty.schema.simpleString() == df.schema.simpleString()


def test_passjoin_probe_side_spread_and_build_side_pinned(spark):
    """r11 q197 fix: the PassJoin probe pipeline (explode ~200x +
    levenshtein verify) must run above a round-robin respread of the
    distinct left keys, and the segment-blocks side must be the
    broadcast BUILD side — without the hint AQE may broadcast the
    fatter probe side and re-serialize the verify onto the blocks
    side's 1-2 AQE-coalesced partitions."""
    from pyspark.sql import functions as F

    from patternly_spark.operators.retrieval import passjoin_fuzzy_key_join

    docs = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "abcdefghiX")], "doc_id long, text string"
    )
    out = passjoin_fuzzy_key_join(
        docs.select(F.col("text").alias("k")),
        docs.select(F.col("text").alias("k2")),
        left_key="k", right_key="k2", max_dist=3,
    )
    plan = out._jdf.queryExecution().toString()
    assert "RoundRobinPartitioning" in plan
    # values unchanged by the respread + pinned build side
    rows = {(r["k"], r["k2"], r["dist"]) for r in out.collect()}
    assert ("abcdefghij", "abcdefghiX", 1) in rows
    assert ("abcdefghij", "abcdefghij", 0) in rows


def test_tuned_shuffle_restores_even_on_error(spark):
    from patternly_spark.plans import tuned_shuffle

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    with tuned_shuffle(spark, 3):
        assert spark.conf.get(key) == "3"
    assert spark.conf.get(key) == prev
    with pytest.raises(RuntimeError):
        with tuned_shuffle(spark, 5):
            assert spark.conf.get(key) == "5"
            raise RuntimeError("boom")
    assert spark.conf.get(key) == prev


def test_graph_ops_unchanged_under_policy(spark, both_paths):
    """The policy only changes partition counts, never values: CC and
    core_numbers agree with a run under a one-partition session
    setting (the policy never exceeds the session setting)."""
    import random

    from patternly_spark.operators.graph import connected_components, core_numbers
    from patternly_spark.plans import tuned_shuffle

    random.seed(5)
    edges = [(random.randint(0, 40), random.randint(0, 40)) for _ in range(120)]
    df = spark.createDataFrame(
        [e for e in edges if e[0] != e[1]], "src long, dst long"
    )
    for path in both_paths("TASK_BUDGET_BYTES"):
        with_policy_cc = sorted(map(tuple, connected_components(df).collect()))
        with_policy_core = sorted(map(tuple, core_numbers(df).collect()))
        with tuned_shuffle(spark, 1):
            assert sorted(map(tuple, connected_components(df).collect())) == with_policy_cc, path
            assert sorted(map(tuple, core_numbers(df).collect())) == with_policy_core, path


# ---------------------------------------------------------------------------
# streaming DiD: string unit ids (the cast-to-long collapse fix)
# ---------------------------------------------------------------------------


def test_streaming_did_registry_string_units(spark, tmp_path):
    """String unit ids must NOT collapse into one pseudo-unit per arm:
    finalize == batch diff_in_diff over the union with the same string
    units (the batch operator groups on the unit column as-is)."""
    from patternly_spark.operators.drift import diff_in_diff
    from patternly_spark.streaming.drift import (
        did_from_registry,
        streaming_did_registry,
    )

    rows = []
    for u in range(24):
        arm = "a" if u % 2 == 0 else "b"
        uid = f"user-{u:03d}"
        rows.append((uid, arm, 0, 100 + 3 * u))
        rows.append((uid, arm, 1, 140 + 2 * u + (25 if arm == "b" else 0)))
    schema = "unit string, arm string, is_post int, cents long"
    df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "src")
    for b in [rows[0::2], rows[1::2]]:
        spark.createDataFrame(b, schema).coalesce(1).write.mode("append").parquet(src)

    q = streaming_did_registry(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        str(tmp_path / "reg"),
        checkpoint_path=str(tmp_path / "ckpt"),
        unit_col="unit",
        arm_col="arm",
        is_post_col="is_post",
        value_cents_col="cents",
        trigger_once=True,
    )
    q.awaitTermination(120)

    got = did_from_registry(spark, str(tmp_path / "reg")).collect()[0]
    want = diff_in_diff(
        df, "cents", unit_col="unit", arm_col="arm", is_post_col="is_post"
    ).collect()[0]
    # n_control == number of DISTINCT units per arm, not 1
    assert got["n_control"] == 12 and got["n_treatment"] == 12
    assert tuple(got) == tuple(want)


# ---------------------------------------------------------------------------
# degenerate-input NULL conventions (never NaN/Inf)
# ---------------------------------------------------------------------------


def test_did_single_unit_arm_yields_null_not_nan(spark):
    from patternly_spark.operators.drift import diff_in_diff

    rows = [
        ("u1", "a", 0, 100), ("u1", "a", 1, 120),   # single control unit
        ("u2", "b", 0, 100), ("u2", "b", 1, 150),
        ("u3", "b", 0, 100), ("u3", "b", 1, 160),
    ]
    out = diff_in_diff(
        spark.createDataFrame(rows, "unit string, arm string, is_post int, cents long"),
        "cents", unit_col="unit", arm_col="arm", is_post_col="is_post",
    ).collect()[0]
    assert out["n_control"] == 1
    assert out["se"] is None and out["z"] is None
    assert out["did_cents"] is not None  # means still reported


def test_did_identical_deltas_yield_null_z(spark):
    from patternly_spark.operators.drift import diff_in_diff

    rows = []
    for u in range(6):
        arm = "a" if u < 3 else "b"
        rows.append((f"u{u}", arm, 0, 100))
        rows.append((f"u{u}", arm, 1, 100 + (10 if arm == "a" else 30)))
    out = diff_in_diff(
        spark.createDataFrame(rows, "unit string, arm string, is_post int, cents long"),
        "cents", unit_col="unit", arm_col="arm", is_post_col="is_post",
    ).collect()[0]
    assert out["se"] == 0.0 and out["z"] is None
    assert out["did_cents"] == 20.0


def test_mwu_all_tied_yields_sigma_zero_null_z(spark):
    from patternly_spark.operators.drift import mann_whitney_u

    rows = [(i, "a" if i % 2 == 0 else "b", 500) for i in range(20)]
    out = mann_whitney_u(
        spark.createDataFrame(rows, "id long, arm string, cents long"),
        "cents", arm_col="arm",
    ).collect()[0]
    assert out["sigma"] == 0.0 and out["z"] is None
    assert out["u_treatment"] == out["mu"]


def test_mwu_one_arm_empty_group_yields_nulls(spark):
    from patternly_spark.operators.drift import mann_whitney_u

    rows = [("g1", "a", 10), ("g1", "b", 20), ("g1", "a", 30), ("g1", "b", 15)]
    rows += [("g2", "a", 5), ("g2", "a", 7)]  # control-only group
    out = {
        r["g"]: r
        for r in mann_whitney_u(
            spark.createDataFrame(rows, "g string, arm string, cents long"),
            "cents", arm_col="arm", by="g",
        ).collect()
    }
    assert out["g2"]["n_treatment"] == 0
    assert out["g2"]["sigma"] is None and out["g2"]["z"] is None
    assert out["g1"]["sigma"] is not None and out["g1"]["sigma"] > 0.0


# ---------------------------------------------------------------------------
# exactly-once: crash DURING the first write_snapshot beside a flat seed
# ---------------------------------------------------------------------------


def test_flat_seed_survives_uncommitted_first_snapshot(spark, tmp_path):
    """A crash during write_snapshot(0) leaves an UNCOMMITTED snap_0
    dir beside an externally seeded flat registry; the retry of batch 0
    must still fold on the seed (reading the mixed directory would fail
    and the old fallback silently returned no state)."""
    from patternly_spark.streaming.exactly_once import read_latest_snapshot

    state = str(tmp_path / "state")
    seed = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    seed.coalesce(1).write.parquet(state)
    # flatten: move parquet part files directly under state/ (legacy seed)
    import glob
    import os
    import shutil

    for f in glob.glob(f"{state}/_SUCCESS"):
        os.remove(f)
    # simulate the crash: snap_0 written without its _SUCCESS marker
    spark.createDataFrame([(9, 99)], "k long, v long").coalesce(1).write.parquet(
        f"{state}/snap_0"
    )
    os.remove(f"{state}/snap_0/_SUCCESS")

    df, bid = read_latest_snapshot(spark, state, before_batch=0)
    assert bid is None and df is not None
    assert sorted(map(tuple, df.collect())) == [(1, 10), (2, 20)]


# ---------------------------------------------------------------------------
# ST24b: retention-horizon bounded TF-IDF all-pairs
# ---------------------------------------------------------------------------


def _tfidf_corpus():
    import random

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(60)]
    rows = []
    for i in range(0, 16, 2):
        base = rng.choices(vocab, k=20)
        near = list(base)
        near[3] = rng.choice(vocab)
        near[11] = rng.choice(vocab)
        rows.append((i, " ".join(base)))
        rows.append((i + 1, " ".join(near)))
    for i in range(16, 40):
        rows.append((i, " ".join(rng.choices(vocab, k=20))))
    return rows


def test_tfidf_retention_horizon_parity(spark, tmp_path):
    """ST24b law: with retention K, the union of emitted pairs equals
    the FULL batch operator restricted to pairs whose batch distance is
    <= K (batch membership read back from the registry's _batch_id
    partitions, so the law is checked against what actually ran)."""
    from patternly_spark.operators.similarity_allpairs import (
        build_idf_snapshot,
        tfidf_cosine_allpairs,
    )
    from patternly_spark.streaming.exactly_once import read_appended
    from patternly_spark.streaming.similarity import streaming_tfidf_allpairs

    rows = _tfidf_corpus()
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "src")
    # 4 files -> 4 microbatches.  The 8 planted near-dup pairs are laid
    # out to cover ALL SIX unordered file-pairs (plus two same-file), so
    # WHATEVER order the file source assigns batch ids, some pair sits
    # at batch distance >= 2 and the K=1 horizon genuinely binds.
    by_id = dict(rows)
    files = {
        0: [0, 2, 4, 12],          # pairs (0,1)->AB (2,3)->AC (4,5)->AD
        1: [1, 6, 8, 13],          # (6,7)->BC (8,9)->BD (12,13)->AB
        2: [3, 7, 10, 14],         # (10,11)->CD (14,15)->CD
        3: [5, 9, 11, 15],
    }
    fillers = [i for i in range(16, 40)]
    for f, ids in files.items():
        ids = ids + fillers[f::4]
        batch_rows = [(i, by_id[i]) for i in ids]
        spark.createDataFrame(batch_rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)
    idf_path = str(tmp_path / "idf")
    build_idf_snapshot(docs).write.parquet(idf_path)

    K = 1
    q = streaming_tfidf_allpairs(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        registry_path=str(tmp_path / "registry"),
        output_path=str(tmp_path / "out"),
        checkpoint_path=str(tmp_path / "ckpt"),
        idf_path=idf_path,
        threshold=0.5,
        trigger_once=True,
        retention_batches=K,
    )
    q.awaitTermination(180)

    got = {
        (r.doc_a, r.doc_b): r.cosine
        for r in read_appended(spark, str(tmp_path / "out")).collect()
    }
    # recover each doc's actual batch id from the registry partitions
    reg_raw = spark.read.parquet(str(tmp_path / "registry"))
    doc_batch = {
        r.id: r.b
        for r in reg_raw.select(
            "id", F.col("_batch_id").cast("int").alias("b")
        ).distinct().collect()
    }
    snap = spark.read.parquet(idf_path)
    full = tfidf_cosine_allpairs(docs, threshold=0.5, idf_stats=snap).collect()
    want = {
        (r.doc_a, r.doc_b): r.cosine
        for r in full
        if abs(doc_batch[r.doc_a] - doc_batch[r.doc_b]) <= K
    }
    dropped = {
        (r.doc_a, r.doc_b)
        for r in full
        if abs(doc_batch[r.doc_a] - doc_batch[r.doc_b]) > K
    }
    assert want and got == want
    # the horizon genuinely binds in this layout (some pair straddles it)
    assert dropped, "test layout did not exercise the horizon"


def test_tfidf_retention_retirement_bounds_storage(spark, tmp_path):
    """retire_expired=True leaves only the horizon's partitions on disk
    and emits the same pairs as retention without retirement."""
    import glob

    from patternly_spark.operators.similarity_allpairs import build_idf_snapshot
    from patternly_spark.streaming.exactly_once import read_appended
    from patternly_spark.streaming.similarity import streaming_tfidf_allpairs

    rows = _tfidf_corpus()
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "src")
    quarters = [rows[0:9], rows[9:19], rows[19:29], rows[29:]]
    for b in quarters:
        spark.createDataFrame(b, "doc_id long, text string").coalesce(1).write.mode(
            "append"
        ).parquet(src)
    idf_path = str(tmp_path / "idf")
    build_idf_snapshot(docs).write.parquet(idf_path)

    outs = {}
    for name, retire in (("keep", False), ("retire", True)):
        q = streaming_tfidf_allpairs(
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            registry_path=str(tmp_path / f"reg_{name}"),
            output_path=str(tmp_path / f"out_{name}"),
            checkpoint_path=str(tmp_path / f"ckpt_{name}"),
            idf_path=idf_path,
            threshold=0.5,
            trigger_once=True,
            retention_batches=1,
            retire_expired=retire,
        )
        q.awaitTermination(180)
        outs[name] = {
            (r.doc_a, r.doc_b): r.cosine
            for r in read_appended(spark, str(tmp_path / f"out_{name}")).collect()
        }
    assert outs["keep"] == outs["retire"] and outs["keep"]
    kept = sorted(glob.glob(str(tmp_path / "reg_retire" / "_batch_id=*")))
    # after batch 3 with K=1, only batches >= 2 survive on disk
    assert [p.rsplit("=", 1)[1] for p in kept] == ["2", "3"]


def test_retention_validation():
    from patternly_spark.streaming.similarity import streaming_tfidf_allpairs

    with pytest.raises(ValueError, match="retention_batches"):
        streaming_tfidf_allpairs(
            None, "r", "o", checkpoint_path="c", idf_path="i",
            threshold=0.5, retention_batches=0,
        )
    with pytest.raises(ValueError, match="retire_expired"):
        streaming_tfidf_allpairs(
            None, "r", "o", checkpoint_path="c", idf_path="i",
            threshold=0.5, retire_expired=True,
        )


# ---------------------------------------------------------------------------
# ST37: Kleinberg deployment shape — event-log registry + batch replay
# ---------------------------------------------------------------------------


def test_kleinberg_event_log_registry_replay(spark, tmp_path):
    """The documented streaming shape for burst detection: append raw
    events exactly-once, replay the batch q249 operator at readout —
    value-identical to one batch run over all history."""
    from patternly_spark.operators.temporal import kleinberg_bursts
    from patternly_spark.streaming.temporal import (
        bursts_from_event_log,
        streaming_event_log_registry,
    )

    rows = []
    # key 1: steady then a dense burst then steady again
    t = 0
    for i in range(10):
        t += 1_000_000
        rows.append((1, t, i))
    for i in range(10, 25):
        t += 50_000
        rows.append((1, t, i))
    for i in range(25, 32):
        t += 1_000_000
        rows.append((1, t, i))
    # key 2: uniform, never bursts
    rows += [(2, (i + 1) * 700_000, 100 + i) for i in range(20)]
    schema = "user_id long, ts long, event_id long"
    df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "src")
    for b in [rows[0::3], rows[1::3], rows[2::3]]:
        spark.createDataFrame(b, schema).coalesce(1).write.mode("append").parquet(src)

    q = streaming_event_log_registry(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        str(tmp_path / "log"),
        checkpoint_path=str(tmp_path / "ckpt"),
        key_col="user_id",
        ts_col="ts",
        id_col="event_id",
        trigger_once=True,
    )
    q.awaitTermination(120)

    got = sorted(
        map(tuple, bursts_from_event_log(spark, str(tmp_path / "log")).collect())
    )
    want = sorted(
        map(
            tuple,
            kleinberg_bursts(
                df.selectExpr("user_id as key", "ts as ts_us", "event_id as eid"),
                key_col="key", ts_col="ts_us", id_col="eid",
            ).collect(),
        )
    )
    assert got == want and len(got) >= 1
    # the keys= pruning path returns the same intervals for the kept key
    keys = spark.createDataFrame([(1,)], "key long")
    pruned = sorted(
        map(
            tuple,
            bursts_from_event_log(spark, str(tmp_path / "log"), keys=keys).collect(),
        )
    )
    assert pruned == [r for r in want if r[0] == 1]


def test_event_log_time_pruned_readout(spark, tmp_path):
    """Round-8 verdict item 4: the min_ts_us/max_ts_us readout must
    (a) partition-prune on the _day layout (PartitionFilters in the
    scan, out-of-range day dirs never listed) and (b) equal a batch run
    over the same time window (replay==batch parity under pruning)."""
    from patternly_spark.operators.temporal import kleinberg_bursts
    from patternly_spark.streaming.exactly_once import read_appended
    from patternly_spark.streaming.temporal import (
        bursts_from_event_log,
        streaming_event_log_registry,
    )

    day = 86_400_000_000
    rows = []
    eid = 0
    # three days of data for one key; day 1 contains a dense burst
    for d in range(3):
        t = d * day
        for i in range(8):
            t += 2_000_000
            rows.append((1, t, eid)); eid += 1
        if d == 1:
            for i in range(12):
                t += 40_000
                rows.append((1, t, eid)); eid += 1
    schema = "user_id long, ts long, event_id long"
    df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "src")
    df.coalesce(1).write.mode("append").parquet(src)
    q = streaming_event_log_registry(
        spark.readStream.schema(schema).parquet(src),
        str(tmp_path / "log"),
        checkpoint_path=str(tmp_path / "ckpt"),
        key_col="user_id", ts_col="ts", id_col="event_id",
        trigger_once=True,
    )
    q.awaitTermination(120)

    # layout: the _day sub-partition exists under the batch dir
    import os
    batch_dirs = [p for p in os.listdir(tmp_path / "log") if p.startswith("_batch_id=")]
    assert batch_dirs
    assert any(
        p.startswith("_day=")
        for p in os.listdir(tmp_path / "log" / batch_dirs[0])
    )

    # (a) the pruned readout's scan carries a _day partition filter
    lo, hi = day, 2 * day - 1
    events = read_appended(spark, str(tmp_path / "log"))
    filtered = events.filter(F.col("_day") >= 1).filter(F.col("_day") <= 1)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "_day" in plan.split("PartitionFilters")[1][:200], \
        plan[:2000]

    out = bursts_from_event_log(
        spark, str(tmp_path / "log"), min_ts_us=lo, max_ts_us=hi
    )
    oplan = out._jdf.queryExecution().executedPlan().toString()
    assert "_day" in oplan.split("PartitionFilters")[1][:200], oplan[:2000]

    # (b) parity: pruned readout == batch operator over the same window
    got = sorted(map(tuple, out.collect()))
    want = sorted(
        map(
            tuple,
            kleinberg_bursts(
                df.filter((F.col("ts") >= lo) & (F.col("ts") <= hi)).selectExpr(
                    "user_id as key", "ts as ts_us", "event_id as eid"
                ),
                key_col="key", ts_col="ts_us", id_col="eid",
            ).collect(),
        )
    )
    assert got == want and len(got) >= 1
    # burst found inside the window; a day-0-only readout finds none
    assert bursts_from_event_log(
        spark, str(tmp_path / "log"), max_ts_us=day - 1
    ).count() == 0

"""Structured Streaming parity (SURVEY §5.5): the streaming pipeline must
agree with the batch pipeline on the same data — windowed aggregations
(ST5) and the stateful continuous detector (ST1-ST3)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from patternly_spark.pfsa.model import PFSA
from patternly_spark.pfsa.simulate import simulate
from patternly_spark.streaming.windows import (
    run_stream_to_memory,
    streaming_sliding_counts,
    streaming_tumbling_counts,
)
from patternly_spark.streaming.continuous import StreamingPFSADetector
from patternly_spark.streaming.exactly_once import read_appended, read_registry

MACHINE_A = PFSA(pitilde=[[0.85, 0.15], [0.25, 0.75]], connx=[[0, 1], [0, 1]])
MACHINE_U = PFSA(pitilde=[[0.5, 0.5], [0.5, 0.5]], connx=[[0, 1], [0, 1]])


@pytest.fixture(scope="module")
def events_path(spark, tmp_path_factory):
    """events-like table written as parquet with micro timestamps so both
    batch read and readStream consume the identical file."""
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ts_type = dict(src.dtypes).get("ts")
    if ts_type == "bigint":
        src = src.withColumn("ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
    elif ts_type == "timestamp_ntz":  # Spark 4.1+ reads TIMESTAMP(NANOS) as NTZ
        src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    path = str(tmp_path_factory.mktemp("stream") / "events")
    src.write.mode("overwrite").parquet(path)
    return path


def test_tumbling_batch_stream_equivalence(spark, events_path):
    batch_df = spark.read.parquet(events_path)
    batch = (
        batch_df.groupBy(F.window("ts", "86400 seconds").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.unix_timestamp("w.start").cast("long").alias("window_start"), "event_type", "n")
        .toPandas()
        .sort_values(["window_start", "event_type"])
        .reset_index(drop=True)
    )
    stream_src = spark.readStream.schema(batch_df.schema).parquet(events_path)
    result = streaming_tumbling_counts(stream_src)
    got = (
        run_stream_to_memory(result, "tumbling_test", output_mode="complete")
        .toPandas()
        .sort_values(["window_start", "event_type"])
        .reset_index(drop=True)
    )
    assert got.equals(batch)


def test_sliding_batch_stream_equivalence(spark, events_path):
    batch_df = spark.read.parquet(events_path)
    batch = (
        batch_df.groupBy(F.window("ts", "86400 seconds", "43200 seconds").alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.unix_timestamp("w.start").cast("long").alias("window_start"), "n")
        .toPandas()
        .sort_values("window_start")
        .reset_index(drop=True)
    )
    stream_src = spark.readStream.schema(batch_df.schema).parquet(events_path)
    got = (
        run_stream_to_memory(streaming_sliding_counts(stream_src), "sliding_test", output_mode="complete")
        .toPandas()
        .sort_values("window_start")
        .reset_index(drop=True)
    )
    assert got.equals(batch)


@pytest.fixture(scope="module")
def window_rows():
    a = simulate(MACHINE_A, 10000, 1, seed=13)[0]
    u = simulate(MACHINE_U, 5000, 1, seed=14)[0]
    stream = np.concatenate([a, u])
    size = 500
    return [
        ("s1", i, [int(v) for v in stream[i * size : (i + 1) * size]])
        for i in range(len(stream) // size)
    ]


def test_continuous_detector_streaming(spark, window_rows, tmp_path):
    """The stateful streaming detector mints a model at the regime
    boundary, matching the batch ContinuousStreamingDetection behavior."""
    detector = StreamingPFSADetector(eps=0.2, anomaly_sensitivity=4.0)

    # batch-mode application (same code path Spark uses per micro-batch)
    win_df = spark.createDataFrame(window_rows, "stream_id string, window_id long, symbols array<int>")
    out = detector.apply(win_df).toPandas().sort_values("window_id")
    assert len(out) == 30
    minted = out[out.minted_pfsa.notna()]
    assert list(minted.window_id)[0] == 0  # ST2 cold start
    assert any(19 <= w <= 21 for w in minted.window_id[1:])  # regime boundary
    assert out.n_models.iloc[-1] >= 2
    # closest_match follows the active regime
    tail = out[out.window_id >= 25]
    assert (tail.closest_match > 0).all()


def test_continuous_detector_true_stream(spark, window_rows, tmp_path):
    """Same detector through an actual streaming query (parquet source ->
    availableNow -> memory sink)."""
    win_df = spark.createDataFrame(window_rows, "stream_id string, window_id long, symbols array<int>")
    path = str(tmp_path / "windows")
    # single file => single micro-batch => strict window order within key
    win_df.coalesce(1).write.mode("overwrite").parquet(path)
    src = spark.readStream.schema(win_df.schema).parquet(path)
    detector = StreamingPFSADetector(eps=0.2, anomaly_sensitivity=4.0)
    result = detector.apply(src)
    q = (
        result.writeStream.format("memory")
        .queryName("continuous_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM continuous_test").toPandas().sort_values("window_id")
    batch = StreamingPFSADetector(eps=0.2, anomaly_sensitivity=4.0).apply(win_df).toPandas().sort_values("window_id")
    assert got.reset_index(drop=True).equals(batch.reset_index(drop=True))


def _emergence_parity(spark, rows, sensitivity):
    """Run ``fit_stream`` and the streaming detector on the same windows
    and assert they mint at the same window ids; returns the streaming
    detector's output."""
    from patternly_spark.detection import ContinuousStreamingDetection

    size = len(rows[0][2])
    stream = [s for _, _, syms in rows for s in syms]
    model = ContinuousStreamingDetection(
        spark, window_size=size, window_overlap=0, quantize=False,
        anomaly_sensitivity=sensitivity, eps=0.2, seed=42,
    )
    model.fit_stream(spark.createDataFrame(list(enumerate(stream)), "offset long, symbol int"))
    detector = StreamingPFSADetector(
        eps=0.2, anomaly_sensitivity=sensitivity, seed=42, alphabet_size=model.alphabet_size
    )
    win_df = spark.createDataFrame(rows, "stream_id string, window_id long, symbols array<int>")
    out = detector.apply(win_df).toPandas().sort_values("window_id").reset_index(drop=True)
    assert model.pattern_emergence_times == list(out.window_id[out.minted_pfsa.notna()])
    assert len(model.library) == len(model.pattern_emergence_times) == len(model._means)
    return out


def test_continuous_detectors_mint_at_the_same_windows(spark, window_rows):
    """``fit_stream`` and ``StreamingPFSADetector`` step the same windows
    through one rule, so they log the same emergence windows: on the
    regime-change fixture, and on an A->U stream at sensitivity 0 whose
    cold-start window is anomalous under its own fresh PFSA (a window is
    minted once, not again)."""
    _emergence_parity(spark, window_rows, 4.0)

    stream = np.concatenate([simulate(MACHINE_A, 3000, 1, seed=3)[0], simulate(MACHINE_U, 2000, 1, seed=103)[0]])
    rows = [("s1", i, [int(v) for v in stream[i * 500 : (i + 1) * 500]]) for i in range(10)]
    out = _emergence_parity(spark, rows, 0.0)
    assert out.anomaly[0] and out.minted_pfsa[0] == 0 and out.n_models[0] == 1


class _State:
    """The GroupState calls the streaming detector makes."""

    def __init__(self, blob=None):
        self.blob = blob

    @property
    def exists(self):
        return self.blob is not None

    @property
    def get(self):
        return (self.blob,)

    def update(self, row):
        (self.blob,) = row


def test_continuous_detector_resumes_from_state_blob(window_rows):
    """A state blob in the checkpoint format ({"models", "means", "stds"}
    JSON) written after the cold-start window resumes the stream: the
    remaining windows get the verdicts and mints of an uninterrupted
    run, and the blob written back is the uninterrupted run's."""
    import json

    import pandas as pd

    from patternly_spark.pfsa.genesess import genesess
    from patternly_spark.pfsa.llk import llk_batch

    detector = StreamingPFSADetector(eps=0.2, anomaly_sensitivity=4.0, seed=42, alphabet_size=2)
    windows = pd.DataFrame({"window_id": [r[1] for r in window_rows], "symbols": [r[2] for r in window_rows]})
    # the cold-start mint of window 0 by hand: GenESeSS, then the llk of
    # the window and 100 simulations seeded seed + 1
    w0 = np.asarray(window_rows[0][2], dtype=np.int8)
    m = genesess([w0], eps=0.2, alphabet_size=2, pfsa_id=0)
    llks = llk_batch([w0] + simulate(m, len(w0), 100, seed=43), m)
    state = _State(json.dumps({"models": [m.to_dict()], "means": [float(np.mean(llks))], "stds": [float(np.std(llks, ddof=1))]}))

    resumed = pd.concat(detector._process(("s1",), iter([windows.iloc[1:]]), state), ignore_index=True)
    whole_state = _State()
    whole = pd.concat(detector._process(("s1",), iter([windows]), whole_state), ignore_index=True)
    assert list(whole.minted_pfsa.notna()).count(True) >= 2
    assert resumed.equals(whole.iloc[1:].reset_index(drop=True))
    assert json.loads(state.blob) == json.loads(whole_state.blob)
    assert set(json.loads(state.blob)) == {"models", "means", "stds"}


def test_session_batch_stream_equivalence(spark, events_path):
    from patternly_spark.operators.temporal import sessionize
    from patternly_spark.streaming.windows import streaming_session_counts

    batch_df = spark.read.parquet(events_path)
    batch = (
        sessionize(batch_df, ts_col="ts", by="user_id", gap="30 minutes")
        .select(
            "user_id",
            F.unix_micros("session_start").alias("session_start_us"),
            "n_events",
        )
        .toPandas()
        .sort_values(["user_id", "session_start_us"])
        .reset_index(drop=True)
    )
    # append mode can only emit a session once the watermark passes its
    # end, and the session holding the globally-latest event never closes
    # on a finite file. A far-future sentinel event (excluded from the
    # comparison) advances the watermark past every real session — the
    # standard flush trick for finite replays.
    import tempfile, os as _os
    flush_dir = tempfile.mkdtemp()
    sentinel = batch_df.limit(1).select(
        *[F.lit(None).cast(t).alias(c) if c not in ("ts", "user_id")
          else F.col(c) for c, t in batch_df.dtypes]
    ).select(
        *[c for c, _ in batch_df.dtypes if c not in ("ts", "user_id")],
        (F.to_timestamp(F.lit("2100-01-01"))).alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
    ).select(*[c for c, _ in batch_df.dtypes])
    src_plus = batch_df.unionByName(sentinel)
    src_path = _os.path.join(flush_dir, "events")
    src_plus.write.mode("overwrite").parquet(src_path)
    stream_src = spark.readStream.schema(batch_df.schema).parquet(src_path)
    got = (
        run_stream_to_memory(
            streaming_session_counts(stream_src), "session_test", output_mode="append"
        )
        .filter(F.col("user_id") >= 0)
        .toPandas()
        .sort_values(["user_id", "session_start_us"])
        .reset_index(drop=True)
    )
    assert got.equals(batch), f"stream {len(got)} rows vs batch {len(batch)}"


def test_streaming_exact_dedup_matches_batch(spark, tmp_path):
    """First-seen streaming dedup must keep exactly one row per content
    hash (same fingerprint normalization as batch exact_dedup), with
    state bounded by the watermark horizon."""
    from patternly_spark.operators.dedup import exact_dedup
    from patternly_spark.streaming.dedup import streaming_exact_dedup

    rows = [
        (i, f"2024-01-01 00:{i // 60:02d}:{i % 60:02d}", f"doc body {i % 7}")
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "doc_id long, ts_s string, text string").select(
        "doc_id", F.to_timestamp("ts_s").alias("ts"), "text"
    )
    path = str(tmp_path / "docs_stream")
    df.coalesce(1).write.mode("overwrite").parquet(path)

    src = spark.readStream.schema(df.schema).parquet(path)
    kept = run_stream_to_memory(
        streaming_exact_dedup(src, watermark="10 minutes"), "dedup_test"
    ).toPandas()

    batch_hashes = set(
        r["content_hash"]
        for r in exact_dedup(df).filter(~F.col("is_dup")).collect()
    )
    assert len(kept) == 7  # one survivor per distinct body
    assert set(kept.content_hash) == batch_hashes


def test_streaming_hypertable_rollup_matches_batch(spark, events_path):
    """The streaming continuous-aggregate twin produces exactly the batch
    hypertable_rollup rows at every resolution (epoch-micros axis)."""
    from patternly_spark.operators.rollup import (
        hypertable_rollup,
        streaming_hypertable_rollup,
    )

    batch_df = spark.read.parquet(events_path)
    widths_s = [43200, 86400]
    batch = (
        hypertable_rollup(
            batch_df.select(
                F.unix_micros("ts").alias("ts_us"), "value", "event_type"
            ),
            axis="ts_us",
            value="value",
            by="event_type",
            widths=[w * 1_000_000 for w in widths_s],
        )
        .toPandas()
        .sort_values(["level", "window_start", "event_type"])
        .reset_index(drop=True)
    )
    src = spark.readStream.schema(batch_df.schema).parquet(events_path)
    result = streaming_hypertable_rollup(
        src, ts_col="ts", value="value", by="event_type", widths_seconds=widths_s
    )
    got = (
        run_stream_to_memory(result, "rollup_stream_test", output_mode="complete")
        .toPandas()
        .sort_values(["level", "window_start", "event_type"])
        .reset_index(drop=True)
    )
    assert got.equals(batch)


def _neardup_corpus():
    rng = np.random.default_rng(11)
    vocab = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = []
    for i in range(30):
        rows.append((i, " ".join(rng.choice(vocab, size=25).tolist())))
    # 30,31 exact dups of 0 and 2; 32 near-dup of 5 (one token changed)
    rows.append((30, rows[0][1]))
    rows.append((31, rows[2][1]))
    t = rows[5][1].split()
    t[3] = "omega"
    rows.append((32, " ".join(t)))
    # 33: dup of the dup (chains through 30 back to 0)
    rows.append((33, rows[0][1]))
    return rows


def test_incremental_neardup_matches_batch(spark):
    from patternly_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures
    from patternly_spark.operators.graph import dedup_clusters
    from patternly_spark.streaming.dedup import incremental_neardup_dedup
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    rows = _neardup_corpus()
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sigs = minhash_signatures(docs)
    batch_map = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(lsh_candidate_pairs(sigs), docs).collect()
    }

    reg_schema = StructType(
        [
            StructField("band_id", LongType()),
            StructField("band_hash", StringType()),
            StructField("canonical_id", LongType()),
        ]
    )
    registry = spark.createDataFrame([], reg_schema)
    inc_map = {}
    for lo, hi in [(0, 12), (12, 24), (24, 34)]:
        chunk = spark.createDataFrame(rows[lo:hi], "doc_id long, text string")
        result, new_rows = incremental_neardup_dedup(chunk, registry)
        for r in result.collect():
            inc_map[r["doc_id"]] = r["canonical_id"]
        registry = registry.union(new_rows).localCheckpoint(eager=True)

    assert inc_map == batch_map
    # the planted dups actually collapsed
    assert inc_map[30] == 0 and inc_map[33] == 0 and inc_map[31] == 2


def test_incremental_neardup_flags(spark):
    from patternly_spark.streaming.dedup import incremental_neardup_dedup
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    rows = _neardup_corpus()
    reg_schema = StructType(
        [
            StructField("band_id", LongType()),
            StructField("band_hash", StringType()),
            StructField("canonical_id", LongType()),
        ]
    )
    registry = spark.createDataFrame([], reg_schema)
    first = spark.createDataFrame(rows[:30], "doc_id long, text string")
    r1, new1 = incremental_neardup_dedup(first, registry)
    p1 = {r["doc_id"]: r for r in r1.collect()}
    assert not p1[0]["is_dup"] and p1[0]["is_new_canonical"]
    registry = registry.union(new1)

    second = spark.createDataFrame(rows[30:], "doc_id long, text string")
    r2, _ = incremental_neardup_dedup(second, registry)
    p2 = {r["doc_id"]: r for r in r2.collect()}
    assert p2[30]["is_dup"] and p2[30]["canonical_id"] == 0
    assert not p2[30]["is_new_canonical"]
    # 33 chains through 30 (same batch) back to canonical 0
    assert p2[33]["is_dup"] and p2[33]["canonical_id"] == 0


def test_streaming_neardup_dedup_end_to_end(spark, tmp_path):
    from patternly_spark.streaming.dedup import streaming_neardup_dedup

    rows = _neardup_corpus()
    src = str(tmp_path / "src")
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.repartition(2).write.parquet(src)

    q = streaming_neardup_dedup(
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(src),
        registry_path=str(tmp_path / "registry"),
        output_path=str(tmp_path / "out"),
        checkpoint_path=str(tmp_path / "ckpt"),
        trigger_once=True,
    )
    q.awaitTermination(120)

    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == len(rows)
    pdf = out.toPandas().set_index("doc_id")
    # file-arrival order is not id order, so the canonical is the FIRST
    # ARRIVAL of its cluster, not the min id — assert order-independent
    # invariants: dups point at a non-dup survivor, never themselves
    dups = pdf.loc[pdf.is_dup]
    assert (dups.canonical_id != dups.index).all()
    survivors = set(pdf.loc[~pdf.is_dup].index)
    assert set(dups.canonical_id).issubset(survivors)
    # the planted clusters collapsed regardless of arrival order
    canon = pdf.canonical_id.to_dict()
    canon = {d: (c if pdf.loc[d, "is_dup"] else d) for d, c in canon.items()}
    assert canon[0] == canon[30] == canon[33]
    assert canon[2] == canon[31]
    registry = spark.read.parquet(str(tmp_path / "registry"))
    assert registry.count() > 0


def test_streaming_upsert_latest_wins(spark, tmp_path):
    from patternly_spark.streaming.merge import streaming_upsert

    # three CDC files arriving in order: insert, update, stale-late-arrival
    schema = "k long, v string, version long"
    src = str(tmp_path / "cdc")
    spark.createDataFrame([(1, "a1", 1), (2, "b1", 1)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame([(1, "a2", 2), (3, "c1", 1)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame([(1, "a0-stale", 0)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema("k long, v string, version long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_upsert(
        stream,
        str(tmp_path / "snap"),
        checkpoint_path=str(tmp_path / "ckpt"),
        key_cols="k",
        version_col="version",
        trigger_once=True,
    )
    q.awaitTermination(120)

    snap = {r["k"]: r for r in read_registry(spark, str(tmp_path / "snap")).collect()}
    assert len(snap) == 3
    assert snap[1]["v"] == "a2" and snap[1]["version"] == 2  # stale update lost
    assert snap[2]["v"] == "b1" and snap[3]["v"] == "c1"


def test_streaming_upsert_partitioned_snapshot(spark, tmp_path):
    from patternly_spark.streaming.merge import streaming_upsert

    schema = "k long, v string, version long"
    src = str(tmp_path / "cdc")
    spark.createDataFrame(
        [(i, f"v{i}", 1) for i in range(20)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame([(3, "updated", 2)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = streaming_upsert(
        stream,
        str(tmp_path / "snap"),
        checkpoint_path=str(tmp_path / "ckpt"),
        key_cols="k",
        version_col="version",
        num_key_partitions=4,
        trigger_once=True,
    )
    q.awaitTermination(120)

    snap = {r["k"]: r for r in spark.read.parquet(str(tmp_path / "snap")).collect()}
    assert len(snap) == 20
    assert snap[3]["v"] == "updated" and snap[3]["version"] == 2
    assert snap[5]["v"] == "v5"


def test_streaming_gapfill_matches_batch_on_closed_prefix(spark, tmp_path):
    from patternly_spark.operators.rollup import gapfill
    from patternly_spark.streaming.gapfill import streaming_gapfill

    # key g: buckets 0, 30, 40 (width 10s) with interior gaps at 10, 20.
    # Sentinel keys advance the GLOBAL watermark across batches so g's
    # buckets close without more g events (append-mode finalization).
    src = str(tmp_path / "src")
    batches = [
        [("g", 5.0, 1.0)],
        [("g", 35.0, 4.0), ("g", 45.0, 10.0)],
        [("z", 1000.0, 0.0)],
        [("z", 2000.0, 0.0)],
    ]
    for rows in batches:
        df = spark.createDataFrame(rows, "k string, secs double, value double").select(
            "k", F.timestamp_micros((F.col("secs") * 1_000_000).cast("long")).alias("ts"), "value"
        )
        df.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("k string, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_path = str(tmp_path / "out")
    q = (
        streaming_gapfill(
            stream, key_col="k", width_secs=10, watermark="5 seconds",
            agg="max", method="locf",
        )
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r["key"], r["window_start"]): r
        for r in spark.read.parquet(out_path).collect()
    }
    g_rows = {k[1]: v for k, v in got.items() if k[0] == "g"}
    assert set(g_rows) == {0, 10_000_000, 20_000_000, 30_000_000, 40_000_000}
    assert g_rows[0]["n"] == 1 and g_rows[0]["val_filled"] == 1.0
    assert g_rows[10_000_000]["n"] == 0 and g_rows[10_000_000]["val"] is None
    assert g_rows[10_000_000]["val_filled"] == 1.0 == g_rows[20_000_000]["val_filled"]
    assert g_rows[30_000_000]["val_filled"] == 4.0
    assert g_rows[40_000_000]["val_filled"] == 10.0

    # batch parity on the closed prefix: identical rows from the batch op
    batch_g = spark.createDataFrame(
        [("g", 5_000_000, 1.0), ("g", 35_000_000, 4.0), ("g", 45_000_000, 10.0)],
        "k string, t long, v double",
    )
    want = {
        r["window_start"]: r
        for r in gapfill(
            batch_g, axis="t", value="v", width=10_000_000, by="k",
            agg="max", method="locf",
        ).collect()
    }
    assert set(want) == set(g_rows)
    for ws, w in want.items():
        assert (w["n"], w["val"], w["val_filled"]) == (
            g_rows[ws]["n"], g_rows[ws]["val"], g_rows[ws]["val_filled"]
        ), ws
    # the final (empty) availableNow trigger advanced the watermark to
    # 1995s: z's first bucket closed (known), the 1010s..1990s gaps became
    # interior (locf 0.0), and the 2000s bucket stayed open -> held back
    z_rows = {k[1]: v for k, v in got.items() if k[0] == "z"}
    assert z_rows[1_000_000_000]["n"] == 1 and z_rows[1_000_000_000]["val"] == 0.0
    assert 2_000_000_000 not in z_rows
    assert z_rows[1_500_000_000]["n"] == 0 and z_rows[1_500_000_000]["val_filled"] == 0.0


def test_streaming_gapfill_count_single_event_bucket():
    # ADVICE r2: a single-event bucket under agg='count' must emit val=1.0
    # (the running count), not the event's value — kernel-level check with
    # a stub state so the fix is pinned without a full stream run
    import pandas as pd

    from patternly_spark.streaming.gapfill import _process_factory

    class StubState:
        exists = False

        def __init__(self, wm_ms):
            self._wm = wm_ms

        def getCurrentWatermarkMs(self):
            return self._wm

        def update(self, v):
            self.blob = v

        def setTimeoutTimestamp(self, ts):
            pass

    width_us = 10_000_000
    # bucket 0: one event val=42; bucket 10s: three events; watermark
    # closes both
    pdf = pd.DataFrame(
        {"ts_us": [5_000_000, 11_000_000, 12_000_000, 13_000_000],
         "value": [42.0, 7.0, 8.0, 9.0]}
    )
    process = _process_factory(width_us, "count", "none")
    out = pd.concat(list(process(("k",), [pdf], StubState(wm_ms=30_000))))
    rows = {int(r.window_start): r for r in out.itertuples()}
    assert rows[0].n == 1 and rows[0].val == 1.0  # was 42.0 before the fix
    assert rows[10_000_000].n == 3 and rows[10_000_000].val == 3.0


def test_streaming_funnel_matches_batch_on_closed_prefix(spark, tmp_path):
    from patternly_spark.operators.behavior import funnel
    from patternly_spark.streaming.funnel import streaming_funnel

    # user 1 completes all three steps; user 2's click arrives OUT OF
    # ORDER (later file, earlier event time) but within the watermark,
    # so the stream must still see view -> click in event-time order.
    batches = [
        [(1, "view", 10.0), (2, "view", 10.0)],
        [(1, "click", 20.0), (2, "purchase", 30.0)],
        [(2, "click", 20.0), (1, "purchase", 40.0)],   # 2's click is late
        [(9, "view", 1000.0)],                          # watermark sentinel
        [(9, "view", 2000.0)],                          # close everything
    ]
    src = str(tmp_path / "src")
    for rows in batches:
        spark.createDataFrame(rows, "user_id long, event_type string, secs double").select(
            "user_id", "event_type",
            F.timestamp_micros((F.col("secs") * 1_000_000).cast("long")).alias("ts"),
        ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("user_id long, event_type string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_path = str(tmp_path / "out")
    q = (
        streaming_funnel(
            stream, steps=["view", "click", "purchase"], watermark="15 seconds"
        )
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out_path).collect()
    # latest advance per user = current funnel position
    latest = {}
    for r in got:
        cur = latest.get(r["user_id"])
        if cur is None or r["advanced_at_us"] > cur["advanced_at_us"]:
            latest[r["user_id"]] = r
    assert latest["1"]["steps_completed"] == 3
    assert latest["1"]["step_ts"] == [10_000_000, 20_000_000, 40_000_000]
    # user 2: despite arrival order view/purchase/click, event-time order
    # is view(10) click(20) purchase(30) -> full completion
    assert latest["2"]["steps_completed"] == 3

    # batch parity on the same closed events
    closed = [(1, "view", 10), (2, "view", 10), (1, "click", 20), (2, "purchase", 30),
              (2, "click", 20), (1, "purchase", 40)]
    bdf = spark.createDataFrame(
        [(u, t, s * 1_000_000) for u, t, s in closed],
        "user_id long, event_type string, ts_us long",
    )
    want = {
        str(r["user_id"]): r["steps_completed"]
        for r in funnel(bdf, steps=["view", "click", "purchase"]).collect()
    }
    for u in ("1", "2"):
        assert latest[u]["steps_completed"] == want[u]


def test_incremental_semantic_dedup_batches_match_global(spark):
    """Two-batch incremental semantic dedup must agree with one global
    semantic_dedup over the union, for groups that land intact."""
    import numpy as np

    from patternly_spark.operators.dedup import semantic_dedup
    from patternly_spark.streaming.dedup import incremental_semantic_dedup

    rng = np.random.default_rng(3)
    base = rng.normal(size=(6, 16))

    def jitter(v, eps=1e-3):
        return (v + eps * rng.normal(size=16)).tolist()

    # batch 1: vectors 0..5 plus a near-dup of 0
    b1 = [(i, base[i].tolist()) for i in range(6)] + [(10, jitter(base[0]))]
    # batch 2: near-dups of 1 and 3, one fresh vector, an internal dup pair
    fresh = rng.normal(size=16)
    b2 = [(20, jitter(base[1])), (21, jitter(base[3])), (22, fresh.tolist()),
          (23, jitter(fresh)), (24, jitter(fresh))]
    schema = "vec_id long, embedding array<double>"
    df1 = spark.createDataFrame(b1, schema)
    df2 = spark.createDataFrame(b2, schema)
    reg_schema = "sig long, canonical_id long, embedding array<double>"
    empty = spark.createDataFrame([], reg_schema)

    r1, n1 = incremental_semantic_dedup(df1, empty, threshold=0.99)
    reg = empty.unionByName(n1)
    r2, n2 = incremental_semantic_dedup(df2, reg, threshold=0.99)

    got = {r["vec_id"]: r for r in r1.collect() + r2.collect()}
    # batch 1: 10 collapses onto 0
    assert got[10]["is_dup"] and got[10]["canonical_id"] == 0
    assert got[0]["is_new_canonical"] and not got[0]["is_dup"]
    # batch 2: 20/21 collapse onto the REGISTRY owners 1 and 3
    assert got[20]["canonical_id"] == 1 and got[20]["is_dup"]
    assert got[21]["canonical_id"] == 3 and got[21]["is_dup"]
    # fresh group: 22 survives, 23/24 collapse within-batch
    assert got[22]["is_new_canonical"]
    assert got[23]["canonical_id"] == 22 and got[24]["canonical_id"] == 22

    # global agreement on the union
    want = {
        r["vec_id"]: r["cluster_id"]
        for r in semantic_dedup(df1.unionByName(df2), threshold=0.99).collect()
    }
    for vid, row in got.items():
        assert row["canonical_id"] == want[vid], vid
    # registry grew only by true new canonicals
    assert {r["canonical_id"] for r in n2.collect()} == {22}


def test_streaming_semantic_dedup_end_to_end(spark, tmp_path):
    import numpy as np

    from patternly_spark.streaming.dedup import streaming_semantic_dedup

    rng = np.random.default_rng(9)
    base = rng.normal(size=(4, 16))
    j = lambda v: (v + 1e-3 * rng.normal(size=16)).tolist()  # noqa: E731
    src = str(tmp_path / "src")
    schema = "vec_id long, embedding array<double>"
    # file 1: originals; file 2: near-dups arriving later
    spark.createDataFrame(
        [(i, base[i].tolist()) for i in range(4)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(10, j(base[0])), (11, j(base[2])), (12, rng.normal(size=16).tolist())], schema
    ).coalesce(1).write.mode("append").parquet(src)

    q = streaming_semantic_dedup(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        registry_path=str(tmp_path / "reg"),
        output_path=str(tmp_path / "out"),
        checkpoint_path=str(tmp_path / "ckpt"),
        threshold=0.99,
        trigger_once=True,
    )
    q.awaitTermination(120)

    out = {r["vec_id"]: r for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert len(out) == 7
    assert out[10]["is_dup"] and out[10]["canonical_id"] == 0
    assert out[11]["is_dup"] and out[11]["canonical_id"] == 2
    assert out[12]["is_new_canonical"]
    reg = {r["canonical_id"] for r in spark.read.parquet(str(tmp_path / "reg")).collect()}
    assert reg == {0, 1, 2, 3, 12}


def test_stateless_curation_ops_run_on_streams(spark, tmp_path):
    """The per-row curation gates (Gopher rules, repetition metrics,
    HTML extraction, compat-folded normalization) are pure projections,
    so the SAME operator calls must run unmodified on a readStream and
    emit batch-identical rows in append mode with no state store."""
    from patternly_spark.functions.text import (
        gopher_quality_flags,
        gopher_repetition_flags,
        html_to_text,
        normalize_text,
    )

    src = str(tmp_path / "src")
    rows = [
        (0, "<p>The quick brown fox jumps over the lazy dog.</p>"),
        (1, "<script>x</script>dup line\ndup line\nunique tail here"),
        (2, "plain text with &amp; entity and “quotes”"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(src)

    def pipeline(df):
        cleaned = df.select(
            "doc_id", normalize_text(html_to_text("text"), strip_punct=False).alias("text")
        )
        return gopher_repetition_flags(gopher_quality_flags(cleaned)).select(
            "doc_id", "keep", "keep_repetition", "top_2gram_char_frac", "text"
        )

    batch = {r["doc_id"]: r for r in pipeline(spark.read.parquet(src)).collect()}

    out_path = str(tmp_path / "out")
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        pipeline(stream)
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {r["doc_id"]: r for r in spark.read.parquet(out_path).collect()}

    assert set(streamed) == set(batch)
    for k in batch:
        assert streamed[k].asDict() == batch[k].asDict(), k
    # the pipeline actually did its job on the way through
    # (html_to_text collapses newlines, so the repeated phrase shows up
    # as 2-gram coverage, not line duplication)
    assert streamed[1]["top_2gram_char_frac"] > 0.2
    assert "script" not in streamed[1]["text"]
    assert "&" in streamed[2]["text"] and "“" not in streamed[2]["text"]


def test_streaming_boilerplate_registry_matches_batch(spark, tmp_path):
    """Registry parity law: after folding two disjoint microbatches, the
    (h, doc_freq) registry equals span_doc_freq of the union — and
    cleaning a new batch against it equals boilerplate_removal run on
    (union + new batch) restricted to the new batch's docs."""
    from patternly_spark.operators.dedup import (
        apply_boilerplate_registry,
        boilerplate_removal,
        span_doc_freq,
    )
    from patternly_spark.streaming.dedup import streaming_boilerplate_registry

    b0 = [(1, "nav\ncontent one"), (2, "nav\ncontent two")]
    b1 = [(3, "nav\ncontent three"), (4, "rare\ncontent four")]
    schema = "doc_id long, text string"
    src = str(tmp_path / "src")
    spark.createDataFrame(b0, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)

    reg_path = str(tmp_path / "registry")
    q = streaming_boilerplate_registry(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        reg_path,
        checkpoint_path=str(tmp_path / "ckpt"),
        trigger_once=True,
    )
    q.awaitTermination(120)

    union = spark.createDataFrame(b0 + b1, schema)
    want = {r["h"]: r["doc_freq"] for r in span_doc_freq(union).collect()}
    got = {r["h"]: r["doc_freq"] for r in read_registry(spark, reg_path).collect()}
    assert got == want  # 'nav' -> 3, everything else -> 1

    # cleaning a NEW batch against the learned registry drops the
    # boilerplate those docs never co-occurred with
    new = spark.createDataFrame([(9, "nav\nfresh body")], schema)
    reg = read_registry(spark, reg_path)
    out = apply_boilerplate_registry(new, reg, max_doc_freq=2).collect()[0]
    assert out["text_clean"] == "fresh body" and out["n_kept"] == 1

    # equivalently: batch operator over (union + new) for the same doc
    full = boilerplate_removal(
        spark.createDataFrame(b0 + b1 + [(9, "nav\nfresh body")], schema),
        max_doc_freq=2,
    )
    want_row = {r["doc_id"]: r for r in full.collect()}[9]
    assert (out["n_spans"], out["n_kept"], out["text_clean"]) == (
        want_row["n_spans"], want_row["n_kept"], want_row["text_clean"]
    )


def test_streaming_ingest_shards_manifest_parity_and_verify(spark, tmp_path):
    """Additive-manifest law: after two appended microbatches the
    registry equals dataset_fingerprint of the union (hash-shard
    assignment replayed batch-side), and verify_shards passes on the
    accumulated files."""
    from patternly_spark.operators.merge import dataset_fingerprint
    from patternly_spark.sources.shards import verify_shards
    from patternly_spark.streaming.shards import hash_shard, streaming_ingest_shards

    schema = "doc_id long, text string"
    b0 = [(i, f"body {i} alpha") for i in range(20)]
    b1 = [(100 + i, f"body {100 + i} beta") for i in range(20)]
    src = str(tmp_path / "src")
    spark.createDataFrame(b0, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)

    path = str(tmp_path / "shards")
    q = streaming_ingest_shards(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        path,
        checkpoint_path=str(tmp_path / "ckpt"),
        n_shards=4,
        trigger_once=True,
    )
    q.awaitTermination(120)

    union = spark.createDataFrame(b0 + b1, schema).withColumn(
        "shard", hash_shard("doc_id", 4)
    )
    want = {
        r["shard"]: (r["n_rows"], r["n_bytes"], r["checksum"])
        for r in dataset_fingerprint(union, by="shard").collect()
    }
    got = {
        r["shard"]: (r["n_rows"], r["n_bytes"], r["checksum"])
        for r in read_registry(spark, str(tmp_path / "shards" / "_manifest")).collect()
    }
    assert got == want
    assert sum(v[0] for v in got.values()) == 40

    ver = verify_shards(spark, path)
    assert all(r["ok"] for r in ver.collect())


def test_streaming_seasonal_monitor_registry_and_alerts(spark, tmp_path):
    """Two-trigger drain: the registry equals the batch hourly rollup of
    the union, closed-hour gating follows the event-time high-water
    mark, and the planted noon spike is alerted with q141 arithmetic."""
    from patternly_spark.streaming.drift import (
        seasonal_alerts_from_registry,
        streaming_seasonal_monitor,
    )

    rows = []
    for day in range(4):
        for hod, base in [(9, 100.0), (12, 200.0), (15, 50.0)]:
            v = base + day  # mild day-to-day variation
            if day == 2 and hod == 12:
                v = 900.0  # the spike the monitor exists to catch
            rows.append((f"2024-03-{10 + day:02d} {hod:02d}:30:00", "load", v))
    rows.append(("2024-03-13 16:05:00", "load", 1.0))  # closes hour 15 on day 3
    schema = "ts timestamp, event_type string, value double"
    mk = lambda rs: spark.createDataFrame(  # noqa: E731
        [(r[0], r[1], r[2]) for r in rs], "ts string, event_type string, value double"
    ).select(F.to_timestamp("ts").alias("ts"), "event_type", "value")

    src = str(tmp_path / "src")
    mk(rows[:7]).coalesce(1).write.mode("append").parquet(src)
    mk(rows[7:]).coalesce(1).write.mode("append").parquet(src)

    reg = str(tmp_path / "reg")
    q = streaming_seasonal_monitor(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        reg,
        checkpoint_path=str(tmp_path / "ckpt"),
        trigger_once=True,
    )
    q.awaitTermination(120)

    got_reg = read_registry(spark, reg)
    # incremental rollup == batch rollup of the union (exact integer cents)
    union = mk(rows)
    sec = F.unix_timestamp("ts")
    want_reg = union.groupBy(
        "event_type", (F.floor(sec / 3600) * 3600).cast("long").alias("h")
    ).agg(
        (F.sum(F.col("value").cast("decimal(18,2)")) * 100).cast("long").alias("cents"),
        F.max(sec).cast("long").alias("max_sec"),
    )
    assert sorted(got_reg.collect()) == sorted(want_reg.collect())

    alerts = seasonal_alerts_from_registry(got_reg, z_threshold=1.4, min_n=3).collect()
    spike = [r for r in alerts if r.hour_total == 900.0]
    assert len(spike) == 1 and spike[0].z > 1.4
    # the open final hour (16:05 event) never enters profile or alerts
    assert all(r.hour_total != 1.0 for r in alerts)
    # alert arithmetic equals applying the same finalize to the batch rollup
    batch_alerts = seasonal_alerts_from_registry(
        want_reg, z_threshold=1.4, min_n=3
    ).collect()
    assert sorted(alerts) == sorted(batch_alerts)


def test_streaming_transition_registry_counts_cross_batch(spark, tmp_path):
    """Two-trigger drain: the counts registry equals the batch pair
    counts of the union INCLUDING the transitions that straddle the
    batch boundary (the part a naive per-batch count drops)."""
    from patternly_spark.streaming.markov import (
        streaming_transition_registry,
        transition_matrix_from_registry,
    )

    rows = [
        # user 7: a->b in batch 0; batch boundary; b->c, c->a in batch 1
        ("2024-01-01 10:00:00", 7, 1, "a"),
        ("2024-01-01 10:01:00", 7, 2, "b"),
        ("2024-01-01 10:02:00", 7, 3, "c"),
        ("2024-01-01 10:03:00", 7, 4, "a"),
        # user 8: single event per batch — its only transition IS the boundary
        ("2024-01-01 10:00:30", 8, 5, "x"),
        ("2024-01-01 10:02:30", 8, 6, "y"),
    ]
    schema = "ts timestamp, user_id long, event_id long, event_type string"
    mk = lambda rs: spark.createDataFrame(  # noqa: E731
        rs, "ts string, user_id long, event_id long, event_type string"
    ).select(F.to_timestamp("ts").alias("ts"), "user_id", "event_id", "event_type")

    src = str(tmp_path / "src")
    batch0 = [r for r in rows if r[0] < "2024-01-01 10:02:00"]
    batch1 = [r for r in rows if r[0] >= "2024-01-01 10:02:00"]
    mk(batch0).coalesce(1).write.mode("append").parquet(src)
    mk(batch1).coalesce(1).write.mode("append").parquet(src)

    reg = str(tmp_path / "reg")
    q = streaming_transition_registry(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        reg,
        checkpoint_path=str(tmp_path / "ckpt"),
        trigger_once=True,
    )
    q.awaitTermination(120)

    got = {
        (r.from_type, r.to_type): r.n_trans
        for r in read_registry(spark, f"{reg}/counts").collect()
    }
    # boundary transitions b->c (user 7) and x->y (user 8) must be present
    assert got == {("a", "b"): 1, ("b", "c"): 1, ("c", "a"): 1, ("x", "y"): 1}
    probs = {
        (r.from_type, r.to_type): r.prob
        for r in transition_matrix_from_registry(
            read_registry(spark, f"{reg}/counts")
        ).collect()
    }
    assert probs[("a", "b")] == 1.0 and probs[("x", "y")] == 1.0
    # state holds exactly one row per user: the latest event
    st = {r.user: r.et for r in read_registry(spark, f"{reg}/state").collect()}
    assert st == {7: "a", 8: "y"}


# ---------------------------------------------------------------------------
# incremental / streaming exact set-similarity join (the q162 streaming twin)
# ---------------------------------------------------------------------------


def _simjoin_corpus():
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = []
    for i in range(8):
        rows.append((i, base + f" tail{i} " + " ".join(f"w{i}_{j}" for j in range(6))))
    rows.append((20, base + " tail0 " + " ".join(f"w0_{j}" for j in range(6))))  # dup of 0
    rows.append((21, base + " tail3 " + " ".join(f"w3_{j}" for j in range(5)) + " zz"))
    rows.append((22, "completely different text with nothing shared at all here ok"))
    rows.append((23, base + " tail1 " + " ".join(f"w1_{j}" for j in range(6))))  # dup of 1
    return rows


def test_incremental_set_similarity_union_parity(spark):
    """Union of incremental results over a 3-batch split == the batch
    set_similarity_join over the whole corpus (value-exact: jaccard is
    deterministic arithmetic) — the exactness law LSH twins can't have."""
    from patternly_spark.operators.dedup import set_similarity_join
    from patternly_spark.streaming.dedup import (
        empty_similarity_registry,
        incremental_set_similarity_join,
    )

    rows = _simjoin_corpus()
    full = spark.createDataFrame(rows, "doc_id long, text string")
    want = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in set_similarity_join(full, threshold=0.5).collect()
    }
    assert want, "corpus must contain qualifying pairs for the test to bite"

    reg_sets, reg_prefix = empty_similarity_registry(spark)
    got = {}
    for lo, hi in [(0, 4), (4, 9), (9, len(rows))]:
        batch = spark.createDataFrame(rows[lo:hi], "doc_id long, text string")
        pairs, new_sets, new_prefix = incremental_set_similarity_join(
            batch, reg_sets, reg_prefix, threshold=0.5
        )
        for r in pairs.collect():
            key = (r.doc_a, r.doc_b)
            assert key not in got, f"pair {key} emitted twice"
            got[key] = r.jaccard
        reg_sets = reg_sets.unionByName(new_sets).localCheckpoint(eager=True)
        reg_prefix = reg_prefix.unionByName(new_prefix).localCheckpoint(eager=True)

    assert set(got) == set(want)
    for k in got:
        assert got[k] == want[k]


def test_streaming_set_similarity_end_to_end(spark, tmp_path):
    from pyspark.sql import functions as F

    from patternly_spark.operators.dedup import set_similarity_join
    from patternly_spark.streaming.dedup import streaming_set_similarity_join

    rows = _simjoin_corpus()
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)

    q = streaming_set_similarity_join(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        registry_path=str(tmp_path / "registry"),
        output_path=str(tmp_path / "out"),
        checkpoint_path=str(tmp_path / "ckpt"),
        threshold=0.5,
        trigger_once=True,
    )
    q.awaitTermination(120)

    out = read_appended(spark, str(tmp_path / "out"))
    got = {(r.doc_a, r.doc_b): r.jaccard for r in out.collect()}
    want = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in set_similarity_join(docs, threshold=0.5).collect()
    }
    assert got == want
    # registry accumulated one sets row per doc and a bounded prefix slice
    sets = read_appended(spark, str(tmp_path / "registry/sets"))
    assert sets.count() == len(rows)
    prefix = read_appended(spark, str(tmp_path / "registry/prefix"))
    per_doc = prefix.groupBy("id").count()
    joined = per_doc.join(
        sets.select("id", F.size("sh").alias("n")), "id"
    ).collect()
    for r in joined:
        assert r["count"] <= r["n"] - int(-(-0.5 * r["n"] // 1)) + 1


# ---------------------------------------------------------------------------
# incremental / streaming exact cosine all-pairs (the q173 streaming twin)
# ---------------------------------------------------------------------------


def _cosine_corpus():
    import numpy as np

    rng = np.random.default_rng(11)
    rows = []
    vid = 0
    for c in rng.normal(size=(6, 16)):          # planted clusters
        for _ in range(4):
            rows.append((vid, [float(x) for x in c + rng.normal(scale=0.02, size=16)]))
            vid += 1
    for _ in range(30):
        rows.append((vid, [float(x) for x in rng.normal(size=16)]))
        vid += 1
    rows.append((vid, [0.0] * 16))              # zero vector: excluded
    return rows


def test_incremental_cosine_allpairs_union_parity(spark):
    """Union of incremental results over a 3-batch split == the batch
    cosine_allpairs_join over the whole corpus, value-exact (per-vector
    quantization means nothing drifts as the registry grows)."""
    from patternly_spark.operators.similarity_allpairs import cosine_allpairs_join
    from patternly_spark.streaming.similarity import (
        empty_cosine_registry,
        incremental_cosine_allpairs,
    )

    rows = _cosine_corpus()
    full = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    want = {
        (r.id_a, r.id_b): r.qcosine
        for r in cosine_allpairs_join(full, threshold=0.9).collect()
    }
    assert want, "corpus must contain qualifying pairs"

    registry = empty_cosine_registry(spark)
    got = {}
    for lo, hi in [(0, 10), (10, 30), (30, len(rows))]:
        batch = spark.createDataFrame(rows[lo:hi], "vec_id long, embedding array<double>")
        pairs, new_rows = incremental_cosine_allpairs(batch, registry, threshold=0.9)
        for r in pairs.collect():
            key = (r.id_a, r.id_b)
            assert key not in got, f"pair {key} emitted twice"
            got[key] = r.qcosine
        registry = registry.unionByName(new_rows).localCheckpoint(eager=True)

    assert got == want


def test_streaming_cosine_allpairs_end_to_end(spark, tmp_path):
    from patternly_spark.operators.similarity_allpairs import cosine_allpairs_join
    from patternly_spark.streaming.similarity import streaming_cosine_allpairs

    rows = _cosine_corpus()
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    src = str(tmp_path / "src")
    vecs.repartition(3).write.parquet(src)

    q = streaming_cosine_allpairs(
        spark.readStream.schema(vecs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        registry_path=str(tmp_path / "registry"),
        output_path=str(tmp_path / "out"),
        checkpoint_path=str(tmp_path / "ckpt"),
        threshold=0.9,
        trigger_once=True,
    )
    q.awaitTermination(120)

    out = read_appended(spark, str(tmp_path / "out"))
    got = {(r.id_a, r.id_b): r.qcosine for r in out.collect()}
    want = {
        (r.id_a, r.id_b): r.qcosine
        for r in cosine_allpairs_join(vecs, threshold=0.9).collect()
    }
    assert got == want
    # registry: one row per non-zero vector, append-only
    reg = read_appended(spark, str(tmp_path / "registry"))
    assert reg.count() == len(rows) - 1


def test_streaming_covariance_registry_equals_batch(spark, tmp_path):
    """Additive-sufficient-stats law: the folded registry after all
    triggers equals embedding_covariance over the full corpus, row for
    row (integer sums; cov recomputed by the same projection)."""
    from patternly_spark.operators.quantized import embedding_covariance
    from patternly_spark.streaming.similarity import (
        covariance_from_registry,
        streaming_covariance_registry,
    )

    rows = _cosine_corpus()[:-1]  # drop the zero vector: int8_quantize keeps
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    src = str(tmp_path / "src")
    vecs.repartition(3).write.parquet(src)

    q = streaming_covariance_registry(
        spark.readStream.schema(vecs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        registry_path=str(tmp_path / "registry"),
        checkpoint_path=str(tmp_path / "ckpt"),
        trigger_once=True,
    )
    q.awaitTermination(120)

    reg = covariance_from_registry(read_registry(spark, str(tmp_path / "registry")))
    got = {(r.i, r.j): (r.n, r.gram, r.sum_i, r.sum_j, r.cov) for r in reg.collect()}
    want = {
        (r.i, r.j): (r.n, r.gram, r.sum_i, r.sum_j, r.cov)
        for r in embedding_covariance(vecs).collect()
    }
    assert got == want
    assert len(got) == 16 * 17 // 2  # dim-16 triangle, fixed state size


def test_streaming_holt_matches_batch(spark, tmp_path):
    """Per-key time-ordered batches: concatenated streaming emissions ==
    batch holt_smoothing of the union (the registry carries (level,
    trend) across batches)."""
    from patternly_spark.operators.temporal import holt_smoothing
    from patternly_spark.streaming.drift import streaming_holt

    rows = [
        (k, t, float(v))
        for k in [1, 2]
        for t, v in enumerate([10, 12, 9, 20, 21, 22, 5, 6])
    ]
    df = spark.createDataFrame(rows, "k long, t long, v double")
    src = str(tmp_path / "src")
    # per-key time-ordered arrival: one file per time slice
    for lo, hi in [(0, 3), (3, 6), (6, 8)]:
        spark.createDataFrame(
            [r for r in rows if lo <= r[1] < hi], "k long, t long, v double"
        ).coalesce(1).write.mode("append").parquet(src)

    q = streaming_holt(
        spark.readStream.schema("k long, t long, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        "v",
        str(tmp_path / "out"),
        by="k",
        order_col="t",
        checkpoint_path=str(tmp_path / "ckpt"),
        registry_path=str(tmp_path / "reg"),
        trigger_once=True,
    )
    q.awaitTermination(120)

    got = {
        (r.k, r.t): (r.level, r.trend, r.forecast_next)
        for r in read_appended(spark, str(tmp_path / "out")).collect()
    }
    want = {
        (r.k, r.t): (r.level, r.trend, r.forecast_next)
        for r in holt_smoothing(df, "v", by="k", order_col="t").collect()
    }
    assert got == want
    reg = read_registry(spark, str(tmp_path / "reg"))
    assert reg.count() == 2 and set(reg.columns) == {"k", "level", "trend"}


# ---------------------------------------------------------------------------
# incremental / streaming TF-IDF cosine all-pairs (the q176 streaming twin)
# ---------------------------------------------------------------------------


def _tfidf_corpus():
    """Docs with planted near-duplicates: pairs (i, i+1) for even i < 16
    share 18/20 tokens; the rest are random draws from a 60-word vocab."""
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
    rows.append((40, "   "))  # empty after trim: never joins
    return rows


def test_tfidf_self_snapshot_equals_unfrozen(spark):
    """idf_stats pinned to the corpus's OWN census must reproduce the
    unfrozen run exactly (same N, same df -> same integer weights)."""
    from patternly_spark.operators.similarity_allpairs import (
        build_idf_snapshot,
        tfidf_cosine_allpairs,
    )

    docs = spark.createDataFrame(_tfidf_corpus(), "doc_id long, text string")
    snap = build_idf_snapshot(docs).localCheckpoint(eager=True)
    want = {
        (r.doc_a, r.doc_b): r.cosine
        for r in tfidf_cosine_allpairs(docs, threshold=0.6).collect()
    }
    got = {
        (r.doc_a, r.doc_b): r.cosine
        for r in tfidf_cosine_allpairs(docs, threshold=0.6, idf_stats=snap).collect()
    }
    assert want and got == want


def test_incremental_tfidf_allpairs_union_parity(spark):
    """The frozen-IDF law: union of incremental results over a 3-batch
    split == the batch tfidf_cosine_allpairs over the whole corpus
    under the SAME snapshot, value-exact and exactly-once.  The
    snapshot is deliberately built from only the first 25 docs, so
    later batches carry snapshot-unseen terms (df=0 path) on both
    sides of the comparison."""
    from patternly_spark.operators.similarity_allpairs import (
        build_idf_snapshot,
        tfidf_cosine_allpairs,
    )
    from patternly_spark.streaming.similarity import (
        empty_tfidf_registry,
        incremental_tfidf_allpairs,
    )

    rows = _tfidf_corpus()
    full = spark.createDataFrame(rows, "doc_id long, text string")
    snap = build_idf_snapshot(
        spark.createDataFrame(rows[:25], "doc_id long, text string")
    ).localCheckpoint(eager=True)
    want = {
        (r.doc_a, r.doc_b): r.cosine
        for r in tfidf_cosine_allpairs(full, threshold=0.6, idf_stats=snap).collect()
    }
    assert want, "corpus must contain qualifying pairs"
    # near-dup pairs must span batches for the cross-registry path to matter
    assert any(a < 10 <= b or a < 25 <= b for a, b in want)

    registry = empty_tfidf_registry(spark)
    got = {}
    for lo, hi in [(0, 10), (10, 25), (25, len(rows))]:
        batch = spark.createDataFrame(rows[lo:hi], "doc_id long, text string")
        pairs, new_rows = incremental_tfidf_allpairs(
            batch, registry, snap, threshold=0.6
        )
        for r in pairs.collect():
            key = (r.doc_a, r.doc_b)
            assert key not in got, f"pair {key} emitted twice"
            got[key] = r.cosine
        registry = registry.unionByName(new_rows).localCheckpoint(eager=True)

    assert got == want


def test_streaming_tfidf_allpairs_end_to_end(spark, tmp_path):
    from patternly_spark.operators.similarity_allpairs import (
        build_idf_snapshot,
        tfidf_cosine_allpairs,
    )
    from patternly_spark.streaming.similarity import streaming_tfidf_allpairs

    rows = _tfidf_corpus()
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)
    idf_path = str(tmp_path / "idf")
    build_idf_snapshot(docs).write.parquet(idf_path)

    q = streaming_tfidf_allpairs(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        registry_path=str(tmp_path / "registry"),
        output_path=str(tmp_path / "out"),
        checkpoint_path=str(tmp_path / "ckpt"),
        idf_path=idf_path,
        threshold=0.6,
        trigger_once=True,
    )
    q.awaitTermination(120)

    got = {
        (r.doc_a, r.doc_b): r.cosine
        for r in read_appended(spark, str(tmp_path / "out")).collect()
    }
    snap = spark.read.parquet(idf_path)
    want = {
        (r.doc_a, r.doc_b): r.cosine
        for r in tfidf_cosine_allpairs(docs, threshold=0.6, idf_stats=snap).collect()
    }
    assert want and got == want
    # registry holds postings for every doc with at least one weighted term
    reg = read_appended(spark, str(tmp_path / "registry"))
    assert set(reg.columns) == {"id", "term", "w", "n2", "is_prefix"}
    assert reg.select("id").distinct().count() == 40


# ---------------------------------------------------------------------------
# incremental / streaming connected components (the q89 streaming twin)
# ---------------------------------------------------------------------------


def test_incremental_cc_registry_prefix_parity(spark):
    """After EVERY batch the registry equals connected_components over
    the union of all edges seen so far — including cross-batch merges
    of previously separate components (labels drop to the global min)."""
    import random

    from patternly_spark.operators.graph import connected_components
    from patternly_spark.streaming.graph import (
        empty_cc_registry,
        incremental_connected_components,
    )

    random.seed(17)
    # two dense clusters joined only in the last batch, plus noise
    edges = [(random.randint(0, 14), random.randint(0, 14)) for _ in range(25)]
    edges += [(random.randint(20, 34), random.randint(20, 34)) for _ in range(25)]
    edges += [(random.randint(40, 60), random.randint(40, 60)) for _ in range(20)]
    edges = [e for e in edges if e[0] != e[1]]
    bridge = [(7, 27)]  # merges the two dense clusters
    batches = [edges[:20], edges[20:45], edges[45:] + bridge]

    reg = empty_cc_registry(spark)
    seen = []
    for batch_edges in batches:
        batch = spark.createDataFrame(batch_edges, "src long, dst long")
        reg = incremental_connected_components(batch, reg).localCheckpoint(
            eager=True
        )
        seen += batch_edges
        want = {
            (r.node, r.component)
            for r in connected_components(
                spark.createDataFrame(seen, "src long, dst long")
            ).collect()
        }
        got = {(r.node, r.label) for r in reg.collect()}
        assert got == want
    # the bridge really merged: nodes 0-14 and 20-34 share one label
    labels = {r.node: r.label for r in reg.collect()}
    assert labels[7] == labels[27]


def test_streaming_cc_registry_end_to_end(spark, tmp_path):
    from patternly_spark.operators.graph import connected_components
    from patternly_spark.streaming.graph import streaming_cc_registry

    edges = [(i, i + 1) for i in range(0, 30, 2)]      # 15 tiny components
    edges += [(i, i + 2) for i in range(0, 28, 2)]     # chained into one
    df = spark.createDataFrame(edges, "src long, dst long")
    src = str(tmp_path / "src")
    df.repartition(3).write.parquet(src)

    q = streaming_cc_registry(
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        registry_path=str(tmp_path / "registry"),
        checkpoint_path=str(tmp_path / "ckpt"),
        trigger_once=True,
    )
    q.awaitTermination(120)

    got = {
        (r.node, r.label)
        for r in read_registry(spark, str(tmp_path / "registry")).collect()
    }
    want = {
        (r.node, r.component) for r in connected_components(df).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# streaming data-quality registry (the q194 streaming twin)
# ---------------------------------------------------------------------------


def test_streaming_quality_registry_equals_batch(spark, tmp_path):
    """Additive-counter law (+ the per-value table for `unique`): the
    report assembled from the folded registries after all triggers ==
    data_quality_report over the full concatenation, row for row."""
    from patternly_spark.operators.validate import data_quality_report
    from patternly_spark.streaming.validate import (
        quality_report_from_registry,
        streaming_quality_registry,
    )

    rules = [
        {"column": "k", "check": "unique"},
        {"column": "name", "check": "complete"},
        {"column": "price", "check": "range", "min": 0.0, "max": 100.0,
         "max_violation_rate": 0.3},
    ]
    rows = [
        (1, "a", 10.0), (2, "b", -5.0), (2, None, 200.0),
        (3, "c", None), (4, "d", 50.0), (1, "e", 101.0),
    ]
    df = spark.createDataFrame(rows, "k long, name string, price double")
    src = str(tmp_path / "src")
    df.repartition(3).write.parquet(src)

    q = streaming_quality_registry(
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        rules,
        counters_path=str(tmp_path / "counters"),
        values_path=str(tmp_path / "values"),
        checkpoint_path=str(tmp_path / "ckpt"),
        trigger_once=True,
    )
    q.awaitTermination(120)

    got = {
        r.rule_idx: (r.n_rows, r.n_violations, r.violation_rate, r.passed)
        for r in quality_report_from_registry(
            spark, rules,
            str(tmp_path / "counters"),
            values_path=str(tmp_path / "values"),
        ).collect()
    }
    want = {
        r.rule_idx: (r.n_rows, r.n_violations, r.violation_rate, r.passed)
        for r in data_quality_report(df, rules).collect()
    }
    assert got == want
    # sanity on the absolute numbers: 2 duplicate extras? no — k repeats
    # 1 and 2 once each -> 2 extras; one null name; -5, 200, 101 out of range
    assert want[0][1] == 2 and want[1][1] == 1 and want[2][1] == 3


def test_streaming_scd2_registry_equals_batch(spark, tmp_path):
    """Per-key time-ordered batches: the registry after all triggers ==
    scd2_intervals over every change event, including a cross-batch
    no-op (same attrs continue the open version, not a new one) and a
    cross-batch change (open version closes at the new event's ts)."""
    from patternly_spark.operators.temporal import scd2_intervals
    from patternly_spark.streaming.merge import streaming_scd2_registry

    rows = [
        # user 1: A@1 A@2(noop) | B@5 | B@8(noop) A@9
        (1, 1, "A"), (1, 2, "A"), (1, 5, "B"), (1, 8, "B"), (1, 9, "A"),
        # user 2: X@1 | (untouched in later batches)
        (2, 1, "X"),
        # user 3 appears only in the last batch
        (3, 7, "Q"), (3, 9, "Q"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts long, event_type string")
    src = str(tmp_path / "src")
    # time-ordered batches: ts<=2 | ts<=5 | rest
    df.filter(F.col("ts") <= 2).coalesce(1).write.parquet(src)
    df.filter((F.col("ts") > 2) & (F.col("ts") <= 5)).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    df.filter(F.col("ts") > 5).coalesce(1).write.mode("append").parquet(src)

    q = streaming_scd2_registry(
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        registry_path=str(tmp_path / "reg"),
        checkpoint_path=str(tmp_path / "ckpt"),
        key_col="user_id",
        ts_col="ts",
        attr_cols=["event_type"],
        trigger_once=True,
    )
    q.awaitTermination(120)

    got = {
        (r.user_id, r.valid_from): (r.valid_to, r.is_current, r.event_type)
        for r in read_registry(spark, str(tmp_path / "reg")).collect()
    }
    want = {
        (r.user_id, r.valid_from): (r.valid_to, r.is_current, r.event_type)
        for r in scd2_intervals(
            df, key_col="user_id", ts_col="ts", attr_cols=["event_type"]
        ).collect()
    }
    assert got == want
    # the cross-batch no-op really collapsed: user 1 has exactly 3 versions
    assert sum(1 for k in got if k[0] == 1) == 3

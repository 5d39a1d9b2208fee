"""Sources/sinks (S1/S3/S4/S7) and physical-plan quality checks: the
scale mandate is that filters reach the parquet scan, small sides
broadcast, and hot paths stay inside WholeStageCodegen — assert it."""

import os
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

from patternly_spark.pfsa.model import PFSA
from patternly_spark.pfsa.simulate import simulate
from patternly_spark.sources.loaders import (
    clean_sentinels,
    export_pfsa_text,
    import_pfsa_text,
    load_pfsa_library,
    read_sequence_csv,
    read_symbol_stream,
    save_pfsa_library,
)

M2 = PFSA(pitilde=[[0.6, 0.4], [0.3, 0.7]], connx=[[0, 1], [0, 1]], pfsa_id=0,
          ann_err=0.01, mrg_eps=0.1, syn_str=[0], sym_frq=[0.45, 0.55])


def test_read_sequence_csv(spark, tmp_path):
    p = tmp_path / "seqs.csv"
    # trailing separator -> reference drops the resulting all-null column
    p.write_text("0 1 1 0 \n1 0 0 1 \n0 0 1 1 \n")
    df = read_sequence_csv(spark, str(p)).toPandas()
    assert len(df) == 3
    assert all(len(s) == 4 for s in df.symbols)
    assert sorted(df.symbols.iloc[0]) == [0, 0, 1, 1]


def test_read_symbol_stream(spark, tmp_path):
    p = tmp_path / "data1"
    syms = simulate(M2, 500, 1, seed=3)[0]
    p.write_text("\n".join(str(int(s)) for s in syms) + "\n")
    df = read_symbol_stream(spark, str(p)).orderBy("offset").toPandas()
    assert len(df) == 500
    assert df.offset.tolist() == list(range(500))
    assert (df.symbol.to_numpy() == syms).all()


def test_clean_sentinels(spark):
    df = spark.createDataFrame(
        [(1, -1e31, 2.0), (2, 3.0, 4.0), (3, 5.0, -1e31)], "id long, a double, b double"
    )
    out = clean_sentinels(df, ["a", "b"]).toPandas()
    assert out.id.tolist() == [2]


def test_pfsa_parquet_roundtrip(spark, tmp_path):
    other = PFSA(pitilde=[[0.2, 0.8], [0.7, 0.3]], connx=[[0, 1], [0, 1]], pfsa_id=1)
    save_pfsa_library(spark, [M2, other], str(tmp_path / "lib"))
    loaded = load_pfsa_library(spark, str(tmp_path / "lib"))
    assert len(loaded) == 2
    np.testing.assert_allclose(loaded[0].pitilde, M2.pitilde)
    assert (loaded[1].connx == other.connx).all()


def test_pfsa_text_roundtrip_dir(tmp_path):
    paths = export_pfsa_text([M2], str(tmp_path / "txt"))
    models = import_pfsa_text(str(tmp_path / "txt"))
    assert len(paths) == 1 and len(models) == 1
    np.testing.assert_allclose(models[0].pitilde, M2.pitilde)


def test_m2_cfg_style_parse():
    cfg = """#PITILDE: [[0.6, 0.4], [0.3, 0.7]]
#DATA_LENGTH: 500000
"""
    m = PFSA.from_text(cfg)
    np.testing.assert_allclose(m.pitilde, [[0.6, 0.4], [0.3, 0.7]])
    assert (m.connx == [[0, 1], [0, 1]]).all()


# ---------------------------------------------------------------------------
# physical plan quality (SURVEY §4.2: Catalyst must be doing its job)
# ---------------------------------------------------------------------------

def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    df = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    q = df.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    explained = df.sparkSession._jsparkSession.sessionState().executePlan(
        q._jdf.queryExecution().logical(), q._jdf.queryExecution().mode()
    ).executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)" in explained
    # column pruning: only the two selected columns in ReadSchema
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in explained


def test_broadcast_join_for_dimensions(spark):
    import __spark_entry__ as e

    plan = _plan(e.q03_region_activity(spark, "/root/testdata/sf0.01"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_llk_scoring_plan_has_no_shuffle(spark):
    from patternly_spark.pfsa.llk import score_sequences

    seqs = spark.createDataFrame(
        [(i, [0, 1, 0]) for i in range(10)], "seq_id long, symbols array<int>"
    )
    plan = _plan(score_sequences(seqs, [M2]))
    assert "Exchange" not in plan  # broadcast-in-closure: zero shuffle

    # predict reduces each sequence's scores inside the same pass
    from patternly_spark.detection import AnomalyDetection

    model = AnomalyDetection(spark, quantize=False)
    model.fitted, model.library = True, [M2]
    model.pfsa_llk_means, model.pfsa_llk_stds = np.array([0.7]), np.array([0.1])
    plan = _plan(model.predict(seqs))
    assert "MapInArrow" in plan and "Exchange" not in plan


def test_quantize_stays_jvm_side(spark):
    # the whole quantization path must be JVM expressions (scan + window +
    # project) — any Python eval node here would be a 10-100x scale bug
    import __spark_entry__ as e

    plan = _plan(e.q14_quantize_simple(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" in plan and "FileScan parquet" in plan


def test_dense_offset_matches_global_sort(spark):
    # quantile-bucketed parallel numbering must equal a single-partition
    # global row_number, including on duplicate range keys
    import random

    from pyspark.sql import Window
    from patternly_spark.functions.windowing import add_dense_offset

    random.seed(7)
    rows = [(random.randint(0, 50), i) for i in range(2000)]  # heavy ties on key
    df = spark.createDataFrame(rows, "key long, uid long")
    got = add_dense_offset(df, ["key", "uid"], out_col="rn", range_col="key", num_buckets=16)
    w = Window.orderBy("key", "uid")
    expected = df.withColumn("rn", (F.row_number().over(w) - 1).cast("long"))
    mismatches = (
        got.select("key", "uid", "rn")
        .exceptAll(expected.select("key", "uid", "rn"))
        .count()
    )
    assert mismatches == 0


def test_minhash_plan_evaluates_tokenizer_once(spark):
    # regression guards for two Catalyst traps (see operators/dedup.py):
    # 1. the tokenizer split must appear exactly once in the physical plan
    #    (with_shingles stages it as a multiply-referenced column so
    #    CollapseProject cannot re-inline it into every element_at);
    # 2. no InferFiltersFromGenerate-synthesized size() predicate may
    #    re-evaluate the shingle pipeline (explode_outer dodges the rule).
    from patternly_spark.operators.dedup import minhash_signatures

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(minhash_signatures(d, shingle_size=3, num_hashes=8))
    assert plan.count("split(") == 1, f"tokenizer re-inlined:\n{plan[:2000]}"
    # map-side partial aggregation before the doc_id shuffle
    assert plan.count("HashAggregate") >= 2


def test_simhash_plan_evaluates_hash_once(spark):
    from patternly_spark.operators.dedup import simhash_signatures

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(simhash_signatures(d, bits=16))
    assert plan.count("md5(") <= 2, "md5 must not be replicated per bit"


def test_multichannel_save_load(tmp_path, spark):
    from patternly_spark.detection import MultiChannelDetection

    a = simulate(M2, 2000, 1, seed=5)[0]
    rows = [("c1", i, float(v)) for i, v in enumerate(a)] + [
        ("c2", i, float(v)) for i, v in enumerate(a)
    ]
    df = spark.createDataFrame(rows, "channel string, offset long, value double")
    m = MultiChannelDetection(spark, window_size=500, window_overlap=0, n_clusters=1,
                              quantize=False, anomaly_sensitivity=3)
    m.fit(df)
    before = m.predict(df).orderBy("channel", "seq_id").collect()
    m.save_model(str(tmp_path / "mc"))
    loaded = MultiChannelDetection.load_model(str(tmp_path / "mc"), spark)
    after = loaded.predict(df).orderBy("channel", "seq_id").collect()
    assert [tuple(r) for r in before] == [tuple(r) for r in after]


def test_multichannel_detection(spark):
    a = simulate(M2, 4000, 1, seed=1)[0]
    b = simulate(M2, 4000, 1, seed=2)[0]
    rows = [("ch1", i, float(v)) for i, v in enumerate(a)] + [
        ("ch2", i, float(v)) for i, v in enumerate(b)
    ]
    df = spark.createDataFrame(rows, "channel string, offset long, value double")
    from patternly_spark.detection import MultiChannelDetection

    m = MultiChannelDetection(
        spark, window_size=400, window_overlap=0, n_clusters=1, quantize=False,
        anomaly_sensitivity=4, eps=0.2,
    )
    m.fit(df)
    preds = m.predict().toPandas()
    assert set(preds.channel) == {"ch1", "ch2"}
    assert len(preds) == 20
    assert preds.anomaly.sum() == 0


@pytest.mark.parametrize(
    "name, value",
    [
        ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "eight"),
        ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "0"),
        ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "-4"),
        ("SPARK_GRAFT_CPUS", "all"),
        ("SPARK_GRAFT_CPUS", "0"),
        ("SPARK_GRAFT_UI", "yes"),
        ("SPARK_GRAFT_UI", "TRUE"),
    ],
)
def test_session_rejects_malformed_settings(monkeypatch, name, value):
    """A malformed deployment setting raises before any builder runs,
    naming the variable, even with a live session to hand back."""
    from pyspark.sql import SparkSession

    from patternly_spark import session

    monkeypatch.setattr(SparkSession, "builder", None)  # touching it would fail
    monkeypatch.setenv(name, value)
    with pytest.raises(ValueError, match=name):
        session.get_spark()


class _RecordingBuilder:
    """Stands in for SparkSession.builder: records the settings."""

    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, url):
        self.conf["master"] = url
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def test_session_applies_wellformed_settings(monkeypatch):
    from pyspark.sql import SparkSession

    from patternly_spark import session

    monkeypatch.setattr(SparkSession, "builder", _RecordingBuilder())
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "16")
    monkeypatch.setenv("SPARK_GRAFT_UI", "true")
    conf = session.get_spark()
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "16"
    assert conf["spark.ui.enabled"] == "true"
    assert session.get_spark(shuffle_partitions=5)["spark.sql.shuffle.partitions"] == "5"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "*")
    monkeypatch.setenv("SPARK_GRAFT_UI", "0")
    conf = session.get_spark()
    assert conf["master"] == "local[*]" and conf["spark.ui.enabled"] == "false"


_ZIP_GUARD_PROBE = """
import importlib, sys, zipfile, zipimport

from patternly_spark.session import guard_zip_invalidation

archive = sys.argv[1]


def write(modules):
    with zipfile.ZipFile(archive, "w") as z:
        for name, src in modules.items():
            z.writestr(name + ".py", src)


reads = []
read_directory = zipimport._read_directory
zipimport._read_directory = lambda path: reads.append(path) or read_directory(path)
write({"zg_first": "VALUE = 1"})
sys.path.insert(0, archive)
guard_zip_invalidation()
guard_zip_invalidation()
wrapped = zipimport.zipimporter.invalidate_caches.__wrapped__
assert not hasattr(wrapped, "__wrapped__"), "applied twice"
import zg_first

assert zg_first.VALUE == 1
assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
importlib.invalidate_caches()  # the first call reads and stamps
n = len(reads)
importlib.invalidate_caches()
importlib.invalidate_caches()
assert len(reads) == n, (n, reads)
write({"zg_first": "VALUE = 2", "zg_second": "VALUE = 3"})
importlib.invalidate_caches()
assert len(reads) == n + 1, (n, reads)
import zg_second

assert zg_second.VALUE == 3
assert importlib.reload(zg_first).VALUE == 2
"""


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13+ re-reads lazily; the guard does nothing")
def test_zip_guard_rereads_only_a_changed_archive(tmp_path):
    """``guard_zip_invalidation`` in a fresh interpreter: repeated
    ``importlib.invalidate_caches()`` calls do not re-read an unchanged
    archive's directory, and a rewritten archive is re-read, so its new
    module imports and the old module's new source loads."""
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _ZIP_GUARD_PROBE, str(tmp_path / "mods.zip")],
        cwd=repo, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr


def test_warm_worker_skips_zip_directory_rereads(spark):
    """A Python worker that has imported the package re-reads no zip
    directory when a task starts: ``importlib.invalidate_caches()``, which
    PySpark calls at the start of every task, costs no ``_read_directory``
    call once the archive is stamped.  The driver stays unpatched."""
    import zipimport

    import pandas as pd

    from patternly_spark.pfsa.llk import llk_one

    def warm(batches):
        llk_one  # unpickling this closure imports patternly_spark
        yield from batches

    # Spark hands idle workers out first-in first-out, so 32 tasks reach
    # every idle worker of the session (up to 32) at least once
    spark.range(0, 32, numPartitions=32).mapInPandas(warm, "id long").collect()

    def count_reads(batches):
        import importlib
        import sys
        import zipimport

        for _ in batches:
            pass
        zipped = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or read_directory(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        yield pd.DataFrame({"zipped": [zipped], "reads": [len(reads)]})

    got = spark.range(0, 4, numPartitions=4).mapInPandas(count_reads, "zipped long, reads long").toPandas()
    assert not hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
    if not got["zipped"].any():
        pytest.skip("the workers import pyspark from a directory, not from a zip: nothing to guard")
    assert got["reads"].tolist() == [0, 0, 0, 0]


def test_events_read_on_vanilla_session_conf(spark, sf_dir):
    """Driver contract: _t must self-heal when the session lacks the
    nanosAsLong conf (the verify driver hands in a vanilla session)."""
    import importlib
    entry = importlib.import_module("__spark_entry__")
    try:
        spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    except Exception:
        pass
    df = entry._t(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.limit(5).count() > 0


def test_events_read_via_arrow_fallback(spark, sf_dir):
    """The pyarrow fallback path must produce microsecond timestamps with
    the same row count as the conf-based path."""
    import importlib
    entry = importlib.import_module("__spark_entry__")
    via_arrow = entry._read_events_via_arrow(spark, sf_dir)
    assert dict(via_arrow.dtypes)["ts"].startswith("timestamp")
    normal = entry._t(spark, sf_dir, "events")
    assert via_arrow.count() == normal.count()


def test_repeated_ngram_fraction(spark):
    from patternly_spark.functions.text import repeated_ngram_fraction, tokens

    rows = [
        (0, "a b c a b c a b c"),      # 7 trigrams, 3 distinct -> 4/7
        (1, "all words different here totally"),  # 3 trigrams, all distinct -> 0
        (2, "x y"),                     # shorter than n -> 0.0
        (3, "w w w w"),                 # 2 trigrams, 1 distinct -> 0.5
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = (
        df.withColumn("__toks", tokens("text"))
        .select("doc_id", repeated_ngram_fraction(F.col("__toks"), 3).alias("rep3"))
        .toPandas().set_index("doc_id").rep3
    )
    assert abs(out[0] - 4 / 7) < 1e-12
    assert out[1] == 0.0
    assert out[2] == 0.0
    assert out[3] == 0.5


def test_bucketed_join_skips_corpus_exchange(spark, tmp_path):
    """S-extension: a table bucketed on the join key joins without
    re-shuffling — the persisted bucket layout replaces the Exchange.
    Two same-bucketed tables: NO exchange at all; bucketed x fresh:
    only the fresh (small) side shuffles."""
    from patternly_spark.sources.bucketed import read_bucketed, save_bucketed

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    save_bucketed(
        docs, "corpus_b", bucket_by="doc_id", n_buckets=4, sort_by="doc_id",
        path=str(tmp_path / "corpus_b"),
    )
    save_bucketed(
        docs.selectExpr("doc_id", "n_chars AS len_chars"), "feats_b",
        bucket_by="doc_id", n_buckets=4, sort_by="doc_id",
        path=str(tmp_path / "feats_b"),
    )
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        left = read_bucketed(spark, "corpus_b")
        right = read_bucketed(spark, "feats_b")
        both = _plan(left.join(right, "doc_id").select(left.doc_id, "lang", "len_chars"))
        assert "SortMergeJoin" in both
        assert "Exchange" not in both, f"bucketed x bucketed still shuffles:\n{both[:1500]}"
        # bucketed groupBy on the bucket key: no exchange either
        agg = _plan(left.groupBy("doc_id").count())
        assert "Exchange" not in agg
        # bucketed x fresh: exactly ONE exchange, and it's on the fresh side
        fresh = spark.range(50).withColumnRenamed("id", "doc_id")
        mixed = _plan(left.join(fresh, "doc_id").select("doc_id", "lang"))
        assert "SortMergeJoin" in mixed
        assert mixed.count("Exchange") == 1, f"corpus side re-shuffled:\n{mixed[:1500]}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS corpus_b")
        spark.sql("DROP TABLE IF EXISTS feats_b")


def test_bucketed_roundtrip_values(spark, tmp_path):
    from patternly_spark.sources.bucketed import read_bucketed, save_bucketed

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    save_bucketed(
        docs, "corpus_rt", bucket_by="doc_id", n_buckets=3,
        path=str(tmp_path / "corpus_rt"),
    )
    try:
        back = read_bucketed(spark, "corpus_rt")
        assert back.count() == docs.count()
        a = docs.orderBy("doc_id").toPandas()
        b = back.orderBy("doc_id").toPandas()[a.columns.tolist()]
        assert a.equals(b)
    finally:
        spark.sql("DROP TABLE IF EXISTS corpus_rt")


def test_aqe_splits_pathological_skew_join(spark):
    """Skew story at 100 TB: a hot key owning half the fact side must not
    serialize the join into one straggler task.  The session enables AQE
    skew-join; this pins that a pathological key actually gets split
    (SortMergeJoin(skew=true) + a skewed AQEShuffleRead) so a conf
    regression can't silently bring stragglers back.  Thresholds are
    lowered only to make sf-tiny data look like 100 TB partitions."""
    big = spark.range(2_000_000).select(
        F.when(F.col("id") % 2 == 0, 0).otherwise(F.col("id") % 1000).alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        agg = big.join(small, "k").agg(F.count(F.lit(1)).alias("n"))
        assert agg.collect()[0]["n"] == 2_000_000
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan, f"skew not split:\n{plan[:1500]}"
        assert "skewed" in plan  # AQEShuffleRead on the hot side
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_training_shards_write_verify_prune(spark, tmp_path):
    """Shard sink contract: balanced partitioned write + manifest;
    verify_shards passes on intact data and flags a lost shard; reading
    one shard prunes to its partition."""
    from patternly_spark.plans import assert_plan
    from patternly_spark.sources.shards import (
        read_shard,
        verify_shards,
        write_training_shards,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(["tok"] * (5 + i % 13))) for i in range(80)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "shards")
    manifest = write_training_shards(docs, path, n_shards=4).collect()
    assert len(manifest) == 4
    assert sum(r["n_rows"] for r in manifest) == 80
    # serpentine balancing: token totals within one stratum's spread
    weights = sorted(r["weight_tokens"] for r in manifest)
    assert weights[-1] - weights[0] <= 13

    ver = verify_shards(spark, path)
    assert all(r["ok"] for r in ver.collect())

    one = read_shard(spark, path, 2)
    assert one.count() == next(r["n_rows"] for r in manifest if r["shard"] == 2)
    assert_plan(one, require_partition_filter=True)

    # losing a shard's files must be caught
    import shutil

    shutil.rmtree(str(tmp_path / "shards" / "shard=3"))
    bad = {r["shard"]: r["ok"] for r in verify_shards(spark, path).collect()}
    assert bad[3] is False and bad[2] is True


def test_read_jsonl_captures_corrupt_lines(spark, tmp_path):
    """PERMISSIVE JSONL ingestion: good lines parse, malformed lines
    land intact in _corrupt_record instead of failing or vanishing —
    with both an explicit DDL schema (the at-scale path) and inference."""
    from patternly_spark.sources.loaders import read_jsonl

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "alpha"}\n'
        "this is not json\n"
        '{"doc_id": 2, "text": "beta"}\n'
        '{"doc_id": 3 "text": "missing comma"}\n'
    )
    df = read_jsonl(spark, str(p), schema="doc_id long, text string")
    rows = df.collect()
    assert len(rows) == 4
    good = {r["doc_id"]: r["text"] for r in rows if r["_corrupt_record"] is None}
    bad = [r["_corrupt_record"] for r in rows if r["_corrupt_record"] is not None]
    assert good == {1: "alpha", 2: "beta"}
    assert len(bad) == 2 and "not json" in bad[0] + bad[1]

    inferred = read_jsonl(spark, str(p))
    assert "_corrupt_record" in inferred.columns
    # NB: a query referencing ONLY the corrupt column is disallowed by
    # Spark (SPARK-21610) — select a data column alongside it
    n_bad = sum(
        1
        for r in inferred.select("doc_id", "_corrupt_record").collect()
        if r["_corrupt_record"] is not None
    )
    assert n_bad == 2


def test_orc_roundtrip_schema_and_pushdown(spark, sf_dir, tmp_path):
    """ORC is the other columnar format Spark ships natively; the engine
    must round-trip it with schema fidelity and push filters/projections
    into the scan exactly as with parquet."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = str(tmp_path / "docs_orc")
    df.write.mode("overwrite").orc(p)
    back = spark.read.orc(p)
    assert back.schema == df.schema
    assert back.count() == df.count()
    # same rows (spot-check deterministic slice)
    a = df.filter(F.col("doc_id") < 20).orderBy("doc_id").toPandas()
    b = back.filter(F.col("doc_id") < 20).orderBy("doc_id").toPandas()
    assert a.equals(b)
    filt = back.filter(F.col("doc_id") == 7).select("doc_id", "lang")
    plan = filt._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "doc_id" in plan.split("PushedFilters")[1][:120]
    assert "ReadSchema" in plan and "text" not in plan.split("ReadSchema")[1][:200], \
        "projection must prune unread columns from the ORC scan"


def test_ensure_pkg_ship_failure_is_diagnosed(spark, monkeypatch, capsys):
    """A failed executor zip-ship must SAY so (stderr diagnostic naming
    PYTHONPATH), not silently pass — the silent path used to surface as
    an opaque worker ModuleNotFoundError minutes later."""
    import __spark_entry__ as entrymod

    monkeypatch.setattr(entrymod, "_PKG_SHIPPED", False)

    def _boom(path):
        raise OSError("no tmp space")

    monkeypatch.setattr(spark.sparkContext, "addPyFile", _boom)
    entrymod._ensure_pkg_on_executors(spark)
    err = capsys.readouterr().err
    assert "could not ship package zip" in err
    assert "PYTHONPATH" in err
    assert "OSError" in err
    # marked shipped: the diagnostic prints once, not per query
    assert entrymod._PKG_SHIPPED


def test_bench_regression_guard_thresholds():
    """1.5x relative AND +0.75s absolute must BOTH be exceeded: fast
    queries tolerate noise, slow queries trip on a 50% slowdown."""
    import bench

    pins = {"fast": 0.2, "slow": 4.0}
    # fast query tripling (0.6s) stays under the absolute floor
    assert bench.find_regressions({"fast": 0.6}, pins) == {}
    # fast query blowing past both bounds trips
    assert "fast" in bench.find_regressions({"fast": 2.0}, pins)
    # slow query at +40% (host-variance band) is fine, at +110% trips
    assert bench.find_regressions({"slow": 5.6}, pins) == {}
    assert "slow" in bench.find_regressions({"slow": 8.5}, pins)
    # unpinned queries never trip
    assert bench.find_regressions({"new": 99.0}, pins) == {}


def _pins(n: int = 20, pin: float = 2.0) -> dict:
    return {f"q{i:03d}": pin for i in range(n)}


def test_bench_guard_uniform_slowdown_flags_nothing():
    """The round-8 failure mode, automated: a host running EVERY query
    2x its pin (uniform weather) must produce regressions == {} — the
    run's own median calibrates the threshold."""
    import bench

    pins = _pins()
    timings = {n: 2.0 * p for n, p in pins.items()}
    assert bench.find_regressions(timings, pins) == {}
    # even 2.5x-uniform (beyond the old absolute guard) stays clean
    timings = {n: 2.5 * p for n, p in pins.items()}
    assert bench.find_regressions(timings, pins) == {}


def test_bench_guard_genuine_regression_survives_calibration():
    """Under the same uniform 2x weather, one query at 10x its pin must
    still flag — calibration scales the threshold, it does not disable
    the guard."""
    import bench

    pins = _pins()
    timings = {n: 2.0 * p for n, p in pins.items()}
    timings["q000"] = 10.0 * pins["q000"]
    out = bench.find_regressions(timings, pins)
    assert list(out) == ["q000"]
    assert out["q000"]["host_median_x"] == 2.0
    assert out["q000"]["x_pin"] == 10.0


def test_bench_guard_calibration_needs_enough_samples():
    """With < MIN_CALIBRATION_N pinned queries the median IS the queries
    under test, so calibration must stay off (a 2-query run with one
    regression would otherwise calibrate the regression away)."""
    import bench

    pins = {"a": 1.0, "b": 1.0}
    # both at 4x pin: with calibration this would be 'weather'; with only
    # 2 samples the raw threshold applies and both flag
    out = bench.find_regressions({"a": 4.0, "b": 4.0}, pins)
    assert set(out) == {"a", "b"}


def test_bench_guard_fast_host_does_not_relax():
    """A uniformly FAST host (median < 1) clamps calibration to 1.0 —
    it must not shift thresholds below the pin-calibrated baseline."""
    import bench

    pins = _pins()
    timings = {n: 0.5 * p for n, p in pins.items()}
    timings["q000"] = 5.0 * pins["q000"]  # 5x pin on a fast host: real
    out = bench.find_regressions(timings, pins)
    assert list(out) == ["q000"]


def test_bench_guard_retime_clears_transient_window():
    """Stage 2: a candidate produced by a transient contention window
    (median ~1x, one query measured 4x) is cleared when its confirmation
    re-time lands back inside the band — and kept when it does not."""
    import bench

    pins = _pins(pin=2.0)
    timings = dict(_pins(pin=2.2))  # ~1.1x weather
    timings["q005"] = 8.8  # 4.4x pin: transient window victim

    # re-time comes back clean -> adjudicated as weather, no flag
    out = bench.find_regressions(timings, pins, retime=lambda n: 2.6)
    assert out == {}

    # re-time still slow -> confirmed regression, flagged with evidence
    out = bench.find_regressions(timings, pins, retime=lambda n: 8.5)
    assert list(out) == ["q005"]
    assert out["q005"]["retimed"] is True
    assert out["q005"]["first_pass_sec"] == 8.8
    assert out["q005"]["sec"] == 8.5
    # artifact schema pin (round-9 verdict item 6): exactly these keys
    assert set(out["q005"]) == {
        "sec", "pin", "x_pin", "host_median_x", "first_pass_sec", "retimed"
    }
    # without a retime callback the confirmation fields are absent
    no_retime = bench.find_regressions(timings, pins)
    assert set(no_retime["q005"]) == {"sec", "pin", "x_pin", "host_median_x"}


def test_bench_guard_retime_only_called_for_candidates():
    """The confirmation pass must not re-run the whole bench — only
    stage-1 candidates get a retime() call."""
    import bench

    pins = _pins()
    timings = {n: p * 1.1 for n, p in pins.items()}
    timings["q003"] = 9.0
    called = []

    def _retime(name):
        called.append(name)
        return 9.0

    bench.find_regressions(timings, pins, retime=_retime)
    assert called == ["q003"]


def test_bench_strict_mode_exits_on_regression(monkeypatch):
    """SPARK_GRAFT_BENCH_STRICT=1 + confirmed regressions -> exit 1;
    unset or empty regressions -> no exit.  (The block was dead code
    after a return inside compact_line — round-8 verdict item 2.)"""
    import bench
    import pytest

    reg = {"q001": {"sec": 9.0, "pin": 1.0}}
    monkeypatch.setenv("SPARK_GRAFT_BENCH_STRICT", "1")
    with pytest.raises(SystemExit) as exc:
        bench.maybe_strict_exit(reg)
    assert exc.value.code == 1
    bench.maybe_strict_exit({})  # no regressions: returns
    monkeypatch.delenv("SPARK_GRAFT_BENCH_STRICT")
    bench.maybe_strict_exit(reg)  # not strict: returns


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


def _jobs_of(spark, fn):
    """(fn's result, the Spark jobs it ran in its own job group)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id"), sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev[0])
        sc.setLocalProperty("spark.job.description", prev[1])
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _lists_frame(spark, lengths):
    """(seq_id, values) with one row per length, split evenly over four
    partitions in seq_id order; a None length is a null list."""
    rows = [(i, None if n is None else [float(i)] * n) for i, n in enumerate(lengths)]
    return spark.createDataFrame(rows, "seq_id long, values array<double>").repartitionByRange(4, "seq_id")


@pytest.mark.parametrize("case", ["fits", "skewed", "over", "scalar"])
def test_collect_within_one_job(spark, monkeypatch, case):
    """``collect_within`` measures a relation and collects it in one job
    when every partition fits its share of the budget; a fitting relation
    whose skewed partition held its rows back is collected a second time;
    an over-budget one returns no rows.  The counts are exact either way
    (a null list holds no elements).  A relation without a list column
    is measured by its rows alone."""
    from patternly_spark import plans
    from patternly_spark.plans import collect_within

    assert spark.sparkContext.defaultParallelism == 4  # the tests' session
    if case == "scalar":
        df = spark.range(40).select("id", (F.col("id") * 0.5).alias("half")).persist()
        df.count()
        monkeypatch.setattr(plans, "DRIVER_BUDGET_BYTES", 2 * 40 * 10)
        (table, n_rows, n_elements), jobs = _jobs_of(spark, lambda: collect_within(df, 10))
        df.unpersist()
        assert (n_rows, n_elements, jobs) == (40, 0, 1)
        got = sorted(zip(table.column("id").to_pylist(), table.column("half").to_pylist()))
        assert got == [(i, i * 0.5) for i in range(40)]
        return
    lengths = [3, None, 0, 5] * 10
    if case == "skewed":  # the last partition holds 600 of the 680 elements
        lengths[-5:] = [120] * 5
    df = _lists_frame(spark, lengths).persist()
    df.count()
    rows, elements = len(lengths), sum(n or 0 for n in lengths)
    cost = rows * 10 + elements * 8
    budget = {"fits": 2 * cost, "skewed": cost + 1, "over": cost}[case]
    monkeypatch.setattr(plans, "DRIVER_BUDGET_BYTES", budget)
    (table, n_rows, n_elements), jobs = _jobs_of(spark, lambda: collect_within(df, 10, "values", 8))
    df.unpersist()
    assert (n_rows, n_elements) == (rows, elements)
    if case == "over":
        assert table is None and jobs == 1
        return
    assert jobs == (2 if case == "skewed" else 1)
    got = table.to_pandas().sort_values("seq_id")
    assert got["seq_id"].tolist() == list(range(rows))
    assert [None if v is None else len(v) for v in got["values"]] == lengths
    monkeypatch.setattr(plans, "DRIVER_BUDGET_BYTES", 0)
    assert collect_within(df, 10, "values", 8) == (None, None, None)  # a zero budget runs no job


@pytest.mark.parametrize("shuffled", [False, True])
def test_solve_within_one_task(spark, monkeypatch, shuffled):
    """``solve_within`` runs its kernel once, in one task, over every row
    of a relation within the cap: in one job for a relation read as it
    is, and after its own shuffle stage, kept parallel, for a shuffled
    one.  A relation over the cap gets no result after one probe, and a
    shuffled one comes back pinned, so reading it again runs no shuffle.
    A zero budget runs no job."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import LongType, StructField, StructType

    from patternly_spark import plans
    from patternly_spark.plans import plan_audit, solve_within

    def relation():
        # 4 partitions in the tests' session; the explode hides the row
        # count from Catalyst, which drops a limit it can prove the input
        # never hits.  A new frame per probe: a frame's finished shuffle
        # stages are not run again.
        df = spark.range(40).select(F.explode(F.array("id")).alias("id"))
        return df.repartition(3) if shuffled else df

    df = relation()
    assert plan_audit(df)["exchanges"] == int(shuffled)
    schema = StructType([StructField("rows", LongType()), StructField("total", LongType())])

    def kernel(table):
        return pa.table({"rows": [table.num_rows], "total": [pc.sum(table["id"]).as_py()]})

    monkeypatch.setattr(plans, "TASK_BUDGET_BYTES", 41 * 8)
    (served, rest), jobs = _jobs_of(spark, lambda: solve_within(df, kernel, schema, 8))
    assert served.collect() == [(40, 780)] and served.schema == schema
    assert served.rdd.getNumPartitions() == 1
    # under AQE the input's shuffle stage, the exchange that gathers the
    # pin's rows and the solve are a job each
    assert jobs == (3 if shuffled else 1)
    assert (rest is df) != shuffled
    df = relation()
    monkeypatch.setattr(plans, "TASK_BUDGET_BYTES", 20 * 8)
    (over, rest), jobs = _jobs_of(spark, lambda: solve_within(df, kernel, schema, 8))
    assert over is None and jobs == (3 if shuffled else 1)
    assert (rest is df) != shuffled
    # the probe materialized every partition of the pin: one job, no shuffle
    assert _jobs_of(spark, lambda: sorted(r.id for r in rest.collect())) == (list(range(40)), 1)
    monkeypatch.setattr(plans, "TASK_BUDGET_BYTES", 0)
    assert _jobs_of(spark, lambda: solve_within(df, kernel, schema, 8)) == ((None, df), 0)


def test_graph_worker_imports_skip_detection(tmp_path):
    """The package exposes its public names lazily (PEP 562): importing a
    graph operator's module, as a worker unpickling its UDF does, does not
    import detection, analysis or MLlib, and the public names still
    import."""
    import subprocess

    probe = (
        "import sys\n"
        "import patternly_spark.operators.graph\n"
        "loaded = [m for m in ('patternly_spark.detection', 'patternly_spark.analysis', 'pyspark.ml') if m in sys.modules]\n"
        "assert not loaded, loaded\n"
        "from patternly_spark import AnomalyDetection, PFSA, embed_library\n"
        "import patternly_spark\n"
        "assert patternly_spark.detection.AnomalyDetection is AnomalyDetection\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", probe], cwd=str(tmp_path), capture_output=True, text=True,
                         timeout=120, env={**os.environ, "PYTHONPATH": repo})
    assert out.returncode == 0, out.stderr

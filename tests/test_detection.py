"""End-to-end pipeline tests modeled on the reference's golden notebooks
(SURVEY §5.3): an example0-style batch (normal regimes + 23 anomalous
sequences at known positions) and the continuous stream detector minting a
new PFSA at a regime boundary."""

import numpy as np
import pytest

from patternly_spark import plans
from patternly_spark.detection import AnomalyDetection, StreamingDetection, ContinuousStreamingDetection
from patternly_spark.pfsa.model import PFSA
from patternly_spark.pfsa.simulate import simulate

# three well-separated 2-state binary machines
MACHINE_A = PFSA(pitilde=[[0.8, 0.2], [0.3, 0.7]], connx=[[0, 1], [0, 1]])
MACHINE_B = PFSA(pitilde=[[0.2, 0.8], [0.7, 0.3]], connx=[[0, 1], [0, 1]])
MACHINE_C = PFSA(pitilde=[[0.05, 0.95], [0.95, 0.05]], connx=[[0, 1], [0, 1]])
# IID-uniform source: high cross-entropy under BOTH structured regimes, so
# it is anomalous w.r.t. every library PFSA (the A6 all-above criterion)
MACHINE_U = PFSA(pitilde=[[0.5, 0.5], [0.5, 0.5]], connx=[[0, 1], [0, 1]])


def _seq_df(spark, groups, length=200):
    """groups: list of (machine, count, seed). seq_ids assigned in order."""
    rows = []
    sid = 0
    for machine, count, seed in groups:
        for s in simulate(machine, length, count, seed=seed):
            rows.append((sid, [int(v) for v in s]))
            sid += 1
    return spark.createDataFrame(rows, "seq_id long, symbols array<int>")


def test_single_cluster_detects_injected_anomalies(spark, both_paths):
    # minimum end-to-end slice (SURVEY §7): k=1, pre-quantized, golden outcome
    df = _seq_df(spark, [(MACHINE_A, 120, 1), (MACHINE_C, 5, 2)])
    for _ in both_paths("DRIVER_BUDGET_BYTES"):
        model = AnomalyDetection(spark, n_clusters=1, quantize=False, anomaly_sensitivity=4, eps=0.2)
        model.fit(df)
        preds = model.predict().toPandas().sort_values("seq_id")
        anomalous = preds[preds.anomaly].seq_id.tolist()
        assert anomalous == [120, 121, 122, 123, 124]
        assert model.cluster_counts == [125]


def test_example0_style_two_clusters(spark, both_paths):
    # 2 normal regimes fit with k=2; prediction on a batch with 23 anomalous
    # sequences at known tail positions flags exactly those (example0 golden
    # shape: 23 anomalies at rows 2000-2022)
    train = _seq_df(spark, [(MACHINE_A, 200, 3), (MACHINE_B, 200, 4)])
    for _ in both_paths("DRIVER_BUDGET_BYTES"):
        model = AnomalyDetection(
            spark, n_clusters=2, quantize=False, anomaly_sensitivity=4, reduce_clusters=False, eps=0.2
        )
        model.fit(train)
        assert model.n_clusters == 2
        assert len(model.library) == 2
        full = _seq_df(spark, [(MACHINE_A, 200, 3), (MACHINE_B, 200, 4), (MACHINE_U, 23, 5)])
        preds = model.predict(full).toPandas().sort_values("seq_id")
        anomalous = preds[preds.anomaly].seq_id.tolist()
        assert anomalous == list(range(400, 423))
        # closest_match maps normal sequences onto their own regime's PFSA
        normal = preds[~preds.anomaly]
        assert normal.closest_match.nunique() == 2


def test_alphabet_incompatible_sequences_flagged(spark, both_paths):
    # P3 -> A6: a sequence using symbols outside the fitted alphabet is
    # unscorable (llk = inf) under every model, hence anomalous — the
    # reference realigns with inf-padding (detection.py:142-144)
    train = _seq_df(spark, [(MACHINE_A, 80, 13)])
    for _ in both_paths("DRIVER_BUDGET_BYTES"):
        model = AnomalyDetection(spark, n_clusters=1, quantize=False, anomaly_sensitivity=4, eps=0.2)
        model.fit(train)
        typical = [int(v) for v in simulate(MACHINE_A, 200, 1, seed=14)[0]]
        probe = spark.createDataFrame(
            [(0, typical), (1, [0, 2, 1, 0])], "seq_id long, symbols array<int>"
        )
        preds = {r["seq_id"]: r["anomaly"] for r in model.predict(probe).collect()}
        assert preds[1] is True, "3-symbol sequence must be anomalous under a binary library"
        assert preds[0] is False


def test_cluster_reduction_merges_similar_regimes(spark, both_paths):
    # clusters over data from ONE machine must merge (example1 pattern:
    # k too high -> reduced).  An arbitrary partitioner (the pluggable
    # clustering_alg surface, reference detection.py:21,:337-338) yields
    # near-identical per-cluster fits, so the confusion fractions spread,
    # the 0.2-threshold digraph connects, and X7 reduces 3 -> 1.
    from pyspark.sql import functions as F

    df = _seq_df(spark, [(MACHINE_A, 200, 7)], length=60)
    partitioner = lambda feats, n: feats.select(
        "seq_id", (F.col("seq_id") % n).cast("int").alias("cluster")
    )
    for _ in both_paths("DRIVER_BUDGET_BYTES"):
        model = AnomalyDetection(
            spark, n_clusters=3, quantize=False, anomaly_sensitivity=3,
            reduce_clusters=True, clustering_alg=partitioner, eps=0.2,
        )
        model.fit(df)
        assert model.n_clusters == 1
        assert model.cluster_counts == [200]
        preds = model.predict().toPandas()
        # in-sample false positives at 3 sigma over 200 draws: ~Binomial tail
        assert preds.anomaly.sum() <= 2


def test_pluggable_mllib_estimator_example3_style(spark, both_paths):
    # example3 golden shape (reference examples/example3.ipynb): a pluggable
    # clustering estimator (FeatureAgglomeration there; any MLlib Estimator
    # with fit/transform here) instead of KMeans, 0 anomalies in-sample
    from pyspark.ml.clustering import BisectingKMeans

    df = _seq_df(spark, [(MACHINE_A, 120, 11), (MACHINE_B, 120, 12)], length=120)
    for _ in both_paths("DRIVER_BUDGET_BYTES"):
        model = AnomalyDetection(
            spark, n_clusters=2, quantize=False, anomaly_sensitivity=4,
            reduce_clusters=False, clustering_alg=BisectingKMeans(k=2, seed=42), eps=0.2,
        )
        model.fit(df)
        assert len(model.library) == 2
        preds = model.predict().toPandas()
        assert preds.anomaly.sum() == 0


def test_no_reduction_when_regimes_distinct(spark, both_paths):
    # genuinely distinct regimes must NOT merge
    df = _seq_df(spark, [(MACHINE_A, 100, 7), (MACHINE_B, 100, 8)], length=100)
    for _ in both_paths("DRIVER_BUDGET_BYTES"):
        model = AnomalyDetection(
            spark, n_clusters=2, quantize=False, anomaly_sensitivity=4, reduce_clusters=True, eps=0.2
        )
        model.fit(df)
        assert model.n_clusters == 2


def test_quantize_complex_pipeline(spark, both_paths):
    # continuous values: regime A ~ N(0,1) random walk vs anomaly ~ big jumps
    # normal = momentum random walk (sticky diff signs -> structured
    # symbols); anomaly = alternating jumps (anti-sticky diff signs)
    rng = np.random.default_rng(42)
    rows = []
    for sid in range(60):
        noise = rng.normal(0, 1.0, 150)
        steps = np.empty(150)
        s = 0.0
        for t in range(150):
            s = 0.85 * s + noise[t]
            steps[t] = s
        rows.append((sid, np.cumsum(steps).tolist()))
    for sid in range(60, 64):
        steps = 4.0 * ((-1.0) ** np.arange(150)) + rng.normal(0, 0.5, 150)
        rows.append((sid, np.cumsum(steps).tolist()))
    df = spark.createDataFrame(rows, "seq_id long, values array<double>")
    for _ in both_paths("DRIVER_BUDGET_BYTES"):
        model = AnomalyDetection(
            spark, n_clusters=1, quantize=True, quantize_type="simple", anomaly_sensitivity=3, eps=0.2
        )
        model.fit(df)
        preds = model.predict().toPandas()
        flagged = set(preds[preds.anomaly].seq_id)
        assert flagged.issuperset({60, 61, 62, 63})
        assert len(flagged) <= 8


def test_save_load_roundtrip(tmp_path, spark, both_paths):
    df = _seq_df(spark, [(MACHINE_A, 50, 9)])
    for _ in both_paths("DRIVER_BUDGET_BYTES"):
        model = AnomalyDetection(spark, n_clusters=1, quantize=False, anomaly_sensitivity=4, eps=0.2)
        model.fit(df)
        model.save_model(str(tmp_path / "m"))
        loaded = AnomalyDetection.load_model(str(tmp_path / "m"), spark)
        assert loaded.fitted and len(loaded.library) == 1
        np.testing.assert_allclose(loaded.library[0].pitilde, model.library[0].pitilde)
        preds = loaded.predict(df).toPandas()
        assert preds.anomaly.sum() == 0


def test_streaming_save_load_preserves_windowing_and_quantizer(tmp_path, spark, both_paths):
    # regression: subclass params (window_size/overlap) and fitted
    # quantizer state must survive save/load — a loaded model must emit
    # byte-identical verdicts (caught live: defaults silently re-chopped
    # the stream after load)
    vals = np.cumsum(np.asarray(simulate(MACHINE_A, 3000, 1, seed=21)[0], dtype=float) * 2 - 1)
    df = spark.createDataFrame([(i, float(v)) for i, v in enumerate(vals)], "offset long, value double")
    for _ in both_paths("DRIVER_BUDGET_BYTES"):
        m = StreamingDetection(
            spark, window_size=250, window_overlap=50, n_clusters=1,
            quantize=True, quantize_type="complex", n_symbols=3, anomaly_sensitivity=3,
        )
        m.fit(df)
        before = m.predict(df).orderBy("seq_id").toPandas()
        m.save_model(str(tmp_path / "sm"))
        loaded = StreamingDetection.load_model(str(tmp_path / "sm"), spark)
        assert loaded.window_size == 250 and loaded.window_overlap == 50
        assert loaded.quantizer is not None and loaded.quantizer.cutpoints == m.quantizer.cutpoints
        after = loaded.predict(df).orderBy("seq_id").toPandas()
        assert before.anomaly.tolist() == after.anomaly.tolist()
        assert before.closest_match.tolist() == after.closest_match.tolist()


def test_streaming_detection_windows(spark, both_paths):
    # one long stream from machine A, chopped into tumbling windows
    stream = simulate(MACHINE_A, 20000, 1, seed=11)[0]
    df = spark.createDataFrame(
        [(i, int(s)) for i, s in enumerate(stream)], "offset long, symbol int"
    )
    for _ in both_paths("DRIVER_BUDGET_BYTES"):
        model = StreamingDetection(
            spark, window_size=500, window_overlap=0, n_clusters=1, quantize=False,
            anomaly_sensitivity=4, eps=0.2,
        )
        model.fit(df)
        preds = model.predict().toPandas()
        assert len(preds) == 40  # 20000 // 500 complete windows
        assert preds.anomaly.sum() == 0


def test_continuous_streaming_with_quantization(spark):
    # regime change in a CONTINUOUS-VALUED stream: random-walk steps from
    # machine A then machine C; complex quantizer symbolizes, detector
    # mints a second model at/after the boundary
    steps_a = np.asarray(simulate(MACHINE_A, 4000, 1, seed=31)[0], dtype=float) * 2 - 1
    steps_c = np.asarray(simulate(MACHINE_C, 2000, 1, seed=32)[0], dtype=float) * 2 - 1
    vals = np.cumsum(np.concatenate([steps_a, steps_c])) * 10.0  # wide range
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "offset long, value double"
    )
    c = ContinuousStreamingDetection(
        spark, window_size=400, window_overlap=0, quantize=True,
        quantize_type="simple", anomaly_sensitivity=3,
    )
    c.fit_stream(df)
    boundary_window = 4000 // 400
    assert len(c.pattern_emergence_times) >= 2
    assert any(t >= boundary_window - 1 for t in c.pattern_emergence_times[1:])


def test_continuous_streaming_mints_pfsa_at_regime_change(spark):
    # segment A (20 windows) then segment C (10 windows): detector must
    # cold-start PFSA 0 and mint a new PFSA at the A->C boundary (ST1/ST2)
    a = simulate(MACHINE_A, 10000, 1, seed=13)[0]
    c = simulate(MACHINE_C, 5000, 1, seed=14)[0]
    stream = np.concatenate([a, c])
    df = spark.createDataFrame(
        [(i, int(s)) for i, s in enumerate(stream)], "offset long, symbol int"
    )
    model = ContinuousStreamingDetection(
        spark, window_size=500, window_overlap=0, n_clusters=1, quantize=False,
        anomaly_sensitivity=4, eps=0.2,
    )
    model.fit_stream(df)
    assert len(model.library) >= 2
    assert model.pattern_emergence_times[0] == 0
    # the first mint after cold start happens at the regime boundary window
    assert any(19 <= t <= 21 for t in model.pattern_emergence_times[1:])


def test_x8_embed_library_merges_near_identical_models(spark):
    # X8 recipe: two near-identical machines land near each other in the
    # 2-D embedding and merge under DBSCAN; a distinct machine stays apart
    from patternly_spark.analysis import embed_library

    a1 = PFSA(pitilde=[[0.8, 0.2], [0.3, 0.7]], connx=[[0, 1], [0, 1]], pfsa_id=0)
    a2 = PFSA(pitilde=[[0.79, 0.21], [0.31, 0.69]], connx=[[0, 1], [0, 1]], pfsa_id=1)
    b = PFSA(pitilde=[[0.05, 0.95], [0.95, 0.05]], connx=[[0, 1], [0, 1]], pfsa_id=2)
    out = embed_library(spark, [a1, a2, b], seq_len=400, n_reps=10, merge_eps=0.05)
    groups = {r["pfsa_id"]: r["merged_group"] for r in out}
    assert groups[0] == groups[1], f"near-identical models must merge: {out}"
    assert groups[2] != groups[0], f"distinct model must not merge: {out}"


def test_fit_with_distributed_genesess_matches_memory_mode(spark, both_paths):
    df = _seq_df(spark, [(MACHINE_A, 60, 41), (MACHINE_B, 60, 42)], length=150)
    kw = dict(n_clusters=2, quantize=False, anomaly_sensitivity=4, reduce_clusters=False, eps=0.2)
    for _ in both_paths("DRIVER_BUDGET_BYTES"):
        m_mem = AnomalyDetection(spark, **kw).fit(df)
        m_dist = AnomalyDetection(spark, genesess_mode="distributed", **kw).fit(df)
        for a, b in zip(m_mem.library, m_dist.library):
            np.testing.assert_array_equal(a.connx, b.connx)
            np.testing.assert_allclose(a.pitilde, b.pitilde)
        pm = m_mem.predict(df).orderBy("seq_id").collect()
        pd_ = m_dist.predict(df).orderBy("seq_id").collect()
        assert [r["anomaly"] for r in pm] == [r["anomaly"] for r in pd_]


def test_relabel_handles_noncontiguous_labels(spark):
    from patternly_spark.detection import _relabel_by_frequency

    # labels {0, 2, 5} with counts {0: 1, 2: 3, 5: 2} plus DBSCAN noise -1
    rows = ([(i, 2) for i in range(3)] + [(10 + i, 5) for i in range(2)]
            + [(20, 0)] + [(30, -1)])
    df = spark.createDataFrame(rows, "seq_id long, cluster int")
    out, counts, n = _relabel_by_frequency(df)
    got = {r.seq_id: r.cluster for r in out.collect()}
    assert n == 3
    assert counts == [3, 2, 1]
    assert got[0] == 0 and got[10] == 1 and got[20] == 2  # by frequency
    assert got[30] == -1  # noise passes through, never NULL
    assert None not in got.values()


def test_relabel_tie_break_matches_reference_double_argsort(spark):
    from patternly_spark.detection import _relabel_by_frequency

    # equal counts: reference double-argsort gives the HIGHER raw label the
    # LOWER new rank (stable argsort quirk) — pin it
    rows = [(0, 0), (1, 0), (2, 1), (3, 1)]
    df = spark.createDataFrame(rows, "seq_id long, cluster int")
    out, counts, n = _relabel_by_frequency(df)
    got = {r.seq_id: r.cluster for r in out.collect()}
    assert got[0] == 1 and got[2] == 0


def test_pluggable_clustering_noncontiguous_labels_end_to_end(spark, both_paths):
    """A pluggable clustering_alg emitting labels {1, 3} must not crash fit
    (previously mapped out-of-range labels to NULL)."""
    from pyspark.sql import functions as F

    def alg(feats, n_clusters):
        # split on seq_id parity with deliberately non-contiguous labels
        return feats.select(
            "seq_id", F.when(F.col("seq_id") % 2 == 0, 1).otherwise(3).alias("cluster")
        )

    df = _seq_df(spark, [(MACHINE_A, 10, 1), (MACHINE_B, 10, 2)], length=300)
    for _ in both_paths("DRIVER_BUDGET_BYTES"):
        m = AnomalyDetection(spark, n_clusters=2, clustering_alg=alg, quantize=False,
                             reduce_clusters=False, anomaly_sensitivity=3)
        m.fit(df)
        preds = m.predict(df).toPandas()
        assert len(preds) == 20
        assert m.cluster_counts == [10, 10]


def test_complex_detrend_pipeline(spark, both_paths):
    """VERDICT #6: quantize_type='complex' + detrend composes F1 (first
    difference) then F4 (equi-probable cut-points). The alternating-jump
    anomalies separate cleanly in diff space."""
    rng = np.random.default_rng(7)
    rows = []
    for sid in range(60):
        noise = rng.normal(0, 1.0, 150)
        steps = np.empty(150)
        s = 0.0
        for t in range(150):
            s = 0.85 * s + noise[t]
            steps[t] = s
        rows.append((sid, np.cumsum(steps).tolist()))
    for sid in range(60, 64):
        steps = 4.0 * ((-1.0) ** np.arange(150)) + rng.normal(0, 0.5, 150)
        rows.append((sid, np.cumsum(steps).tolist()))
    df = spark.createDataFrame(rows, "seq_id long, values array<double>")
    for _ in both_paths("DRIVER_BUDGET_BYTES"):
        model = AnomalyDetection(
            spark, n_clusters=1, quantize=True, quantize_type="complex",
            detrend=True, anomaly_sensitivity=3, eps=0.2,
        )
        model.fit(df)
        assert model.quantizer.detrend is True
        preds = model.predict().toPandas()
        flagged = set(preds[preds.anomaly].seq_id)
        assert flagged.issuperset({60, 61, 62, 63})
        assert len(flagged) <= 8
        assert model.alphabet_size == _max_symbol(model) + 1

        # the alphabet comes from the cut-point aggregate: here the largest
        # detrended value (an integer step of 1) IS the median cut-point, so
        # it takes the top symbol
        steps = np.where(rng.random((30, 80)) < 0.7, 1.0, rng.integers(-2, 1, (30, 80)))
        rows = [(sid, np.cumsum(s).tolist()) for sid, s in enumerate(steps)]
        ramp = AnomalyDetection(
            spark, n_clusters=1, quantize=True, quantize_type="complex",
            detrend=True, n_symbols=2, eps=0.2,
        )
        ramp.fit(spark.createDataFrame(rows, "seq_id long, values array<double>"))
        assert ramp.quantizer.cutpoints == [1.0]
        assert ramp.alphabet_size == _max_symbol(ramp) + 1 == 2


def _max_symbol(model) -> int:
    from pyspark.sql import functions as F

    return model.quantized_df.select(F.max(F.array_max("symbols"))).first()[0]


def test_quantizer_approx_cutpoints_close_to_exact(spark):
    """VERDICT #3: the approx_percentile path (bounded-memory sketch, the
    documented at-scale default) must land cut-points within sketch
    tolerance of the exact path."""
    from patternly_spark.functions.quantize import fit_complex_cutpoints

    rng = np.random.default_rng(11)
    vals = rng.normal(10.0, 3.0, 20000)
    df = spark.createDataFrame([(float(v),) for v in vals], "value double")
    exact = fit_complex_cutpoints(df, "value", n_symbols=4, exact=True)
    approx = fit_complex_cutpoints(df, "value", n_symbols=4, exact=False)
    assert len(exact) == len(approx) == 3
    for e, a in zip(exact, approx):
        # 1/APPROX_ACCURACY rank error on 20k values -> essentially exact;
        # allow a value-space epsilon for interpolation differences
        assert abs(e - a) < 0.01, (e, a)


def test_quantizer_exact_flag_roundtrips_save_load(tmp_path, spark):
    rng = np.random.default_rng(3)
    rows = [(i, rng.normal(0, 1, 100).cumsum().tolist()) for i in range(20)]
    df = spark.createDataFrame(rows, "seq_id long, values array<double>")
    m = AnomalyDetection(spark, n_clusters=1, quantize=True, quantize_type="complex",
                         quantize_exact=False, detrend=True, anomaly_sensitivity=4,
                         genesess_mode="distributed")
    m.fit(df)
    m.save_model(str(tmp_path / "m"))
    loaded = AnomalyDetection.load_model(str(tmp_path / "m"), spark)
    assert loaded.quantize_exact is False and loaded.detrend is True
    assert loaded.genesess_mode == "distributed"
    assert loaded.quantizer.exact is False and loaded.quantizer.detrend is True
    assert loaded.quantizer.cutpoints == m.quantizer.cutpoints
    a = m.predict(df).orderBy("seq_id").collect()
    b = loaded.predict(df).orderBy("seq_id").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_continuous_fit_stream_short_stream_raises(spark):
    cd = ContinuousStreamingDetection(spark, window_size=1000, window_overlap=0,
                                      quantize=False, anomaly_sensitivity=3)
    df = spark.createDataFrame([(i, float(i % 2)) for i in range(10)],
                               "offset long, value double")
    with pytest.raises(ValueError, match="no complete windows"):
        cd.fit_stream(df)


def test_continuous_fit_stream_many_windows_bounded_driver(spark):
    """VERDICT #4: a long stream (tens of thousands of windows) fits via
    partition-streamed iteration, not a whole-stream collect."""
    rng = np.random.default_rng(2)
    n = 400_000  # 25k windows of 16 symbols
    syms = (rng.random(n) < 0.3).astype(int)
    df = spark.createDataFrame(
        [(int(i), float(v)) for i, v in enumerate(syms)], "offset long, value double"
    )
    cd = ContinuousStreamingDetection(spark, window_size=16, window_overlap=0,
                                      quantize=False, anomaly_sensitivity=4)
    cd.fit_stream(df)
    assert cd.pattern_emergence_times[0] == 0
    assert len(cd.library) == len(cd.pattern_emergence_times) == len(cd._means)


def test_continuous_fit_stream_refit_starts_from_empty_library(spark):
    """A second fit_stream on the same object grows its library from
    empty, like a fresh detector: cold start at window 0, and library,
    bounds and emergence log of equal length."""
    a = simulate(MACHINE_A, 3000, 1, seed=13)[0]
    c = simulate(MACHINE_C, 2000, 1, seed=14)[0]

    def stream_df(symbols):
        return spark.createDataFrame([(i, int(s)) for i, s in enumerate(symbols)], "offset long, symbol int")

    def detector():
        return ContinuousStreamingDetection(
            spark, window_size=500, window_overlap=0, quantize=False, anomaly_sensitivity=4, eps=0.2,
        )

    both = stream_df(np.concatenate([a, c]))
    model = detector().fit_stream(stream_df(c)).fit_stream(both)
    fresh = detector().fit_stream(both)
    assert model.pattern_emergence_times == fresh.pattern_emergence_times
    assert model.pattern_emergence_times[0] == 0
    assert len(model.library) == len(model._means) == len(model._stds) == len(model.pattern_emergence_times)
    assert [m.to_dict() for m in model.library] == [m.to_dict() for m in fresh.library]
    assert model._means == fresh._means and model._stds == fresh._stds


def test_multichannel_save_load_path_hostile_channel_names(tmp_path, spark, both_paths):
    from patternly_spark.detection import MultiChannelDetection
    from patternly_spark.pfsa.simulate import simulate as _sim

    a = _sim(MACHINE_A, 2000, 1, seed=5)[0]
    hostile = ["lead/I", "../up", "a b.c"]
    rows = [(ch, i, float(v)) for ch in hostile for i, v in enumerate(a)]
    df = spark.createDataFrame(rows, "channel string, offset long, value double")
    for _ in both_paths("DRIVER_BUDGET_BYTES"):
        m = MultiChannelDetection(spark, window_size=500, window_overlap=0, n_clusters=1,
                                  quantize=False, anomaly_sensitivity=3)
        m.fit(df)
        m.save_model(str(tmp_path / "mc"))
        # nothing escaped the save root
        import os as _os
        entries = set(_os.listdir(tmp_path / "mc"))
        assert "channels.json" in entries and len(entries) == 4
        assert not (tmp_path / "up").exists()
        loaded = MultiChannelDetection.load_model(str(tmp_path / "mc"), spark)
        assert set(loaded.models) == set(hostile)
        before = m.predict(df).orderBy("channel", "seq_id").collect()
        after = loaded.predict(df).orderBy("channel", "seq_id").collect()
        assert [tuple(r) for r in before] == [tuple(r) for r in after]


def test_exact_percentile_distributed_matches_sql_percentile(spark):
    """Bracket-and-collect == single-buffer SQL percentile, value for
    value, including duplicate-heavy columns, NaN rows (which Spark's
    percentile COUNTS and sorts last), boundary probes, and tiny
    relations."""
    import math

    import numpy as np
    from pyspark.sql import functions as F

    from patternly_spark.functions.quantize import exact_percentile_distributed

    rng = np.random.default_rng(5)
    vals = list(rng.normal(0, 1, 3000)) + [1.5] * 500 + [float("nan")] * 7
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    probs = [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.999, 1.0]
    got = exact_percentile_distributed(df, "x", probs)
    want = df.select(
        F.expr("percentile(x, array({}))".format(",".join(map(str, probs))))
    ).first()[0]
    for g, w in zip(got, want):
        assert (math.isnan(g) and math.isnan(w)) or g == w

    tiny = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "x double")
    assert exact_percentile_distributed(tiny, "x", [0.5]) == [2.0]
    empty = spark.createDataFrame([], "x double")
    assert exact_percentile_distributed(empty, "x", [0.5]) == [None]


def test_exact_percentile_distributed_duplicate_wall(spark):
    """A rank sitting inside a mega-duplicate run must either resolve
    (cap high enough) or raise the documented error (cap too low) —
    never return a wrong value."""
    import pytest as _pytest

    from patternly_spark.functions.quantize import exact_percentile_distributed

    df = spark.createDataFrame([(5.0,)] * 5000 + [(1.0,), (9.0,)], "x double")
    assert exact_percentile_distributed(df, "x", [0.5]) == [5.0]
    with _pytest.raises(ValueError):
        exact_percentile_distributed(df, "x", [0.5], bracket_cap=100)


def test_fit_complex_cutpoints_distributed_mode_matches_exact(spark):
    import numpy as np

    from patternly_spark.functions.quantize import fit_complex_cutpoints

    rng = np.random.default_rng(6)
    df = spark.createDataFrame(
        [(float(v),) for v in rng.normal(0, 3, 4000)], "value double"
    )
    exact = fit_complex_cutpoints(df, "value", n_symbols=4, exact=True)
    dist = fit_complex_cutpoints(df, "value", n_symbols=4, exact="distributed")
    assert dist == exact


def _reference_scores(clustered, library):
    """The reduction step's confusion -> SCC count and the thresholds, as
    separate passes: score, join the cluster back, first row per seq_id by
    (llk, pfsa_id), group; own-cluster llk avg/stddev_samp."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from patternly_spark.pfsa.genesess import _tarjan_scc
    from patternly_spark.pfsa.llk import score_sequences

    k = len(library)
    scored = score_sequences(clustered, library).join(clustered.select("seq_id", "cluster"), "seq_id")
    w = Window.partitionBy("seq_id").orderBy("llk", "pfsa_id")
    best = (
        scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
        .select("cluster", F.col("pfsa_id").alias("best_pfsa"))
    )
    confusion = np.zeros((k, k))
    for r in best.groupBy("cluster", "best_pfsa").count().collect():
        confusion[int(r["cluster"]), int(r["best_pfsa"])] = r["count"]
    mat = confusion / np.where(confusion.sum(axis=1, keepdims=True) == 0, 1.0, confusion.sum(axis=1, keepdims=True))
    for i in range(k):
        bm = int(np.argsort(mat[i])[::-1][0])
        if bm != i:
            mat[bm][i] += 1
    n_scc = len(_tarjan_scc(k, {i: {j for j in range(k) if mat[i][j] >= 0.2} for i in range(k)}))
    means, stds = np.zeros(k), np.zeros(k)
    own = scored.filter(F.col("pfsa_id") == F.col("cluster"))
    for r in own.groupBy("pfsa_id").agg(F.avg("llk").alias("m"), F.stddev_samp("llk").alias("s")).collect():
        means[int(r["pfsa_id"])] = r["m"]
        stds[int(r["pfsa_id"])] = r["s"] if r["s"] is not None else 0.0
    sizes = {int(r["cluster"]): r["count"] for r in clustered.groupBy("cluster").count().collect()}
    return confusion, n_scc, means, stds, sizes


@pytest.mark.parametrize("case", ["two_regime", "partition_3", "noise"])
def test_fused_scoring_pass_matches_separate_passes(spark, case):
    """One reduction step's scoring pass == the separate confusion and
    threshold passes it replaced, on KMeans (two regimes), the arbitrary
    3-way partitioner, and a pluggable clustering emitting noise -1."""
    from pyspark.sql import functions as F

    if case == "two_regime":
        df = _seq_df(spark, [(MACHINE_A, 100, 7), (MACHINE_B, 100, 8)], length=100)
        k, alg = 2, None
    elif case == "partition_3":
        df = _seq_df(spark, [(MACHINE_A, 200, 7)], length=60)
        k, alg = 3, lambda feats, n: feats.select("seq_id", (F.col("seq_id") % n).cast("int").alias("cluster"))
    else:
        df = _seq_df(spark, [(MACHINE_A, 30, 1), (MACHINE_B, 30, 2), (MACHINE_C, 20, 3)], length=150)
        k, alg = 3, lambda feats, n: feats.select("seq_id", F.when(F.col("seq_id") % 7 == 0, -1).when(
            F.col("seq_id") < 30, 0).when(F.col("seq_id") < 60, 1).otherwise(2).cast("int").alias("cluster"))
    model = AnomalyDetection(spark, n_clusters=k, quantize=False, clustering_alg=alg, eps=0.2)
    seq_df = model._quantize(df)
    model.alphabet_size = 2
    clustered = model._cluster_labels(seq_df, k).join(seq_df, "seq_id")
    library = model._fit_library(clustered, k)

    n_scc, scores = model._reduce_step(clustered, library)
    confusion, want_scc, means, stds, sizes = _reference_scores(clustered, library)
    assert n_scc == want_scc
    assert np.array_equal(scores.confusion, confusion)
    assert scores.sizes == sizes
    np.testing.assert_allclose(scores.means, means, rtol=1e-12, atol=0)
    np.testing.assert_allclose(scores.stds, stds, rtol=1e-12, atol=0)
    if case == "noise":
        assert -1 in scores.sizes and len(library) == 4


def test_predict_bounds_follow_pfsa_id_with_noise_label(spark, both_paths):
    """A clustering that emits noise -1 gives a library sorted [-1, 0, 1,
    2] whose stats are indexed by label (noise last): each PFSA's verdict
    uses its own bound, as the scalar ``llk_one`` reference does."""
    from pyspark.sql import functions as F

    from patternly_spark.pfsa.llk import llk_one

    df = _seq_df(spark, [(MACHINE_A, 30, 1), (MACHINE_B, 30, 2), (MACHINE_C, 20, 3)], length=150)
    for _ in both_paths("DRIVER_BUDGET_BYTES"):
        model = AnomalyDetection(
            spark, n_clusters=3, quantize=False, reduce_clusters=False, anomaly_sensitivity=0, eps=0.2,
            clustering_alg=lambda feats, n: feats.select("seq_id", F.when(F.col("seq_id") % 7 == 0, -1).when(
                F.col("seq_id") < 30, 0).when(F.col("seq_id") < 60, 1).otherwise(2).cast("int").alias("cluster")))
        model.fit(df)
        assert [m.pfsa_id for m in model.library] == [-1, 0, 1, 2]
        got = model.predict().toPandas().set_index("seq_id")
        seqs = model.quantized_df.toPandas()
        model.quantized_df.unpersist()
        bound = model.pfsa_llk_means + model.pfsa_llk_stds * model.anomaly_sensitivity
        own = np.array([bound[m.pfsa_id] for m in model.library])
        checked = 0
        for sid, syms in zip(seqs["seq_id"], seqs["symbols"]):
            llk = np.array([llk_one(np.asarray(syms), m) for m in model.library])
            if np.any(np.abs(llk - own) < 1e-9):
                continue
            checked += 1
            assert bool(got.loc[sid, "anomaly"]) == bool(np.all(llk > own)), sid
            assert int(got.loc[sid, "closest_match"]) == model.library[int(np.argmin(llk))].pfsa_id, sid
        assert checked >= 75
        assert got["anomaly"].any() and not got["anomaly"].all()


def _fit_jobs(spark, model, df) -> int:
    """Spark jobs one ``model.fit(df)`` runs (its own job group)."""
    import uuid

    sc = spark.sparkContext
    group = f"fit-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id"), sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(group, group)
    try:
        model.fit(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev[0])
        sc.setLocalProperty("spark.job.description", prev[1])
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_reducing_fit_scores_the_final_library_once(spark, monkeypatch):
    """On the Spark path, a fit whose first reduction step keeps every
    cluster reuses that step's scoring pass for its thresholds: two
    scoring calls (SLD features + the step), and a bounded number of
    Spark jobs."""
    import patternly_spark.detection as det

    monkeypatch.setattr(plans, "DRIVER_BUDGET_BYTES", 0)  # the Spark path
    calls = []
    real = det.score_sequences
    monkeypatch.setattr(det, "score_sequences", lambda *a, **kw: calls.append(1) or real(*a, **kw))
    df = _seq_df(spark, [(MACHINE_A, 100, 21), (MACHINE_B, 100, 22)], length=100)
    model = AnomalyDetection(spark, n_clusters=2, quantize=False, reduce_clusters=True, eps=0.2)
    jobs = _fit_jobs(spark, model, df)
    model._sld_cache.unpersist()
    model.quantized_df.unpersist()
    assert model.n_clusters == 2
    assert len(calls) == 2
    # measured with the tests' session (4 cores, 8 shuffle partitions); a
    # Spark sort of the library readout alone adds two jobs
    assert jobs <= 25, jobs


def _reference_predict(seq_df, library, bounds):
    """predict's verdicts as the separate pass plus shuffle they replaced:
    the long llk table, then groupBy(seq_id) with all-above and min_by
    over (llk, pfsa_id)."""
    from pyspark.sql import functions as F

    from patternly_spark.pfsa.llk import score_sequences

    bound = F.create_map(*[F.lit(x) for m, b in zip(library, bounds) for x in (m.pfsa_id, float(b))])
    return (
        score_sequences(seq_df, library)
        .withColumn("above", F.col("llk") > bound[F.col("pfsa_id")])
        .groupBy("seq_id")
        .agg(
            F.min(F.when(F.col("above"), 1).otherwise(0)).alias("all_above"),
            F.min_by("pfsa_id", F.struct("llk", "pfsa_id")).alias("closest_match"),
        )
        .select("seq_id", (F.col("all_above") == 1).alias("anomaly"), F.col("closest_match").cast("int"))
    )


@pytest.mark.parametrize("bounds", ["fitted", "inf_nan"])
def test_predict_matches_shuffle_reduction(spark, bounds, both_paths):
    """The single-pass verdicts equal the old score + groupBy reduction,
    with sequences that are inf under every PFSA (symbol 2 on a binary
    alphabet, and an empty one), exact llk ties (two copies of one PFSA,
    listed out of pfsa_id order), and inf / NaN bounds."""
    df = _seq_df(spark, [(MACHINE_A, 60, 31), (MACHINE_B, 60, 32), (MACHINE_U, 10, 33)], length=80)
    extra = spark.createDataFrame(
        [(1000, [0, 2, 1]), (1001, []), (1002, [1, 1, 0])], "seq_id long, symbols array<int>"
    )
    df = df.unionByName(extra)
    for _ in both_paths("DRIVER_BUDGET_BYTES"):
        model = AnomalyDetection(spark, n_clusters=2, quantize=False, reduce_clusters=False, eps=0.2)
        model.fit(df.filter("seq_id < 1000"))
        twin = PFSA.from_dict({**model.library[0].to_dict(), "pfsa_id": 2})
        model.library = [twin] + model.library
        # the stats are indexed by pfsa_id, so the twin's go last
        model.pfsa_llk_means = np.append(model.pfsa_llk_means, model.pfsa_llk_means[0])
        model.pfsa_llk_stds = np.append(model.pfsa_llk_stds, model.pfsa_llk_stds[0])
        if bounds == "inf_nan":
            model.pfsa_llk_means[0], model.pfsa_llk_stds[1] = np.inf, np.nan
        limits = model.pfsa_llk_means + model.pfsa_llk_stds * model.anomaly_sensitivity
        limits = limits[[m.pfsa_id for m in model.library]]

        got = model.predict(df).toPandas().sort_values("seq_id").reset_index(drop=True)
        want = _reference_predict(model._quantize(df), model.library, limits).toPandas()
        want = want.sort_values("seq_id").reset_index(drop=True)
        assert len(got) == df.count()
        assert got["seq_id"].tolist() == want["seq_id"].tolist()
        assert got["anomaly"].tolist() == want["anomaly"].tolist()
        assert got["closest_match"].tolist() == want["closest_match"].tolist()
        inf_rows = got[got.seq_id.isin([1000, 1001])]
        assert inf_rows["closest_match"].tolist() == [0, 0]
        if bounds == "inf_nan":
            assert not got["anomaly"].any()
        else:
            assert inf_rows["anomaly"].all()
        model.quantized_df.unpersist()


def test_fit_leaves_one_cached_relation(spark, both_paths):
    """A fit keeps only its quantized_df cached (the SLD features are
    released before it returns), and a refit releases the previous one."""
    df = _seq_df(spark, [(MACHINE_A, 40, 41), (MACHINE_B, 40, 42)], length=60)
    jsc = spark.sparkContext._jsc

    def cached() -> int:
        return jsc.getPersistentRDDs().size()

    for _ in both_paths("DRIVER_BUDGET_BYTES"):
        model = AnomalyDetection(spark, n_clusters=2, quantize=False, eps=0.2)
        before = cached()
        model.fit(df)
        model.predict().count()  # materializes quantized_df
        after_fit = cached()
        model.fit(df)
        model.predict().count()
        after_refit = cached()
        model.quantized_df.unpersist()
        assert after_fit == before + 1
        assert after_refit == after_fit


def test_driver_fit_jobs_bound(spark, monkeypatch):
    """A driver-sized KMeans fit collects its training set once and then
    runs no Spark job: no scoring pass, no GenESeSS job and no MLlib
    KMeans (``kmeans_parallel`` replays it on the driver)."""
    from pyspark.ml.clustering import KMeans

    import patternly_spark.detection as det

    calls = []
    real = det.score_sequences
    monkeypatch.setattr(det, "score_sequences", lambda *a, **kw: calls.append(1) or real(*a, **kw))

    def no_mllib(*a, **kw):
        raise AssertionError("the driver fit ran MLlib KMeans")

    monkeypatch.setattr(KMeans, "fit", no_mllib)
    df = _seq_df(spark, [(MACHINE_A, 100, 21), (MACHINE_B, 100, 22)], length=100)
    model = AnomalyDetection(spark, n_clusters=2, quantize=False, reduce_clusters=True, eps=0.2)
    jobs = _fit_jobs(spark, model, df)
    model._sld_cache.unpersist()
    model.quantized_df.unpersist()
    assert model.n_clusters == 2
    assert calls == []
    # the one job that measures and collects the training set; the Spark
    # path runs 25
    assert jobs == 1, jobs

    # shaped like the benchmark: raw series of three regimes, collected as
    # they are and quantized on the driver
    df = spark.createDataFrame(_regime_values(100, 200, 3), "seq_id long, values array<double>").persist()
    df.count()
    model = AnomalyDetection(spark, n_clusters=3, quantize=True, quantize_type="complex", n_symbols=3)
    jobs = _fit_jobs(spark, model, df)
    model._sld_cache.unpersist()
    model.quantized_df.unpersist()
    df.unpersist()
    assert model.n_clusters == 3 and sorted(model.cluster_counts) == [100, 100, 100]
    assert jobs == 1, jobs


def _mllib_kmeans(spark, X, k, seed):
    """Labels and centers of MLlib's KMeans on X read as one slice, rows
    in order: the reference ``kmeans_parallel`` replays."""
    import pandas as pd
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from patternly_spark.plans import local_frame

    pdf = pd.DataFrame({"seq_id": np.arange(len(X)), "feat": list(X)})
    feats = local_frame(spark, pdf, "seq_id long, feat array<double>").withColumn(
        "features", array_to_vector("feat"))
    model = KMeans(k=k, seed=seed, initMode="k-means||", maxIter=50).fit(feats)
    labels = model.transform(feats).toPandas()["prediction"].to_numpy()
    return labels, np.array(model.clusterCenters())


def _kmeans_features(case: str, k: int) -> np.ndarray:
    """(n, 4) features for one ``test_driver_kmeans_matches_mllib`` case."""
    from patternly_spark import pfsa
    from patternly_spark.detection import _base_models

    rng = np.random.default_rng(k)
    if case == "sld":  # the fit's own features: three machines under the base set
        seqs = [s for m, seed in ((MACHINE_A, 1), (MACHINE_B, 2), (MACHINE_C, 3)) for s in simulate(m, 100, 100, seed=seed)]
        return pfsa.llk_matrix(seqs, _base_models(2))
    if case == "few_distinct":  # two distinct rows: distinctCenters <= k
        return np.array([[0.5, 1.0, 2.0, 2.5], [3.0, 1.5, 0.5, 1.0]])[rng.integers(0, 2, 40)]
    if case == "three_rows":  # ML's block solver (fewer rows than columns)
        return rng.random((3, 4)) * 4
    spread = 2.0 if case == "overlapping" else 0.2
    group = np.arange(300) % k if case == "equal_blobs" else rng.integers(0, k, 300)
    X = np.abs((rng.random((k, 4)) * 5)[group] + rng.normal(0, spread, (300, 4)))
    if case == "capped":  # llk = inf, capped at 1e6
        X[rng.random(X.shape) < 0.05] = 1e6
    if case == "zeros":
        X[rng.random(X.shape) < 0.6] = 0.0
    return X


@pytest.mark.parametrize("seed", [1, 42])
@pytest.mark.parametrize(
    "case,k",
    [("blobs", 2), ("blobs", 3), ("blobs", 4), ("blobs", 5), ("equal_blobs", 3), ("overlapping", 3),
     ("capped", 3), ("zeros", 3), ("sld", 3), ("few_distinct", 4), ("three_rows", 2)],
)
def test_driver_kmeans_matches_mllib(spark, case, k, seed):
    """``kmeans_parallel`` returns MLlib's labels and centers, bit for
    bit: k-means|| with its samplers and its k-means++ step, equal-size
    clusters whose ids follow the center order, overlapping clusters,
    capped and zero features, fewer distinct rows than k, and three rows
    (where ML's KMeans takes its block solver)."""
    from patternly_spark.kmeans import kmeans_parallel

    X = _kmeans_features(case, k)
    labels, centers = kmeans_parallel(X, k, seed)
    want_labels, want_centers = _mllib_kmeans(spark, X, k, seed)
    assert centers.shape == want_centers.shape
    assert np.array_equal(centers, want_centers)
    assert np.array_equal(labels, want_labels)


@pytest.mark.parametrize("n,k", [(1, 2), (3, 5)])
def test_driver_kmeans_fewer_rows_than_k(spark, n, k):
    """On fewer rows than feature columns ML's block solver fails when
    k-means|| finds fewer distinct candidates than k; the replay
    clusters around the ones it found: here every row is a center."""
    from patternly_spark.kmeans import kmeans_parallel

    X = np.random.default_rng(n).random((n, 4))
    with pytest.raises(Exception, match="ArrayIndexOutOfBounds"):
        _mllib_kmeans(spark, X, k, 42)
    labels, centers = kmeans_parallel(X, k, 42)
    assert sorted(map(tuple, centers)) == sorted(map(tuple, X))
    assert np.array_equal(centers[labels], X)


def test_driver_kmeans_rngs_match_the_jvm(spark):
    """The replay's RNGs draw what the JVM's classes draw."""
    from patternly_spark.kmeans import _JavaRandom, _XORShiftRandom

    jvm = spark._jvm
    for seed in (0, 1, 42, -7, 2**40 + 3, -(2**62), 1234567890123):
        jx, px = jvm.org.apache.spark.util.random.XORShiftRandom(seed), _XORShiftRandom(seed)
        jr, pr = jvm.java.util.Random(seed), _JavaRandom(seed)
        for _ in range(20):
            assert jx.nextInt() == px.next_int()
            assert jx.nextDouble() == px.next_double()
            assert jr.nextLong() == pr.next_long()
            assert jr.nextDouble() == pr.next_double()
            for bound in (1, 2, 3, 7, 16, 1000, 2**31 - 1):
                assert jr.nextInt(bound) == pr.next_int(bound)


def _regime_values(n_per: int, length: int, seed: int):
    """Continuous series from three 3-symbol regimes (sticky, forward-
    and backward-cyclic walks; the state is the last symbol), level =
    symbol + Gaussian noise, regimes interleaved by seq_id, equal sizes."""
    connx = np.tile(np.arange(3), (3, 1))
    regimes = []
    for step in (0, 1, 2):
        pit = np.full((3, 3), 0.1)
        pit[np.arange(3), (np.arange(3) + step) % 3] = 0.8
        regimes.append(PFSA(pitilde=pit, connx=connx))
    rng = np.random.default_rng(seed)
    walks = [simulate(m, length, n_per, seed=seed + i) for i, m in enumerate(regimes)]
    rows = []
    for i in range(n_per):
        for r in range(3):
            sym = np.asarray(walks[r][i], dtype=float)
            rows.append((3 * i + r, (sym + rng.normal(0.0, 0.2, length)).tolist()))
    return rows


def test_driver_fit_is_partition_invariant(spark):
    """Below the gate a KMeans fit reads one seq_id-ordered slice, so its
    labels, library and thresholds do not depend on the shuffle
    partitions or on the input's partitioning (equal-size clusters used
    to swap ids with either)."""
    from patternly_spark.plans import tuned_shuffle

    df = spark.createDataFrame(_regime_values(100, 200, 1), "seq_id long, values array<double>")

    def fit(frame):
        m = AnomalyDetection(spark, n_clusters=3, quantize=True, quantize_type="complex", n_symbols=3)
        m.fit(frame)
        labels = m.quantized_df.orderBy("seq_id").toPandas()["cluster"].tolist()
        out = (labels, [x.to_dict() for x in m.library], m.pfsa_llk_means.tolist(), m.pfsa_llk_stds.tolist())
        m.quantized_df.unpersist()
        return out

    with tuned_shuffle(spark, 8):
        first = fit(df)
    with tuned_shuffle(spark, 32):
        assert fit(df) == first
    assert fit(df.repartition(3)) == first
    assert fit(df.repartition(4)) == first
    assert sorted(np.bincount(first[0]).tolist()) == [100, 100, 100]


@pytest.mark.parametrize("case", ["partition_3", "noise", "single", "complex_detrend"])
def test_driver_fit_matches_spark_fit(spark, monkeypatch, case):
    """With a clustering that does not depend on partitioning, the driver
    path fits what the Spark path fits: the same library, cluster count
    and sizes, thresholds to rounding, and the same verdicts."""
    from pyspark.sql import functions as F

    kw = dict(quantize=False, anomaly_sensitivity=3, eps=0.2)
    if case == "partition_3":  # one machine: reduces 3 -> 1
        df = _seq_df(spark, [(MACHINE_A, 200, 7)], length=60)
        kw.update(n_clusters=3, clustering_alg=lambda feats, n: feats.select(
            "seq_id", (F.col("seq_id") % n).cast("int").alias("cluster")))
    elif case == "noise":
        df = _seq_df(spark, [(MACHINE_A, 30, 1), (MACHINE_B, 30, 2), (MACHINE_C, 20, 3)], length=150)
        kw.update(n_clusters=3, clustering_alg=lambda feats, n: feats.select(
            "seq_id", F.when(F.col("seq_id") % 7 == 0, -1).when(F.col("seq_id") < 30, 0).when(
                F.col("seq_id") < 60, 1).otherwise(2).cast("int").alias("cluster")))
    elif case == "single":
        df = _seq_df(spark, [(MACHINE_A, 120, 1), (MACHINE_C, 5, 2)])
        kw.update(n_clusters=1, anomaly_sensitivity=4)
    else:
        rng = np.random.default_rng(7)
        rows = [(sid, np.cumsum(rng.normal(0, 1.0, 150)).tolist()) for sid in range(60)]
        rows += [(sid, np.cumsum(4.0 * (-1.0) ** np.arange(150) + rng.normal(0, 0.5, 150)).tolist())
                 for sid in range(60, 64)]
        df = spark.createDataFrame(rows, "seq_id long, values array<double>")
        kw.update(n_clusters=2, reduce_clusters=False, quantize=True, quantize_type="complex", detrend=True,
                  clustering_alg=lambda feats, n: feats.select("seq_id", (F.col("seq_id") % n).cast("int").alias("cluster")))

    def fit():
        m = AnomalyDetection(spark, **kw).fit(df)
        preds = m.predict().toPandas().sort_values("seq_id", ignore_index=True)
        m.quantized_df.unpersist()
        return m, preds

    driver, d_preds = fit()
    monkeypatch.setattr(plans, "DRIVER_BUDGET_BYTES", 0)
    spark_fit, s_preds = fit()
    assert [m.to_dict() for m in driver.library] == [m.to_dict() for m in spark_fit.library]
    assert driver.n_clusters == spark_fit.n_clusters
    assert driver.cluster_counts == spark_fit.cluster_counts
    np.testing.assert_allclose(driver.pfsa_llk_means, spark_fit.pfsa_llk_means, rtol=1e-12, atol=0)
    np.testing.assert_allclose(driver.pfsa_llk_stds, spark_fit.pfsa_llk_stds, rtol=1e-12, atol=0)
    assert d_preds["seq_id"].tolist() == s_preds["seq_id"].tolist()
    assert d_preds["anomaly"].tolist() == s_preds["anomaly"].tolist()
    assert d_preds["closest_match"].tolist() == s_preds["closest_match"].tolist()
    if case == "partition_3":
        assert driver.n_clusters == 1
    if case == "noise":
        assert len(driver.library) == 4


@pytest.mark.parametrize("n_clusters", [1, 2])
def test_null_sequence_scores_as_empty(spark, both_paths, n_clusters):
    """A null sequence is an empty one: the fit trains with it on either
    path (a row of 0 symbols in ``_train_size``; the SLD features score it
    inf) and predict gives it the
    verdict of ``[]``; under a library fitted without them both are inf
    under every PFSA, so above every bound and closest to the lowest
    pfsa_id.  Pre-quantized symbols and the complex quantizer over raw
    values alike."""
    symbols = [(sid, [int(v) for v in s]) for sid, s in enumerate(simulate(MACHINE_A, 60, 40, seed=5))]
    symbols += [(sid, [int(v) for v in s]) for sid, s in enumerate(simulate(MACHINE_B, 60, 40, seed=6), 40)]
    values = [(sid, [v + 0.01 * (i % 7) for i, v in enumerate(s)]) for sid, s in symbols]
    extra = [(1000, None), (1001, [])]
    frames = {
        "symbols": spark.createDataFrame(symbols + extra, "seq_id long, symbols array<int>"),
        "values": spark.createDataFrame(values + extra, "seq_id long, values array<double>"),
    }
    from pyspark.sql import functions as F

    # KMeans would give the two inf rows (SLD features capped at 1e6) a
    # cluster of their own, which GenESeSS cannot fit: split by seq_id
    split = lambda feats, n: feats.select("seq_id", (F.col("seq_id") % n).cast("int").alias("cluster"))  # noqa: E731
    for _ in both_paths("DRIVER_BUDGET_BYTES"):
        for col, df in frames.items():
            for train in (df, df.filter("seq_id < 1000")):
                model = AnomalyDetection(spark, n_clusters=n_clusters, quantize=col == "values",
                                         quantize_type="complex", eps=0.2, reduce_clusters=False,
                                         clustering_alg=split if n_clusters > 1 else None)
                model.fit(train)
                preds = model.predict(df).toPandas().set_index("seq_id")
                model.quantized_df.unpersist()
                if model._sld_cache is not None:
                    model._sld_cache.unpersist()
                assert len(preds) == 82
                null, empty = preds.loc[1000], preds.loc[1001]
                assert (bool(null["anomaly"]), int(null["closest_match"])) == (bool(empty["anomaly"]), int(empty["closest_match"]))
                if train is df:
                    assert model._train_size == (82, 80 * 60)
                else:
                    assert bool(null["anomaly"]) and int(null["closest_match"]) == min(m.pfsa_id for m in model.library)

"""Round-11 hardening: chi2_sf_q at high df (the final-p quantization
fix — the pre-round-11 raw-exp quantization collapsed p to 0 for
chi2 > ~27.7 at ANY df, a ~27% null false-alarm rate by df = 20),
spearman decimal sums, arms= single-scan readouts, and the empty-edge
neighborhood_function guard."""

import math

import pytest
from pyspark.sql import functions as F

from patternly_spark.operators.drift import chi2_sf_q


def _chi2_sf_reference(x: float, df: int) -> float:
    """Independent unquantized closed form (same A&S normal tail)."""
    h = x / 2.0
    eq = math.exp(-h)
    if df % 2 == 0:
        m = df // 2
        return eq * math.fsum(h**j / math.factorial(j) for j in range(m))
    t = 1.0 / (1.0 + 0.2316419 * math.sqrt(x))
    b = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
    poly = t * (b[0] + t * (b[1] + t * (b[2] + t * (b[3] + t * b[4]))))
    base = 2.0 * math.exp(-x / 2.0) * 0.3989422804014327 * poly
    m = (df - 1) // 2
    if m == 0:
        return base
    return base + eq * math.sqrt(h) * math.fsum(
        h ** (j - 1) / math.gamma(j + 0.5) for j in range(1, m + 1)
    )


def test_chi2_sf_q_high_df_moderate_p(spark):
    """The exact cases the pre-fix form got wrong: p ~ 0.1 at df 15-24
    (true p 0.10-0.11; the old form returned 0.0 or ~5e-8).  The new
    final-p quantization must agree with the independent unquantized
    replication to ~2e-6 (one 2^-20 quantum + A&S tail error)."""
    cases = [
        (20, 28.0),   # true p ~= 0.1094 — old code returned 0.0
        (24, 33.0),   # true p ~= 0.1048 — old code returned 0.0
        (21, 29.6),   # true p ~= 0.1003 — old code returned ~5e-8
        (15, 22.3),   # odd-df midrange
        (16, 23.5),   # even-df midrange
    ]
    sel = spark.range(1).select(
        *[
            chi2_sf_q(F.lit(x), df).alias(f"p_{df}")
            for df, x in cases
        ]
    ).collect()[0]
    for df, x in cases:
        ref = _chi2_sf_reference(x, df)
        assert ref > 0.05, (df, x, ref)  # the regression was p -> 0
        assert sel[f"p_{df}"] == pytest.approx(ref, abs=2e-6), (df, x)


def test_chi2_sf_q_df2_bit_identical_to_raw_exp_quantization(spark):
    """df <= 2 must replay the PRE-fix chain bit-for-bit (the existing
    q272/q273 oracles inline exactly `floor(exp(-chi2/2)*2^20)/2^20`):
    for df = 2 the polynomial is the literal 1.0, so quantizing the
    final product equals quantizing the raw exp."""
    xs = [0.5, 1.0, 5.991464547107979, 27.7, 40.0, 100.0]
    sel = spark.range(1).select(
        *[chi2_sf_q(F.lit(x), 2).alias(f"p_{i}") for i, x in enumerate(xs)]
    ).collect()[0]
    for i, x in enumerate(xs):
        old = math.floor(math.exp(-x / 2.0) * 1048576.0) / 1048576.0
        assert sel[f"p_{i}"] == old, (x,)


def test_chi2_sf_q_deep_tail_still_zero_floors_clean(spark):
    """Far tails floor to 0 (true p < 2^-20) without NaN/negatives,
    and monotonicity holds across the old collapse boundary."""
    sel = spark.range(1).select(
        chi2_sf_q(F.lit(200.0), 20).alias("deep"),
        chi2_sf_q(F.lit(27.0), 20).alias("a"),
        chi2_sf_q(F.lit(28.5), 20).alias("b"),
        chi2_sf_q(F.lit(35.0), 20).alias("c"),
    ).collect()[0]
    assert sel["deep"] == 0.0
    assert sel["a"] > sel["b"] > sel["c"] > 0.0


def test_spearman_raises_on_fractional_input(spark):
    """A double/float/decimal(.,2) column must RAISE, not silently
    truncate through the long cast; integral types (and scale-0
    decimal) pass through unchanged."""
    from patternly_spark.operators.drift import spearman_correlation

    dbl = spark.createDataFrame([(1.5, 2), (2.5, 3)], "x double, y long")
    with pytest.raises(ValueError, match="integral input"):
        spearman_correlation(dbl, x_col="x", y_col="y")
    from decimal import Decimal

    decs = spark.createDataFrame(
        [(Decimal("1.53"), 2), (Decimal("2.51"), 3)], "x decimal(10,2), y long"
    )
    with pytest.raises(ValueError, match="integral input"):
        spearman_correlation(decs, x_col="x", y_col="y")
    ok = spark.createDataFrame([(1, 2), (2, 3), (3, 5)], "x int, y long")
    r = spearman_correlation(ok, x_col="x", y_col="y").collect()[0]
    assert r["rho"] == pytest.approx(1.0, abs=1e-12)


def test_spearman_linear_sums_are_decimal(spark):
    """The sx/sy folds must be DECIMAL(38), not LONG — the sum of
    doubled ranks is ~n^2, which wraps int64 at n ~ 3e9 under
    non-ANSI Spark.  Pin the aggregate's schema via the plan: no
    bigint sum of __rx/__ry linear terms."""
    from patternly_spark.operators.drift import spearman_correlation

    df = spark.createDataFrame([(i, i) for i in range(10)], "x long, y long")
    out = spearman_correlation(df, x_col="x", y_col="y")
    # the result itself is still correct
    assert out.collect()[0]["rho"] == pytest.approx(1.0, abs=1e-12)
    # and the internal fold's linear sums are decimal(38,0): walk the
    # analyzed plan text for the aggregate expressions
    plan = out._jdf.queryExecution().analyzed().toString()
    import re

    # every sum over __rx/__ry (linear or squared) must be decimal-typed
    assert not re.search(r"sum\(__r[xy]#\d+L?\)", plan), plan


def test_parse_mem_bytes():
    """Spark memory-string parser behind the cluster-side heap cap:
    suffixed strings, the MiB default unit for bare numbers, and
    graceful None on garbage."""
    from patternly_spark.plans import _parse_mem_bytes

    assert _parse_mem_bytes("8g") == 8 << 30
    assert _parse_mem_bytes("512m") == 512 << 20
    assert _parse_mem_bytes("512M") == 512 << 20
    assert _parse_mem_bytes("1t") == 1 << 40
    assert _parse_mem_bytes("64k") == 64 << 10
    assert _parse_mem_bytes("2gb") == 2 << 30
    assert _parse_mem_bytes("4096") == 4096 << 20  # bare number = MiB
    assert _parse_mem_bytes("") is None
    assert _parse_mem_bytes("auto") is None
    assert _parse_mem_bytes(None) is None


def test_heap_cap_local_master_still_measures_driver_heap(spark):
    """In local[*] the driver JVM heap IS the task heap — the cap must
    keep reading Runtime.maxMemory there (the round-10 OOM fix), and
    stay >= the 64 MiB floor."""
    from patternly_spark.plans import _heap_task_bytes_cap

    cap = _heap_task_bytes_cap(spark)
    assert cap >= 64 * 1024 * 1024
    max_mem = int(spark._jvm.java.lang.Runtime.getRuntime().maxMemory())
    cores = max(1, spark.sparkContext.defaultParallelism)
    assert cap == max(64 * 1024 * 1024, int(max_mem / cores / 2))


def _jobs_during(spark, fn):
    """Count Spark jobs triggered while fn() runs (construction-time
    actions: discovery scans, eager checkpoints)."""
    import uuid

    sc = spark.sparkContext
    g = f"arms-pin-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(g, "arms pin")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(g)), out


def _armed_users(spark):
    from pyspark.sql import functions as F

    return spark.range(200).select(
        F.col("id").alias("user_id"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("arm"),
        (F.col("id") * 37 % 1000).cast("long").alias("cents"),
        (F.col("id") % 5).cast("int").alias("look"),
        (F.col("id") % 2 == 0).alias("is_post"),
    )


def test_two_sample_arms_design_skips_discovery_scan(spark):
    """The VERDICT-r10 one-scan pin: with ``arms=`` supplied, NO
    construction-time discovery job fires (ops whose only action was
    the distinct scan construct with ZERO jobs; ops with an eager
    first-aggregation checkpoint construct with exactly ONE — the
    single data-sized scan), and dropping ``arms=`` adds exactly the
    one discovery job back.  Values are identical either way."""
    from patternly_spark.operators import drift as D

    df = _armed_users(spark)

    lazy_ops = {
        "mann_whitney_u": lambda a: D.mann_whitney_u(
            df, "cents", arm_col="arm", arms=a
        ),
        "srm_check": lambda a: D.srm_check(df, arm_col="arm", arms=a),
        "power_mde": lambda a: D.power_mde(df, "cents", arm_col="arm", arms=a),
        "ks_two_sample": lambda a: D.ks_two_sample(
            df, "cents", arm_col="arm", arms=a
        ),
        "tost_equivalence": lambda a: D.tost_equivalence(
            df, "cents", arm_col="arm", margin_cents=500.0, arms=a
        ),
        "brown_forsythe": lambda a: D.brown_forsythe(
            df, "cents", arm_col="arm", arms=a
        ),
        "diff_in_diff": lambda a: D.diff_in_diff(
            df, "cents", unit_col="user_id", arm_col="arm",
            is_post_col="is_post", arms=a,
        ),
    }
    checkpointing_ops = {
        "balance_check": lambda a: D.balance_check(
            df, arm_col="arm", covariate_cents_cols=["cents"], arms=a
        ),
        "obf_sequential_monitor": lambda a: D.obf_sequential_monitor(
            df, "cents", arm_col="arm", look_col="look", arms=a
        ),
        "cluster_robust_lift": lambda a: D.cluster_robust_lift(
            df, "cents", arm_col="arm", cluster_col="user_id", arms=a
        ),
    }
    for name, build in lazy_ops.items():
        with_arms, out_a = _jobs_during(spark, lambda: build(("a", "b")))
        without, out_n = _jobs_during(spark, lambda: build(None))
        assert with_arms == 0, (name, with_arms)
        # discovery may fan into several AQE jobs; the pin is that the
        # design path issues NONE
        assert without > with_arms, (name, without)
        assert out_a.collect() == out_n.collect(), name
    for name, build in checkpointing_ops.items():
        with_arms, out_a = _jobs_during(spark, lambda: build(("a", "b")))
        without, out_n = _jobs_during(spark, lambda: build(None))
        # the eager first-aggregation checkpoint may fan into a couple
        # of AQE jobs; the pin is that the design path spends strictly
        # fewer construction jobs (no discovery scan on top)
        assert with_arms <= 2, (name, with_arms)
        assert without > with_arms, (name, without)
        assert out_a.collect() == out_n.collect(), name


def test_two_arms_design_validation_and_third_arm_exclusion(spark):
    """arms= validation (2 distinct non-null labels) and the k-arm
    narrowing semantics: a third arm's rows are EXCLUDED by the isin
    guard, not silently misclassified into control."""
    from pyspark.sql import functions as F

    from patternly_spark.operators import drift as D

    df3 = spark.range(300).select(
        F.col("id").alias("user_id"),
        F.element_at(
            F.array(F.lit("a"), F.lit("b"), F.lit("c")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("arm"),
        (F.col("id") * 37 % 1000).cast("long").alias("cents"),
    )
    with pytest.raises(ValueError, match="exactly 2"):
        D.srm_check(df3, arm_col="arm", arms=("a",))
    with pytest.raises(ValueError, match="exactly 2"):
        D.srm_check(df3, arm_col="arm", arms=("a", "a"))
    with pytest.raises(ValueError, match="exactly 2"):
        D.srm_check(df3, arm_col="arm", arms=("a", None))
    # discovery on 3 arms raises; design on 2 of 3 narrows
    with pytest.raises(ValueError, match="exactly 2"):
        D.srm_check(df3, arm_col="arm")
    r = D.srm_check(df3, arm_col="arm", arms=("a", "b")).collect()[0]
    assert r["n_control"] == 100 and r["n_treatment"] == 100
    # the two-of-three readout equals the readout over a pre-filtered
    # two-arm relation
    two = df3.filter(F.col("arm") != "c")
    r2 = D.srm_check(two, arm_col="arm").collect()[0]
    assert r == r2


def test_neighborhood_function_empty_edges(spark):
    """An edge set that is empty after self-loop filtering must return
    round rows with NULL avg_ball (the lazy-plan contract), not raise
    ZeroDivisionError from the eager snapshot."""
    from patternly_spark.operators.graph import neighborhood_function

    loops = spark.createDataFrame([(1, 1), (2, 2)], "src long, dst long")
    out = neighborhood_function(loops, rounds=1).orderBy("round").collect()
    assert len(out) == 2
    for r in out:
        assert r["nodes"] == 0 and r["avg_ball"] is None


def test_gc_opts_plumbed_to_jvm_conf(spark):
    """The GCLocker/humongous-allocation mitigation (sf100 rehearsal
    finding: sort-pointer-array allocations of 2^24 words abandoned
    after 2 GCLocker retries -> spurious OOM) must reach the JVM launch
    conf by default, and must stay env-overridable."""
    import os

    opts = spark.conf.get("spark.driver.extraJavaOptions")
    assert "GCLockerRetryAllocationCount" in opts
    assert "G1HeapRegionSize" in opts
    assert spark.conf.get("spark.executor.extraJavaOptions") == opts
    # the default comes from the documented env knob
    assert os.environ.get("SPARK_GRAFT_GC_OPTS") is None or (
        os.environ["SPARK_GRAFT_GC_OPTS"] == opts
    )

"""Anomaly-discovery pipelines over Spark DataFrames.

Mirrors the reference API surface (``patternly/detection.py``):

- ``AnomalyDetection``            — batch fit/predict      (detection.py:15-499)
- ``StreamingDetection``          — window-chop + batch    (detection.py:550-613)
- ``ContinuousStreamingDetection``— ordered online growth  (detection.py:616-734)

but the execution is Spark-first (SURVEY §3):

fit:      quantize (codegen column exprs; the complex cut-points and the
          alphabet size come from one aggregate) -> SLD featurization
          (score vs a tiny broadcast base-model library — O(N*k), replaces
          the reference's O(N^2) Lsmash distance matrix, justified by the
          paper's own SLD theory, tex/ms.tex:197-200) -> MLlib KMeans
          (seeded) -> frequency relabel (from KMeans's own cluster sizes)
          -> per-cluster GenESeSS via applyInPandas -> iterative cluster
          reduction -> per-cluster llk stats (stddev_samp == ddof=1).
          A reduction step and the stats read one scoring pass (the
          cluster label rides through the scoring, one collect), so the
          final library scores the training set once.
fit, driver-sized: one job (``plans.collect_within``) measures the
          training set and, when its rows and elements at the ``FIT_*``
          costs fit the driver budget (and GenESeSS runs in memory),
          collects it:
          the raw series for the complex quantizer with exact (or already
          fitted) cut-points, else the quantized relation.  Then the fit
          runs no Spark job: numpy quantizes the raw series by the rules
          of the aggregate and the column expressions
          (``functions.quantize.fit_cutpoints_local`` and
          ``symbolize_local``), and the kernels the UDFs call
          (``llk_matrix`` for the SLD features and the scoring,
          ``genesess`` per cluster) and ``kmeans.kmeans_parallel``, which
          computes in numpy the labels MLlib KMeans (same k, seed, init
          and iterations) gives the features read as one seq_id-ordered
          slice, train on the seq_id-ordered rows.  So below the gate
          labels and library ids do not depend on the input's
          partitioning or the shuffle partitions.  A pluggable
          ``clustering_alg`` still reads that slice as a relation.
predict:  one mapInArrow pass scoring every sequence under the broadcast
          library and reducing each sequence's scores in the same task to
          the ALL-above-bound anomaly flag + argmin closest-match.  No
          shuffle.  With the complex quantizer the task reads the raw
          series and symbolizes each Arrow batch with ``symbolize_local``
          before scoring it.  A null sequence scores as an empty one.
continuous: one per-window step, ``GrowingLibrary.step``, for both
          ``ContinuousStreamingDetection.fit_stream`` (driver loop over
          sorted windows) and ``streaming.StreamingPFSADetector``: score
          the window, mint a PFSA when it is above the bound under every
          model.  A window is minted at most once, so the cold-start
          window is not minted again when it is anomalous under its own
          fresh PFSA.

Consciously fixed reference bugs (SURVEY §7.4): correct Tarjan SCC count
(vs _utils.py:157-160 whole-stack pop), per-refit library rebuild (vs
cluster_PFSA_info accumulation at detection.py:393), per-model stat lists
in the continuous detector (vs scalar overwrite at detection.py:733-734).
Preserved quirk: alphabet_size = max(symbol)+1 (detection.py:133-136).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from functools import partial
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from patternly_spark.functions.quantize import (
    Quantizer,
    array_diff,
    fit_cutpoints_local,
    percentile_expr,
    quantize_simple_array,
    spark_le,
    symbol_from_cutpoints,
    symbolize_local,
)
from patternly_spark.functions.windowing import split_stream, windows_to_sequences
from patternly_spark import pfsa
from patternly_spark.plans import collect_within, list_parts, local_frame
from patternly_spark.pfsa.genesess import _tarjan_scc, fit_cluster_pfsas, genesess
from patternly_spark.pfsa.llk import llk_batch, map_llk, score_sequences
from patternly_spark.pfsa.model import PFSA
from patternly_spark.pfsa.simulate import simulate


VERDICT_SCHEMA = T.StructType(
    [
        T.StructField("seq_id", T.LongType(), False),
        T.StructField("anomaly", T.BooleanType(), False),
        T.StructField("closest_match", T.IntegerType(), False),
    ]
)


#: Driver bytes per training sequence and per symbol of a driver-path fit,
#: gated at ``plans.DRIVER_BUDGET_BYTES``; above it, or with
#: ``genesess_mode="distributed"``, the fit runs its Spark path.  The
#: budget is per fit: ``MultiChannelDetection.fit`` runs up to
#: ``max_parallel`` channel fits at once, so its thread pool can hold that
#: many.  The driver budget admits 16,000 series of 200 symbols and not
#: 24,000.
#: A fit's peak is the quantization of the collected raw series: the Arrow
#: table of float64 values and the copy that ``fit_cutpoints_local``
#: partitions for the cut-points; the clustering that follows holds the
#: int8 symbols, the SLD features, the GenESeSS fits, ``llk_matrix`` over
#: the library and the one-slice ``quantized_df``.  Measured with
#: tracemalloc over the whole ``fit`` after a warm-up fit (the collected
#: Arrow buffers are Python bytes, so tracemalloc sees them; Arrow's own
#: pool peaked at 24 KB) (peak; 3 regimes, complex quantizer,
#: n_clusters=3; 3,000 and 6,000 series of 200 and 400 symbols; numpy
#: 1.26, pandas 2.2, pyarrow 16): 36.5 B per series + 18.1 B per symbol,
#: least squares, within 0.2% at all four sizes; rounded up to 64 and 20.
#: A relation of symbols (no quantizer, or approximate cut-points) is
#: gated at the same costs, though it collects int8 symbols.
FIT_SEQ_BYTES = 64
FIT_SYMBOL_BYTES = 20


def _base_models(alphabet_size: int) -> list[PFSA]:
    """Fixed SLD base set (paper: 'we use a fixed base set of four simple
    PFSA', tex/ms.tex SLD section).  Deterministic for any alphabet k:
    k-state machines delta(q, s) = s with differently-biased emission rows."""
    k = alphabet_size
    eye = np.eye(k)
    models = []
    recipes = [
        1.0 + 1.5 * eye,                      # sticky: prefer re-emitting state symbol
        1.0 + 1.5 * np.roll(eye, 1, axis=1),  # cyclic: prefer the next symbol
        1.0 - 0.6 * eye,                      # antisticky
        1.0 + 3.0 * np.roll(eye, -1, axis=1), # strong reverse-cyclic
    ]
    connx = np.tile(np.arange(k, dtype=np.int32), (k, 1))
    for i, w in enumerate(recipes):
        pit = w / w.sum(axis=1, keepdims=True)
        models.append(PFSA(pitilde=pit, connx=connx, pfsa_id=i))
    return models


def _frequency_ranks(raw: dict[int, int]) -> tuple[dict[int, int], list[int], int]:
    """A2: new cluster labels so 0 = most common (reference double-argsort,
    detection.py:339-347), from ``raw`` = {label: count}.  Returns
    {label: new label}, the counts descending, and the number of
    clusters.  Noise label -1 (DBSCAN-style) is not counted and maps to
    itself (detection.py:339 quirk)."""
    n = len(raw)
    # rank over the labels actually present (a pluggable clustering_alg or an
    # empty KMeans cluster can yield non-contiguous labels); for contiguous
    # 0..n-1 labels this is byte-identical to the reference's double-argsort,
    # including its tie-break (equal counts -> higher label ranks first).
    labels = sorted(raw)
    counts = np.array([raw[l] for l in labels], dtype=np.int64)
    rank = np.full(n, n - 1, dtype=np.int64) - np.argsort(np.argsort(counts))
    mapping = {labels[i]: int(rank[i]) for i in range(n)}
    mapping[-1] = -1  # DBSCAN-style noise passes through
    return mapping, sorted(counts.tolist(), reverse=True), n


def _relabel_by_frequency(
    labels_df: DataFrame, raw: dict[int, int] | None = None
) -> tuple[DataFrame, list[int], int]:
    """``_frequency_ranks`` applied to (seq_id, cluster); ``raw`` = {label:
    count} when the clustering has already counted its labels, else one
    groupBy counts them.  Returns relabeled df, cluster counts desc,
    n_clusters."""
    if raw is None:
        counts_rows = labels_df.filter(F.col("cluster") >= 0).groupBy("cluster").count().collect()
        raw = {int(r["cluster"]): int(r["count"]) for r in counts_rows}
    mapping, counts_desc, n = _frequency_ranks(raw)
    map_expr = F.create_map(*[F.lit(x) for kv in mapping.items() for x in kv])
    out = labels_df.withColumn("cluster", map_expr[F.col("cluster")].cast("int"))
    return out, counts_desc, n


@dataclass(frozen=True)
class _ClusterScores:
    """What one scoring pass of a clustered training set under its
    library gives, indexed by cluster label (== pfsa_id; noise -1 indexes
    from the end, as numpy does)."""

    confusion: np.ndarray  # (k, k) sequence counts: cluster x best-scoring PFSA
    sizes: dict[int, int]  # sequences per cluster label, noise -1 included
    means: np.ndarray  # llk mean under the cluster's own PFSA
    stds: np.ndarray  # stddev_samp of the same; 0 for a single sequence


def _score_clusters(clustered: DataFrame | pd.DataFrame, library: list[PFSA]) -> _ClusterScores:
    """One pass over (seq_id, symbols, cluster): score every sequence under
    every PFSA with its cluster label carried along, reduce to one row per
    sequence (best PFSA = lowest llk, lowest pfsa_id on ties; llk under
    its own cluster's PFSA), then one rollup gives the confusion counts
    per (cluster, best PFSA) and, per cluster, the row total and the llk
    avg/stddev_samp — one collect.  A driver training set (pandas) is
    scored on the driver instead (``_score_on_driver``)."""
    if isinstance(clustered, pd.DataFrame):
        return _score_on_driver(clustered, library)
    k = len(library)
    per_seq = (
        score_sequences(clustered, library, keep=("cluster",))
        .groupBy("seq_id", "cluster")
        .agg(
            F.min_by("pfsa_id", F.struct("llk", "pfsa_id")).alias("best_pfsa"),
            F.max(F.when(F.col("pfsa_id") == F.col("cluster"), F.col("llk"))).alias("own"),
        )
    )
    # grouping_id: 0 = (cluster, best_pfsa), 1 = cluster, 3 = grand total
    rows = (
        per_seq.rollup("cluster", "best_pfsa")
        .agg(
            F.grouping_id().alias("level"),
            F.count(F.lit(1)).alias("n"),
            F.avg("own").alias("mean"),
            F.stddev_samp("own").alias("std"),
        )
        .collect()
    )
    confusion = np.zeros((k, k))
    sizes: dict[int, int] = {}
    means = np.zeros(k)
    stds = np.zeros(k)
    for r in rows:
        if r["level"] == 0:
            confusion[int(r["cluster"]), int(r["best_pfsa"])] = r["n"]
        elif r["level"] == 1:
            c = int(r["cluster"])
            sizes[c] = int(r["n"])
            # a cluster without a PFSA of its own label has no stats
            if r["mean"] is not None:
                means[c] = r["mean"]
                stds[c] = r["std"] if r["std"] is not None else 0.0
    return _ClusterScores(confusion, sizes, means, stds)


def _score_on_driver(clustered: pd.DataFrame, library: list[PFSA]) -> _ClusterScores:
    """``_score_clusters`` of a driver training set: one ``llk_matrix``
    call scores it under the whole library, and the same reductions run
    in numpy (avg -> mean, stddev_samp -> std with ddof=1)."""
    k = len(library)
    order = np.argsort([m.pfsa_id for m in library], kind="stable")
    ids = np.array([library[i].pfsa_id for i in order])
    llk = pfsa.llk_matrix(clustered["symbols"].tolist(), [library[i] for i in order])
    cluster = clustered["cluster"].to_numpy()
    # columns in pfsa_id order, so the first minimum is the lowest id
    best = ids[llk.argmin(axis=1)]
    col = {int(p): j for j, p in enumerate(ids)}
    own = llk[np.arange(len(cluster)), [col[int(c)] for c in cluster]]
    confusion = np.zeros((k, k))
    pairs, counts = np.unique(np.stack([cluster, best]), axis=1, return_counts=True)
    confusion[pairs[0], pairs[1]] = counts
    sizes: dict[int, int] = {}
    means = np.zeros(k)
    stds = np.zeros(k)
    for c in np.unique(cluster):
        vals = own[cluster == c]
        sizes[int(c)] = vals.size
        means[c] = vals.mean()
        stds[c] = vals.std(ddof=1) if vals.size > 1 else 0.0
    return _ClusterScores(confusion, sizes, means, stds)


class AnomalyDetection:
    """Unsupervised PFSA anomaly discovery; sklearn-style fit/predict over
    Spark DataFrames.

    Input DataFrame layouts:
      - pre-quantized:  (seq_id long, symbols array<int>)   [quantize=False]
      - continuous:     (seq_id long, values array<double>) [quantize=True]
    """

    def __init__(
        self,
        spark: SparkSession | None = None,
        *,
        anomaly_sensitivity: float = 1.0,
        n_clusters: int = 1,
        reduce_clusters: bool = True,
        clustering_alg=None,
        quantize: bool = True,
        quantize_type: str = "complex",
        n_symbols: int = 2,
        detrend: bool = False,
        quantize_exact: bool = True,
        eps: float = 0.1,
        seed: int = 42,
        verbose: bool = False,
        genesess_mode: str = "memory",  # memory | distributed
    ) -> None:
        self.spark = spark
        self.anomaly_sensitivity = float(anomaly_sensitivity)
        self.n_clusters = int(n_clusters)
        self.reduce_clusters = bool(reduce_clusters)
        self.clustering_alg = clustering_alg
        self.quantize = bool(quantize)
        self.quantize_type = quantize_type
        self.n_symbols = int(n_symbols)
        # detrend: first-difference before complex quantization (reference
        # Quantizer option, detection.py:297-306 composing F1 then F4)
        self.detrend = bool(detrend)
        # exact percentile for oracle parity; approx sketch is the
        # documented at-scale default (functions/quantize.percentile_expr)
        self.quantize_exact = bool(quantize_exact)
        self.eps = float(eps)
        self.seed = int(seed)
        self.verbose = bool(verbose)
        self.genesess_mode = genesess_mode

        self.fitted = False
        self.quantizer: Quantizer | None = None
        self.quantized_df: DataFrame | None = None  # (seq_id, symbols[, cluster])
        self.cluster_counts: list[int] = []
        self.library: list[PFSA] = []
        self.pfsa_llk_means: np.ndarray | None = None
        self._sld_cache = None
        self._sld_matrix: np.ndarray | None = None  # driver fit: the features of _sld_cache
        self.pfsa_llk_stds: np.ndarray | None = None
        self.alphabet_size: int | None = None
        self._train_size: tuple[int, int] | None = None  # (rows, symbols) of the fit's input

    # ------------------------------------------------------------------
    def _quantize(self, df: DataFrame | pa.Table) -> DataFrame | pd.DataFrame | None:
        """-> (seq_id, symbols array<tinyint>).  Mirrors __quantize
        (detection.py:272-308).  Fitting the complex cut-points also sets
        ``alphabet_size`` and ``_train_size`` (rows, symbols).

        A collected training set of raw series (an Arrow table of
        seq_id and values, see ``_quantizes_locally``) is quantized in
        numpy by the same rules (``fit_cutpoints_local``,
        ``symbolize_local``) and comes back as a pandas frame in seq_id
        order; None when its cut-points need the JVM aggregate."""
        if isinstance(df, pa.Table):
            col = df.column("values")
            if self.quantizer is None or not self.quantizer.fitted:
                cuts, alphabet_size = fit_cutpoints_local(col, self.n_symbols, self.detrend)
                if cuts is None:
                    return None
                self.quantizer = Quantizer(
                    quantize_type="complex", n_symbols=self.n_symbols,
                    detrend=self.detrend, exact=self.quantize_exact,
                    cutpoints=cuts, fitted=True,
                )
                self.alphabet_size = alphabet_size
            return self._training_frame(df.column("seq_id"), *symbolize_local(col, self.quantizer.cutpoints, self.detrend))

        cols = df.columns
        if not self.quantize or "symbols" in cols:
            src = "symbols" if "symbols" in cols else "values"
            return df.select("seq_id", F.transform(F.col(src), lambda x: x.cast("tinyint")).alias("symbols"))

        if self.quantize_type in ("simple", "simple-second"):
            second = self.quantize_type == "simple-second"
            return quantize_simple_array(df, second=second).select("seq_id", "symbols")

        v = F.col("values")
        # complex: entropy-max equi-probable cut-points over ALL values,
        # optionally detrended first (F1 then F4)
        vals = array_diff(v) if self.detrend else v
        if self.quantizer is None or not self.quantizer.fitted:
            # outer: a row without values still counts as a row (its null
            # value is skipped by the percentile and the max)
            flat = df.select(F.posexplode_outer(vals).alias("pos", "value"))
            probs = [i / self.n_symbols for i in range(1, self.n_symbols)]
            row = flat.select(
                percentile_expr("value", probs, exact=self.quantize_exact).alias("c"),
                F.max(F.col("value").cast("double")).alias("top"),
                F.count(F.when(F.coalesce("pos", F.lit(0)) == 0, 1)).alias("rows"),
                F.count("pos").alias("symbols"),
            ).first()
            self._train_size = (int(row["rows"]), int(row["symbols"]))
            cuts = [float(c) for c in row["c"]]
            self.quantizer = Quantizer(
                quantize_type="complex", n_symbols=self.n_symbols,
                detrend=self.detrend, exact=self.quantize_exact,
                cutpoints=cuts, fitted=True,
            )
            # a value's symbol is the number of cut-points <= it, so the
            # largest symbol is the largest value's (quirk: alphabet =
            # max symbol + 1)
            self.alphabet_size = 1 + sum(spark_le(c, row["top"]) for c in cuts)
        cutpoints = self.quantizer.cutpoints
        syms = F.transform(vals, lambda x: symbol_from_cutpoints(x, cutpoints))
        return df.select("seq_id", syms.alias("symbols"))

    def _quantizes_locally(self, df: DataFrame) -> bool:
        """Whether ``df``'s raw values are quantized in numpy where they
        are (a driver training set, a predict task): the complex quantizer,
        with cut-points already fitted or fitted exactly.  Approximate
        cut-points need the JVM sketch."""
        fitted = self.quantizer is not None and self.quantizer.fitted
        return (
            self.quantize and self.quantize_type == "complex" and "symbols" not in df.columns
            and (self.quantize_exact or fitted)
        )

    def _training_frame(self, ids: pa.ChunkedArray, symbols: np.ndarray, offsets: np.ndarray) -> pd.DataFrame:
        """A collected training set as (seq_id, symbols) rows in seq_id
        order; row i's symbols are ``symbols[offsets[i]:offsets[i + 1]]``
        (views), a null row is empty.  Sets ``_train_size`` and, when
        unset, ``alphabet_size`` (largest symbol + 1)."""
        ids = ids.to_numpy()
        self._train_size = (ids.size, int(offsets[-1]))
        if self.alphabet_size is None:
            self.alphabet_size = int(symbols.max()) + 1
        order = np.argsort(ids, kind="stable")
        seqs = np.split(symbols, offsets[1:-1])
        return pd.DataFrame({"seq_id": ids[order], "symbols": [seqs[i] for i in order]})

    # ------------------------------------------------------------------
    def _sld_features(self, train: DataFrame | pd.DataFrame) -> DataFrame:
        """SLD featurization (llk vector against the fixed base library,
        ``feat``, and as the ``features`` vector), persisted: the X7
        reduction loop re-clusters with shrinking k but identical
        sequences, so features are computed exactly once per fit.  A
        driver training set is scored on the driver: its (n, 4) matrix,
        rows in seq_id order, is kept in ``_sld_matrix``, and the
        relation is one slice built from it, read only by a pluggable
        ``clustering_alg``."""
        if self._sld_cache is not None:
            return self._sld_cache
        base = _base_models(self.alphabet_size or 2)
        if isinstance(train, pd.DataFrame):
            feat = pfsa.llk_matrix(train["symbols"].tolist(), base)
            feat[feat == np.inf] = 1e6
            self._sld_matrix = feat
            pdf = pd.DataFrame({"seq_id": train["seq_id"], "feat": list(feat)})
            feats = local_frame(self.spark, pdf, "seq_id long, feat array<double>")
        else:
            feats = (
                score_sequences(train, base)
                .groupBy("seq_id")
                .agg(
                    F.array_sort(F.collect_list(F.struct("pfsa_id", "llk"))).alias("pairs")
                )
                .select(
                    "seq_id",
                    F.transform(
                        "pairs",
                        lambda p: F.when(p["llk"] == float("inf"), F.lit(1e6)).otherwise(p["llk"]),
                    ).alias("feat"),
                )
            )
        from pyspark.ml.functions import array_to_vector

        self._sld_cache = feats.withColumn("features", array_to_vector("feat")).persist()
        return self._sld_cache

    def _cluster_labels(self, train: DataFrame | pd.DataFrame, n_clusters: int) -> DataFrame | pd.DataFrame:
        """-> (seq_id, cluster int), frequency-relabeled.  SLD featurization
        + seeded MLlib KMeans (SURVEY §4.3.1 replacing X3/X6).  A driver
        training set (pandas, seq_id order) comes back with its
        ``cluster`` column; its default clustering is
        ``kmeans.kmeans_parallel`` on ``_sld_matrix``, which computes the
        labels MLlib's KMeans gives that matrix as one seq_id-ordered
        slice, with no Spark job."""
        local = isinstance(train, pd.DataFrame)
        if n_clusters == 1:
            if local:
                return train.assign(cluster=np.int32(0))
            return train.select("seq_id", F.lit(0).cast("int").alias("cluster"))

        feats = self._sld_features(train)
        if local and self.clustering_alg is None:
            # imported here: every Python worker imports this module, none clusters
            from patternly_spark.kmeans import kmeans_parallel

            labels = pd.Series(kmeans_parallel(self._sld_matrix, n_clusters, self.seed)[0])
            mapping = _frequency_ranks(labels.value_counts().to_dict())[0]
            return train.assign(cluster=labels.map(mapping).to_numpy(np.int32))
        from pyspark.ml.clustering import KMeans

        vec = feats.select("seq_id", "features")
        sizes = None
        if self.clustering_alg is not None and callable(self.clustering_alg) and not hasattr(self.clustering_alg, "fit"):
            # pluggable clustering, Spark idiom of the reference's any
            # `.fit(X).labels_` duck-typing (detection.py:21,:337-338):
            # a callable (features_df(seq_id, feat), n_clusters) ->
            # DataFrame(seq_id, cluster)
            pred = self.clustering_alg(feats.select("seq_id", "feat"), n_clusters).select(
                "seq_id", F.col("cluster").cast("int").alias("cluster")
            )
        elif self.clustering_alg is not None:
            est = self.clustering_alg
            model = est.fit(vec)
            pred = model.transform(vec).select("seq_id", F.col(model.getOrDefault(model.predictionCol)).cast("int").alias("cluster"))
        else:
            km = KMeans(k=n_clusters, seed=self.seed, initMode="k-means||", maxIter=50)
            model = km.fit(vec)
            pred = model.transform(vec).select("seq_id", F.col("prediction").cast("int").alias("cluster"))
            # KMeans.fit has counted its training assignments already
            sizes = {i: int(c) for i, c in enumerate(model.summary.clusterSizes) if c}
        if local:
            labels = pred.toPandas()
            found = labels["cluster"][labels["cluster"] >= 0]
            mapping = _frequency_ranks(found.value_counts().to_dict())[0]
            labels["cluster"] = labels["cluster"].map(mapping).astype(np.int32)
            return train.merge(labels, on="seq_id")
        return _relabel_by_frequency(pred, sizes)[0]

    # ------------------------------------------------------------------
    def _fit_library(self, clustered: DataFrame | pd.DataFrame, n_clusters: int) -> list[PFSA]:
        if isinstance(clustered, pd.DataFrame):
            # the call fit_cluster_pfsas makes in its UDF: each cluster's
            # sequences in seq_id order, pfsa_id = label, sorted by label
            return [
                pfsa.genesess(g["symbols"].tolist(), eps=self.eps, alphabet_size=self.alphabet_size, pfsa_id=int(c))
                for c, g in clustered.groupby("cluster", sort=True)
            ]
        if self.genesess_mode == "distributed":
            # SURVEY §4.3.2 fallback: per-cluster distributed n-gram
            # GenESeSS — no cluster's sequences are ever collected to one
            # process.  Produces the identical machine the in-memory path
            # would (tests/test_pfsa_core.py pins exact equality).
            from patternly_spark.pfsa.genesess import genesess_distributed

            models = []
            for i in range(n_clusters):
                sub = clustered.filter(F.col("cluster") == i).select("symbols")
                models.append(
                    genesess_distributed(
                        sub, eps=self.eps, alphabet_size=self.alphabet_size, pfsa_id=i
                    )
                )
            return models
        lib_df = fit_cluster_pfsas(clustered, eps=self.eps, alphabet_size=self.alphabet_size)
        # k rows: sorted here, not by a Spark sort (whose range-partition
        # sample would run the GenESeSS fits a second time)
        rows = sorted(lib_df.collect(), key=lambda r: r["pfsa_id"])
        return [PFSA.from_row(r) for r in rows]

    # ------------------------------------------------------------------
    def _reduce_step(self, clustered: DataFrame | pd.DataFrame, library: list[PFSA]) -> tuple[int, _ClusterScores]:
        """One reduction evaluation (X7): confusion fractions -> self-boost
        -> threshold-0.2 digraph -> SCC count (correct Tarjan).  Returns
        the count and the scoring pass it read, which also holds the
        library's thresholds."""
        k = len(library)
        scores = _score_clusters(clustered, library)
        mat = scores.confusion.copy()
        sums = mat.sum(axis=1, keepdims=True)
        sums[sums == 0] = 1.0
        mat = mat / sums
        # self-boost: +1 to (best, i) when cluster i's best PFSA is not i
        # (detection.py:446-448; boosts accumulate across i)
        for i in range(k):
            ranked = np.argsort(mat[i])[::-1]
            bm = int(ranked[0])
            if bm != i:
                mat[bm][i] += 1
        edges: dict[int, set[int]] = {i: set() for i in range(k)}
        for i in range(k):
            for j in range(k):
                if mat[i][j] >= 0.2:
                    edges[i].add(j)
        return len(_tarjan_scc(k, edges)), scores

    # ------------------------------------------------------------------
    def fit(self, df: DataFrame, y=None) -> "AnomalyDetection":
        self.spark = self.spark or df.sparkSession
        for cached in (self.quantized_df, self._sld_cache):  # a refit's stale caches
            if cached is not None:
                cached.unpersist()
        self._sld_cache = self._sld_matrix = None
        self.alphabet_size = None
        # a driver-sized training set is collected in the one job that
        # measures it (the raw series when numpy quantizes them), and after
        # that job every step but a pluggable clustering runs on the driver
        raw = self._quantizes_locally(df)
        src = df.select("seq_id", "values") if raw else self._quantize(df)
        table = None
        if self.genesess_mode == "memory":
            col = "values" if raw else "symbols"
            table = collect_within(src, FIT_SEQ_BYTES, col, FIT_SYMBOL_BYTES)[0]
        local = table is not None
        if local:
            if raw:
                train = self._quantize(table)
                if train is None:  # a signed-zero cut-point: the aggregate decides its sign
                    self._quantize(df)
                    train = self._quantize(table)
            else:
                train = self._training_frame(table.column("seq_id"), *list_parts(table.column("symbols"))[:2])
            symbols_type = T.ArrayType(T.ByteType(), False) if raw else src.schema["symbols"].dataType
            schema = T.StructType([
                src.schema["seq_id"], T.StructField("symbols", symbols_type), T.StructField("cluster", T.IntegerType()),
            ])
            del table  # the collected buffers, before the clustering
        else:
            seq_df = (self._quantize(df) if raw else src).persist()
            if self.alphabet_size is None:
                row = seq_df.select(
                    F.max(F.array_max("symbols")).alias("m"),
                    F.count(F.lit(1)).alias("rows"),
                    F.sum(F.greatest(F.size("symbols"), F.lit(0))).alias("symbols"),
                ).first()
                self.alphabet_size = int(row["m"]) + 1
                self._train_size = (int(row["rows"]), int(row["symbols"]))
            train = seq_df

        def clustered_at(n: int):
            labels = self._cluster_labels(train, n)
            return labels if local else labels.join(seq_df, "seq_id")

        n = self.n_clusters
        clustered = clustered_at(n)
        library = self._fit_library(clustered, n)

        scores = None  # the scoring pass of `library`, once one ran
        if self.reduce_clusters and n > 1:
            for _ in range(10):
                new_n, scores = self._reduce_step(clustered, library)
                if new_n >= len(library):
                    break
                if self.verbose:
                    print(f"Reduced clusters from {len(library)} to {new_n}.")
                n = new_n
                clustered = clustered_at(n)
                library = self._fit_library(clustered, n)
                scores = None
                if n == 1:
                    break
        if scores is None:
            scores = _score_clusters(clustered, library)

        self.n_clusters = len(library)
        self.library = library
        # A1: per-cluster llk mean/std over the cluster's own PFSA
        self.pfsa_llk_means = scores.means
        self.pfsa_llk_stds = scores.stds
        self.cluster_counts = sorted((v for c, v in scores.sizes.items() if c >= 0), reverse=True)
        if local:
            self.quantized_df = local_frame(self.spark, clustered[schema.names], schema).persist()
        else:
            self.quantized_df = clustered.select("seq_id", "symbols", "cluster").persist()
            seq_df.unpersist()
        if self._sld_cache is not None:  # kept, released: only the fit reads it
            self._sld_cache.unpersist()
        self.fitted = True
        return self

    # ------------------------------------------------------------------
    def predict(self, df: DataFrame | None = None) -> DataFrame:
        """-> (seq_id, anomaly boolean, closest_match int), one row per
        input sequence.

        anomaly: llk above the bound under every PFSA (A6); closest_match:
        the PFSA of lowest llk, lowest pfsa_id on ties — also when every
        llk is inf (A3).  Both come out of the scoring pass itself (one
        mapInArrow, library in the closure): no shuffle.  An inf or NaN
        bound flags nothing, as ``x > NaN`` and ``inf > inf`` are false.
        Sequences are not grouped, so ``seq_id`` must be unique, as it is
        for every caller: the fit's ``quantized_df``, stream windows, and
        sequence tables keyed by id.
        """
        if not self.fitted:
            raise ValueError("Model has not been fit yet.")
        symbolize = None
        if df is None:
            if self.quantized_df is None:
                raise ValueError("Original data not found. Pass data to predict().")
            seq_df = self.quantized_df.select("seq_id", "symbols")
        elif self._quantizes_locally(df):
            # the raw series go into the scoring task, which symbolizes
            # each batch with the fitted cut-points
            seq_df = df.select("seq_id", F.col("values").alias("symbols"))
            symbolize = partial(symbolize_local, cutpoints=self.quantizer.cutpoints, detrend=self.detrend)
        else:
            seq_df = self._quantize(df)

        # llk columns in pfsa_id order, so the first minimum is the lowest id
        order = np.argsort([m.pfsa_id for m in self.library], kind="stable")
        library = [self.library[i] for i in order]
        ids = np.array([m.pfsa_id for m in library], dtype=np.int32)
        # the stats are indexed by cluster label == pfsa_id (noise -1 from the end)
        bounds = (self.pfsa_llk_means + self.pfsa_llk_stds * self.anomaly_sensitivity)[ids]

        def emit(pdf: pd.DataFrame, llk: np.ndarray) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "seq_id": pdf["seq_id"].to_numpy(),
                    "anomaly": (llk > bounds).all(axis=1),
                    "closest_match": ids[llk.argmin(axis=1)],
                }
            )

        return map_llk(seq_df, library, VERDICT_SCHEMA, emit, symbolize=symbolize)

    def print_PFSAs(self) -> None:
        """Print each cluster PFSA (parity: AnomalyDetection.print_PFSAs,
        ``patternly/detection.py:245-253``)."""
        if not self.fitted:
            raise ValueError("Model has not been fit yet.")
        for m in self.library:
            print(f"Cluster {m.pfsa_id} PFSA:")
            print(m.to_text())

    def generate_PFSA_dots(self, directory: str) -> list[str]:
        """Write one graphviz .dot per cluster PFSA; returns paths (S6
        parity with generate_PFSA_pngs, ``patternly/detection.py:256-269``)."""
        if not self.fitted:
            raise ValueError("Model has not been fit yet.")
        os.makedirs(directory, exist_ok=True)
        paths = []
        for m in self.library:
            p = os.path.join(directory, f"pfsa_{m.pfsa_id}.dot")
            with open(p, "w") as f:
                f.write(m.to_dot())
            paths.append(p)
        return paths

    def generate_PFSA_pngs(self, directory: str, *, size: int = 480) -> list[str]:
        """Render one PNG per cluster PFSA; returns paths (full parity
        with ``generate_PFSA_pngs``, ``patternly/detection.py:256-269`` —
        the reference shells out to DrawPFSA/graphviz; this renderer is
        self-contained numpy + stdlib-zlib, see pfsa/draw.py)."""
        from patternly_spark.pfsa.draw import draw_pfsa_png

        if not self.fitted:
            raise ValueError("Model has not been fit yet.")
        os.makedirs(directory, exist_ok=True)
        return [
            draw_pfsa_png(m, os.path.join(directory, f"pfsa_{m.pfsa_id}.png"), size=size)
            for m in self.library
        ]

    def predicted_active_pfsas(self, predictions: DataFrame) -> DataFrame:
        """A5: inverted index {pfsa -> sorted [seq_id]}."""
        return (
            predictions.groupBy("closest_match")
            .agg(F.array_sort(F.collect_list("seq_id")).alias("seq_ids"))
            .withColumnRenamed("closest_match", "pfsa_id")
        )

    # ------------------------------------------------------------------
    def _extra_user_params(self) -> dict:
        """Constructor kwargs a subclass adds (persisted alongside the
        base params so ``load_model`` reconstructs the same windowing)."""
        return {}

    def _extra_state(self) -> dict:
        """Fitted state a subclass adds beyond the base attributes."""
        return {}

    def _restore_extra_state(self, state: dict) -> None:
        pass

    def save_model(self, path: str) -> None:
        """S4: params JSON + library (MLlib save convention, no dill)."""
        os.makedirs(path, exist_ok=True)
        blob = {
            "user_params": {
                "anomaly_sensitivity": self.anomaly_sensitivity,
                "n_clusters": self.n_clusters,
                "reduce_clusters": self.reduce_clusters,
                "quantize": self.quantize,
                "quantize_type": self.quantize_type,
                "n_symbols": self.n_symbols,
                "detrend": self.detrend,
                "quantize_exact": self.quantize_exact,
                "eps": self.eps,
                "seed": self.seed,
                "genesess_mode": self.genesess_mode,
                **self._extra_user_params(),
            },
            "extra_state": self._extra_state(),
            "fitted": self.fitted,
            "quantizer": None if self.quantizer is None else self.quantizer.to_dict(),
            "library": [m.to_dict() for m in self.library],
            "pfsa_llk_means": None if self.pfsa_llk_means is None else self.pfsa_llk_means.tolist(),
            "pfsa_llk_stds": None if self.pfsa_llk_stds is None else self.pfsa_llk_stds.tolist(),
            "alphabet_size": self.alphabet_size,
            "cluster_counts": self.cluster_counts,
        }
        with open(os.path.join(path, "model.json"), "w") as f:
            json.dump(blob, f)

    @classmethod
    def load_model(cls, path: str, spark: SparkSession | None = None) -> "AnomalyDetection":
        with open(os.path.join(path, "model.json")) as f:
            blob = json.load(f)
        inst = cls(spark, **blob["user_params"])
        inst.fitted = blob["fitted"]
        inst.quantizer = Quantizer.from_dict(blob["quantizer"]) if blob["quantizer"] else None
        inst.library = [PFSA.from_dict(d) for d in blob["library"]]
        inst.pfsa_llk_means = np.array(blob["pfsa_llk_means"]) if blob["pfsa_llk_means"] else None
        inst.pfsa_llk_stds = np.array(blob["pfsa_llk_stds"]) if blob["pfsa_llk_stds"] else None
        inst.alphabet_size = blob["alphabet_size"]
        inst.cluster_counts = blob["cluster_counts"]
        inst._restore_extra_state(blob.get("extra_state", {}))
        return inst


class StreamingDetection(AnomalyDetection):
    """Single-stream detection: chop into (overlapping) windows, then run
    the batch pipeline (detection.py:550-613)."""

    def __init__(
        self,
        spark: SparkSession | None = None,
        *,
        window_size: int = 1000,
        window_overlap: int = 0,
        offsets_are_positions: bool = False,
        **kwargs,
    ) -> None:
        super().__init__(spark, **kwargs)
        self.window_size = int(window_size)
        self.window_overlap = int(window_overlap)
        # True => the offset column is already the dense 0-based stream
        # position (e.g. a log offset): window assignment becomes pure
        # per-row arithmetic, skipping the distributed ranking pass
        self.offsets_are_positions = bool(offsets_are_positions)

    def _extra_user_params(self) -> dict:
        return {
            "window_size": self.window_size,
            "window_overlap": self.window_overlap,
            "offsets_are_positions": self.offsets_are_positions,
        }

    def _split(self, df: DataFrame) -> DataFrame:
        """(offset long, value double|symbol int) -> (seq_id, values|symbols)."""
        value_col = "value" if "value" in df.columns else "symbol"
        windowed = split_stream(
            df,
            window_size=self.window_size,
            window_overlap=self.window_overlap,
            order_col="offset",
            row_number_is_offset=self.offsets_are_positions,
        )
        if value_col == "value":
            # keep continuous doubles end-to-end; quantization happens
            # downstream (a tinyint cast here would overflow/corrupt raw
            # values — caught by the streaming save/load regression test)
            seqs = windows_to_sequences(windowed, symbol_col=value_col, element_type="double")
            return seqs.withColumnRenamed("symbols", "values")
        return windows_to_sequences(windowed, symbol_col=value_col)

    def fit(self, df: DataFrame, y=None) -> "StreamingDetection":
        return super().fit(self._split(df))

    def predict(self, df: DataFrame | None = None) -> DataFrame:
        if df is None:
            return super().predict()
        return super().predict(self._split(df))


class MultiChannelDetection:
    """J5 / Satellite-notebook pattern: one independent detector per
    channel of a multivariate stream (``examples/Satellite Analysis.ipynb``
    cell 4 fits one StreamingDetection per energy band).

    Input layout: (channel string, offset long, value double).  Channels
    are fitted independently — the per-channel pipelines are driver-
    orchestrated, and channels are dispatched concurrently from multiple
    threads.  A channel whose windows are driver-sized trains on the
    driver, and the driver budget (``plans.DRIVER_BUDGET_BYTES``) is per
    fit, so the pool can hold ``max_parallel`` such training sets at once.
    """

    def __init__(self, spark: SparkSession | None = None, **kwargs) -> None:
        self.spark = spark
        self.kwargs = kwargs
        self.models: dict[str, StreamingDetection] = {}

    def fit(self, df: DataFrame, *, max_parallel: int = 4) -> "MultiChannelDetection":
        """Channels are independent, so their fits are dispatched from a
        driver thread pool — Spark job submission is thread-safe, and the
        scheduler interleaves the per-channel stages across the cluster
        instead of running them serially (the reference fits channels in
        a Python for-loop, Satellite nb cell 4)."""
        from concurrent.futures import ThreadPoolExecutor

        self.spark = self.spark or df.sparkSession
        channels = [r["channel"] for r in df.select("channel").distinct().orderBy("channel").collect()]

        def fit_one(ch: str):
            sub = df.filter(F.col("channel") == ch).select("offset", "value")
            m = StreamingDetection(self.spark, **self.kwargs)
            m.fit(sub)
            return ch, m

        with ThreadPoolExecutor(max_workers=min(max_parallel, max(len(channels), 1))) as pool:
            for ch, m in pool.map(fit_one, channels):
                self.models[ch] = m
        return self

    def predict(self, df: DataFrame | None = None) -> DataFrame:
        """-> (channel, seq_id, anomaly, closest_match): union of the
        per-channel verdicts."""
        out: DataFrame | None = None
        for ch, m in self.models.items():
            sub = None if df is None else df.filter(F.col("channel") == ch).select("offset", "value")
            preds = m.predict(sub).withColumn("channel", F.lit(ch))
            out = preds if out is None else out.unionByName(preds)
        return out.select("channel", "seq_id", "anomaly", "closest_match")

    @staticmethod
    def _channel_dir(ch: str) -> str:
        """Path-safe directory component for a channel name: percent-encode
        everything outside [A-Za-z0-9_-] so names with '/', '..', spaces,
        etc. cannot escape or collide; the original name lives in the
        manifest."""
        from urllib.parse import quote

        return "channel_" + quote(str(ch), safe="")

    def save_model(self, path: str) -> None:
        """One model dir per channel + a channel manifest."""
        os.makedirs(path, exist_ok=True)
        dirs = {ch: self._channel_dir(ch) for ch in self.models}
        manifest = {"channels": sorted(self.models), "channel_dirs": dirs,
                    "kwargs": self.kwargs}
        with open(os.path.join(path, "channels.json"), "w") as f:
            json.dump(manifest, f)
        for ch, m in self.models.items():
            m.save_model(os.path.join(path, dirs[ch]))

    @classmethod
    def load_model(cls, path: str, spark: SparkSession | None = None) -> "MultiChannelDetection":
        with open(os.path.join(path, "channels.json")) as f:
            manifest = json.load(f)
        inst = cls(spark, **manifest["kwargs"])
        # older saves predate channel_dirs and used the raw name
        dirs = manifest.get("channel_dirs") or {ch: f"channel_{ch}" for ch in manifest["channels"]}
        for ch in manifest["channels"]:
            inst.models[ch] = StreamingDetection.load_model(
                os.path.join(path, dirs[ch]), spark
            )
        return inst


class GrowingLibrary:
    """The online-discovery state of one stream (ST1-ST3): the PFSAs
    minted so far and each one's bootstrap llk mean and std.

    ``step`` is the per-window rule of both continuous detectors,
    ``ContinuousStreamingDetection.fit_stream`` and
    ``streaming.StreamingPFSADetector``.  ``mint`` looks its kernels up
    as this module's names at call time, so wrapping
    ``detection.genesess``/``simulate``/``llk_batch`` reaches them; ``step``
    scores a window under the whole library in one ``llk_matrix`` call.
    """

    def __init__(self, *, eps: float, sensitivity: float, seed: int, alphabet_size: int | None = None, bootstrap_sims: int = 100, models: list[PFSA] | None = None, means: list[float] | None = None, stds: list[float] | None = None) -> None:
        self.eps = eps
        self.sensitivity = sensitivity
        self.seed = seed
        self.alphabet_size = alphabet_size
        self.bootstrap_sims = bootstrap_sims
        self.models = models or []
        self.means = means or []
        self.stds = stds or []

    def mint(self, syms: np.ndarray) -> float:
        """Append a PFSA inferred from one window, with its ST3 bounds:
        llk mean/std over the window plus ``bootstrap_sims`` simulated
        windows of its length (reference detection.py:730-734; seeded,
        so deterministic).  Returns the window's llk under the new PFSA."""
        model = genesess([syms], eps=self.eps, alphabet_size=self.alphabet_size, pfsa_id=len(self.models))
        self.models.append(model)
        sims = simulate(model, len(syms), self.bootstrap_sims, seed=self.seed + len(self.models))
        llks = llk_batch([syms] + sims, model)
        finite = llks[np.isfinite(llks)]
        self.means.append(float(np.mean(finite)))
        self.stds.append(float(np.std(finite, ddof=1)) if len(finite) > 1 else 0.0)
        return float(llks[0])

    def step(self, syms: np.ndarray) -> tuple[bool, int | None, int]:
        """Score one window against the library; mint when its llk is
        above the bound under every PFSA.  Returns (anomaly, the minted
        PFSA's index or None, closest PFSA).  The first window ever seen
        seeds the library (ST2) and is then scored like any other, but a
        window is minted at most once."""
        minted = None
        if not self.models:
            self.mint(syms)
            minted = 0
        llks = pfsa.llk_matrix([syms], self.models)[0]
        anomaly = bool(np.all(llks > np.array(self.means) + np.array(self.stds) * self.sensitivity))
        if anomaly and minted is None:
            llks = np.append(llks, self.mint(syms))
            minted = len(self.models) - 1
        return anomaly, minted, int(np.argmin(llks))


class ContinuousStreamingDetection(StreamingDetection):
    """Online library growth over an ordered stream (detection.py:616-734).

    The per-window loop has a genuine sequential dependency (window i+1 is
    scored against models minted at <= i), so the driver iterates over
    collected windows — each window is tiny (window_size symbols); the
    expensive parts (chop + quantize) stay distributed.  Each window goes
    through ``GrowingLibrary.step``, the rule the Structured Streaming
    variant (patternly_spark.streaming) runs too, so both log the same
    emergence windows.

    Reference-bug fix: per-model llk mean/std lists are appended per mint
    (the reference overwrites the whole array with the newest model's
    scalars, detection.py:733-734).
    """

    def __init__(self, spark: SparkSession | None = None, **kwargs) -> None:
        super().__init__(spark, **kwargs)
        self.pattern_emergence_times: list[int] = []
        self._means: list[float] = []
        self._stds: list[float] = []

    def _extra_state(self) -> dict:
        return {
            "pattern_emergence_times": self.pattern_emergence_times,
            "means": self._means,
            "stds": self._stds,
        }

    def _restore_extra_state(self, state: dict) -> None:
        self.pattern_emergence_times = list(state.get("pattern_emergence_times", []))
        self._means = list(state.get("means", []))
        self._stds = list(state.get("stds", []))

    def fit_stream(self, df: DataFrame) -> "ContinuousStreamingDetection":
        # every fit_stream grows a library from empty, as every fit
        # rebuilds one: nothing of an earlier stream carries over
        self.fitted = False
        self.alphabet_size = None
        self.library, self._means, self._stds, self.pattern_emergence_times = [], [], [], []
        seqs = self._split(df)
        quantized = super()._quantize(seqs)
        if self.alphabet_size is None:
            max_sym = quantized.select(F.max(F.array_max("symbols"))).first()[0]
            if max_sym is None:
                raise ValueError(
                    "stream shorter than window_size: no complete windows to fit"
                )
            self.alphabet_size = int(max_sym) + 1
        lib = GrowingLibrary(
            eps=self.eps, sensitivity=self.anomaly_sensitivity, seed=self.seed,
            alphabet_size=self.alphabet_size,
        )
        # The per-window loop is sequentially dependent by reference
        # semantics (models minted at window <= i score window i+1), so it
        # runs on the driver — but only one sorted partition of tiny
        # windows is resident at a time (toLocalIterator), not the whole
        # stream: chop + quantize + sort stay distributed, and the driver's
        # memory footprint is bounded regardless of stream length.
        it = quantized.orderBy("seq_id").toLocalIterator(prefetchPartitions=True)
        i = -1
        for i, r in enumerate(it):
            if lib.step(np.asarray(r["symbols"], dtype=np.int8))[1] is not None:
                self.pattern_emergence_times.append(i)
        if i < 0:
            raise ValueError(
                "stream shorter than window_size: no complete windows to fit"
            )

        self.library, self._means, self._stds = lib.models, lib.means, lib.stds
        self.n_clusters = len(self.library)
        self.pfsa_llk_means = np.array(self._means)
        self.pfsa_llk_stds = np.array(self._stds)
        self.fitted = True
        return self

"""The benchmark workloads: inputs, the timed operation, and its check.

Each workload drives the public API on its generated inputs:

- ``discover_fit``: ``AnomalyDetection.fit`` on continuous series from
  three regimes, then ``predict`` on the training set, planted series
  from a fourth regime and a bulk set from all four.  Traced runs also run
  ``ContinuousStreamingDetection.fit_stream`` on a symbol stream that
  visits six distinct regimes.
- ``graph_rounds``: ``connected_components``, ``core_numbers`` and
  ``bfs_hops`` on a skewed graph.

The check functions take plain pandas/numpy data and return a list of
failure messages, so the benchmark's tests can feed them wrong verdicts.
"""

from __future__ import annotations

import hashlib
import statistics
import time

import numpy as np
import pandas as pd

import generators as gen
from spans import NullTracer

FP_BOUND = 0.25  # discover_fit: largest training false-positive share
PURITY_BOUND = 0.9  # discover_fit: least share of a regime in its cluster
PREDICTS_PER_OP = 3  # discover_fit: a predict takes ~3 s, so its rate is a median of 3
WARM_SERIES = 30  # discover_fit: training series of the warm-up fit and predict
WARM_EDGES = 500  # graph_rounds: edges of the warm-up pass


def digest(pdf: pd.DataFrame) -> str:
    """Order-invariant digest of a collected result."""
    rows = pdf.sort_values(list(pdf.columns)).to_numpy().tobytes()
    return hashlib.sha256(rows).hexdigest()


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def median_time(fn, reps: int) -> float:
    return statistics.median(timed(fn)[1] for _ in range(reps))


# ---------------------------------------------------------------------------
# checks (pure)

def check_discover(pred: pd.DataFrame, n_clusters: int, regime: np.ndarray) -> list[str]:
    """``pred``: (seq_id, anomaly, closest_match) over every series; seq_id
    indexes ``regime`` (-1 = planted); the first N_TRAIN are training."""
    fails = []
    if n_clusters != 3:
        fails.append(f"fitted {n_clusters} clusters, expected 3")
    pred = pred.set_index("seq_id").sort_index()
    if len(pred) != len(regime) or not np.array_equal(pred.index.to_numpy(), np.arange(len(regime))):
        return fails + [f"predict returned {len(pred)} rows for {len(regime)} series"]
    anomaly = pred["anomaly"].to_numpy(dtype=bool)
    planted = regime < 0
    missed = int((~anomaly[planted]).sum())
    if missed:
        fails.append(f"{missed} of {int(planted.sum())} planted series not flagged")
    n_train = gen.N_TRAIN
    fp = float(anomaly[:n_train][~planted[:n_train]].mean())
    if fp > FP_BOUND:
        fails.append(f"training false-positive rate {fp:.3f} > {FP_BOUND}")
    owners = []
    for r in range(len(gen.DISCOVER_REGIMES)):
        match = pred["closest_match"].to_numpy()[regime == r]
        top = np.bincount(match).argmax()
        share = float((match == top).mean())
        if share < PURITY_BOUND:
            fails.append(f"regime {r}: only {share:.2f} of its series share a cluster")
        owners.append(int(top))
    if len(set(owners)) != len(owners):
        fails.append(f"regimes share clusters: {owners}")
    return fails


def check_oracle(pred: pd.DataFrame, symbols: dict[int, np.ndarray], library, bounds: np.ndarray) -> list[str]:
    """Verdicts of ``pred`` on the sampled ``symbols`` (seq_id -> quantized
    series) against the scalar ``llk_one`` with the fitted bounds: anomaly
    when above every model's bound, closest match = lowest llk (lowest id
    on ties).  A series within 1e-9 of a bound or of a tie is skipped."""
    from patternly_spark.pfsa.llk import llk_one

    pred = pred.set_index("seq_id")
    wrong = []
    for sid, syms in symbols.items():
        llk = np.array([llk_one(syms, m) for m in library])
        near_tie = np.sort(llk)[:2]
        if np.any(np.abs(llk - bounds) < 1e-9) or (len(llk) > 1 and near_tie[1] - near_tie[0] < 1e-9):
            continue
        row = pred.loc[sid]
        if bool(row["anomaly"]) != bool(np.all(llk > bounds)) or int(row["closest_match"]) != int(np.argmin(llk)):
            wrong.append(int(sid))
    return [f"verdicts differ from llk_one on series {wrong}"] if wrong else []


def check_stream(emergence: list[int], boundaries: list[int], first: list[int] | None) -> list[str]:
    fails = []
    missing = [b for b in boundaries if b not in emergence]
    if missing:
        fails.append(f"no mint at regime boundaries {missing} (emergence {emergence})")
    if first is not None and emergence != first:
        fails.append(f"emergence {emergence} differs from the first repetition {first}")
    return fails


def union_find_components(src: np.ndarray, dst: np.ndarray) -> dict[int, int]:
    """node -> smallest node id of its component, on the driver."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in zip(src.tolist(), dst.tolist()):
        if u == v:
            continue  # the operator sees only non-loop edges
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def check_graph(cc: pd.DataFrame, expected: dict[int, int], digests: dict[str, str],
                first: dict[str, str] | None) -> list[str]:
    fails = []
    got = dict(zip(cc["node"].tolist(), cc["component"].tolist()))
    if got != expected:
        wrong = sum(1 for k, v in expected.items() if got.get(k) != v) + len(set(got) - set(expected))
        fails.append(f"connected_components: {wrong} node labels differ from the union-find")
    if first is not None:
        for k, d in digests.items():
            if d != first[k]:
                fails.append(f"{k} output digest changed between repetitions")
    return fails


# ---------------------------------------------------------------------------
# workloads

class Workload:
    """``load`` caches the inputs; ``warm_up`` runs the operation's code
    paths once on a slice of them, so the timed operations find the JVM
    warm; ``op`` runs one timed operation and returns (op seconds, items
    per second, failure messages).  A traced run (``trace``) may do more
    per operation, outside the timed part."""

    name: str
    item: str  # what items_per_s counts
    aliases: tuple[str, str]  # workload names of op_s and items_per_s
    rates_per_op = 1  # timed passes behind one operation's items_per_s

    def __init__(self, spark, trace: bool) -> None:
        self.spark = spark
        self.trace = trace

    def kernels(self, tracer) -> dict[str, float]:
        return {}


class DiscoverFit(Workload):
    """Batch fit and predict.  A traced operation also grows a
    ``ContinuousStreamingDetection`` over a regime-switching symbol stream,
    so the stream layers (windowing, driver-side GenESeSS and llk,
    simulate) get per-layer numbers; it predicts once, not
    ``PREDICTS_PER_OP`` times, to keep a traced run short."""

    name = "discover_fit"
    item = "seq"
    aliases = ("fit_s", "predict_seqs_per_s")

    @property
    def rates_per_op(self) -> int:
        return 1 if self.trace else PREDICTS_PER_OP

    @staticmethod
    def generate(seed: int) -> dict:
        return {**gen.discover_inputs(seed), "stream": gen.stream_inputs(seed)}

    def load(self, inputs: dict) -> None:
        self.inputs = inputs
        values = inputs["values"]
        pdf = pd.DataFrame({"seq_id": np.arange(len(values), dtype=np.int64), "values": list(values)})
        df = self.spark.createDataFrame(pdf, "seq_id long, values array<double>")
        self.all_df = df.persist()
        self.all_df.count()
        self.train_df = self.all_df.filter(f"seq_id < {gen.N_TRAIN}").persist()
        self.train_df.count()
        self.model = None
        if self.trace:
            syms = inputs["stream"]["symbols"]
            pdf = pd.DataFrame({"offset": np.arange(len(syms), dtype=np.int64), "symbol": syms.astype(np.int32)})
            self.stream_df = self.spark.createDataFrame(pdf, "offset long, symbol int").persist()
            self.stream_df.count()
            self.first_emergence: list[int] | None = None

    def _detector(self):
        from patternly_spark.detection import AnomalyDetection

        return AnomalyDetection(
            self.spark, n_clusters=3, quantize=True, quantize_type="complex", n_symbols=3,
            reduce_clusters=True,
        )

    def _stream_detector(self):
        from patternly_spark.detection import ContinuousStreamingDetection

        return ContinuousStreamingDetection(
            self.spark, window_size=gen.WINDOW, window_overlap=0, n_clusters=1,
            quantize=False, anomaly_sensitivity=4, eps=0.2,
        )

    def _release(self) -> None:
        """Unpersist what the last fitted model left cached (its SLD
        features and quantized series).  Left in place, a new fit on the
        same series finds the features cached under an identical plan and
        skips their jobs, so every fit after the first of a run would be
        cheaper than a user's fit."""
        if self.model is not None:
            self.model._sld_cache.unpersist()
            self.model.quantized_df.unpersist()

    def warm_up(self) -> None:
        small = self.train_df.filter(f"seq_id < {WARM_SERIES}")
        self.model = self._detector()
        self.model.fit(small)
        self.model.predict(small).toPandas()
        if self.trace:  # the first two regimes of the stream
            two = 2 * gen.WINDOWS_PER_REGIME * gen.WINDOW
            self._stream_detector().fit_stream(self.stream_df.filter(f"offset < {two}"))

    def op(self, tracer) -> tuple[float, float, list[str]]:
        self._release()
        model = self._detector()
        with tracer.span("detection.fit"):
            _, fit_s = timed(lambda: model.fit(self.train_df))
        self.model = model
        bounds = model.pfsa_llk_means + model.pfsa_llk_stds * model.anomaly_sensitivity
        sample = dict(zip(self.inputs["oracle"].tolist(), self._quantized(self.inputs["oracle"])))
        fails, rates = [], []
        for _ in range(self.rates_per_op):
            with tracer.span("detection.predict"):
                pred, pred_s = timed(lambda: model.predict(self.all_df).toPandas())
            rates.append(len(pred) / pred_s)
            fails += check_discover(pred, model.n_clusters, self.inputs["regime"])
            fails += check_oracle(pred, sample, model.library, bounds)
        if tracer.recording:
            fails += self._grow_stream(tracer)
        return fit_s, statistics.median(rates), fails

    def _grow_stream(self, tracer) -> list[str]:
        stream = self.inputs["stream"]
        model = self._stream_detector()
        with tracer.span("detection.fit_stream"):
            model.fit_stream(self.stream_df)
        emergence = list(model.pattern_emergence_times)
        fails = check_stream(emergence, stream["boundaries"], self.first_emergence)
        if self.first_emergence is None:
            self.first_emergence = emergence
        return fails

    def _quantized(self, rows) -> list[np.ndarray]:
        # symbol = number of cut-points <= value (functions.quantize)
        cuts = np.asarray(self.model.quantizer.cutpoints)
        return list(np.searchsorted(cuts, self.inputs["values"][rows], side="right").astype(np.int8))

    def kernels(self, tracer) -> dict[str, float]:
        """Direct calls on this workload's inputs: the stream chop (forced),
        GenESeSS on one regime's training series, llk of the training
        series under the fitted library."""
        from patternly_spark.functions.windowing import split_stream, windows_to_sequences
        from patternly_spark.pfsa.genesess import genesess
        from patternly_spark.pfsa.llk import llk_batch

        def chop():
            windowed = split_stream(self.stream_df, window_size=gen.WINDOW,
                                    window_overlap=0, order_col="offset")
            return windows_to_sequences(windowed, symbol_col="symbol").count()

        with tracer.span("windowing.chop"):
            chop_s = timed(chop)[1]
        head = np.arange(gen.N_TRAIN)
        seqs = self._quantized(head)
        cluster = [s for s, r in zip(seqs, self.inputs["regime"][head]) if r == 0]
        k = self.model.alphabet_size
        with tracer.span("genesess.kernel", spark=False):
            g = median_time(lambda: genesess(cluster, eps=self.model.eps, alphabet_size=k), 5)
        lib = self.model.library
        with tracer.span("llk.kernel", spark=False):
            t = median_time(lambda: [llk_batch(seqs, m) for m in lib], 3)
        return {
            "windowing.chop_s": chop_s,
            "genesess.kernel_s": g,
            "llk.kernel_symbols_per_s": sum(len(s) for s in seqs) * len(lib) / t,
        }


class GraphRounds(Workload):
    name = "graph_rounds"
    item = "edge"
    aliases = ("graph_pass_s", "graph_edges_per_s")

    @staticmethod
    def generate(seed: int) -> dict:
        return gen.graph_inputs(seed)

    def load(self, inputs: dict) -> None:
        self.inputs = inputs
        edges = pd.DataFrame({"src": inputs["src"], "dst": inputs["dst"]})
        self.edges = self.spark.createDataFrame(edges, "src long, dst long").persist()
        self.edges.count()
        self.sources = self.spark.createDataFrame(
            pd.DataFrame({"node": inputs["sources"]}), "node long"
        ).persist()
        self.sources.count()
        self.expected = union_find_components(inputs["src"], inputs["dst"])
        self.first: dict[str, str] | None = None

    def _pass(self, edges, sources, tracer):
        from patternly_spark.operators.graph import bfs_hops, connected_components, core_numbers

        with tracer.span("graph.cc"):
            cc = connected_components(edges).toPandas()
        with tracer.span("graph.core"):
            core = core_numbers(edges).toPandas()
        with tracer.span("graph.bfs"):
            bfs = bfs_hops(edges, sources, max_hops=6).toPandas()
        return cc, core, bfs

    def warm_up(self) -> None:
        src, dst = self.inputs["src"][:WARM_EDGES], self.inputs["dst"][:WARM_EDGES]
        edges = self.spark.createDataFrame(pd.DataFrame({"src": src, "dst": dst}), "src long, dst long")
        sources = self.spark.createDataFrame(pd.DataFrame({"node": np.unique(src[:gen.N_SOURCES])}), "node long")
        self._pass(edges, sources, NullTracer())

    def op(self, tracer) -> tuple[float, float, list[str]]:
        t0 = time.perf_counter()
        cc, core, bfs = self._pass(self.edges, self.sources, tracer)
        wall = time.perf_counter() - t0
        digests = {"connected_components": digest(cc), "core_numbers": digest(core), "bfs_hops": digest(bfs)}
        fails = check_graph(cc, self.expected, digests, self.first)
        if self.first is None:
            self.first = digests
        return wall, len(self.inputs["src"]) / wall, fails


WORKLOADS = {w.name: w for w in (DiscoverFit, GraphRounds)}

"""Stateful continuous PFSA discovery over Structured Streaming (ST1-ST3).

The live-stream counterpart of ``ContinuousStreamingDetection``
(reference ``patternly/detection.py:616-734``): windows arrive as rows of
a streaming DataFrame; per stream key the PFSA library + per-model llk
stats live in ``applyInPandasWithState`` state, and every window goes
through ``detection.GrowingLibrary.step``, the per-window rule
``fit_stream`` runs too: score the window, mint a new PFSA (with
Prun-style bootstrap stats, ST3) when it is anomalous under every model,
at most once per window.  Emergence events are emitted inline (A8).

Ordering: the reference is strictly sequential over one stream; a single
state key per stream preserves that (SURVEY ST1 note) — windows within a
micro-batch are processed in window_id order, and cross-batch order
follows micro-batch order.  Multiple independent streams parallelize
across keys.

State is a JSON blob ``{"models", "means", "stds"}`` (library is tiny:
tens of models x k^2 doubles); payload size is independent of stream
length.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from patternly_spark.detection import GrowingLibrary
from patternly_spark.pfsa.model import PFSA

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("stream_id", T.StringType(), False),
        T.StructField("window_id", T.LongType(), False),
        T.StructField("anomaly", T.BooleanType(), False),
        T.StructField("minted_pfsa", T.IntegerType(), True),
        T.StructField("closest_match", T.IntegerType(), False),
        T.StructField("n_models", T.IntegerType(), False),
    ]
)

STATE_SCHEMA = T.StructType([T.StructField("blob", T.StringType(), True)])


def _run_windows(lib: GrowingLibrary, key, pdfs) -> pd.DataFrame:
    """Step every window of one key's batch through ``lib`` in window_id
    order -> OUTPUT_SCHEMA rows."""
    # Arrow hands the micro-batch over as an iterator of chunks; sorting
    # per chunk would break window order across chunk boundaries, so
    # concatenate first (windows per micro-batch are bounded)
    chunks = [pdf for pdf in pdfs if len(pdf)]
    out_rows = []
    if chunks:
        for _, row in pd.concat(chunks, ignore_index=True).sort_values("window_id").iterrows():
            anomaly, minted, closest = lib.step(np.asarray(row["symbols"], dtype=np.int8))
            out_rows.append((str(key[0]), int(row["window_id"]), anomaly, minted, closest, len(lib.models)))
    return pd.DataFrame(
        out_rows,
        columns=["stream_id", "window_id", "anomaly", "minted_pfsa", "closest_match", "n_models"],
    )


class StreamingPFSADetector:
    """Wire a (stream_id, window_id, symbols) streaming DataFrame through
    ``applyInPandasWithState``.  Works identically on batch DataFrames,
    where each stream's windows are stepped through a fresh library in
    one ``applyInPandas`` group, which is how the batch/stream
    equivalence test pins the semantics."""

    def __init__(self, *, eps: float = 0.2, anomaly_sensitivity: float = 3.0, seed: int = 42, bootstrap_sims: int = 100, alphabet_size: int | None = None) -> None:
        self.eps = eps
        self.anomaly_sensitivity = anomaly_sensitivity
        self.seed = seed
        self.bootstrap_sims = bootstrap_sims
        # fix the symbol alphabet up front when known: a window missing the
        # top symbol would otherwise mint an under-sized model that later
        # windows are unscorable under (P3 inf-guard kicks in)
        self.alphabet_size = alphabet_size

    def _library(self, blob: dict | None = None) -> GrowingLibrary:
        blob = blob or {"models": [], "means": [], "stds": []}
        return GrowingLibrary(
            eps=self.eps, sensitivity=self.anomaly_sensitivity, seed=self.seed,
            alphabet_size=self.alphabet_size, bootstrap_sims=self.bootstrap_sims,
            models=[PFSA.from_dict(d) for d in blob["models"]], means=blob["means"], stds=blob["stds"],
        )

    def _process(self, key, pdfs, state: GroupState):
        lib = self._library(json.loads(state.get[0]) if state.exists else None)
        out = _run_windows(lib, key, pdfs)
        state.update((json.dumps({"models": [m.to_dict() for m in lib.models], "means": lib.means, "stds": lib.stds}),))
        yield out

    def apply(self, windows: DataFrame) -> DataFrame:
        if windows.isStreaming:
            return windows.groupBy("stream_id").applyInPandasWithState(
                self._process,
                outputStructType=OUTPUT_SCHEMA,
                stateStructType=STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        # Spark does not allow applyInPandasWithState on a batch
        # DataFrame; the whole history is one group per stream
        return windows.groupBy("stream_id").applyInPandas(
            lambda key, pdf: _run_windows(self._library(), key, [pdf]), schema=OUTPUT_SCHEMA
        )

"""patternly_spark — a PySpark-native anomaly-discovery analytics engine.

A from-scratch, Spark-first reimplementation of the query and
data-processing capabilities of the ``patternly`` PFSA anomaly-discovery
library (reference: zeroknowledgediscovery/patternly — see SURVEY.md).
Everything here is expressed with the public PySpark DataFrame / SQL /
MLlib / Structured Streaming APIs; the numeric PFSA kernels are pure
numpy inside Arrow-batched pandas UDFs.

Layout
------
- ``session``    : SparkSession factory with deterministic, scale-aware conf;
                   the worker-side zip-directory guard applied below
- ``pfsa``       : PFSA model type, text codec, log-likelihood, simulator,
                   GenESeSS structure/parameter inference
- ``functions``  : quantization, stream windowing, text analytics, vector math
- ``operators``  : dedup (pairs + connected-component clusters), similarity
                   search (exact/LSH/IVF + persisted indexes), temporal
                   (as-of join, sessionization), deterministic sampling,
                   multimodal plumbing
- ``detection``  : AnomalyDetection / StreamingDetection /
                   ContinuousStreamingDetection (sklearn-style fit/predict
                   over Spark DataFrames — mirrors patternly/detection.py API)
- ``streaming``  : Structured Streaming continuous detector
"""

import importlib

from pyspark.core.files import SparkFiles

from patternly_spark.session import guard_zip_invalidation

# every UDF closure imports the package in its Python worker; the driver
# keeps the interpreter's own zipimport (see patternly_spark.session)
if SparkFiles._is_running_on_worker:
    guard_zip_invalidation()

__version__ = "0.1.0"

# public names, imported on first access (PEP 562): a worker that
# unpickles a graph or llk UDF imports only the modules that UDF uses
_EXPORTS = {
    "assert_plan": "patternly_spark.plans",
    "plan_audit": "patternly_spark.plans",
    "embed_library": "patternly_spark.analysis",
    "PFSA": "patternly_spark.pfsa.model",
    "AnomalyDetection": "patternly_spark.detection",
    "StreamingDetection": "patternly_spark.detection",
    "ContinuousStreamingDetection": "patternly_spark.detection",
    "MultiChannelDetection": "patternly_spark.detection",
}

__all__ = list(_EXPORTS)


def __getattr__(name: str):
    if name in _EXPORTS:
        value = getattr(importlib.import_module(_EXPORTS[name]), name)
    else:
        try:  # a subpackage, as ``import patternly_spark`` used to bind them
            value = importlib.import_module(f"{__name__}.{name}")
        except ModuleNotFoundError as e:
            if e.name != f"{__name__}.{name}":
                raise
            raise AttributeError(f"module {__name__!r} has no attribute {name!r}") from None
    globals()[name] = value
    return value


def __dir__() -> list[str]:
    return sorted(set(globals()) | set(_EXPORTS))

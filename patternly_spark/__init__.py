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

from pyspark.core.files import SparkFiles

from patternly_spark.pfsa.model import PFSA
from patternly_spark.analysis import embed_library
from patternly_spark.plans import assert_plan, plan_audit
from patternly_spark.detection import (
    AnomalyDetection,
    StreamingDetection,
    ContinuousStreamingDetection,
    MultiChannelDetection,
)
from patternly_spark.session import guard_zip_invalidation

# every UDF closure imports the package in its Python worker; the driver
# keeps the interpreter's own zipimport (see patternly_spark.session)
if SparkFiles._is_running_on_worker:
    guard_zip_invalidation()

__version__ = "0.1.0"

__all__ = [
    "assert_plan",
    "plan_audit",
    "embed_library",
    "PFSA",
    "AnomalyDetection",
    "StreamingDetection",
    "ContinuousStreamingDetection",
    "MultiChannelDetection",
]

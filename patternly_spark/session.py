"""SparkSession factory with deterministic, scale-aware defaults, and
the import-side setup of the Python workers that run the package's UDFs.

Test/bench runs use ``local[$SPARK_GRAFT_CPUS]`` (default local[*]); on a
real cluster the same conf applies unchanged — AQE handles partition
coalescing and skew joins at any scale.

Workers find the package through the PYTHONPATH ``get_spark`` exports.
A reused worker calls ``importlib.invalidate_caches()`` at the start of
every task, and on Python < 3.13 each zipimporter answers by re-reading
its archive's whole directory: 16 importers over ``pyspark.zip``'s 1,328
entries cost 0.1-0.2 s per task on 4 vCPUs before a UDF body runs.
``guard_zip_invalidation`` makes that re-read happen only when the
archive changed.  The package applies it when a worker first imports it
(every UDF closure does), never in the driver: the driver's imports are
not on the per-task path, and a driver process embedding the package
keeps the interpreter's own import machinery.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

from pyspark.sql import SparkSession


def _env_positive_int(name: str, default: str, *, star: bool = False) -> str:
    """The setting ``name`` as a positive int (or ``*`` when ``star``);
    anything else raises ValueError naming the variable."""
    raw = os.environ.get(name, default)
    if (star and raw == "*") or (raw.isascii() and raw.isdigit() and int(raw) > 0):
        return raw
    allowed = "'*' or a positive integer" if star else "a positive integer"
    raise ValueError(f"{name}={raw!r}: expected {allowed}")


def _env_flag(name: str, default: str) -> bool:
    """The setting ``name`` as one of 0/1/true/false."""
    raw = os.environ.get(name, default)
    if raw not in ("0", "1", "true", "false"):
        raise ValueError(f"{name}={raw!r}: expected one of 0, 1, true, false")
    return raw in ("1", "true")


def guard_zip_invalidation() -> None:
    """Make ``zipimport.zipimporter.invalidate_caches`` re-read an
    archive's directory only when the archive's ``(st_mtime_ns,
    st_size)`` differs from the stamp of its last re-read; otherwise the
    importer takes that read's directory.  A changed, replaced or missing
    archive is re-read as before, and a new path entry still gets a fresh
    importer (CPython 3.13 defers the same re-read for the same reason).
    Applying it twice is a no-op, and so is applying it on 3.13+."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or hasattr(cls.invalidate_caches, "__wrapped__"):
        return
    reread = cls.invalidate_caches
    last: dict[str, tuple[tuple[int, int] | None, dict]] = {}  # archive -> (stamp, directory)

    @functools.wraps(reread)
    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            stamp = None
        else:
            stamp = (st.st_mtime_ns, st.st_size)
        seen = last.get(self.archive)
        if stamp is not None and seen is not None and seen[0] == stamp:
            self._files = seen[1]
            return
        reread(self)
        last[self.archive] = (stamp, self._files)

    cls.invalidate_caches = invalidate_caches


def get_spark(app_name: str = "patternly-spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the session.

    Deterministic settings required by the DuckDB-oracle correctness
    harness: UTC session timezone, fixed shuffle partition count, Arrow
    enabled for pandas-UDF kernels.
    """
    # malformed deployment settings fail here, before any session exists
    cpus = _env_positive_int("SPARK_GRAFT_CPUS", "*", star=True)
    env_partitions = int(_env_positive_int("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    ui = _env_flag("SPARK_GRAFT_UI", "0")
    if shuffle_partitions is None:
        shuffle_partitions = env_partitions

    # make the package importable by spawned Python workers regardless of
    # the consumer's cwd (pandas-UDF kernels unpickle patternly_spark on
    # executors; PYTHONPATH is inherited by worker processes)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_root + (os.pathsep + existing if existing else "")

    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    # GC robustness for large shuffle-sort state (guide §5): sort tasks
    # double their record-pointer arrays into 100 MiB+ allocations —
    # humongous objects spanning 32 contiguous regions under G1's 4 MiB
    # default region size at single-digit-GiB heaps — and when a JNI
    # critical section (lz4/netty) holds the GCLocker, JDK 17 abandons
    # the allocation after 2 retries and throws OOM while the heap still
    # has reclaimable room (observed verbatim in the sf100 rehearsals:
    # "Retried waiting for GCLocker too often allocating 16777218
    # words").  Raise the retry budget and the region size so a 128 MiB
    # array is 4 contiguous regions instead of 32.  Same flags on any
    # cluster size; override/disable with SPARK_GRAFT_GC_OPTS.
    gc_opts = os.environ.get(
        "SPARK_GRAFT_GC_OPTS",
        "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64"
        " -XX:G1HeapRegionSize=32m",
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver testdata stores event time as TIMESTAMP(NANOS), which the
        # vectorized parquet reader rejects; read as long (ns) and convert
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # keep broadcast threshold generous: PFSA libraries / dimension
        # tables are tiny relative to the fact side at any scale factor
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.driver.extraJavaOptions", gc_opts)
        .config("spark.executor.extraJavaOptions", gc_opts)
        # UI off by default (test throughput); scripts/bench_scale.py sets
        # SPARK_GRAFT_UI=1 to read shuffle/spill from the REST API
        .config("spark.ui.enabled", "true" if ui else "false")
    )
    return builder.getOrCreate()


def testdata_dir(sf: str = "0.001") -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", f"/root/testdata/sf{sf}")

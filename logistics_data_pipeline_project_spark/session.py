"""SparkSession factory.

Scale design notes (the settings that matter at 100 TB / 1000 executors):

- **AQE on** (`spark.sql.adaptive.enabled`): runtime coalescing of shuffle
  partitions, skew-join splitting, and dynamic join-strategy switches replace
  hand-tuned `spark.sql.shuffle.partitions` at scale. We still set an explicit
  local default (32 = local core count) so tiny test runs don't create 200
  near-empty partitions per shuffle.
- **UTC, non-ANSI**: the reference's semantics are Snowflake's *lenient* casts
  (`TRY_CAST` returns NULL, division guards via NULLIF — SURVEY §1.3); ANSI
  mode would turn those into runtime errors. Timestamps in the reference are
  TIMESTAMP_NTZ; a UTC session makes Spark's session-tz TimestampType behave
  identically to naive timestamps from parquet.
- **Arrow on**: every toPandas()/pandas_udf crossing is Arrow-batched.
- **Broadcast threshold**: left at Spark's default (10 MB) — dimension tables
  in this model (region/nation/supplier/part ≈ KBs..MBs even at sf100) stay
  broadcast-able; facts never are. Individual operators additionally hint
  `broadcast()` where dimensional-ness is known statically.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

#: Defaults applied to every session this engine creates.
ENGINE_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Partition sizing: 128 MB input splits is the sweet spot for parquet
    # scans; AQE advisory target keeps post-shuffle partitions ~64 MB.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "67108864",
    # Local test runs: 32 shuffle partitions (= local[32]); on a real
    # cluster this is overridden by AQE coalescing + initialPartitionNum.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.parquet.compression.codec": "snappy",
    # The driver's parquet timestamps are tz-naive TIMESTAMP(MICROS). Read
    # them as session-tz TimestampType (not TIMESTAMP_NTZ): with the UTC
    # session the values are identical to naive, and the whole function
    # surface (unix_micros, window(), date arithmetic) applies uniformly.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Older testdata generations stored events.ts as TIMESTAMP(NANOS);
    # with this flag Spark reads those as LongType nanos and io_utils.load
    # converts to microsecond TimestampType (truncating — matching DuckDB).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Bind the UI off in test containers; harmless on clusters that set it.
    "spark.ui.enabled": "false",
    # localCheckpoint blocks are only released when the JVM's weak-ref
    # ContextCleaner fires, which needs a GC; the 30-min default means a
    # long-lived session (a bench pass, a multi-tenant driver) accumulates
    # superseded checkpoint blocks until the storage region thrashes —
    # measured 4x degradation on identical reruns of the iterative
    # operators before iterative loops freed rounds explicitly
    # (operators/dedup.py::connected_components) and this interval was
    # tightened for the one-shot checkpoint sites the loops can't cover.
    "spark.cleaner.periodicGC.interval": "2min",
}


def _zipfast_worker_conf(master: str) -> dict[str, str]:
    """Worker-module shim activation (guide §4 — the Python boundary).

    Stock ``pyspark.worker`` re-reads the entire ``pyspark.zip`` /
    ``py4j.zip`` central directory on EVERY task
    (``setup_spark_files`` → ``importlib.invalidate_caches()`` →
    ``zipimport._read_directory``): ~0.2 CPU-s of pure protocol tax per
    Python task, any UDF flavor.  ``pyspark_zipfast_worker`` (repo
    root) is the stock worker with only that zip re-read skipped.

    Local masters inherit the driver's environment, so making the shim
    importable is just a PYTHONPATH prepend before the JVM launches.
    On a cluster, ship the file with ``--py-files`` and set
    ``spark.python.worker.module=pyspark_zipfast_worker`` yourself —
    this helper deliberately stays out of the way there because a
    worker that cannot import the module would fail every Python stage.
    """
    if not master.startswith("local"):
        return {}
    shim_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isfile(os.path.join(shim_dir, "pyspark_zipfast_worker.py")):
        return {}
    # The daemon is spawned by the JVM with the JVM's environment; the
    # JVM inherits ours when the gateway launches (getOrCreate below),
    # so the prepend must happen NOW, not after the session exists.
    pypath = os.environ.get("PYTHONPATH", "")
    if shim_dir not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            shim_dir + os.pathsep + pypath if pypath else shim_dir
        )
    conf = {"spark.python.worker.module": "pyspark_zipfast_worker"}
    # Round-11 companion shim: stock pyspark.daemon runs a FULL
    # gc.collect() after EVERY task in the reused-worker loop (~12-31 ms
    # of CPU per task on a worker heap with pandas/numpy/pyarrow
    # imported — the dominant remaining per-task Python tax after the
    # zip-TOC fix).  pyspark_zipfast_daemon swaps it for a gen-1 collect
    # per task + full collect every 64 tasks.  Same distribution story
    # as the worker shim (PYTHONPATH locally, --py-files on a cluster).
    if os.path.isfile(os.path.join(shim_dir, "pyspark_zipfast_daemon.py")):
        conf["spark.python.daemon.module"] = "pyspark_zipfast_daemon"
    return conf


def get_spark(
    app_name: str = "logistics-data-pipeline-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster master
    is configured — in production deployments spark-submit supplies the
    master and these builder calls are no-ops.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    resolved_master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(resolved_master)
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    for k, v in _zipfast_worker_conf(resolved_master).items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable conf to an externally-created
    session (the driver hands us one in ``__spark_entry__.entry``). A conf
    the running session refuses is logged as a warning and skipped."""
    for k, v in ENGINE_CONF.items():
        if not k.startswith(("spark.ui",)):
            try:
                spark.conf.set(k, v)
            except Exception as exc:
                # a static conf on a running session: keep going, but say so
                _log.warning("tune_session: could not set %s=%s: %s", k, v, exc)
    return spark

"""SparkSession factory tuned for this engine.

The reference tunes a worker pool + channel buffers
(reference: engine/orchestrator.go:18-22, README.md:158-167); here the
equivalent knobs are partition counts and AQE, set once at session build.

Scale notes (100 TB / 1000-executor design):
- AQE on (runtime coalesce + skew-join splitting) so the same code runs
  unchanged from local[8] to a large cluster.
- `spark.sql.shuffle.partitions` defaults to the local core count here;
  on a real cluster you set it to ~2-3x total cores (or rely on AQE
  coalescing from a high initial number).
- Arrow enabled: the only Python<->JVM crossings in the pipeline are
  Arrow record batches inside pandas UDFs.
- Session timezone pinned to UTC so results are byte-comparable with the
  DuckDB oracle and stable across machines.
- Compiled generated classes are reused across queries of one shape:
  Spark's per-JVM codegen class cache is an LRU keyed by generated
  source, and its 100-entry default is smaller than the engine's
  working set (one curate pass ~124 classes, one ingest unit ~203), so
  every class was evicted before its next use and Janino and the JIT
  redid the work on each repeat. The long-lived JVMs (server, streams)
  serve repeated shapes, so the cache holds several working sets.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Entries in the JVM-wide cache of compiled generated classes
# (``spark.sql.codegen.cache.maxEntries``, static, default 100); ~5x the
# largest measured working set. Measured: one curate pass compiles 123
# classes cold, one ingest unit uses ~203 distinct cache keys; at 100 a
# warm curate pass recompiled ~52 classes, 10.3 of its 17.2 JVM CPU-s.
CODEGEN_CACHE_MAX_ENTRIES = 1000


def engine_sql_confs(shuffle_partitions: int | None = None) -> dict[str, str]:
    """SQL confs the engine depends on, for ``SparkSession.builder``.

    Every session builder applies them before ``getOrCreate()``:
    :func:`get_spark` (local sessions), ``main.py``'s spark-submit path
    (master/memory come from the submit command) and
    ``scripts/standalone_scaling.py``. Some are static (the codegen
    cache size), so they take effect only on a new session's builder,
    never through ``spark.conf.set``.
    """
    confs = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # duplicate JSON map keys keep-last, exactly like Python's
        # json.loads — required for the hybrid parse's codegen JSON
        # branch to match the Arrow UDF bit-for-bit (operators/parse.py)
        "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
        # 20k rows/batch: fewer JVM<->Python round-trips per task; measured
        # 15% off the parse+route wall at 32 cores vs 10k (50k: no better)
        "spark.sql.execution.arrow.maxRecordsPerBatch": "20000",
        "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_MAX_ENTRIES),
    }
    if shuffle_partitions:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    return confs


def get_spark(
    cores: int | None = None,
    app_name: str = "logzilla_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession with engine defaults.

    ``cores`` sets local parallelism (``local[cores]``); it is the
    sandbox stand-in for executor count, used by the N-vs-4N scaling
    benchmark (BASELINE.md target: efficiency >= 0.8).
    """
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.default.parallelism", str(cores))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # 32 concurrent tasks allocating row objects (maps/strings) GC-thrash
        # the default collector; G1 with a bounded pause target keeps the
        # allocation storm off the critical path (measured 5x on persist).
        .config("spark.driver.extraJavaOptions", "-XX:+UseG1GC -XX:MaxGCPauseMillis=200")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        # when the deployment sets spark.checkpoint.dir, iterative loops
        # (CC, BPE training) truncate with reliable checkpoints; their
        # files are deleted once the DataFrame is dereferenced —
        # otherwise a k-round loop leaves k vocab-sized snapshots in
        # the checkpoint store (functions/caching.py)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # Local corpora are a few MB-GB, so the default 128m split size
        # would serialize the CPU-heavy parse stage onto a handful of
        # tasks; 4m keeps scan parallelism ~10 tasks/core at the bench
        # scale (measured best: 2m's extra tasks cost more in per-task
        # deserialize/dispatch than they buy). On a real cluster (many
        # multi-GB files) leave the 128m default.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m"),
        )
        .config("spark.sql.files.openCostInBytes", "65536")
        # Write timestamps as INT64 micros, not the legacy INT96:
        # INT96 parquet columns carry NO min/max footer statistics, so
        # every range read over `timestamp` (the search path's
        # mandatory ts predicate) scans every row group of every sink
        # file. With INT64 the footers carry stats and the clustered
        # writes (cluster_by) make them disjoint -> file/row-group
        # skipping actually fires. Spark reads both encodings, so
        # existing tables stay readable.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    for k, v in engine_sql_confs(shuffle_partitions).items():
        builder = builder.config(k, v)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()

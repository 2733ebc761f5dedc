"""SparkSession construction with scale-aware defaults.

Reference analog: gomrjob's ``Runner.LoadAndValidateFlags`` + job submission
(/root/reference/runner.go:68-96, hdfs/job.go:45-70) — env-var driven config
feeding a cluster submission. Here the "submission" is a SparkSession; the
same knobs (parallelism, compression, temp paths) become Spark confs.

Defaults are tuned for the local[32] test harness but chosen to be the
*right shape* for a 1000-executor cluster:

- AQE on (runtime coalescing, skew-join splitting) so the static
  ``shuffle.partitions`` value only needs to be an upper bound.
- Arrow enabled for every Python<->JVM hop (Pandas UDFs are the slow path;
  Arrow batching is what keeps them viable).
- UTC session timezone so results are oracle-comparable (DuckDB timestamps
  are UTC-naive).
- Broadcast threshold raised to 32 MB (default is 10 MB) so every
  dimension table (region, nation, supplier, part, customer at bench SFs)
  broadcasts; fact-fact joins still shuffle.
- Python workers fork from the engine's own daemon,
  ``gomrjob_spark.worker_daemon`` (Spark's ``spark.python.daemon.module``).
  Before CPython 3.13 every Python task re-read the whole ``pyspark.zip``
  directory once per zip importer, about 0.2 CPU-s a task; the daemon
  re-reads only an archive that changed. From CPython 3.13 the re-read
  is lazy anyway and the daemon is plain ``pyspark.daemon``. The engine's
  root directory goes on the workers' ``PYTHONPATH`` so they can import
  the daemon from any working directory.
- The codegen cache (``spark.sql.codegen.cache.maxEntries``) holds 8192
  generated classes, not Spark's 100. A query that ran before then
  reuses its Janino-compiled classes, and HotSpot keeps their JIT-compiled
  code; a class compiled again is new code to the JIT. Spark splits the
  cache into 4 segments that each evict at a quarter of the bound, so
  100 held too few for one round of the benchmark's crawl jobs (92
  classes): on each of 4 seeds measured, every warm round recompiled
  10-46 of them.
  Every registered query, run once in one session at sf0.001, compiles
  3803 distinct classes, and a second pass 190 more (classes whose code
  changes from run to run); 8192 holds that working set with room for
  segment skew. After one such pass Metaspace held 238 MB at 8192 (two
  runs) and 214 or 252 MB at the default bound, which compiled 6312
  classes in the pass and frees a dropped class only when a GC unloads
  it.
- The driver JVM starts with HotSpot's C2 (tier-4) thresholds at 4x
  their defaults (``_DRIVER_JIT_OPTIONS``, under
  ``spark.driver.defaultJavaOptions``, which a caller's
  ``spark.driver.extraJavaOptions`` adds to instead of replacing). The
  engine plans and runs many short queries in one JVM, and much of a
  short query's CPU is HotSpot compiling Spark's own code with C2:
  Catalyst rules and tree walks are called a few thousand times per
  query, enough to reach the default thresholds round after round. They
  now stay on C1 code; generated code, whose loops and per-row calls
  pass the thresholds at once, still reaches C2. Over rounds 3-6 of
  the benchmark's three crawl queries in one session, C2 thread CPU
  fell from 10.7 s to 5.5-6.1 s while executor-task CPU stayed level,
  and ``crawl_dedup`` job CPU fell from 2.47 to 1.99 s (medians of 10
  alternating pairs, 4-core VM; the change lower in all 10). C1 alone
  (``-XX:TieredStopAtLevel=1``) also cut job CPU, but tripled the
  connected-components query's executor CPU. SCALING.md, "JIT policy
  for a planning-bound driver", has the measurements.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "gomrjob_spark"

_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"
# HotSpot's C2 (tier-4) thresholds, 4x the defaults of 5000, 600 and
# 15000; the back-edge (OSR) and tier-3 thresholds keep their defaults.
_DRIVER_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=20000 -XX:Tier4MinInvocationThreshold=2400 -XX:Tier4CompileThreshold=30000"
)


def _env_cpus() -> int:
    try:
        return max(1, int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    except ValueError:
        return 32


def get_session(
    app_name: str = DEFAULT_APP_NAME,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``cpus`` defaults from $SPARK_GRAFT_CPUS (driver contract); shuffle
    partitions default to the core count — at cluster scale callers set it
    to ~2-3x total cores and let AQE coalesce.

    Production posture for long-running stateful streaming (the
    incremental-dedup topology and session windows): pass
    ``extra_conf={"spark.sql.streaming.stateStore.providerClass":
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled":
    "true"}`` so dedup/window state spills off-heap and checkpoints
    incrementally instead of living in executor heap — at 100 TB the
    admitted-fingerprint state inside one watermark window is still
    millions of rows per partition. Not defaulted here: the local test
    harness exercises both providers' semantics identically and HDFS-
    backed checkpoints aren't present in the sandbox.
    """
    cpus = cpus or _env_cpus()
    shuffle_partitions = shuffle_partitions or cpus
    extra_conf = dict(extra_conf or {})
    worker_path = [p for p in (extra_conf.pop(_WORKER_PYTHONPATH, None), _ENGINE_ROOT) if p]

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        # local-only: let spread() widen single-split test files without
        # inspecting .rdd at plan time (no-op on real clusters — unset)
        .config("spark.gomrjob.spread.partitions", str(cpus))
        .config("spark.python.daemon.module", "gomrjob_spark.worker_daemon")
        .config(_WORKER_PYTHONPATH, os.pathsep.join(worker_path))
        # Spark puts a caller's spark.driver.extraJavaOptions after this
        # key instead of replacing it
        .config("spark.driver.defaultJavaOptions", _DRIVER_JIT_OPTIONS)
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

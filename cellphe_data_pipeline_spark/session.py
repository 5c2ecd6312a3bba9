"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads);
the same config block is what we would ship to a 1000-executor cluster —
the only per-deployment knobs are master/shuffle-partition count.

Scale rationale (100 TB target):
- AQE on (coalesce partitions + skew-join splitting) so the static
  ``spark.sql.shuffle.partitions`` only needs to be an upper bound; on a
  real cluster set it to ~2-3x total cores and let AQE coalesce.
- Arrow transfer on: every pandas-UDF kernel (wavelets, image decode)
  moves columnar batches, not pickled rows.
- Session timezone pinned to UTC: deterministic timestamp semantics,
  required for DuckDB-oracle hash equality.
- 128 MiB parquet split size: keeps per-task input bounded so executor
  memory sizing is independent of total data volume.
- Python workers start from the engine's daemon entry
  (``cellphe_data_pipeline_spark.worker``), which stops every task from
  re-reading the pyspark/py4j zip directories; the package's parent
  directory is put on the workers' ``PYTHONPATH`` so they can import it
  whatever the calling process's working directory and environment.
- Generated-class cache sized to the engine's working set: one pipeline
  run compiles 148 distinct codegen classes, but Spark 4.1.2's LRU
  cache (``spark.sql.codegen.cache.maxEntries``) holds 100 by default,
  so every repeat of the same plan evicted and recompiled them (144
  Janino compiles per run on the small-frame benchmark, 7-14 ms each,
  ≈1 s of driver work per run). 1000 entries keep a run's classes
  resident with a wide margin; a generated class is ≈2 KB of bytecode,
  so the cache stays a few MB. ``tests/test_session.py`` pins that no
  repeat of a pipeline run compiles a class again.
- One Python worker pool per session. Spark starts one daemon, with its
  forked workers, per distinct task environment, and a pickled
  PythonRDD job (what a list-of-tuples ``createDataFrame`` runs) has a
  different environment from the SQL Arrow runners: they add
  ``SPARK_SIMPLIFIED_TRACEBACK``. The engine therefore builds every
  relation of driver rows through Arrow
  (``sources.io.from_driver_rows``), which runs no Python task, and a
  pipeline run starts no second daemon (≈64 MB plus ≈51 MB per forked
  worker). ``python_worker_pools`` reads the count; ``tests/
  test_session.py`` pins it at 1 after a CLI run.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.errors import SparkNoSuchElementException
from pyspark.sql import SparkSession

#: directory holding the package, for the Python workers' import path
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "cellphe-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master=None`` → ``local[$SPARK_GRAFT_CPUS]`` (driver contract);
    on a cluster, pass the real master / rely on spark-submit.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r16: AQE's coalescing floor (default 1 MiB) decides the
        # MINIMUM post-shuffle partition size, and with
        # parallelismFirst=true (default) it is also the coalescing
        # TARGET. At byte-light/CPU-heavy stages (window chains over
        # narrow rows) the 1 MiB floor collapses the post-shuffle stage
        # to 1-4 tasks and serialises the work (measured at sf0.1,
        # ABBA-interleaved: m5's window chain median 0.61s at a 256 KiB
        # floor vs 1.06s at 1 MiB; a8 similar; shuffle-chain queries
        # j10/t6 within noise). 64-128 KiB floors over-fragment the
        # multi-exchange queries, so 256 KiB is the measured optimum.
        # The floor only ever SPLITS nothing — partitions bigger than it
        # are untouched — so at 100 TB (partitions >> 1 MiB) the knob is
        # inert. Env-overridable for deployments whose per-task overhead
        # dominates at 256 KiB.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PART", "262144"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE demote sort-merge joins to shuffled-hash when the
        # per-partition build side fits 128 MiB (default 0 disables the
        # rule entirely): bucket/grid/band keys are massively duplicated
        # in this engine's join family, and SMJ's per-key-group handling
        # measured 9-12x slower than SHJ on them (SCALE.md r7, j7
        # 13.0s -> 1.1s). The explicit SHUFFLE_HASH hints on the grid
        # joins stay as plan-tested guarantees; this conf extends the
        # same protection, stat-driven and memory-bounded, to every
        # other join at runtime.
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "134217728")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bound pandas-UDF batch memory: image rows carry raster payloads,
        # so a 10k-row default Arrow batch could hold GBs (SURVEY §7 hard
        # part #6); 256 rows bounds executor memory independent of corpus
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        # The driver's events.parquet stores TIMESTAMP(NANOS) which Spark's
        # vectorized reader rejects (PARQUET_TYPE_ILLEGAL); read as long nanos
        # and convert in sources.tables.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "33554432")
        # static conf, read once per JVM when the codegen cache is built
        # (the JVM's first generated class); see the module docstring
        # for the 148-class working set it must hold
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    conf = dict(extra_conf or {})
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (_PACKAGE_PARENT, conf.get("spark.executorEnv.PYTHONPATH")) if p
    )
    conf["spark.python.daemon.module"] = "cellphe_data_pipeline_spark.worker"
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def session_confs(spark: SparkSession, confs: dict):
    """Scoped session-conf overrides: set every ``confs`` key for the
    duration of the block and restore the previous values on exit,
    also when the block raises. The one place the engine mutates a
    running session's conf (``sources.tables`` sets the session's
    read settings once, at load).

    Runtime settings such as AQE thresholds and shuffle-partition counts
    are read when a plan EXECUTES, so the caller materialises inside the
    scope. Values are restored, not set-state: ``spark.conf.get``
    returns the engine default without raising for most SQL confs, so a
    key never explicitly set before is restored by re-setting that
    default; only keys without a default are unset."""
    saved = {}
    try:
        for key, v in confs.items():
            try:
                saved[key] = spark.conf.get(key)
            except SparkNoSuchElementException:
                saved[key] = None
            spark.conf.set(key, str(v))
        yield
    finally:
        for key, v in saved.items():
            if v is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, v)


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles this JVM has done so far (Spark's
    ``CodegenMetrics``). A repeat of a plan whose classes the cache holds
    adds none."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def python_worker_pools(spark: SparkSession) -> int:
    """Python worker pools (one daemon each) this JVM has started.
    Spark keys a pool by the task's Python executable, daemon module
    and worker environment; every engine task shares one key, so a
    pipeline session holds exactly one pool."""
    return spark._jvm.org.apache.spark.SparkEnv.get().pythonWorkers().size()

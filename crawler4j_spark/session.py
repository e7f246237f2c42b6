"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark"]


def _warm_parquet_path(spark: SparkSession) -> None:
    """One-time per-JVM warmup of the heavyweight lazily-initialized
    execution paths (guide §4.5 "initialise heavyweight state once").

    A fresh JVM/session pays multi-second one-off costs on the FIRST query
    that touches each engine path, and that cost lands on whatever query a
    caller happens to run first (guide §1: measure the query, not session
    start-up):

    * parquet write+read: datasource/codec class loading,
      InMemoryFileIndex, the vectorized reader, codegen (~1-2 s);
    * the Python/Arrow boundary: the Python worker DAEMON plus one worker
      fork per core, each importing pyspark/pandas/pyarrow (~2 s with 32
      cores — workers are reused afterwards, so this is purely front-load);
    * broadcast-join machinery (driver-side relation build path).

    Runs once per session (guarded by a runtime conf flag); disable with
    SPARK_GRAFT_NO_WARMUP=1."""
    flag = "spark.crawler4j.parquetWarmed"
    if os.environ.get("SPARK_GRAFT_NO_WARMUP"):
        return
    try:
        if spark.conf.get(flag, "") == "1":
            return
    except Exception:
        pass
    d = tempfile.mkdtemp(prefix="c4j-warm-")
    try:
        p = os.path.join(d, "w.parquet")
        spark.range(2).selectExpr(
            "id", "cast(id as string) s").write.mode("overwrite").parquet(p)
        spark.read.parquet(p).selectExpr("max(id)", "max(s)").collect()

        # fork the per-core Python worker pool (reused by later queries)
        from pyspark.sql import functions as F

        cores = spark.sparkContext.defaultParallelism

        def _touch(batches):
            for b in batches:
                yield b

        (spark.range(cores * 4, numPartitions=cores)
         .mapInArrow(_touch, "id long").selectExpr("count(1)").collect())

        # broadcast hash-join build path
        small = spark.range(4)
        (spark.range(16).join(F.broadcast(small), "id").selectExpr(
            "count(1)").collect())
        spark.conf.set(flag, "1")
    except Exception:
        pass  # warmup is best-effort; never block session creation
    finally:
        shutil.rmtree(d, ignore_errors=True)


def get_spark(
    app_name: str = "crawler4j-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """The engine's session (reused if one is already active).

    ``spark.sql.codegen.cache.maxEntries`` (a static conf, so it only takes
    effect for a new JVM) is raised from Spark's 100 to 1000: a crawl round
    needs about 175-180 distinct generated classes, so with the default the
    least-recently-used classes are evicted before the next round reuses
    them and every round recompiles about 175 classes with Janino (about
    0.6 s of driver time per round). 1000 holds a whole round with headroom
    for the few classes each round adds (round-number literals)."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # split staged-table reads into at least one partition per core —
        # the engine's per-round intermediates are far smaller than the
        # 128MB default split, which would serialize pandas-UDF stages
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    # experiment passthrough (e.g. the 8→32 contention matrix in
    # BENCH/APPENDICES.md): ';'-separated key=value pairs, applied LAST so
    # an experiment can override any default without a code fork
    for kv in filter(None,
                     os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";")):
        k, _, v = kv.partition("=")
        if k.strip():
            b = b.config(k.strip(), v.strip())
    spark = b.getOrCreate()
    _warm_parquet_path(spark)
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()

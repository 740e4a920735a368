"""SparkSession factory.

Local testing runs on ``local[N]`` but every config default is chosen
for the scale-out case (AQE on, shuffle partitions sized, Arrow on for
the pandas-UDF slow path, UTC session tz for timestamp parity with the
reference's tz normalization at build_graph.py:181-187).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "odsc_spark_engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    On a real cluster, ``master``/memory come from spark-submit; local
    runs default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing at the guide §2.2 / stock-Spark baseline:
        # parallelismFirst=true with a 64 MB advisory. History of this
        # pair, because it flip-flopped: r13 shipped parallelismFirst=
        # false + a 1 MB advisory after a probe showed false+64m
        # collapsing byte-small but CPU-DENSE post-shuffle stages onto
        # one core (q63 4.9 s → 19.4 s) — the dangerous combination is
        # the FLAG=false with a large advisory, because only then does
        # the advisory alone decide the post-shuffle task count. The
        # r13 1 MB default was never driver-verified ("inconclusive
        # under host noise"), was the prime suspect for the r13
        # q101/tiny-query regressions, and at 100 TB a 1 MB advisory
        # effectively disables crumb coalescing. The r14 A/B (4 runs
        # per query, both configs, same protocol) measured the stock
        # default AT OR BETTER on every cell the 1 MB setting was
        # meant to help (q63 5.04 vs 5.40, q82 2.78 vs 3.55, q38/q78/
        # q97/q100 flat) and equal on the q101/tiny-query set — so the
        # scale-safe stock default ships, and the local-profile
        # escape hatches stay env-tunable for future A/Bs.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            os.environ.get("SPARK_GRAFT_PARALLELISM_FIRST", "true"),
        )
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_MB", "64") + "m",
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Compiled codegen classes are cached per JVM, 100 by default.
        # One curation cycle (build_curation_pipeline + the final
        # write, then a near-dup admit + index extend) compiles about
        # 115 + 85 distinct classes, so the default LRU evicted every
        # class before its next use and each operation recompiled all
        # of them (12-16 ms per class on a C1-only JVM, 4 vCPUs). The
        # cache is keyed by the generated source, and a whole-stage
        # class is named after its codegen stage id by default; under
        # AQE that id depends on the order in which stages were
        # planned, so even a cached stage recompiled whenever its
        # number moved. With 1000 entries and one class name, a
        # process running that cycle levels off at about 180 compiled
        # classes, and a warm operation compiles 0-8 (the remainder
        # are joins AQE re-planned because their inputs finished in
        # another order).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.codegen.useIdInClassName", "false")
        # Fresh python worker per task: with reuse on, Spark 4.1's
        # idle-worker pool intermittently hands later Arrow stages a
        # stale worker whose handshake stalls the whole stage 10-30 s
        # (measured: a kNN query after an IVF query went 5 s → 15-36 s;
        # reuse=false removes the stall for a ~100 ms/task fork cost,
        # noise for the seconds-long kernel tasks this engine runs).
        # Env-tunable since r14 so the reuse=true + idle-timeout
        # combination (Spark 4's idleTimeoutSeconds/killOnIdleTimeout
        # retire stale pool workers — the stall's suspected cause) can
        # be soaked against the kNN-after-IVF repro without editing
        # code; the default stays false until a soak longer than the
        # r13 3-round probe clears it (see OPTIMIZATION_r14.md).
        .config(
            "spark.python.worker.reuse",
            os.environ.get("SPARK_GRAFT_WORKER_REUSE", "false"),
        )
        .config("spark.python.worker.idleTimeoutSeconds", "30")
        .config("spark.python.worker.killOnIdleTimeout", "true")
    )
    # With reuse=false every task forks a fresh worker; the dominant
    # fork cost is importing numpy/pandas/pyarrow (~300 ms). Forking
    # from a daemon that PRELOADED them (copy-on-write) keeps the
    # fresh-worker semantics at ~10 ms/task. Guarded: only set when
    # this interpreter can import the module (workers share the
    # interpreter in local mode; on a cluster ship the package).
    import importlib.util

    extra_conf = dict(extra_conf or {})
    spec = importlib.util.find_spec(
        "odsc_agentic_ai_summit_2025_spark.daemon_preload"
    )
    if spec:
        builder = builder.config(
            "spark.python.daemon.module",
            "odsc_agentic_ai_summit_2025_spark.daemon_preload",
        )
        # the workers must import the package from wherever this
        # driver found it: a driver that imported it through a
        # sys.path insert has no PYTHONPATH entry for it, and without
        # this every Python stage fails with ModuleNotFoundError
        from pyspark import SparkConf

        key = "spark.executorEnv.PYTHONPATH"
        root = os.path.dirname(os.path.dirname(os.path.abspath(spec.origin)))
        paths = extra_conf.get(key) or SparkConf().get(key) or ""
        extra_conf[key] = os.pathsep.join(
            [root] + [p for p in paths.split(os.pathsep) if p and p != root]
        )
    builder = (
        builder
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

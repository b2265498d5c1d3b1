"""SparkSession factory tuned for this engine.

Local mode is used for tests/bench; the same settings are the right
defaults on a real cluster (AQE, adaptive coalescing/skew handling,
Arrow for the few Pandas-UDF paths, UTC session time so results are
comparable with timezone-naive engines such as the DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _local_jvm_conf(master: str) -> dict[str, str]:
    """JVM options for a driver that also runs every task (``local`` or
    ``local[...]``); empty for any cluster master.

    One C1 and one C2 compiler thread instead of JDK 17's one C1 and
    two C2 on a 4-core host. In local mode the compiler threads compete
    with the N task slots and the py4j planning threads for the same
    cores, and C2 compiling generated code was the JVM's largest CPU
    user: 49.3 of 101.2 s in one whole perfbench ``analytics`` run on
    4 cores, against 14.9 s for the task threads.

    Interleaved perfbench A/B, 10 pairs per workload, 4 cores, medians:
    ``analytics`` cpu_s 36.44 -> 27.75 s (-24%, lower in 10/10 pairs),
    wall_s 11.40 -> 11.72 s (within noise), peak_rss_mb -2%; ``intake``
    cpu_s 45.09 -> 37.43 s (-17%), wall_s 15.06 -> 14.43 s. C1 only
    (``-XX:TieredStopAtLevel=1``) halved cpu_s but made analytics
    wall_s 9-16% worse, and raising the Tier4 thresholds added nothing.

    Passed as ``spark.driver.defaultJavaOptions``, which Spark prepends
    to ``spark.driver.extraJavaOptions``, so a caller's own JVM options
    survive. Like ``spark.driver.memory`` it only takes effect when
    this call launches the JVM. A cluster driver runs no tasks, and
    nothing was measured there, so it is left alone.
    """
    if master == "local" or master.startswith("local["):
        return {"spark.driver.defaultJavaOptions": "-XX:CICompilerCount=2"}
    return {}


def get_spark(
    app_name: str = "efiche_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    On a cluster the ``master``/memory settings come from spark-submit;
    everything set here is safe for both local[N] and 1000-executor
    deployments.
    """
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local[N] runs everything in the driver JVM; the 1 GB default
        # heap starves 32 concurrent tasks (parquet writers were
        # observed scaling row groups down under heap pressure). Only
        # effective when this call actually launches the JVM.
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        )
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # AQE: runtime partition coalescing, skew-join splitting, and
        # dynamic broadcast conversion — the levers that keep the same
        # logical plans healthy at 100x the data.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Dims up to ~64 MB broadcast instead of shuffling the fact
        # side — cheap on executors with multi-GB heaps; joins whose
        # build side outgrows this (per-procedure / per-patient dims at
        # 100 TB) still degrade gracefully to shuffle joins via AQE
        # rather than failing, which is why the code hints broadcast
        # only for provably bounded dims.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # AQE sort-merge→shuffled-hash rewrite when EVERY post-shuffle
        # partition's build side fits locally (runtime sizes, not
        # planner estimates, so it can never pick a build side that
        # doesn't fit): skips the sort on the many small keyed joins
        # the incremental folds run. Interleaved A/B at sf0.1
        # (OPTIMIZATION_r12.md): q103 -13%, q121 -7%, no regressions.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        # v2 file-output commit (task commit renames directly into the
        # destination instead of a second job-commit rename pass). v2's
        # caveat — a failed job can leave task-committed files visible —
        # is already this store's documented crash model: every crash
        # matrix assumes PARTIALLY VISIBLE appends (keyed/anti-join
        # commits replay the missing suffix; position projections are
        # multisets with duplicate-robust readers), and versioned
        # commits are guarded by their own marker/claim files. The
        # job-commit rename layer is therefore pure overhead on the
        # ~25-file writes each incremental fold commits.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # Arrow batches for the pandas_udf / toPandas paths.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The oracle (DuckDB) is timezone-naive; pin UTC so timestamp
        # semantics agree.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**_local_jvm_conf(master), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""SparkSession factory tuned for the pipeline.

Local mode is the sandbox stand-in for a multi-executor cluster; every knob
here scales with cores so the same code runs under spark-submit on a real
cluster (see plans/submit.py for the --py-files path).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 8


def get_spark(app_name: str = "logparse_rs_spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    - shuffle partitions ≈ cores locally (cluster deployments raise it to
      ~2-3x total executor cores; at 100 TB you want thousands, sized so a
      post-shuffle partition is 100-500 MB — AQE coalescing trims the rest).
    - AQE on: runtime partition coalescing + skew-join splitting.
    - Arrow batches sized so the Python parse stage amortizes crossing costs
      (the analog of the reference's --batch-size knob, README.md:283).
    """
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # Execution-mode selection (the sandbox stand-in for cluster size):
    #   default            -> local[cores]: one JVM, `cores` task threads
    #   SPARK_GRAFT_MASTER -> template, e.g. "local-cluster[{execs},{exec_cores},8192]":
    #                         SEPARATE executor JVMs on this machine — the
    #                         closest local analog of "N executors vs 4N
    #                         executors" (each executor is its own process,
    #                         its own heap, its own Python workers), and it
    #                         sidesteps the single-JVM >8-thread kernel
    #                         pathology documented in BENCH/NOTES.md §6.
    master_tpl = os.environ.get("SPARK_GRAFT_MASTER")
    exec_cores = int(os.environ.get("SPARK_GRAFT_EXEC_CORES", "2"))
    if master_tpl:
        # total task slots must equal `cores` EXACTLY — a scaling
        # comparison that silently rounds (e.g. cores=1 -> 1 executor x 2
        # cores = 2 slots) would measure the wrong ratio
        if cores < exec_cores:
            exec_cores = cores
        if cores % exec_cores:
            raise ValueError(
                f"cores={cores} not divisible by exec_cores={exec_cores}; "
                "set SPARK_GRAFT_EXEC_CORES to a divisor")
        n_execs = cores // exec_cores
        master = master_tpl.format(cores=cores, execs=n_execs,
                                   exec_cores=exec_cores)
    else:
        master = f"local[{cores}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # commit algorithm 2: task output renames directly to the final
        # location — the v1 job-commit pass over 13 sinks x hundreds of
        # bucket dirs is pure serial rename latency on this filesystem
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
                "2")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        # scan-split sizing: the fan-out sinks evaluate their (wide,
        # expression-heavy) projections in the parquet READ stage; at the
        # default 128 MB a partition-pruned per-type read collapses to 1-2
        # tasks and the whole sink job runs serial no matter how many cores
        # exist. 16 MB splits keep scan stages at >= cores tasks at bench
        # scale; on a real cluster the same ratio holds against bigger files.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "1m")
        # local mode = one JVM doing the work of every executor: size the
        # heap for cores * concurrent task memory (32 threads on 8g thrashes
        # GC and anti-scales; this box has 128 GiB)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # G1 with a preallocated region pool: -Xms=-Xmx avoids heap-resize
        # page churn, which is expensive under this virtualized kernel.
        # (ParallelGC measured 6x faster on a codegen-only probe but 2-4x
        # SLOWER on the real pipeline — G1 + fixed heap is the net winner.)
        .config("spark.driver.extraJavaOptions",
                os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS",
                               "-XX:+UseG1GC"))
        .config("spark.ui.enabled", "false")
        # Python workers fork from logparse_rs_spark.pydaemon: a task no
        # longer re-reads pyspark.zip, and a new worker starts with pandas
        # and pyarrow loaded (README "Python worker start-up"). The daemon
        # and the UDFs import the package from the repo root on the
        # workers' PYTHONPATH, whatever the driver's working directory.
        .config("spark.python.daemon.module", "logparse_rs_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH",
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    )
    if master.startswith("local-cluster"):
        # executor JVMs need their own heap sizing; the big single-JVM
        # driver heap would be wasted here (executors hold the data)
        builder = (
            builder
            .config("spark.executor.memory",
                    os.environ.get("SPARK_GRAFT_EXECUTOR_MEM", "6g"))
            .config("spark.driver.memory",
                    os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
            # same GC/heap discipline as the driver in local mode: G1 with
            # a pinned heap (heap-resize page churn is expensive under this
            # virtualized kernel, BENCH/NOTES.md §6)
            .config("spark.executor.extraJavaOptions",
                    os.environ.get("SPARK_GRAFT_EXECUTOR_JAVA_OPTS",
                                   "-XX:+UseG1GC"))
            # local[] runs everything PROCESS_LOCAL so locality wait never
            # fires; with separate executor JVMs the default 3 s delay
            # scheduling adds up to seconds of idle per stage on a
            # single-host "cluster" where every executor is equally close —
            # disable it (on a real multi-rack cluster you would keep it)
            .config("spark.locality.wait", "0")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

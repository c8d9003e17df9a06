"""SparkSession factory tuned for the pipeline.

Local mode is the sandbox stand-in for a multi-executor cluster; every knob
here scales with cores so the same code runs under spark-submit on a real
cluster (see plans/submit.py for the --py-files path).

A session that starts the driver JVM also reuses the class loading of an
earlier session on the same host through a class-data-sharing archive
(README "Session start-up caches"), and every new SparkContext starts its
Python worker daemon in the background (README "Python worker start-up").
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import logging
import os
import shlex
import shutil
import subprocess
import threading
import weakref
from dataclasses import dataclass

import pandas as pd  # module scope: pandas_udf resolves 'pd.Series' hints here
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .pydaemon import cache_root

log = logging.getLogger(__name__)
# not a child of this module's logger, whose records are the cds plan alone
warmup_log = logging.getLogger("logparse_rs_spark.warmup")

JAVA_OPTS = "spark.driver.extraJavaOptions"
# with an archive in play the JVM logs to stderr only: its default log
# output and crash banner go to stdout, whose last line perfbench, bench.py
# and spark-submit callers read as the JSON result
JVM_OUTPUT_TO_STDERR = ("-Xlog:disable -Xlog:all=warning:stderr "
                        "-XX:+DisplayVMOutputToStderr")
# the JVM writes the archive at exit, 10-15 s for a Spark driver
PUBLISH_WAIT_S = 120
# when writing it, the JVM warns about every class it cannot archive
# (janino's signed jar, generated accessors): 60-70 KB of stderr that says
# nothing about the run
RECORDING_QUIET = "-Xlog:cds*=error:stderr"
# the launcher puts these on the driver class path beside the Spark jars
# (AbstractCommandBuilder.buildClassPath); CDS cannot key on what they hold
CLASS_PATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
                  "SPARK_PREPEND_CLASSES", "SPARK_TESTING")
# the confs that results depend on and that a running session takes:
# get_spark builds with them, and the spark-submit job sets them on the
# session it is handed
RESULT_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}
# local mode runs every task in the driver JVM: its heap ceiling is this
# share of the memory the process can use, at most 48g (above 32g the JVM
# turns compressed oops off). The rest is left to the Python workers, the
# driver's Python process and the JVM's memory outside the heap.
DRIVER_HEAP_SHARE = 0.5
DRIVER_HEAP_MAX_MB = 48 * 1024
CGROUP_MEMORY_LIMITS = ("/sys/fs/cgroup/memory.max",  # cgroup v2
                        "/sys/fs/cgroup/memory/memory.limit_in_bytes")  # v1
WARMUP_JOB = "session:python-warmup"
# the SparkContexts whose Python workers were warmed
_warmed = weakref.WeakSet()


def default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    # the CPUs this process may run on, not the host's: under a cpuset
    # local[os.cpu_count()] oversubscribes the cores it has
    return len(os.sched_getaffinity(0))


def usable_memory_bytes() -> int:
    """Physical memory, or this process's cgroup memory limit if lower."""
    usable = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in CGROUP_MEMORY_LIMITS:
        try:
            with open(path) as fh:
                limit = fh.read().strip()
        except OSError:
            continue
        if limit.isdigit():  # v2 writes "max" when there is no limit
            usable = min(usable, int(limit))
    return usable


def driver_memory() -> str:
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    mb = min(DRIVER_HEAP_MAX_MB,
             int(usable_memory_bytes() * DRIVER_HEAP_SHARE) >> 20)
    return f"{mb // 1024}g" if mb % 1024 == 0 else f"{mb}m"


def _touch(ids: pd.Series) -> pd.Series:
    """The warm-up's UDF; workers import it from this module."""
    return ids


def warm_python_workers(spark: SparkSession) -> None:
    """Start the Python worker daemon of ``spark``'s context, and fork one
    worker per task slot, in a background thread; once per SparkContext.

    One pandas-UDF job over ``defaultParallelism`` one-row partitions
    writes to the noop sink. It has to be a SQL pandas UDF: Spark keys its
    daemons on the workers' environment, and SQL runners add to it, so an
    RDD job would start a daemon that no UDF task uses. A failed job, or
    one cut short by ``stop()``, is dropped with one DEBUG record.
    """
    sc = spark.sparkContext
    if sc in _warmed:
        return
    _warmed.add(sc)

    def run() -> None:
        try:
            # a UDF built once the context has stopped would create a new
            # one: stop() clears the active context under this lock
            with SparkContext._lock:
                if SparkContext._active_spark_context is not sc:
                    return
                n = sc.defaultParallelism
                touch = F.pandas_udf(_touch, T.LongType())
                writer = (spark.range(n, numPartitions=n)
                          .select(touch("id"))
                          .write.format("noop").mode("overwrite"))
            sc.setJobDescription(WARMUP_JOB)
            writer.save()
        except Exception:
            warmup_log.debug("python worker warm-up dropped", exc_info=True)

    threading.Thread(target=run, name="python-warmup", daemon=True).start()


@dataclass
class ClassSharing:
    """How one driver JVM uses the class-data-sharing (AppCDS) archive.

    ``mode`` is ``mapped`` (the published archive is mapped), ``recording``
    (the JVM writes a per-process archive at exit, published when it has
    exited) or ``off`` (the JVM starts as it would without this, ``reason``
    says why).
    """
    mode: str
    reason: str | None = None
    key: str | None = None
    archive: str | None = None
    conf_dir: str | None = None

    @property
    def part(self) -> str:
        return f"{self.archive[:-len('.jsa')]}.{os.getpid()}.part"

    @property
    def size_file(self) -> str:
        return f"{self.archive[:-len('.jsa')]}.size"

    def java_options(self, base: str) -> str:
        if self.mode == "mapped":
            opt = "-XX:SharedArchiveFile=" + shlex.quote(self.archive)
        elif self.mode == "recording":
            opt = (f"{RECORDING_QUIET} -XX:ArchiveClassesAtExit="
                   + shlex.quote(self.part))
        else:
            return base
        return f"{JVM_OUTPUT_TO_STDERR} {base} {opt}"

    @contextlib.contextmanager
    def launch_env(self):
        """SPARK_CONF_DIR points at the empty conf dir while the gateway
        starts: CDS refuses a class path holding a non-empty directory, and
        the launcher puts the conf dir on it."""
        if self.mode == "off":
            yield
            return
        old = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = self.conf_dir
        try:
            yield
        finally:
            if old is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = old

    def publish_at_exit(self, proc: subprocess.Popen) -> None:
        """When this process exits, end the gateway JVM, wait for it to
        write its archive, and move the archive into place."""
        pid = os.getpid()

        def publish() -> None:
            if os.getpid() != pid:
                return
            sc = SparkContext._active_spark_context
            if sc is not None:
                # stopped first, so that no Python thread of the context
                # reads from the JVM when it goes
                try:
                    sc.stop()
                except Exception:
                    log.debug("cds stop before publishing failed",
                              exc_info=True)
            try:
                proc.stdin.close()  # the gateway exits at EOF on its stdin
                proc.wait(timeout=PUBLISH_WAIT_S)
            except (OSError, subprocess.TimeoutExpired):
                return
            try:
                size = os.path.getsize(self.part)
                if proc.returncode != 0 or not size:
                    os.unlink(self.part)
                    return
                # the size first: an archive is mapped only when its size
                # matches, so a crossing publisher costs a re-recording
                tmp = f"{self.part}.size"
                with open(tmp, "w") as fh:
                    fh.write(str(size))
                os.replace(tmp, self.size_file)
                os.replace(self.part, self.archive)
            except OSError:
                pass

        atexit.register(publish)


def _java_binary() -> str | None:
    """The java the Spark launcher runs (bin/spark-class)."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.exists(java) else None


def _archive_key(java: str, conf_dir: str, spark_home: str,
                 heap: str) -> str:
    vm = os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server")
    parts = [java, conf_dir, heap]
    for path in (sorted(glob.glob(os.path.join(vm, "*")))
                 + sorted(glob.glob(os.path.join(spark_home, "jars", "*")))):
        st = os.stat(path)
        parts.append(f"{path}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]


def class_sharing(conf: dict, overridden: bool) -> ClassSharing:
    """Plan class-data sharing for a driver JVM launched with ``conf``.

    The archive is keyed on what a JDK 17 dynamic archive must match: the
    class path (the empty conf dir and every Spark jar with its size and
    mtime), the java binary with its VM libraries, and the heap size, since
    above 32 GB the JVM turns off compressed oops and maps the other base
    archive. An archive is mapped only when its size is the one recorded
    when it was published: the JVM maps a truncated archive and dies.
    """
    if overridden:
        return ClassSharing("off", f"{JAVA_OPTS} was overridden")
    if conf.get("spark.driver.extraClassPath") or any(
            os.environ.get(k) for k in CLASS_PATH_ENV):
        return ClassSharing("off", "the class path holds more than the "
                            "Spark jars")
    spark_home = _find_spark_home()
    spark_conf = (os.environ.get("SPARK_CONF_DIR")
                  or os.path.join(spark_home, "conf"))
    try:
        names = os.listdir(spark_conf)
    except FileNotFoundError:
        names = []
    except OSError as e:
        return ClassSharing("off", f"the conf dir is unreadable: {e}")
    if any(not n.endswith(".template") for n in names):
        return ClassSharing("off", f"the conf dir {spark_conf} holds real "
                            "files")
    java = _java_binary()
    if java is None:
        return ClassSharing("off", "no java binary")
    root = cache_root()
    conf_dir = os.path.join(root, "conf")
    cds_dir = os.path.join(root, "cds")
    try:
        os.makedirs(conf_dir, exist_ok=True)
        os.makedirs(cds_dir, exist_ok=True)
        stray = os.listdir(conf_dir)
    except OSError as e:
        return ClassSharing("off", f"the cache is not writable: {e}")
    if not os.access(cds_dir, os.W_OK):
        return ClassSharing("off", f"the cache {cds_dir} is not writable")
    if stray:
        return ClassSharing("off", f"the empty conf dir {conf_dir} is not "
                            "empty")
    try:
        key = _archive_key(java, conf_dir, spark_home,
                           conf["spark.driver.memory"])
    except OSError as e:
        return ClassSharing("off", f"the class path changed: {e}")
    plan = ClassSharing("recording", key=key, conf_dir=conf_dir,
                        archive=os.path.join(cds_dir, f"{key}.jsa"))
    try:
        with open(plan.size_file) as fh:
            if int(fh.read()) == os.path.getsize(plan.archive):
                plan.mode = "mapped"
    except (OSError, ValueError):
        pass
    if plan.mode == "recording":
        _drop_orphans(cds_dir)
    return plan


def _drop_orphans(cds_dir: str) -> None:
    """Delete the recordings of processes that ended before publishing."""
    for part in glob.glob(os.path.join(cds_dir, "*.part")):
        try:
            os.kill(int(part.rsplit(".", 2)[1]), 0)
        except ProcessLookupError:
            with contextlib.suppress(OSError):
                os.unlink(part)
        except (ValueError, OSError):
            pass


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
    conf = {
        "spark.master": master,
        "spark.app.name": app_name,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # commit algorithm 2: task output renames directly to the final
        # location — the v1 job-commit pass over 13 sinks x hundreds of
        # bucket dirs is pure serial rename latency on this filesystem
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
        **RESULT_CONFS,
        "spark.sql.execution.arrow.maxRecordsPerBatch": "20000",
        # scan-split sizing: the fan-out sinks evaluate their (wide,
        # expression-heavy) projections in the parquet READ stage; at the
        # default 128 MB a partition-pruned per-type read collapses to 1-2
        # tasks and the whole sink job runs serial no matter how many cores
        # exist. 16 MB splits keep scan stages at >= cores tasks at bench
        # scale; on a real cluster the same ratio holds against bigger files.
        "spark.sql.files.maxPartitionBytes": "16m",
        "spark.sql.files.openCostInBytes": "1m",
        # local mode = one JVM doing the work of every executor: size the
        # heap for cores * concurrent task memory (32 threads on 8g thrashes
        # GC and anti-scales). This sets -Xmx only, a ceiling the heap grows
        # into, but a heap that grows past the host's memory kills the JVM:
        # the default is half the usable memory, at most 48g.
        "spark.driver.memory": driver_memory(),
        # G1, and nothing else: no -Xms is set, so the heap starts small and
        # resizes. (ParallelGC measured 6x faster on a codegen-only probe
        # but 2-4x SLOWER on the real pipeline — G1 is the net winner.)
        JAVA_OPTS: os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS",
                                  "-XX:+UseG1GC"),
        "spark.ui.enabled": "false",
        # Python workers fork from logparse_rs_spark.pydaemon: a task no
        # longer re-reads pyspark.zip, a new worker starts with pandas and
        # pyarrow loaded, and pyspark's bytecode comes from the per-user
        # cache (README "Python worker start-up"). The daemon and the UDFs
        # import the package from the repo root on the workers' PYTHONPATH,
        # whatever the driver's working directory.
        "spark.python.daemon.module": "logparse_rs_spark.pydaemon",
        "spark.executorEnv.PYTHONPATH":
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    }
    if master.startswith("local-cluster"):
        # executor JVMs need their own heap sizing; the big single-JVM
        # driver heap would be wasted here (executors hold the data)
        conf.update({
            "spark.executor.memory": "6g",
            "spark.driver.memory":
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
            # G1 in the executors as in the driver (-Xmx only, as there)
            "spark.executor.extraJavaOptions": "-XX:+UseG1GC",
            # local[] runs everything PROCESS_LOCAL so locality wait never
            # fires; with separate executor JVMs the default 3 s delay
            # scheduling adds up to seconds of idle per stage on a
            # single-host "cluster" where every executor is equally close —
            # disable it (on a real multi-rack cluster you would keep it)
            "spark.locality.wait": "0",
        })
    extra_conf = extra_conf or {}
    conf.update(extra_conf)
    launches_jvm = (SparkContext._gateway is None
                    and "PYSPARK_GATEWAY_PORT" not in os.environ)
    if launches_jvm:
        sharing = class_sharing(conf, JAVA_OPTS in extra_conf)
        conf[JAVA_OPTS] = sharing.java_options(conf[JAVA_OPTS])
    else:
        sharing = ClassSharing("off", "the driver JVM is already running")
    log.debug("cds key=%s archive=%s mode=%s reason=%s", sharing.key,
              sharing.archive, sharing.mode, sharing.reason)
    with sharing.launch_env():
        spark = SparkSession.builder.config(map=conf).getOrCreate()
    if sharing.mode == "recording":
        sharing.publish_at_exit(spark.sparkContext._gateway.proc)
    spark.sparkContext.setLogLevel("WARN")
    warm_python_workers(spark)
    return spark

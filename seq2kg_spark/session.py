"""SparkSession factory with scale-oriented defaults.

The settings below are the ones that matter at 100 TB just as much as on
``local[32]``:

* AQE on (runtime coalesce + skew-join splitting) — document-length skew is
  the dominant hazard in a web-corpus NLP pipeline.
* Arrow enabled and batch size bounded so a pandas-UDF batch of
  (rows x tokens x embedding-dim) floats stays well inside executor memory.
* A generous broadcast threshold: every dimension-ish table we join
  (stopwords, label vocabularies, reference goldens) is tiny.
* A codegen cache that holds a whole pipeline's generated classes, so a
  long-lived session (streaming micro-batches, several pipelines) does not
  recompile them on every call.

The driver JVM starts from a per-machine class-data archive of the JDK and
Spark classes (:func:`_driver_archive_options`), recorded once at the exit
of the first session that finds none.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import os
import shutil

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 64
ARROW_MAX_RECORDS = 512  # 512 docs x ~100 tokens x 64 floats ≈ 13 MB / batch
# One pipeline compiles ~220 classes; at Spark's default of 100 entries a
# second call in the same session recompiled 218 of them.
CODEGEN_CACHE_ENTRIES = 4000
# Without these the JVM prints [warning][cds] lines (an archive it cannot
# use, a class it cannot record) on stdout, which callers may parse.
CDS_LOG_OFF = "-Xlog:cds=off -Xlog:cds+dynamic=off"


def _archive_key(java: str, spark_home: str) -> str:
    """Hash of the JVM binary and the Spark jars: the classes an archive
    holds.  The package's own code is never archived, so editing it never
    invalidates the archive."""
    st = os.stat(java)
    h = hashlib.sha256(f"{java}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        if name.endswith(".jar"):
            st = os.stat(os.path.join(jars, name))
            h.update(f"\0{name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:20]


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _finish_recording(tmp: str, final: str) -> None:
    """atexit: let the driver JVM exit (it writes the archive as it does),
    then publish the archive only if the JVM wrote one, so no JVM outlives
    this process and no reader sees a half-written file."""
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        if proc.stdin and not proc.stdin.closed:
            proc.stdin.close()  # the gateway server exits on EOF
        proc.wait()
    with contextlib.suppress(OSError):
        # a JVM that died on a signal may have left a partial archive
        if proc is not None and proc.returncode == 0 \
                and os.path.getsize(tmp) > 0:
            os.replace(tmp, final)
            return
    with contextlib.suppress(OSError):
        os.remove(tmp)


def _driver_archive_options() -> str | None:
    """Java options that start the driver JVM from the class-data archive
    of this machine's JDK and Spark jars, or that record the archive at
    JVM exit when there is none yet.  ``None`` (start as usual) when the
    cache is not writable or the user configured Spark's conf directory:
    JDK 17 refuses an archive while a non-empty directory is on the
    classpath, and Spark puts the conf directory there.  A conf directory
    of ``*.template`` files only is swapped for an empty one; Spark never
    reads templates, so the configuration is the same."""
    spark_home = _find_spark_home()
    java_home = os.environ.get("JAVA_HOME")
    java = (os.path.join(java_home, "bin", "java") if java_home
            else shutil.which("java"))
    if not spark_home or not java or not os.path.isfile(java):
        return None
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    cds = os.path.join(cache, "seq2kg_spark", "cds")
    empty_conf = os.path.join(cds, "empty-conf")
    conf_dir = os.environ.get("SPARK_CONF_DIR")
    if conf_dir is not None and conf_dir != empty_conf:
        return None
    conf = os.path.join(spark_home, "conf")
    if os.path.isdir(conf) and any(
            not n.endswith(".template") for n in os.listdir(conf)):
        return None
    try:
        os.makedirs(empty_conf, exist_ok=True)
        key = _archive_key(os.path.realpath(java), spark_home)
    except OSError:
        return None
    final = os.path.join(cds, f"{key}.jsa")
    if not os.access(cds, os.W_OK) or any(c.isspace() or c in "\"'\\"
                                          for c in final):
        return None
    os.environ["SPARK_CONF_DIR"] = empty_conf
    if os.path.exists(final):
        return f"-XX:SharedArchiveFile={final} {CDS_LOG_OFF}"
    # an archive is ~180 MB: drop what dead recorders left behind
    for stale in glob.glob(os.path.join(cds, "*.jsa.*.tmp")):
        pid = stale.rsplit(".", 2)[-2]
        if pid.isdigit() and not _pid_alive(int(pid)):
            with contextlib.suppress(OSError):
                os.remove(stale)
    tmp = f"{final}.{os.getpid()}.tmp"
    atexit.register(_finish_recording, tmp, final)
    return f"-XX:ArchiveClassesAtExit={tmp} {CDS_LOG_OFF}"


def get_spark(
    app_name: str = "seq2kg-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or 32.
    On a real cluster these settings move to spark-submit conf; nothing in
    the package assumes local mode.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or 32
    n = int(cpus)
    # Pin BLAS to one thread per Python worker BEFORE the JVM launches (the
    # workers inherit the JVM's env, which inherits ours).  Spark supplies
    # the parallelism; a threaded BLAS inside each of N workers
    # oversubscribes the host N-fold, and on the GRU hot path's small
    # matmuls the per-call thread sync alone measured ~2x wall.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or max(2 * n, DEFAULT_SHUFFLE_PARTITIONS)),
        )
        # same pinning for real-cluster executors (no-op in local mode)
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS)
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
    )
    extra_conf = extra_conf or {}
    # Spark prepends the default options to spark.driver.extraJavaOptions,
    # so a caller's extra options still apply; the archive only matters
    # when this call launches the JVM
    if (SparkContext._gateway is None
            and "PYSPARK_GATEWAY_PORT" not in os.environ
            and "spark.driver.defaultJavaOptions" not in extra_conf):
        opts = _driver_archive_options()
        if opts:
            builder = builder.config("spark.driver.defaultJavaOptions", opts)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Ship the package to executor Python workers (the --py-files story;
    # required whenever the driver wasn't launched from the repo root).
    from seq2kg_spark.packaging import ship_package

    ship_package(spark)
    return spark

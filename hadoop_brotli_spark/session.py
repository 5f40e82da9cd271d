"""SparkSession factory: one local session per process, sized from the
host, with every knob cluster-appropriate.

The master is ``local[$SPARK_GRAFT_CPUS]`` (``local[*]`` when unset).
The driver heap is ``$SPARK_DRIVER_MEM``, else half of physical RAM
capped at 16g.

At 100 TB on a 1000-executor cluster the same settings hold: AQE
coalesces post-shuffle partitions and splits skewed ones at runtime,
so a static ``spark.sql.shuffle.partitions`` only needs to be an
upper bound; session timezone is pinned UTC so timestamp semantics
match the (UTC-naive) parquet data and the DuckDB oracle.

Whole-stage codegen caches each compiled class by its source text,
but Spark's cache holds 100 classes and evicts some before it is
full. Measured on 4 CPUs: q80, q253 and q406 at sf0.01 generate 98
classes, and each warm pass of the three recompiled 26 of them;
adding q414 at sf0.001 makes 104 classes and 45-68 recompiles per
warm pass. The session raises the cap to
``CODEGEN_CACHE_ENTRIES``, after which a warm pass compiles nothing.
The cap is a static conf: it applies only when this call starts the
JVM.

JVM start-up archive. Starting the driver JVM loads ~22k classes from
Spark's jars, which costs more than a warm query pass. When this call
starts the JVM, it maps a dynamic class-data-sharing archive (JDK 17,
JEP 350) kept at ``${XDG_CACHE_HOME:-~/.cache}/spark-graft/cds/<key>.jsa``.
The key hashes the ``java`` that ``spark-class`` runs (real path and
``release`` file), the (name, size, mtime) of every jar in
``$SPARK_HOME/jars`` and the conf dir. The rules:

- No archive: one session claims ``<key>.lock`` with ``O_EXCL`` and its
  JVM writes the classes it loaded, at exit, to ``<key>.<pid>.tmp``.
  Never to the final path: the JVM truncates its dump target, and a
  JVM whose mapped archive is truncated dies.
- Once the writer's JVM is gone, the next session probes the ``.tmp``
  with ``java -Xshare:on ... -version`` in a subprocess. On success it
  records the size in ``<key>.size`` and renames the file to
  ``<key>.jsa``; otherwise it deletes it. Either way the lock goes.
- Before mapping ``<key>.jsa`` the size must still be the probed one:
  JDK 17 dies with SIGBUS on a truncated archive even under
  ``-Xshare:auto``. On a mismatch the archive is deleted and the
  session starts plainly.
- CDS refuses a classpath holding a non-empty directory, and
  ``spark-class`` puts the conf dir first. So the archive is used only
  when the conf dir (``$SPARK_CONF_DIR``, else ``$SPARK_HOME/conf``)
  holds nothing but ``*.template`` files; when ``SPARK_CONF_DIR`` is
  unset it is then pointed at an empty directory in the cache.
- Anything else (an unwritable cache, extra classpath directories from
  ``HADOOP_CONF_DIR``/``YARN_CONF_DIR``/``SPARK_DIST_CLASSPATH``) starts
  the JVM plainly. Deleting the cache directory is safe at any time;
  the next session then writes a new archive.

The flags go in ``spark.driver.defaultJavaOptions``, which the launcher
puts before ``spark.driver.extraJavaOptions``, so a caller's options
and ours do not replace each other. The same string sends the JVM's
own log output (a refused archive, say) to stderr, so stdout carries
only what the program prints.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.sql import SparkSession

# spark.sql.codegen.cache.maxEntries (Spark's default: 100). The
# classes above average 2.4 KB of bytecode, so a full cache holds
# about 5 MB of it: room for ~20 such passes.
CODEGEN_CACHE_ENTRIES = 2000

# JVM logging off stdout: every tag at warning level and above to stderr
_LOG_FLAGS = "-Xlog:disable -Xlog:all=warning:stderr"


def _default_driver_mem() -> str:
    """Half of physical RAM, capped at 16g: on a host with no swap a
    16g heap plus the JVM's own overhead can exhaust memory."""
    try:
        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (ValueError, OSError):
        return "16g"
    return f"{max(1, min(16 << 10, phys // 2 >> 20))}m"


def _cds_dir() -> str:
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache")
    return os.path.join(cache, "spark-graft", "cds")


def _java() -> str | None:
    """Real path of the ``java`` that ``spark-class`` runs."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def _archive_key(java: str, spark_home: str, conf_dir: str) -> str:
    h = hashlib.sha256(f"{java}\0{conf_dir}\0".encode())
    try:
        with open(os.path.join(os.path.dirname(os.path.dirname(java)),
                               "release"), "rb") as f:
            h.update(f.read())
    except OSError:
        pass
    jars = sorted(os.scandir(os.path.join(spark_home, "jars")),
                  key=lambda e: e.name)
    for e in jars:
        st = e.stat()
        h.update(f"\0{e.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:24]


def _unlink(path: str) -> None:
    try:
        os.unlink(path)
    except FileNotFoundError:
        pass


def _write_replace(path: str, text: str) -> None:
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    try:  # an exited JVM stays a zombie until its new parent reaps it
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return True


def _probe(java: str, archive: str, classpath: str) -> bool:
    """True when a fresh JVM maps ``archive`` with sharing forced on."""
    try:
        r = subprocess.run(
            [java, "-Xshare:on", f"-XX:SharedArchiveFile={archive}",
             "-Xlog:disable", "-cp", classpath, "-version"],
            stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL, timeout=60)
    except (OSError, subprocess.TimeoutExpired):
        return False
    return r.returncode == 0


def _settle(stem: str, java: str) -> None:
    """Publish or delete what a finished writer left, and clear its lock.

    The lock holds the writer's pid (its JVM's, once started) and the
    JVM's expanded classpath, which the probe must repeat exactly.
    """
    lock = stem + ".lock"
    try:
        with open(lock) as f:
            pid, _, classpath = f.read().partition("\n")
        if _alive(int(pid)):
            return
    except (FileNotFoundError, ValueError):  # no lock, or pid not yet written
        return
    cds_dir, prefix = os.path.split(stem)
    tmps = [os.path.join(cds_dir, n) for n in os.listdir(cds_dir)
            if n.startswith(prefix + ".") and n.endswith(".tmp")]
    classpath = classpath.strip()
    for tmp in tmps:
        if classpath and not os.path.exists(stem + ".jsa") and _probe(
                java, tmp, classpath):
            _write_replace(stem + ".size", str(os.stat(tmp).st_size))
            os.replace(tmp, stem + ".jsa")
        else:
            _unlink(tmp)
    _unlink(lock)


def _cds_flags() -> tuple[str, str | None]:
    """CDS flags for the JVM this process is about to start, and the
    lock it claimed as the archive writer (None when it did not)."""
    if any(os.environ.get(v) for v in
           ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")):
        return "", None
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    java, cds_dir = _java(), _cds_dir()
    # the launcher splits the options string on whitespace and quotes
    if java is None or any(c in cds_dir for c in " \t\n'\"\\"):
        return "", None
    user_conf = os.environ.get("SPARK_CONF_DIR") or None
    try:
        names = os.listdir(user_conf or os.path.join(spark_home, "conf"))
    except FileNotFoundError:
        names = []
    if (user_conf and names) or any(not n.endswith(".template") for n in names):
        return "", None
    empty_conf = os.path.join(cds_dir, "empty-conf")
    os.makedirs(empty_conf, exist_ok=True)
    conf_dir = user_conf or empty_conf

    stem = os.path.join(cds_dir, _archive_key(java, spark_home, conf_dir))
    try:
        _settle(stem, java)
    except OSError:  # read-only cache: an archive may still be usable
        pass
    lock = None
    try:
        size = os.stat(stem + ".jsa").st_size
    except FileNotFoundError:
        try:
            fd = os.open(stem + ".lock", os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:  # another session is writing the archive
            return "", None
        with os.fdopen(fd, "w") as f:
            f.write(f"{os.getpid()}\n")
        lock = stem + ".lock"
        flags = f"-XX:ArchiveClassesAtExit={stem}.{os.getpid()}.tmp"
    else:
        try:
            with open(stem + ".size") as f:
                probed = int(f.read())
        except (OSError, ValueError):
            probed = -1
        if size != probed:
            _unlink(stem + ".jsa")
            _unlink(stem + ".size")
            return "", None
        flags = f"-XX:SharedArchiveFile={stem}.jsa -Xshare:auto"
    if user_conf is None:
        os.environ["SPARK_CONF_DIR"] = conf_dir
    return flags, lock


def _start_options() -> tuple[str, str | None]:
    """``spark.driver.defaultJavaOptions`` for the JVM this process is
    about to start, and the writer lock it claimed (or None)."""
    try:
        flags, lock = _cds_flags()
    except OSError:  # unwritable cache: start plainly
        flags, lock = "", None
    return f"{_LOG_FLAGS} {flags}".strip(), lock


def _hand_lock_to_jvm(lock: str) -> None:
    """Record the writer JVM's pid and classpath in the lock: the JVM
    writes the archive at exit, which may come after this process."""
    pid = SparkContext._gateway.proc.pid
    classpath = SparkContext._jvm.java.lang.System.getProperty("java.class.path")
    _write_replace(lock, f"{pid}\n{classpath}\n")


def get_spark(app_name: str = "hadoop_brotli_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    lock = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        # this call starts the driver JVM
        options, lock = _start_options()
        builder = builder.config("spark.driver.defaultJavaOptions", options)
    try:
        spark = builder.getOrCreate()
    except BaseException:
        if lock:
            _unlink(lock)
        raise
    if lock:
        try:
            _hand_lock_to_jvm(lock)
        except (AttributeError, OSError, Py4JError):
            pass  # no local JVM to name: the lock keeps this process's pid
    try:
        spark.sparkContext.setLogLevel("WARN")
    except Exception:  # Spark Connect: no local sparkContext
        pass
    return spark

"""SparkSession factory with the engine's scale-oriented defaults.

Single place where the 100 TB posture is configured: AQE (runtime
re-planning + skew-join splitting for dense city cells), Arrow for
every pandas-UDF boundary, a local master as wide as the CPUs this
process may use (``SPARK_GRAFT_CPUS`` overrides it) whose partition
listing runs no wider than that master, and shuffle-partition
defaults overridable for a real cluster via normal spark-submit
--conf. The driver JVM starts warm: it maps a class archive that an
earlier launch on the host dumped (``class_archive``). On a local
master Spark's Python daemon starts through ``DAEMON_MODULE``, so a
worker re-reads no unchanged zip archive when a task starts; a value
the caller, ``PYSPARK_SUBMIT_ARGS`` or spark-defaults set for
``spark.python.daemon.module`` is kept, a cluster master keeps
``pyspark.daemon``, and so does a spark-submit driver unless its
command line sets the module.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from contextlib import contextmanager, suppress
from urllib.parse import unquote, urlparse

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

DEFAULTS = {
    # Whole-stage codegen whose generated method exceeds HotSpot's
    # huge-method threshold (8000 bytecodes, -XX:DontCompileHugeMethods)
    # never gets JIT-compiled and runs in the JVM INTERPRETER — measured
    # 4x slower than the split-method non-fused path on this engine's
    # unrolled fixed-dim dot/norm projections (64-term expressions over
    # a broadcast nested-loop join: 2.8 s fused-but-interpreted vs
    # 0.65 s split). Spark's default limit (65535) only rejects methods
    # the JVM cannot LOAD; aligning it with what the JVM will actually
    # JIT keeps every stage on compiled code. JVM-level behavior, not a
    # local[32] artifact.
    "spark.sql.codegen.hugeMethodLimit": "8000",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    # The JVM-wide cache of generated classes, keyed by their source.
    # At Spark's 100 entries (split over the cache's segments, so it
    # evicts even earlier) a perfbench reference_layers pass, 97
    # classes cold, evicted its own classes, and every warm pass
    # recompiled 21-48 of them: 0.25-0.63 s on a 4-core host. 1000
    # holds every benchmarked pass with room to spare, at tens of KB
    # per class.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def get_spark(app: str = "rsgislib_spark", master: str | None = None,
              **conf) -> SparkSession:
    """The session, started with ``DEFAULTS`` and the caller's ``conf``
    on top. On a local master its partition listing runs no wider than
    the master (``_cap_listing``). A new driver JVM maps the host's
    class archive (``class_archive``), and on a local master it starts
    Spark's Python daemon through ``DAEMON_MODULE``, whose workers
    re-read an unchanged zip archive on no task (``_python_daemon``).
    A value the caller, ``PYSPARK_SUBMIT_ARGS`` or spark-defaults set
    for either is kept. A running context, such as a spark-submit
    driver, stays as it was launched: it keeps ``pyspark.daemon``
    unless its command line passes ``--conf
    spark.python.daemon.module=rsgislib_spark_daemon`` and the daemon's
    directory on ``spark.executorEnv.PYTHONPATH``."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    merged = {"spark.app.name": app,
              "spark.master": master or f"local[{cpus}]", **DEFAULTS, **conf}
    # a running gateway JVM (an earlier session of this process, or a
    # spark-submit driver) is reused as it is: its flags are set
    fresh = (SparkContext._gateway is None
             and "PYSPARK_GATEWAY_PORT" not in os.environ)
    flags, conf_dir = class_archive(merged) if fresh else ("", None)
    if flags:
        # not extraJavaOptions: a caller's value for it replaces ours
        key = "spark.driver.defaultJavaOptions"
        merged[key] = f"{merged[key]} {flags}" if merged.get(key) else flags
    with _env("SPARK_CONF_DIR", conf_dir):
        if fresh:
            # the launch the builder would make, made first, so that
            # the JVM's conf (spark-defaults and the launch's --conf
            # values) can be read before the context is created
            SparkContext._ensure_initialized(
                conf=SparkConf().setAll(merged.items()))
            merged.update(_python_daemon(SparkConf()))
        builder = SparkSession.builder
        for k, v in merged.items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
    if "ArchiveClassesAtExit" in flags:
        _watch_creator(SparkContext._gateway.proc.pid)
    _cap_listing(spark)
    return spark


def _local(master: str) -> bool:
    return master == "local" or master.startswith("local[")


# Past 32 paths (spark.sql.sources.parallelPartitionDiscovery.threshold)
# Spark lists a directory's subdirectories in a job with one task per
# subdirectory, capped only by this setting (10000 by default). A
# readback of 105 tiles ran a 105-task listing job on 4 cores, every
# task shipping the Hadoop configuration: about half the readback.
# One task per core keeps as many directories in flight as that job
# could run at once, and pays the per-task cost once per core. A value
# the caller or spark-submit set is kept; a non-local master keeps
# Spark's.
_LISTING = "spark.sql.sources.parallelPartitionDiscovery.parallelism"


def _cap_listing(spark) -> None:
    """Cap the partition-discovery job at ``defaultParallelism`` on a
    local master whose session sets no value of its own."""
    sc = spark.sparkContext
    if _local(sc.master) and spark.conf.get(_LISTING, None) is None:
        spark.conf.set(_LISTING, str(sc.defaultParallelism))


# Spark's Python daemon, through a module that keeps each worker's zip
# importers from re-reading their unchanged archives on every task
# (see its docstring). A reused worker read 16 archive directories per
# task, and a one-row Python task took a median 0.18-0.23 s where it
# takes 0.08 s with the module (25 tasks per run, 4 cores, CPython
# 3.11). The module sits alone in its directory, found through the
# executors' PYTHONPATH whether the package was shipped with addPyFile
# or installed; a cluster's executors may not have the file, so only a
# local master uses it.
DAEMON_MODULE = "rsgislib_spark_daemon"
_DAEMON = "spark.python.daemon.module"
_PYTHONPATH = "spark.executorEnv.PYTHONPATH"
_DAEMON_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "pydaemon")


def _python_daemon(conf) -> dict:
    """The conf that starts the Python daemon through ``DAEMON_MODULE``
    for a context about to be created with ``conf``: none when the
    master is not local or a daemon module is set already, and none
    when the module is not a file (the package imported from a zip).
    An executor PYTHONPATH already set is kept, after the module's
    directory."""
    if (not _local(conf.get("spark.master", ""))
            or conf.get(_DAEMON, None) is not None
            or not os.path.isfile(os.path.join(_DAEMON_DIR,
                                               f"{DAEMON_MODULE}.py"))):
        return {}
    path = conf.get(_PYTHONPATH, None)
    return {_DAEMON: DAEMON_MODULE,
            _PYTHONPATH: f"{_DAEMON_DIR}{os.pathsep}{path}" if path
            else _DAEMON_DIR}


# The class archive: JDK dynamic class-data sharing (AppCDS). The
# first driver launched on a host records the classes it loaded and
# dumps them when it exits (``-XX:ArchiveClassesAtExit``); later
# launches map that file (``-XX:SharedArchiveFile``) instead of
# loading and verifying the same classes from Spark's jars again.
# the dump, and a mismatched archive, print warnings on stdout
_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
# HotSpot's dynamic-archive magic. The dump writes its header last, so
# a dump cut short has none, and a JVM rejects such a file.
_MAGIC = (0xF00BABA8).to_bytes(4, "little")
# launch settings that put more than the conf dir and the jars on the
# driver's class path. A dumping JVM dies on a non-empty directory
# there, so any of them means a plain launch.
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
                  "SPARK_PREPEND_CLASSES", "SPARK_TESTING",
                  "SPARK_SQL_TESTING", "PYSPARK_SUBMIT_ARGS")


def class_archive(conf: dict | None = None) -> tuple[str, str | None]:
    """JVM flags that launch a driver with the host's class archive,
    and the conf dir to launch it with, or ``("", None)`` for a plain
    launch. ``get_spark`` applies both. A spark-submit driver starts
    before any Python runs, so it takes them on its command line:
    ``python -m rsgislib_spark.session`` prints them as shell lines.

    The archive lives in ``${XDG_CACHE_HOME:-~/.cache}/rsgislib_spark``
    (never under TMPDIR, which a job may delete), named by a key of the
    Java home and release and the launch class path; archives of other
    keys are removed when a new one is made. With no archive yet, the
    flags make this launch dump one to a partial file named by its pid
    when the JVM exits; a later call renames a complete dump into place.
    While another live launch is dumping, or when anything fails (an
    unwritable cache, a conf dir holding real files, a class path the
    archive cannot cover), the launch is plain. A stale or mismatched
    archive is skipped by the JVM itself, silently; a truncated one
    (which would crash it) is caught by its size, recorded in its name.
    """
    conf = conf or {}
    opts = " ".join(str(conf.get(f"spark.driver.{k}JavaOptions", ""))
                    for k in ("default", "extra"))
    if ("Share" in opts or "ArchiveClassesAtExit" in opts
            or conf.get("spark.driver.extraClassPath")
            or any(os.environ.get(v) for v in _CLASSPATH_ENV)):
        return "", None
    try:
        return _class_archive()
    except (OSError, ImportError):
        return "", None


def _class_archive() -> tuple[str, str | None]:
    import fcntl

    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    conf_dir = (os.environ.get("SPARK_CONF_DIR")
                or os.path.join(spark_home, "conf"))
    if os.path.isdir(conf_dir) and any(
            not f.endswith(".template") for f in os.listdir(conf_dir)):
        return "", None
    cache = _cache_dir()
    if any(c.isspace() or c in "\"'\\" for c in cache):
        return "", None  # the flags are split on whitespace
    # the launch reads no conf file either way; an empty dir keeps the
    # class path dumpable
    empty = os.path.join(cache, "conf")
    os.makedirs(empty, exist_ok=True)
    if os.listdir(empty):
        return "", None
    key = _archive_key(spark_home, empty)
    fd = os.open(cache, os.O_RDONLY)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        archive = _adopt(cache, key)
        if archive:
            # CRC-checked on load: a corrupt archive is skipped, not
            # trusted (no launch cost measurable on a 4-core host)
            return (f"-XX:SharedArchiveFile={archive} -XX:+VerifySharedSpaces"
                    f" {_QUIET}", empty)
        if _alive(_creator(cache, key)):
            return "", None
        for n in os.listdir(cache):
            if n.endswith((".jsa", ".part", ".creator")):
                os.remove(os.path.join(cache, n))
        part = os.path.join(cache, f"{key}.{os.getpid()}.part")
        _write(os.path.join(cache, f"{key}.creator"), str(os.getpid()))
        return f"-XX:ArchiveClassesAtExit={part} {_QUIET}", empty
    finally:
        os.close(fd)


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(base, "rsgislib_spark")


def _archive_key(spark_home: str, conf_dir: str) -> str:
    """Java home and release, Spark jar names, sizes and mtimes, and
    the conf dir: what the JVM checks an archive against. A key that
    misses a change costs no result: the JVM then skips the archive."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.realpath(os.path.join(java_home, "bin", "java")
                            if java_home else shutil.which("java") or "java")
    h = hashlib.sha256(f"{java}\0{conf_dir}\n".encode())
    release = os.path.join(os.path.dirname(os.path.dirname(java)), "release")
    if os.path.isfile(release):
        with open(release, "rb") as f:
            h.update(f.read())
    jars = os.path.join(spark_home, "jars")
    for n in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, n))
        h.update(f"{n}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _adopt(cache: str, key: str) -> str | None:
    """The key's archive, after renaming a complete dump into place;
    None if there is none. An archive whose size is not the one in its
    name is removed, and so is a complete dump that lost a race."""
    archive = None
    for n in sorted(os.listdir(cache)):
        path = os.path.join(cache, n)
        if n.startswith(f"{key}-") and n.endswith(".jsa"):
            if n == f"{key}-{os.path.getsize(path)}.jsa":
                archive = path
            else:
                os.remove(path)
        elif n.startswith(f"{key}.") and n.endswith(".part"):
            with open(path, "rb") as f:
                if f.read(4) != _MAGIC:
                    continue
            if archive:
                os.remove(path)
                continue
            archive = os.path.join(cache, f"{key}-{os.path.getsize(path)}.jsa")
            os.replace(path, archive)
            with suppress(FileNotFoundError):
                os.remove(os.path.join(cache, f"{key}.creator"))
    return archive


def _creator(cache: str, key: str) -> int | None:
    try:
        with open(os.path.join(cache, f"{key}.creator")) as f:
            return int(f.read())
    except (OSError, ValueError):
        return None


def _alive(pid: int | None) -> bool:
    if pid is None:
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _watch_creator(jvm_pid: int) -> None:
    """The JVM, not this process, writes the dump, and it may outlive
    this process while it does: watch its pid from now on."""
    try:
        cache = _cache_dir()
        for n in os.listdir(cache):
            path = os.path.join(cache, n)
            key = n.removesuffix(".creator")
            if key != n and _creator(cache, key) == os.getpid():
                _write(path, str(jvm_pid))
    except OSError:
        pass


def _write(path: str, text: str) -> None:
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


@contextmanager
def _env(name: str, value: str | None):
    """Set one environment variable for the block, then restore it."""
    old = os.environ.get(name)
    if value is not None:
        os.environ[name] = value
    try:
        yield
    finally:
        if value is not None:
            if old is None:
                del os.environ[name]
            else:
                os.environ[name] = old


def spread_scan(df, by=None):
    """Raise a DataFrame's partition count to the cluster's default
    parallelism when the source delivers fewer splits.

    Parquet scans parallelize at ROW-GROUP granularity: a file written
    as one row group arrives as ONE split no matter what
    maxPartitionBytes says, so every narrow stage downstream (explode,
    regex projection, Arrow kernel) runs on a single core until the
    first shuffle. Compute-heavy operators call this right after the
    scan; the round-robin exchange costs one pass over the (small)
    input and unlocks cluster-wide parallelism for the expensive
    stage.

    Scale-adaptive by construction, two gates:
    - partition gate: only when the scan delivered fewer partitions
      than defaultParallelism (on a real cluster reading many-row-
      group files this is false and no exchange enters the plan);
    - size gate: only when the source files exceed ``min_bytes``
      (2 MB) — below that the exchange's fixed cost exceeds any
      parallelism gain (measured +0.1-0.6 s per query on sub-MB
      sf0.1 fixtures vs 3-5x wins on the same queries at sf1.0).
      Non-file sources (range, already-shuffled frames) report no
      input files and fall back to the partition gate alone.

    Round-robin repartition is deterministic under retries
    (spark.sql.execution.sortBeforeRepartition, on by default), so
    results are unchanged.

    ``by`` — optional column name (or sequence of names) with
    near-unique deterministic values (a natural row key, or lon/lat).
    When given, the exchange hash-partitions on those columns instead
    of round-robin: hash partitioning needs NO local sort (assignment
    is deterministic from the values themselves, retry-safe), while
    round-robin first sorts its input inside the (often single) scan
    task — measured 2.3x cheaper on a 1.5M-row single-row-group point
    table. Distribution quality is the caller's contract: a key with
    few distinct values would funnel rows to few partitions.

    The partition gate is decided from FILE BYTES, not
    ``df.rdd.getNumPartitions()``: materializing the RDD forces full
    physical planning on the driver — measured ~0.3 s of py4j/planning
    per call, paid at every query CONSTRUCTION (bench-visible and real
    user latency). Spark's own scan split count derives from the same
    byte arithmetic (FilePartition packing: each file charged
    openCostInBytes, packed into maxPartitionBytes splits), so the
    estimate matches what the scan would deliver; non-file sources
    (no inputFiles), remote paths (hdfs://, s3a://) and files deleted
    since planning fall back to the RDD probe."""
    spark = df.sparkSession
    sc = spark.sparkContext
    target = sc.defaultParallelism
    min_bytes = 2 << 20
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — unknown source
        files = None
    sz = _local_bytes(files) if files else None
    if sz is not None:
        if sz < min_bytes:
            return df
        max_pb = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
        open_cost = _parse_bytes(
            spark.conf.get("spark.sql.files.openCostInBytes", "4194304"))
        est_splits = -(-(sz + open_cost * len(files)) // max_pb)
        if est_splits < target:
            return _respread(df, target, by)
        return df
    if df.rdd.getNumPartitions() < target:
        return _respread(df, target, by)
    return df


def _local_bytes(files) -> int | None:
    """Total size of the input files, or None when any of them is not
    a local file (hdfs://, s3a://) or is gone since planning — the
    caller then falls back to the partition probe."""
    if not all(f.startswith("file:") for f in files):
        return None
    try:
        return sum(os.path.getsize(unquote(urlparse(f).path)) for f in files)
    except OSError:
        return None


def _respread(df, target: int, by):
    if by is None:
        return df.repartition(target)
    cols = [by] if isinstance(by, str) else list(by)
    from pyspark.sql import functions as F

    return df.repartition(target, *[F.col(c) for c in cols])


def _parse_bytes(v: str) -> int:
    """'134217728' / '128m' / '1g' -> bytes (Spark size-string grammar,
    enough of it for the two file-split confs)."""
    s = str(v).strip().lower()
    mult = 1
    for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                   ("tb", 1 << 40), ("k", 1 << 10), ("m", 1 << 20),
                   ("g", 1 << 30), ("t", 1 << 40), ("b", 1)):
        if s.endswith(suf):
            s, mult = s[: -len(suf)], m
            break
    return int(float(s) * mult)


if __name__ == "__main__":
    # shell lines that start a spark-submit driver with the archive:
    # eval "$(python -m rsgislib_spark.session)"
    import shlex

    flags, conf_dir = class_archive()
    if conf_dir:
        print(f"export SPARK_CONF_DIR={shlex.quote(conf_dir)}")
    print(f"ARCHIVE_OPTS={shlex.quote(flags)}")

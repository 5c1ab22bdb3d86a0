"""Session start-up: the codegen cache holds a whole pass, a local
session lists partition directories in one task per core, its Python
workers re-read no unchanged zip archive, and the class archive of
``session.class_archive`` is made once, mapped by later launches, and
never fails a launch or changes a result.

Every archive test launches its driver in a fresh process with
``XDG_CACHE_HOME`` under ``tmp_path``, so the host's own archive is
never read or written."""

import importlib.util
import json
import os
import shutil
import subprocess
import sys
import zipfile
import zipimport
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from rsgislib_spark import session
from rsgislib_spark.data import derived, fixtures, pages
from rsgislib_spark.functions.geoparse import geoparse
from rsgislib_spark.geometry import wkb
from rsgislib_spark.operators import knn, zonal
from rsgislib_spark.operators import spatial_join as sj

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One launch: count a range, report the JVM's flags, whether it mapped
# a file of the archive cache and one conf value, then stop and wait
# for the JVM, so a dump at its exit is complete when this returns.
CHILD = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark import SparkContext
from rsgislib_spark.session import get_spark

s = get_spark("archive-test", master="local[1]", **json.loads(sys.argv[2]))
s.sparkContext.setLogLevel("ERROR")
n = s.range(10).count()
bean = s.sparkContext._jvm.java.lang.management.ManagementFactory
proc = SparkContext._gateway.proc
with open(f"/proc/{proc.pid}/maps") as f:
    mapped = sorted({ln.split()[-1] for ln in f if sys.argv[3] in ln})
print(json.dumps({"count": n,
                  "args": list(bean.getRuntimeMXBean().getInputArguments()),
                  "mapped": mapped,
                  "probe": s.conf.get("spark.probe.key", None),
                  "daemon": s.conf.get("spark.python.daemon.module", None),
                  "pythonpath": s.conf.get("spark.executorEnv.PYTHONPATH",
                                           None)}))
s.stop()
SparkContext._gateway.shutdown()
proc.stdin.close()
proc.wait(timeout=120)
"""


def _start(xdg, conf=None, **env):
    child_env = {**os.environ, "XDG_CACHE_HOME": str(xdg),
                 "SPARK_GRAFT_DRIVER_MEM": "1g", **env}
    return subprocess.Popen(
        [sys.executable, "-c", CHILD, REPO, json.dumps(conf or {}),
         os.path.join(str(xdg), "rsgislib_spark")],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        env=child_env, cwd=str(xdg.parent))


def _finish(p):
    out, err = p.communicate(timeout=300)
    assert p.returncode == 0, err[-3000:]
    # nothing but the child's own line: no JVM warning on stdout
    lines = out.splitlines()
    assert len(lines) == 1, out
    res = json.loads(lines[0])
    assert res["count"] == 10
    return res


def _launch(xdg, conf=None, **env):
    return _finish(_start(xdg, conf, **env))


def _flag(res, name):
    return [a for a in res["args"] if a.startswith(f"-XX:{name}=")]


def _cache_files(xdg):
    d = os.path.join(str(xdg), "rsgislib_spark")
    return sorted(n for n in os.listdir(d) if n != "conf")


def _archives(xdg):
    return [n for n in _cache_files(xdg) if n.endswith((".jsa", ".part"))]


@pytest.fixture(scope="module")
def made(tmp_path_factory):
    """A first launch that dumps, a second that adopts and maps the
    dump, and a snapshot of the cache they leave."""
    root = tmp_path_factory.mktemp("archive")
    xdg = root / "xdg"
    first = _launch(xdg)
    dumped = _archives(xdg)
    # the caller's java options are kept, the archive flag next to them
    second = _launch(xdg, {
        "spark.driver.extraJavaOptions": "-Dprobe.extra=1",
        "spark.driver.defaultJavaOptions": "-Dprobe.default=1"})
    shutil.copytree(xdg, root / "snapshot")
    yield xdg, root / "snapshot", first, dumped, second
    shutil.rmtree(root, ignore_errors=True)


@pytest.fixture
def restored(made):
    """The made cache, at its own path (the key names the path of its
    conf dir), as the second launch left it."""
    xdg, snapshot = made[:2]
    shutil.rmtree(xdg)
    shutil.copytree(snapshot, xdg)
    return xdg


def test_first_launch_dumps_and_next_launch_maps(made):
    _, snapshot, first, dumped, second = made
    (dump,) = _flag(first, "ArchiveClassesAtExit")
    assert not _flag(first, "SharedArchiveFile")
    assert dumped == [os.path.basename(dump.split("=", 1)[1])]
    (used,) = _flag(second, "SharedArchiveFile")
    path = used.split("=", 1)[1]
    assert path in second["mapped"]
    assert {"-Dprobe.extra=1", "-Dprobe.default=1"} <= set(second["args"])
    assert not _flag(second, "ArchiveClassesAtExit")
    # the dump was renamed into place, named by its size
    name = os.path.basename(path)
    assert _archives(snapshot) == [name]
    assert name.endswith(f"-{os.path.getsize(path)}.jsa")
    assert os.path.getsize(path) > 10 << 20


def _archive_path(xdg):
    (name,) = _archives(xdg)
    path = os.path.join(str(xdg), "rsgislib_spark", name)
    os.chmod(path, 0o644)  # the JVM writes it read-only
    return path


def test_truncated_archive_is_removed(restored):
    path = _archive_path(restored)
    with open(path, "r+b") as f:
        f.truncate(1 << 20)  # a JVM that maps this dies of SIGBUS
    res = _launch(restored)
    assert not _flag(res, "SharedArchiveFile")
    assert not os.path.exists(path)


@pytest.mark.parametrize("offset", [0, 64 << 20])
def test_corrupt_archive_is_ignored(restored, offset):
    """Garbage over the header, or inside a region (same size): the
    JVM skips the archive."""
    path = _archive_path(restored)
    with open(path, "r+b") as f:
        f.seek(offset)
        f.write(os.urandom(64 << 10))
    res = _launch(restored)
    assert _flag(res, "SharedArchiveFile")
    assert path not in res["mapped"]


def test_mismatched_archive_is_ignored(made, tmp_path):
    """An archive dumped for another class path (its conf dir is
    another) under this launch's key: the JVM skips it, silently."""
    snapshot = made[1]
    conf = tmp_path / "xdg" / "rsgislib_spark" / "conf"
    os.makedirs(conf)
    from pyspark.find_spark_home import _find_spark_home
    key = session._archive_key(_find_spark_home(), str(conf))
    (name,) = _archives(snapshot)
    shutil.copy(os.path.join(str(snapshot), "rsgislib_spark", name),
                conf.parent / f"{key}-{name.split('-', 1)[1]}")
    res = _launch(tmp_path / "xdg")
    (used,) = _flag(res, "SharedArchiveFile")
    assert used.split("=", 1)[1] not in res["mapped"]
    shutil.rmtree(tmp_path / "xdg", ignore_errors=True)


def test_concurrent_first_launches(tmp_path):
    xdg = tmp_path / "xdg"
    procs = [_start(xdg) for _ in range(2)]
    res = [_finish(p) for p in procs]
    assert sum(bool(_flag(r, "ArchiveClassesAtExit")) for r in res) <= 1
    assert len(_archives(xdg)) <= 1
    shutil.rmtree(xdg, ignore_errors=True)


def test_unwritable_cache_is_a_plain_launch(tmp_path):
    xdg = tmp_path / "xdg"
    xdg.write_text("a file, not a directory")
    res = _launch(xdg)
    assert not _flag(res, "SharedArchiveFile")
    assert not _flag(res, "ArchiveClassesAtExit")


def test_conf_dir_with_real_files_is_a_plain_launch(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.probe.key probed\n")
    xdg = tmp_path / "xdg"
    res = _launch(xdg, SPARK_CONF_DIR=str(conf))
    assert res["probe"] == "probed"
    assert not _flag(res, "SharedArchiveFile")
    assert not _flag(res, "ArchiveClassesAtExit")
    assert not xdg.exists()


def test_second_run_compiles_no_class(spark, tmp_path):
    """The codegen cache holds a pass: running the spatial join, the
    kNN join and zonal stats again in one session compiles nothing.
    Spark's default of 100 entries recompiled about 100 of this pass's
    129 classes on every run. AQE is off for the test: it re-plans by
    stage completion order, and a new plan shape compiles new classes
    whatever the cache size."""
    geoparse(pages.pages_df(spark, 2000)).selectExpr(
        "monotonically_increasing_id() AS pt_id", "lon", "lat"
    ).write.parquet(str(tmp_path / "pts"))
    spark.createDataFrame(
        [(p["poly_id"], bytearray(wkb.polygon_to_wkb(fixtures.poly_rings(p))))
         for p in fixtures.POLYGONS], "poly_id BIGINT, geometry BINARY"
    ).write.parquet(str(tmp_path / "polys"))
    derived.sites_df(spark).write.parquet(str(tmp_path / "sites"))
    pts, polys, sites = (spark.read.parquet(str(tmp_path / n))
                         for n in ("pts", "polys", "sites"))
    metric = (spark.sparkContext._jvm.org.apache.spark.metrics.source
              .CodegenMetrics.METRIC_COMPILATION_TIME())

    def digest(df, *cols):
        return tuple(df.agg(F.count("*"), *[F.bit_xor(F.xxhash64(c))
                                            for c in cols]).collect()[0])

    def run():
        out = []
        for how in ("inner", "left"):
            pairs = sj.spatial_join_df(pts, polys, how=how, pt_id_col="pt_id",
                                       with_payload=how != "inner")
            out.append(digest(pairs, "pt_id", "poly_id"))
            out.append(sorted(map(str, zonal.zonal_stats(
                sj.spatial_join_df(pts, polys, how=how, pt_id_col="pt_id"),
                zone_col="poly_id", value_col="lon").collect())))
        for payload in (True, False):
            out.append(digest(knn.knn_kring(pts, sites, pt_id_col="pt_id",
                                            with_payload=payload),
                              "pt_id", "nn_site_id"))
        return out

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        first = run()
        before = metric.getCount()
        assert run() == first
        assert metric.getCount() - before == 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_local_session_caps_listing(spark):
    assert spark.conf.get(session._LISTING) == \
        str(spark.sparkContext.defaultParallelism)


def test_caller_listing_value_is_kept(spark):
    """A value passed to ``get_spark`` survives the cap, also when the
    call reuses the running session."""
    # the call re-applies DEFAULTS (shuffle.partitions 32, not the
    # test session's 8) along with the caller's value
    keys = [k for k in (*session.DEFAULTS, session._LISTING)
            if spark.conf.isModifiable(k)]
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        s = session.get_spark("pytest", master=spark.sparkContext.master,
                              **{session._LISTING: "3"})
        assert s.conf.get(session._LISTING) == "3"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


class _Conf(dict):
    set = dict.__setitem__


@pytest.mark.parametrize("master, conf, capped", [
    ("local", {}, "64"),
    ("local[*]", {}, "64"),
    ("local[4,2]", {}, "64"),
    ("local[*]", {session._LISTING: "7"}, "7"),
    ("yarn", {}, None),
    ("spark://host:7077", {}, None),
    ("local-cluster[2,1,1024]", {}, None),
])
def test_listing_cap_decision(master, conf, capped):
    """Only a local master with no value of its own is capped, at its
    ``defaultParallelism``; a cluster keeps Spark's value."""
    spark = SimpleNamespace(conf=_Conf(conf), sparkContext=SimpleNamespace(
        master=master, defaultParallelism=64))
    session._cap_listing(spark)
    assert spark.conf.get(session._LISTING) == capped


def test_conf_dir_daemon_values_are_kept(tmp_path):
    """spark-defaults' daemon module is kept, and so is its executor
    PYTHONPATH, after the daemon's directory."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text(
        "spark.executorEnv.PYTHONPATH /probe/path\n")
    res = _launch(tmp_path / "xdg", SPARK_CONF_DIR=str(conf))
    assert res["daemon"] == session.DAEMON_MODULE
    assert res["pythonpath"] == f"{session._DAEMON_DIR}{os.pathsep}/probe/path"
    (conf / "spark-defaults.conf").write_text(
        "spark.python.daemon.module pyspark.daemon\n")
    res = _launch(tmp_path / "xdg", SPARK_CONF_DIR=str(conf))
    assert res["daemon"] == "pyspark.daemon"
    assert res["pythonpath"] is None


def _daemon_module():
    """The daemon module, loaded from its file without installing its
    wrapper in this process."""
    spec = importlib.util.spec_from_file_location(
        "daemon_under_test",
        os.path.join(session._DAEMON_DIR, f"{session.DAEMON_MODULE}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _zip(path, **modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_daemon_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    mod = _daemon_module()
    path = str(tmp_path / "pkg.zip")
    _zip(path, first="X = 1\n")
    importer = zipimport.zipimporter(path)
    other = zipimport.zipimporter(path)
    mod.invalidate_caches(importer)  # the daemon stamps what it holds
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or real(p))
    mod.invalidate_caches(importer)
    mod.invalidate_caches(other)
    assert reads == []
    _zip(path, first="X = 1\n", second="X = 2\n")
    mod.invalidate_caches(importer)
    mod.invalidate_caches(other)
    assert reads == [path]
    # both importers see the new entry, the second without a read
    for imp in (importer, other):
        spec = imp.find_spec("second")
        loaded = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(loaded)
        assert loaded.X == 2


def test_reused_worker_rereads_no_archive(spark):
    """Two one-partition Python tasks in one worker: the first wraps
    ``zipimport._read_directory`` with a counter, the second reads how
    many archive directories its set-up (``importlib.invalidate_caches``)
    read. With ``pyspark.daemon`` that was 16. Idle workers are handed
    out in turn, so every task counts in its own worker, and jobs run
    until one worker has run two of them."""
    def reads_since_last_task(_):
        import os
        import zipimport
        seen = getattr(zipimport, "_reads_seen", None)
        if seen is None:
            real = zipimport._read_directory
            seen = zipimport._reads_seen = [0]

            def counted(p):
                seen[0] += 1
                return real(p)
            zipimport._read_directory = counted
            return os.getpid(), None
        reads, seen[0] = seen[0], 0
        return os.getpid(), reads

    installed, counted = set(), []
    for _ in range(16):
        pid, reads = spark.sparkContext.parallelize([0], 1).map(
            reads_since_last_task).collect()[0]
        if reads is None:
            installed.add(pid)
        else:
            assert pid in installed
            counted.append(reads)
            if len(counted) == 2:
                break
    assert counted == [0, 0]


_PATH = "spark.executorEnv.PYTHONPATH"


@pytest.mark.parametrize("master, conf, after", [
    ("local", {}, None),
    ("local[*]", {}, None),
    ("local[4,2]", {}, None),
    ("local[4]", {_PATH: "/a:/b"}, "/a:/b"),
    ("local[4]", {"spark.python.daemon.module": "pyspark.daemon"}, False),
    ("local[4]", {"spark.python.daemon.module": "custom", _PATH: "/a"}, False),
    ("yarn", {}, False),
    ("spark://host:7077", {}, False),
    ("local-cluster[2,1,1024]", {}, False),
])
def test_python_daemon_decision(master, conf, after):
    """Only a local master with no daemon module of its own gets the
    engine's, with its directory first on the executors' PYTHONPATH
    and any path already set ``after`` it; a cluster keeps Spark's
    daemon (``False``: no conf at all)."""
    got = session._python_daemon({"spark.master": master, **conf})
    if after is False:
        assert got == {}
    else:
        assert got == {"spark.python.daemon.module": session.DAEMON_MODULE,
                       _PATH: os.pathsep.join(
                           [session._DAEMON_DIR, *filter(None, [after])])}

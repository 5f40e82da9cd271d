"""The driver JVM's class-data-sharing archive (``session._cds_flags``).

Every test points ``XDG_CACHE_HOME`` at ``tmp_path`` and
``SPARK_CONF_DIR`` at an empty directory, so it neither reads nor
writes the user's cache and does not depend on the host's conf dir.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.find_spark_home import _find_spark_home

from hadoop_brotli_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def cache(tmp_path, monkeypatch):
    """The cds directory of a private cache, with an empty conf dir."""
    conf = tmp_path / "conf"
    conf.mkdir()
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"):
        monkeypatch.delenv(var, raising=False)
    return tmp_path / "xdg" / "spark-graft" / "cds"


def _stem() -> str:
    java = session._java()
    key = session._archive_key(java, _find_spark_home(),
                               os.environ["SPARK_CONF_DIR"])
    return os.path.join(session._cds_dir(), key)


def _classpath() -> str:
    return f"{os.environ['SPARK_CONF_DIR']}/:{_find_spark_home()}/jars/*"


def _dump_small_archive(path: str) -> int:
    """Write a real (1-2 MiB) dynamic archive for the driver classpath;
    the main class exits with a usage error after loading a few
    launcher classes, and the archive is written at exit all the same."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    subprocess.run(
        [session._java(), f"-XX:ArchiveClassesAtExit={path}", "-Xlog:disable",
         "-cp", _classpath(), "org.apache.spark.launcher.Main"],
        capture_output=True, timeout=120)
    return os.path.getsize(path)


def _dead_pid() -> int:
    p = subprocess.Popen([sys.executable, "-c", "pass"])
    p.wait()
    return p.pid


def test_one_of_two_concurrent_claimers_writes(cache):
    # each claimer stays alive, as a starting session would, until
    # both have answered
    code = ("import json; from hadoop_brotli_spark import session; "
            "print(json.dumps(session._cds_flags()), flush=True); input()")
    procs = [subprocess.Popen([sys.executable, "-c", code], cwd=ROOT,
                              stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                              text=True)
             for _ in range(2)]
    results = [json.loads(p.stdout.readline()) for p in procs]
    for p in procs:
        p.communicate("\n", timeout=60)
    writers = [(flags, lock) for flags, lock in results if lock]
    assert len(writers) == 1, results
    flags, lock = writers[0]
    stem = _stem()
    assert lock == stem + ".lock" and os.path.exists(lock)
    assert flags.startswith(f"-XX:ArchiveClassesAtExit={stem}.")
    assert flags.endswith(".tmp")
    assert [f for f, lk in results if not lk] == [""]
    assert not os.path.exists(stem + ".jsa")


def test_finished_writer_is_probed_and_published(cache):
    stem = _stem()
    pid = _dead_pid()
    size = _dump_small_archive(f"{stem}.{pid}.tmp")
    with open(stem + ".lock", "w") as f:
        f.write(f"{pid}\n{_classpath()}\n")

    flags, lock = session._cds_flags()
    assert flags == f"-XX:SharedArchiveFile={stem}.jsa -Xshare:auto"
    assert lock is None
    assert os.path.getsize(stem + ".jsa") == size
    assert sorted(os.listdir(cache)) == sorted(
        [os.path.basename(stem) + s for s in (".jsa", ".size")]
        + ["empty-conf"])
    # a second start maps the published archive as it is
    assert session._cds_flags() == (flags, None)


def test_tmp_that_fails_the_probe_is_deleted(cache):
    stem = _stem()
    pid = _dead_pid()
    os.makedirs(cache)
    with open(f"{stem}.{pid}.tmp", "wb") as f:
        f.write(b"\0" * 4096)
    with open(stem + ".lock", "w") as f:
        f.write(f"{pid}\n{_classpath()}\n")

    flags, lock = session._cds_flags()
    # the dead writer's lock and file are gone; this start claims anew
    assert not os.path.exists(f"{stem}.{pid}.tmp")
    assert not os.path.exists(stem + ".jsa")
    assert lock == stem + ".lock"
    assert flags == f"-XX:ArchiveClassesAtExit={stem}.{os.getpid()}.tmp"


def test_live_writer_is_left_alone(cache):
    stem = _stem()
    os.makedirs(cache)
    with open(f"{stem}.{os.getpid()}.tmp", "wb") as f:
        f.write(b"\0" * 4096)
    with open(stem + ".lock", "w") as f:
        f.write(f"{os.getpid()}\n")
    assert session._cds_flags() == ("", None)
    assert os.path.exists(f"{stem}.{os.getpid()}.tmp")


def test_truncated_archive_is_deleted_and_session_starts(cache, tmp_path):
    """JDK 17 dies with SIGBUS mapping a truncated archive, even under
    -Xshare:auto: the size check must catch it before the JVM starts."""
    stem = _stem()
    size = _dump_small_archive(stem + ".jsa")
    with open(stem + ".size", "w") as f:
        f.write(str(size))
    with open(stem + ".jsa", "r+b") as f:
        f.truncate(4096)

    env = dict(os.environ, SPARK_DRIVER_MEM="1g", PYTHONPATH=ROOT)
    p = subprocess.run(
        [sys.executable, "-c",
         "from hadoop_brotli_spark.session import get_spark; "
         "print(get_spark('cds-test').range(10).count())"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-2000:]
    assert p.stdout.split() == ["10"]
    assert not os.path.exists(stem + ".jsa")
    assert not os.path.exists(stem + ".size")


@pytest.mark.parametrize("set_conf_dir", [True, False])
def test_conf_dir_with_a_config_file_starts_plainly(
        cache, tmp_path, monkeypatch, set_conf_dir):
    if set_conf_dir:
        conf = tmp_path / "conf"
    else:  # the default conf dir, under a stand-in SPARK_HOME
        home = tmp_path / "spark"
        (home / "jars").mkdir(parents=True)
        conf = home / "conf"
        conf.mkdir()
        monkeypatch.setenv("SPARK_HOME", str(home))
        monkeypatch.delenv("SPARK_CONF_DIR")
    (conf / "spark-env.sh.template").write_text("")
    (conf / "spark-defaults.conf").write_text("spark.ui.enabled false\n")

    assert session._cds_flags() == ("", None)
    assert os.environ.get("SPARK_CONF_DIR") == (
        str(conf) if set_conf_dir else None)
    assert not cache.exists()


def test_template_only_default_conf_dir_is_replaced(
        cache, tmp_path, monkeypatch):
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "conf").mkdir()
    (home / "conf" / "log4j2.properties.template").write_text("")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.delenv("SPARK_CONF_DIR")

    flags, lock = session._cds_flags()
    assert lock and flags.startswith("-XX:ArchiveClassesAtExit=")
    empty = cache / "empty-conf"
    assert os.environ["SPARK_CONF_DIR"] == str(empty)
    assert empty.is_dir() and not os.listdir(empty)


def test_unwritable_cache_starts_plainly(cache, tmp_path, monkeypatch):
    # root ignores mode bits, so the cache is a path under a regular file
    (tmp_path / "file").write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "file"))
    assert session._start_options() == (session._LOG_FLAGS, None)


def test_running_jvm_claims_no_lock(spark, cache):
    assert session.get_spark("cds-test") is not None
    assert not cache.exists()


def test_cli_stdout_stays_json_while_writing_and_mapping(cache, sf_dir):
    """JVM warnings (a refused archive, say) must not reach the stdout
    that ``run --json`` writes its rows to."""
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    stem = _stem()
    for step in ("write", "map"):
        # the JVM holds the pipes until it exits, archive written
        p = subprocess.run(
            [sys.executable, "-m", "hadoop_brotli_spark", "run",
             "q01_pricing_summary", "--sf-dir", sf_dir, "--json"],
            cwd=ROOT, env=env, capture_output=True, text=True, timeout=300)
        assert p.returncode == 0, p.stderr[-2000:]
        lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
        assert lines and all(json.loads(ln) for ln in lines), p.stdout
        tmps = [n for n in os.listdir(cache) if n.endswith(".tmp")]
        if step == "write":
            assert len(tmps) == 1 and os.path.exists(stem + ".lock")
        else:
            assert not tmps and os.path.exists(stem + ".jsa")

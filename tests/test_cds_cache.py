"""build_session's class-data-sharing archive (scio_spark/_cds.py) and its
fallbacks, pinned with real sessions: each case starts fresh Python
processes that build a session with ``XDG_CACHE_HOME`` pointed into
``tmp_path``, run a job and print the driver JVM's launch settings."""

import ctypes
import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.find_spark_home import _find_spark_home

from scio_spark import _cds

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = f"""
import json, os, sys
sys.path.insert(0, {ROOT!r})
from scio_spark.context import build_session
s = build_session("cds_test", master="local[1]", confs={{"spark.driver.memory": "512m"}})
jvm = s.sparkContext._jvm
print(json.dumps({{
    "rows": s.range(10).count(),
    "opts": s.sparkContext.getConf().get("spark.driver.extraJavaOptions", ""),
    "classpath": jvm.System.getProperty("java.class.path"),
    "conf_dir": os.environ.get("SPARK_CONF_DIR"),
}}))
"""


def _env(cache, **extra):
    env = {k: v for k, v in os.environ.items() if not k.startswith("PYSPARK_GATEWAY")}
    env.update(XDG_CACHE_HOME=str(cache), **extra)
    return env


def _start(cache, preexec_fn=None, **extra):
    return subprocess.Popen(
        [sys.executable, "-c", CHILD], env=_env(cache, **extra), cwd=str(cache.parent),
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        preexec_fn=preexec_fn,
    )


def _result(proc):
    out, _ = proc.communicate(timeout=400)
    assert proc.returncode == 0, out
    got = json.loads(out.strip().splitlines()[-1])
    assert got["rows"] == 10
    return got


def _session(cache, **kw):
    return _result(_start(cache, **kw))


def _key():
    return _cds.key(_cds._java(), _find_spark_home(), {})


def _cds_dir(cache):
    return cache / "scio_spark" / "cds"


def _plain(got, conf_dir=None):
    """Launched exactly as without CDS: no flag, the real conf dir first on
    the classpath, and the caller's SPARK_CONF_DIR left as it was."""
    assert "SharedArchiveFile" not in got["opts"]
    assert "ArchiveClassesAtExit" not in got["opts"]
    assert "-Xlog:cds" not in got["opts"]
    real = conf_dir or os.path.join(_find_spark_home(), "conf")
    assert got["classpath"].split(os.pathsep)[0].rstrip("/") == str(real).rstrip("/")
    assert got["conf_dir"] == (str(conf_dir) if conf_dir else None)


@pytest.fixture
def cache(tmp_path):
    """The sessions' ``XDG_CACHE_HOME``, removed afterwards: an archive is
    140 MB or more, and pytest keeps its recent temp dirs."""
    path = tmp_path / "cache"
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _drop_dac_override():
    """preexec_fn: drop CAP_DAC_OVERRIDE/CAP_DAC_READ_SEARCH from the
    child's bounding set, so file modes bind for it even as root."""
    libc = ctypes.CDLL(None, use_errno=True)
    for cap in (1, 2):  # CAP_DAC_OVERRIDE, CAP_DAC_READ_SEARCH
        if libc.prctl(24, cap, 0, 0, 0) != 0:  # PR_CAPBSET_DROP
            raise OSError(ctypes.get_errno(), "prctl(PR_CAPBSET_DROP)")


def test_fresh_cache_dumps_once_then_the_next_session_maps_it(cache):
    cds = _cds_dir(cache)
    first = _session(cache)
    assert f"-XX:ArchiveClassesAtExit={cds}/{_key()}." in first["opts"]
    assert first["conf_dir"] is None  # restored after the launch
    archive = cds / f"{_key()}.jsa"
    # promoted after the dumping JVM exited 0; no temp file or lock left
    assert sorted(os.listdir(cds)) == sorted(["empty-conf", archive.name])
    assert _cds._loads(_cds._java(), str(archive))

    second = _session(cache)
    assert f"-XX:SharedArchiveFile={archive}" in second["opts"]
    assert "ArchiveClassesAtExit" not in second["opts"]
    assert second["classpath"].split(os.pathsep)[0].rstrip("/") == str(cds / "empty-conf")
    assert second["conf_dir"] is None
    assert sorted(os.listdir(cds)) == sorted(["empty-conf", archive.name])


@pytest.mark.parametrize("how", ["cannot_be_created", "read_only"])
def test_unusable_cache_dir_still_starts_a_plain_session(cache, how):
    preexec_fn = None
    if how == "cannot_be_created":
        cache.write_text("not a directory")
    else:
        cache.mkdir()
        cache.chmod(0o555)
        if os.geteuid() == 0:
            preexec_fn = _drop_dac_override
    try:
        got = _session(cache, preexec_fn=preexec_fn)
    finally:
        if how == "read_only":
            cache.chmod(0o755)
    _plain(got)
    if how == "read_only":
        assert os.listdir(cache) == []
    else:
        cache.unlink()


def test_temp_archive_is_never_mapped_and_is_swept_once_its_pid_is_dead(cache):
    cds = _cds_dir(cache)
    cds.mkdir(parents=True)
    owner = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(600)"])
    try:
        garbage = cds / f"{_key()}.{owner.pid}.tmp"
        garbage.write_bytes(b"\x00garbage" * 4096)
        lock = cds / f"{_key()}.lock"
        lock.write_text(str(owner.pid))
        # its owner lives: the dump may be running, so no one touches it
        _plain(_session(cache))
        assert garbage.exists() and lock.exists()
    finally:
        owner.kill()
        owner.wait()

    got = _session(cache)
    assert str(garbage) not in got["opts"]
    assert "SharedArchiveFile" not in got["opts"]
    assert f"-XX:ArchiveClassesAtExit={cds}/{_key()}." in got["opts"]
    assert sorted(os.listdir(cds)) == sorted(["empty-conf", f"{_key()}.jsa"])
    assert _cds._loads(_cds._java(), str(cds / f"{_key()}.jsa"))


def test_conf_dir_with_a_real_file_skips_cds(tmp_path, cache):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    (conf / "spark-defaults.conf").write_text("# no settings\n")
    _plain(_session(cache, SPARK_CONF_DIR=str(conf)), conf_dir=conf)
    assert not cache.exists()


def test_two_concurrent_first_sessions_promote_one_archive(cache):
    cds = _cds_dir(cache)
    procs = [_start(cache), _start(cache)]
    got = [_result(p) for p in procs]
    dumped = ["ArchiveClassesAtExit" in g["opts"] for g in got]
    assert sorted(dumped) == [False, True]
    _plain(got[dumped.index(False)])
    archive = cds / f"{_key()}.jsa"
    assert sorted(os.listdir(cds)) == sorted(["empty-conf", archive.name])
    assert _cds._loads(_cds._java(), str(archive))

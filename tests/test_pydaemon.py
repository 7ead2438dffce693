"""The Python worker daemon (``scio_spark._pydaemon``): its zip importers
re-read an archive only when it changed, ``build_session`` names it only
when local workers can import this package, and the contract queries that
build indexes keep their dirs under the per-process round-trip root."""

import importlib
import os
import re
import subprocess
import sys
import tempfile
import zipfile
import zipimport
from pathlib import Path

import pandas as pd
import pytest
from pyspark import SparkContext

import __spark_entry__ as ent
from scio_spark import context
from scio_spark._pydaemon import StatZipImporter, install
from scio_spark.contract import _common

REPO = Path(__file__).resolve().parent.parent
SF = "/root/testdata/sf0.001"


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_stat_zip_importer_rereads_only_a_changed_zip(tmp_path, monkeypatch):
    zpath = str(tmp_path / "mods.zip")
    _write_zip(zpath, {"_pyd_m1": "X = 1\n"})
    monkeypatch.setitem(sys.path_importer_cache, zpath, StatZipImporter(zpath))
    monkeypatch.syspath_prepend(zpath)
    for name in ("_pyd_m1", "_pyd_m2"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("_pyd_m1").X == 1

    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or read(p)
    )
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert zpath not in reads

    _write_zip(zpath, {"_pyd_m1": "X = 1\n", "_pyd_m2": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(zpath) == 1
    assert importlib.import_module("_pyd_m2").Y == 2


def test_an_importer_built_from_a_stale_directory_still_rereads(tmp_path):
    zpath = str(tmp_path / "mods.zip")
    _write_zip(zpath, {"_pyd_m4": "A = 4\n"})
    StatZipImporter(zpath)
    _write_zip(zpath, {"_pyd_m4": "A = 4\n", "_pyd_m5": "B = 5\n"})
    later = StatZipImporter(zpath)  # takes the directory read before the rewrite
    assert later.find_spec("_pyd_m5") is None
    later.invalidate_caches()
    assert later.find_spec("_pyd_m5") is not None


def test_install_swaps_the_hook_and_cached_zip_importers(tmp_path, monkeypatch):
    zpath = str(tmp_path / "mods.zip")
    _write_zip(zpath, {"_pyd_m3": "Z = 3\n"})
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    monkeypatch.setattr(
        sys, "path_importer_cache",
        {**sys.path_importer_cache, zpath: zipimport.zipimporter(zpath)},
    )
    install()
    assert StatZipImporter in sys.path_hooks
    assert zipimport.zipimporter not in sys.path_hooks
    assert type(sys.path_importer_cache[zpath]) is StatZipImporter


def test_session_workers_run_the_daemon(spark):
    def worker_importers(it):  # nested: pickled by value, not by module
        import importlib
        import sys
        import time

        for _ in it:
            pass
        t = time.perf_counter()
        importlib.invalidate_caches()
        ms = (time.perf_counter() - t) * 1000
        types = {
            type(f).__name__
            for p, f in sys.path_importer_cache.items()
            if ".zip" in p and f is not None  # None: a missing path
        }
        yield pd.DataFrame({"types": [",".join(sorted(types))], "ms": [ms]})

    assert spark.sparkContext.getConf().get(context.DAEMON_CONF) == (
        "scio_spark._pydaemon"
    )
    rows = (
        spark.range(2, numPartitions=1)
        .mapInPandas(worker_importers, "types string, ms double")
        .collect()
    )
    assert rows[0].types == "StatZipImporter"
    assert rows[0].ms < 5


SESSION = """
import sys
sys.path.insert(0, {repo!r})
import pandas as pd
from scio_spark.context import DAEMON_CONF, build_session

def types(it):
    import sys
    for _ in it:
        pass
    yield pd.DataFrame({{"types": [",".join(sorted(
        {{type(f).__name__ for p, f in sys.path_importer_cache.items()
         if ".zip" in p and f is not None}}
    ))]}})

s = build_session("pydaemon_fallback", master="local[1]", confs={confs!r})
print("DAEMON", s.sparkContext.getConf().get(DAEMON_CONF))
print("TYPES", s.range(3).mapInPandas(types, "types string").collect()[0].types)
"""


@pytest.mark.parametrize(
    "pythonpath, confs, daemon",
    [
        # the workers cannot import scio_spark: the stock daemon runs
        ("", {}, None),
        # they could, but the caller named a daemon module: it is kept
        (str(REPO), {context.DAEMON_CONF: "pyspark.daemon"}, "pyspark.daemon"),
    ],
)
def test_stock_daemon_fallbacks(tmp_path, pythonpath, confs, daemon):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONSAFEPATH"}
    env["PYTHONPATH"] = pythonpath
    script = SESSION.format(repo=str(REPO), confs=confs)
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = dict(
        l.split(" ", 1) for l in out.stdout.splitlines()
        if l.startswith(("DAEMON ", "TYPES "))
    )
    assert lines["DAEMON"] == str(daemon)
    assert lines["TYPES"] == "zipimporter"


def test_daemon_only_when_workers_import_this_package(tmp_path, monkeypatch):
    monkeypatch.setattr(SparkContext, "_jvm", None)  # decide from this process
    monkeypatch.delenv("PYTHONSAFEPATH", raising=False)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    decide = context._workers_import_this_package
    monkeypatch.chdir(REPO)
    assert decide("local[2]", {})
    assert decide("local", {})
    assert not decide("local-cluster[2,1,1024]", {})
    assert not decide("spark://host:7077", {})
    monkeypatch.setenv("PYTHONSAFEPATH", "1")
    assert not decide("local[2]", {})
    monkeypatch.setenv("PYTHONPATH", str(REPO))
    assert decide("local[2]", {})
    # another scio_spark earlier on the workers' path shadows this one
    (tmp_path / "scio_spark").mkdir()
    (tmp_path / "scio_spark" / "__init__.py").write_text("")
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), str(REPO)]))
    assert not decide("local[2]", {})
    monkeypatch.delenv("PYTHONSAFEPATH")
    monkeypatch.delenv("PYTHONPATH")
    (tmp_path / "elsewhere").mkdir()
    monkeypatch.chdir(tmp_path / "elsewhere")
    assert not decide("local[2]", {})
    assert decide("local[2]", {"spark.executorEnv.PYTHONPATH": str(REPO)})
    monkeypatch.setenv("PYTHONPATH", str(REPO))
    assert decide("local[2]", {})


def test_daemon_decision_reads_a_running_jvm(spark, tmp_path, monkeypatch):
    # a new context in this JVM forks its workers in the JVM's working dir
    # with the JVM's environment, not in this process's
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONSAFEPATH", "1")
    assert context._workers_import_this_package("local[2]", {})


def test_index_queries_write_under_the_round_trip_root(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(_common, "_RT_SWEPT", set())
    names = [
        "ann_ivf_appended", "ann_pq_index", "ann_ivfpq_index",
        "semantic_dedup_incremental", "kv_store_join",
    ]
    for name in names:
        assert ent.queries()[name](spark, SF).count() > 0

    leaked = r"scio_spark_\w*idx_|kv_store_"
    assert not [n for n in os.listdir(tmp_path) if re.match(leaked, n)]
    made = os.listdir(tmp_path / "scio_spark_rt" / str(os.getpid()) / "sf0.001")
    for prefix in ("ivf", "pq", "ivfpq", "sem"):
        assert any(re.fullmatch(prefix + "_index_[0-9a-f]{32}", m) for m in made)
    assert any(re.fullmatch("kv_store_[0-9a-f]{32}", m) for m in made)

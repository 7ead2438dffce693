"""The contract queries' round-trip files live under a per-process root in
the temp dir, so two checkouts or concurrent checkers never share them."""

import os
import subprocess
import sys
import tempfile

from scio_spark.contract import _common


def test_rt_path_is_per_process_under_the_temp_dir(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(_common, "_RT_SWEPT", set())
    base = tmp_path / "scio_spark_rt"
    gone = subprocess.Popen([sys.executable, "-c", "pass"])
    gone.wait()
    (base / str(gone.pid) / "sf0.01").mkdir(parents=True)
    (base / str(os.getppid())).mkdir()

    path = _common._rt_path("/data/sf0.01/", "orc")

    assert path == str(base / str(os.getpid()) / "sf0.01" / "orc")
    # the first call sweeps roots whose process is gone, and only those
    assert sorted(os.listdir(base)) == [str(os.getppid())]

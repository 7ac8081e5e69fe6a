"""The Python worker daemon's stat-gated zipimporter cache rule."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pandas as pd

import big_data_pipeline_spark.worker_daemon  # noqa: F401  installs the rule


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


def test_unchanged_archive_is_not_reread_and_a_rewrite_is(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"_wd_probe_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("_wd_probe_a").X == 1
        importer = sys.path_importer_cache[str(archive)]
        assert isinstance(importer, zipimport.zipimporter)
        importer.invalidate_caches()  # the first call reads and stamps

        reads = []
        read_directory = zipimport._read_directory
        monkeypatch.setattr(
            zipimport, "_read_directory",
            lambda p: reads.append(p) or read_directory(p))
        for _ in range(3):
            importlib.invalidate_caches()
        assert [p for p in reads if p == str(archive)] == []

        _write_zip(archive, {"_wd_probe_a.py": "X = 1\n", "_wd_probe_b.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert [p for p in reads if p == str(archive)] == [str(archive)]
        assert importlib.import_module("_wd_probe_b").Y == 2
    finally:
        sys.modules.pop("_wd_probe_a", None)
        sys.modules.pop("_wd_probe_b", None)


def test_python_workers_run_the_engine_daemon(spark):
    def probe(batches):
        import zipimport  # noqa: PLC0415 - resolved in the worker

        for _ in batches:
            yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    got = {r.m for r in spark.range(4).mapInPandas(probe, "m string").collect()}
    assert got == {"big_data_pipeline_spark.worker_daemon"}


def test_workers_import_the_package_outside_the_repo(tmp_path):
    """A driver script started outside the repo root, with the package on
    its own ``sys.path`` but no ``PYTHONPATH``, still runs Python UDFs:
    ``get_spark`` hands the package root to the workers."""
    repo = Path(__file__).resolve().parents[1]
    script = tmp_path / "drive.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(repo)!r})
        from big_data_pipeline_spark.session import get_spark
        spark = get_spark(
            "outside-repo", master="local[1]",
            extra_conf={{"spark.ui.enabled": "false"}})
        print("rows", spark.range(3).mapInPandas(lambda it: it, "id long").count())
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300)
    assert run.returncode == 0, run.stderr[-3000:]
    assert "rows 3" in run.stdout

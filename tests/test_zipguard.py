"""The zipimport guard: an importer re-reads its archive's directory only
when the archive changed, and Python workers run with the guard."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from metadata_crawler_spark import zipguard

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GUARDED = sys.version_info < (3, 13)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding one imported module, and a log of the
    directory reads of that zip."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zg_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    for name in ("zg_mod_a", "zg_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zg_mod_a").X == 1
    reads: list[str] = []
    if GUARDED:
        read_directory = zipimport._read_directory

        def counted(archive):
            if archive == path:
                reads.append(archive)
            return read_directory(archive)

        monkeypatch.setattr(zipimport, "_read_directory", counted)
    return path, reads


@pytest.mark.skipif(not GUARDED, reason="CPython >= 3.13 re-reads lazily")
def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    zipguard.install()
    importlib.invalidate_caches()  # the importer's first guarded call reads
    first = len(reads)
    assert first == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == first


@pytest.mark.skipif(not GUARDED, reason="CPython >= 3.13 re-reads lazily")
def test_rewritten_archive_is_reread(archive):
    path, reads = archive
    zipguard.install()
    importlib.invalidate_caches()
    _write_zip(path, {"zg_mod_a": "X = 1\n", "zg_mod_b": "Y = 2\n"})
    before = len(reads)
    importlib.invalidate_caches()
    assert len(reads) == before + 1
    assert importlib.import_module("zg_mod_b").Y == 2


def test_install_is_idempotent(monkeypatch):
    cls = zipimport.zipimporter
    if GUARDED:
        # start from the unguarded method, as a fresh worker does
        monkeypatch.setattr(cls, "invalidate_caches", cls.invalidate_caches.__wrapped__)
    plain = cls.invalidate_caches
    zipguard.install()
    once = cls.invalidate_caches
    zipguard.install()
    assert cls.invalidate_caches is once
    if GUARDED:
        assert once.__module__ == zipguard.__name__ and once.__wrapped__ is plain
    else:
        assert once is plain


def test_install_is_a_noop_from_3_13(monkeypatch):
    cls = zipimport.zipimporter
    if GUARDED:
        monkeypatch.setattr(cls, "invalidate_caches", cls.invalidate_caches.__wrapped__)
    plain = cls.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    zipguard.install()
    assert cls.invalidate_caches is plain


_WORKER_SCRIPT = """\
import json
import sys

sys.path.insert(0, sys.argv[1])
import pandas as pd

import metadata_crawler_spark.functions.urls as urls
from metadata_crawler_spark.session import get_spark


def report(batches):
    import zipimport

    import metadata_crawler_spark

    guard = zipimport.zipimporter.invalidate_caches
    for pdf in batches:
        yield pd.DataFrame({
            "canon": urls._canon_batch(pdf["url"]),
            "guard": guard.__module__,
            "package": metadata_crawler_spark.__file__,
        })


spark = get_spark("zipguard-worker", cores=1, shuffle_partitions=1)
df = spark.createDataFrame([("HTTP://Example.COM/a",)], "url string")
rows = df.mapInPandas(report, "canon string, guard string, package string").collect()
print(json.dumps([r.asDict() for r in rows]))
spark.stop()
"""


def test_python_worker_runs_with_the_guard(tmp_path):
    """A Python-worker task that uses the package (every engine UDF does)
    runs with the guard in place: the worker imported the package from
    the zip ship_package shipped, not from the launch directory."""
    script = tmp_path / "worker_guard.py"
    script.write_text(_WORKER_SCRIPT)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script), REPO],
        capture_output=True, text=True, cwd=str(tmp_path), env=env,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    rows = json.loads(proc.stdout.strip().splitlines()[-1])
    assert len(rows) == 1
    assert rows[0]["canon"] == "http://example.com/a"
    assert rows[0]["guard"] == (zipguard.__name__ if GUARDED else "zipimport")
    assert ".zip" in rows[0]["package"], rows[0]["package"]

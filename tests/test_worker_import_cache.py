"""The stat-guarded zipimporter invalidation (pdf_extraction_ai_agent_spark/
zipimport_guard.py): an unchanged archive is not re-read, a changed or
missing one is handled as before, and inside a reused pyspark worker the
per-task ``importlib.invalidate_caches()`` stops re-reading pyspark.zip."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

import pdf_extraction_ai_agent_spark  # noqa: F401  (installs the guard)
from pdf_extraction_ai_agent_spark import zipimport_guard

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding ``zg_mod_a`` on sys.path, the module imported from it,
    and a spy list of the archives ``zipimport._read_directory`` reads."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zg_mod_a": "A = 1\n"})
    monkeypatch.setattr(sys, "path", [archive, *sys.path])
    import zg_mod_a  # noqa: F401

    reads: list[str] = []
    real = zipimport._read_directory

    def spy(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    yield archive, reads
    for name in ("zg_mod_a", "zg_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def test_install_is_idempotent():
    guarded = zipimport.zipimporter.invalidate_caches
    assert guarded._stat_guarded
    zipimport_guard.install()
    importlib.reload(zipimport_guard).install()
    assert zipimport.zipimporter.invalidate_caches is guarded


def test_unchanged_archive_is_not_reread(zip_on_path):
    archive, reads = zip_on_path
    importlib.invalidate_caches()  # stamps the importer
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in reads


def test_rewritten_archive_is_reread(zip_on_path):
    archive, reads = zip_on_path
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        import zg_mod_b  # noqa: F401
    _write_zip(archive, {"zg_mod_a": "A = 1\n", "zg_mod_b": "B = 2\n"})
    importlib.invalidate_caches()
    import zg_mod_b

    assert zg_mod_b.B == 2
    assert archive in reads


def test_deleted_archive_does_not_raise(zip_on_path):
    archive, _ = zip_on_path
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert sys.path_importer_cache[archive]._files == {}


# One local[1] session in a fresh process: its single python worker is
# reused for every task, in partition order. The UDF references a package
# function, so unpickling it in the worker imports the package (and so
# installs the guard) during the first task.
_WORKER_PROBE = r"""
import json, sys
import pandas as pd
from pyspark.sql import SparkSession, functions as F
from pdf_extraction_ai_agent_spark.zipimport_guard import install

spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())

@F.pandas_udf("string")
def probe(part: pd.Series) -> pd.Series:
    import importlib, os, zipimport
    install  # a package reference: the worker imports the package to unpickle this
    reads = []
    real = zipimport._read_directory
    def spy(path):
        reads.append(path)
        return real(path)
    zipimport._read_directory = spy
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real
    zips = [f.archive for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)]
    return part.map(lambda p: json.dumps({
        "part": int(p), "pid": os.getpid(),
        "guarded": bool(getattr(zipimport.zipimporter.invalidate_caches,
                                "_stat_guarded", False)),
        "pyspark_zip_importers": sum(z.endswith("pyspark.zip") for z in zips),
        "pyspark_zip_reads": sum(r.endswith("pyspark.zip") for r in reads),
    }))

df = spark.range(0, 4, 1, numPartitions=4).select(
    probe(F.spark_partition_id().cast("string")).alias("r"))
print(json.dumps(sorted((json.loads(r.r) for r in df.collect()), key=lambda d: d["part"])))
spark.stop()
"""


def test_reused_worker_skips_pyspark_zip_rereads():
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    out = subprocess.run(
        [sys.executable, "-c", _WORKER_PROBE], cwd=ROOT, env=env, check=True,
        capture_output=True, text=True, timeout=300,
    )
    tasks = json.loads(out.stdout.strip().splitlines()[-1])
    assert [t["part"] for t in tasks] == [0, 1, 2, 3]
    assert len({t["pid"] for t in tasks}) == 1, "one reused worker runs every task"
    if tasks[0]["pyspark_zip_importers"] == 0:
        pytest.skip("the python workers import pyspark from a directory, not pyspark.zip")
    # the first task's probe stamps the importers: the spy sees those reads
    assert tasks[0]["pyspark_zip_reads"] > 0
    for t in tasks[1:]:
        assert t["guarded"]
        assert t["pyspark_zip_reads"] == 0

"""The engine's Python worker daemon (``mo_etl_spark.pyworker``): the
zipimport re-read backport, and that ``get_spark`` sessions run it from
any working directory."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from mo_etl_spark import pyworker
from mo_etl_spark.session import ENGINE_ROOT

backport = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython >= 3.12 invalidates zipimport caches lazily"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` with the daemon's ``invalidate_caches``
    installed, as in a worker; ``reads`` counts directory reads."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"pw_old": "X = 1\n"})
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches)
    monkeypatch.syspath_prepend(path)
    for mod in ("pw_old", "pw_new"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    assert importlib.import_module("pw_old").X == 1
    return path, reads


@backport
def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()  # first call: no stamp yet, reads once
    n = len(reads)
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == n
    assert "pw_old.py" in zipimport._zip_directory_cache[path]


@backport
def test_rewritten_archive_is_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()
    n = len(reads)
    size = os.path.getsize(path)
    _write_zip(path, {"pw_old": "X = 1\n", "pw_new": "Y = 2  # a bigger archive\n"})
    assert os.path.getsize(path) != size
    importlib.invalidate_caches()
    assert len(reads) == n + 1
    assert importlib.import_module("pw_new").Y == 2


def test_session_workers_run_engine_daemon(spark):
    def probe(it):
        import sys
        import zipimport

        import pandas as pd

        for _ in it:
            yield pd.DataFrame(
                {
                    "daemon": [sys.modules["__main__"].__spec__.name],
                    "invalidate": [zipimport.zipimporter.invalidate_caches.__code__.co_filename],
                }
            )

    row = spark.range(1).mapInPandas(probe, "daemon string, invalidate string").first()
    assert row.daemon == "mo_etl_spark.pyworker"
    if sys.version_info < (3, 12):
        assert row.invalidate == pyworker.__file__


_OUTSIDE_SCRIPT = """
import sys
sys.path.insert(0, {root!r})
from mo_etl_spark.session import get_spark

def fn(pdf):
    import mo_etl_spark
    return pdf.assign(n=len(pdf), src=mo_etl_spark.__file__)

spark = get_spark(app_name="pyworker-outside", shuffle_partitions=2)
rows = (
    spark.range(6).selectExpr("id % 2 AS k", "id")
    .groupBy("k").applyInPandas(fn, "k long, id long, n long, src string")
    .collect()
)
print("ROWS", len(rows), sorted({{r.n for r in rows}}), rows[0].src)
spark.stop()
"""


def test_workers_find_engine_outside_checkout(tmp_path):
    """No engine checkout in the working directory and no PYTHONPATH:
    the workers still import the daemon module and engine code."""
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "PYSPARK_SUBMIT_ARGS")}
    env.update(
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_GRAFT_GC_OPTS="-XX:+UseParallelGC -XX:TieredStopAtLevel=1",
    )
    script = tmp_path / "outside.py"
    script.write_text(textwrap.dedent(_OUTSIDE_SCRIPT.format(root=ENGINE_ROOT)))
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    src = os.path.join(ENGINE_ROOT, "mo_etl_spark", "__init__.py")
    assert f"ROWS 6 [3] {src}" in proc.stdout

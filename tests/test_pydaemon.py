"""pond_spark's Python worker daemon (pond_spark/pydaemon.py): the zip
directory cache it installs, and that get_spark sessions start their
workers from it."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(code: str, cwd: str, timeout: int = 300) -> str:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["POND_SPARK_DRIVER_MEM"] = "512m"
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=timeout,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return proc.stdout


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport re-reads lazily from 3.13"
)
def test_unchanged_zip_is_not_reread(tmp_path):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/one.py", "X = 1\n")
    out = _run(f"""
        import importlib, os, sys, zipimport
        sys.path.insert(0, {ROOT!r})
        sys.path.insert(0, {archive!r})
        reads = []
        real = zipimport._read_directory
        def counted(path):
            reads.append(path)
            return real(path)
        zipimport._read_directory = counted

        import zpkg.one
        n = len(reads)
        importlib.invalidate_caches()
        print("stock", len(reads) - n)  # one re-read per importer

        from pond_spark import pydaemon
        pydaemon.install()
        importlib.invalidate_caches()  # first read under the cache
        n = len(reads)
        for _ in range(3):
            importlib.invalidate_caches()
        print("unchanged", len(reads) - n)

        import zipfile
        with zipfile.ZipFile({archive!r}, "a") as z:
            z.writestr("zpkg/two.py", "Y = 2\\n")
        n = len(reads)
        importlib.invalidate_caches()
        print("changed", len(reads) - n)
        import zpkg.two
        print("imported", zpkg.two.Y)
    """, cwd=str(tmp_path))
    got = dict(line.split() for line in out.splitlines())
    assert int(got["stock"]) >= 2  # the package adds a second importer
    assert got["unchanged"] == "0"
    assert got["changed"] == "1"  # once per archive, not per importer
    assert got["imported"] == "2"


def test_python_tasks_run_under_pond_daemon(spark):
    import pyarrow as pa

    def where(batches):
        import zipimport

        code = zipimport.zipimporter.invalidate_caches.__code__
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"f": [code.co_filename] * b.num_rows}
            )

    files = {
        r.f
        for r in spark.range(0, 8, 1, 2)
        .mapInArrow(where, "f string")
        .distinct()
        .collect()
    }
    if sys.version_info < (3, 13):
        assert files == {os.path.join(ROOT, "pond_spark", "pydaemon.py")}
    else:  # install() leaves the lazy stock method in place
        import zipimport

        assert files == {
            zipimport.zipimporter.invalidate_caches.__code__.co_filename
        }


def test_udf_runs_from_any_working_directory(tmp_path):
    """The daemon module is imported by the workers: get_spark puts its
    directory on their PYTHONPATH, so a driver started elsewhere with no
    PYTHONPATH still runs Python tasks."""
    out = _run(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from pond_spark.session import get_spark
        from pyspark.sql import functions as F
        spark = get_spark("pydaemon_cwd", master="local[1]",
                          shuffle_partitions=1)
        plus = F.udf(lambda x: x + 1, "long")
        print(sorted(r[0] for r in spark.range(3).select(plus("id")).collect()))
        spark.stop()
    """, cwd=str(tmp_path))
    assert out.strip().splitlines()[-1] == "[1, 2, 3]"

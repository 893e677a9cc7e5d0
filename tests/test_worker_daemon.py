"""The engine's PySpark worker daemon (``worker_daemon``).

* the ``zipimporter.invalidate_caches`` replacement, with no session:
  an unchanged archive is not re-read, a rewritten one is, and a
  deleted one falls back to stock behaviour;
* the ``spark`` fixture's Python workers really run under the daemon:
  the ``pyspark.zip`` directory survives from one job to the next;
* ``get_spark`` makes the package importable in the workers when the
  driver was started from elsewhere with ``PYTHONPATH`` unset.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from openseizuredatabase_spark import worker_daemon

eager_zip_reads = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython 3.12 reads zip directories lazily"
)

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as zf:
        for name in names:
            zf.writestr(name, f"X = {name!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip with one module, a zipimporter on it, and a count of the
    central-directory reads made through ``zipimport._read_directory``."""
    path = str(tmp_path / "lib.zip")
    _write_zip(path, ["a.py"])
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive_path):
        reads.append(archive_path)
        return stock_read(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importer = zipimport.zipimporter(path)
    yield path, importer, reads
    zipimport._zip_directory_cache.pop(path, None)
    worker_daemon._stamps.pop(path, None)


@eager_zip_reads
def test_unchanged_archive_is_not_reread(archive):
    path, importer, reads = archive
    worker_daemon.invalidate_caches(importer)  # first call reads and stamps
    files = importer._files
    del reads[:]
    for _ in range(3):
        worker_daemon.invalidate_caches(importer)
    assert reads == []
    assert importer._files is files
    assert zipimport._zip_directory_cache[path] is files


@eager_zip_reads
def test_rewritten_archive_is_reread(archive):
    path, importer, reads = archive
    worker_daemon.invalidate_caches(importer)
    assert "b.py" not in importer._files
    _write_zip(path, ["a.py", "b.py"])
    worker_daemon.invalidate_caches(importer)
    assert "b.py" in importer._files
    assert zipimport._zip_directory_cache[path] is importer._files


@eager_zip_reads
def test_deleted_archive_falls_back_to_stock(archive):
    path, importer, _ = archive
    worker_daemon.invalidate_caches(importer)
    os.remove(path)
    worker_daemon.invalidate_caches(importer)
    assert importer._files == {}
    assert path not in zipimport._zip_directory_cache


@eager_zip_reads
def test_workers_keep_pyspark_zip_directory_across_jobs(spark):
    def probe(batches):
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        (zip_path,) = [p for p in sys.path if os.path.basename(p) == "pyspark.zip"]
        yield pd.DataFrame(
            {
                "dir_id": [id(zipimport._zip_directory_cache[zip_path])],
                "module": [zipimport.zipimporter.invalidate_caches.__module__],
            }
        )

    rows = [
        spark.range(1, numPartitions=1).mapInPandas(probe, "dir_id long, module string").first()
        for _ in range(3)
    ]
    assert {r.module for r in rows} == {"openseizuredatabase_spark.worker_daemon"}
    assert len({r.dir_id for r in rows}) == 1


def test_workers_import_package_without_pythonpath(tmp_path, sf_dir):
    """Driver started outside the repository with ``PYTHONPATH`` unset: the
    daemon and the query's UDFs must still import in the workers."""
    script = tmp_path / "one_query.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {REPO_ROOT!r})
            from openseizuredatabase_spark.plans.registry import QUERIES
            from openseizuredatabase_spark.session import get_spark

            spark = get_spark("worker-pythonpath", cpus=1)
            print("rows", len(QUERIES["c9_fft_features"].fn(spark, {sf_dir!r}).collect()))
            spark.stop()
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "rows" in proc.stdout

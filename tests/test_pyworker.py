"""The worker-daemon entry point (`hdp2_5_hive2_spark.pyworker`): a zip
archive's directory is re-read only after the archive changes, and the
daemon module resolves whatever the driver's working directory is."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

from hdp2_5_hive2_spark import pyworker


def _write_archive(path: Path, body: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zmod_pyworker.py", body)


def test_zip_directory_reread_only_after_archive_changes(tmp_path, monkeypatch):
    # importing the module installs nothing; only running it as the daemon does
    assert zipimport.zipimporter.invalidate_caches is pyworker._stock_invalidate
    archive = tmp_path / "mods.zip"
    _write_archive(archive, "V = 1\n")
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path == str(archive):
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pyworker._invalidate_if_changed
    )
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, "zmod_pyworker", raising=False)
    assert importlib.import_module("zmod_pyworker").V == 1

    importlib.invalidate_caches()  # first call through the patch: read + stamp
    first = len(reads)
    assert first >= 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == first, "unchanged archive was re-read"

    _write_archive(archive, "V = 22\n")  # new size, new mtime
    importlib.invalidate_caches()
    assert len(reads) == first + 1, "rewritten archive was not re-read"
    del sys.modules["zmod_pyworker"]
    assert importlib.import_module("zmod_pyworker").V == 22


def test_unstatable_archive_keeps_stock_behavior(tmp_path, monkeypatch):
    archive = tmp_path / "gone.zip"
    _write_archive(archive, "V = 1\n")
    importer = zipimport.zipimporter(str(archive))
    pyworker._invalidate_if_changed(importer)
    assert importer._files
    archive.unlink()
    pyworker._invalidate_if_changed(importer)  # stock: missing archive -> empty
    assert importer._files == {}
    _write_archive(archive, "V = 1\n")  # back again: read, not skipped
    pyworker._invalidate_if_changed(importer)
    assert importer._files


def test_map_in_pandas_runs_from_foreign_cwd(tmp_path):
    """The driver runs from an unrelated directory and finds the package
    through sys.path only (no PYTHONPATH): the JVM must still start the
    daemon module, and the worker must run with the patched importer."""
    repo = str(Path(__file__).resolve().parent.parent)
    script = f"""
import sys
sys.path.insert(0, {repo!r})
from hdp2_5_hive2_spark.session import get_session

spark = get_session(master="local[1]", shuffle_partitions=1,
                    extra_conf={{"spark.ui.showConsoleProgress": "false"}})
assert spark.conf.get("spark.python.daemon.module") == "hdp2_5_hive2_spark.pyworker"

def probe(batches):
    import zipimport
    import pandas as pd
    for pdf in batches:
        yield pd.DataFrame({{"id": pdf["id"],
                             "f": zipimport.zipimporter.invalidate_caches.__name__}})

rows = spark.range(0, 4, 1, 2).mapInPandas(probe, "id bigint, f string").collect()
assert sorted(r.id for r in rows) == [0, 1, 2, 3], rows
assert {{r.f for r in rows}} == {{"_invalidate_if_changed"}}, rows
print("FOREIGN_CWD_OK")
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(tmp_path),
        env=env,
    )
    assert "FOREIGN_CWD_OK" in out.stdout, out.stdout + out.stderr[-4000:]

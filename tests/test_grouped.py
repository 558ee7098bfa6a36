"""Worker-side import-cache trim (operators/grouped.py)."""

import importlib
import sys
import zipfile
import zipimport

from mapnik_vector_tile_spark.operators.grouped import trim_zip_import_caches


def _zip_finders() -> list[str]:
    return [
        p for p, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter)
    ]


def test_trim_zip_import_caches_stops_archive_rereads(tmp_path, monkeypatch):
    """After the trim, importlib.invalidate_caches() (which PySpark's
    worker calls before every task) re-reads no zip directory, and
    modules from the archive still import, through a re-created finder
    that reuses the parsed directory."""
    archive = str(tmp_path / "zpkg.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/a.py", "A = 1\n")
        z.writestr("zpkg/b.py", "B = 2\n")
    saved_path = list(sys.path)
    saved_cache = dict(sys.path_importer_cache)
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    try:
        sys.path.insert(0, archive)
        importlib.invalidate_caches()
        from zpkg import a

        assert a.A == 1
        assert _zip_finders()
        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        importlib.invalidate_caches()
        assert archive in reads  # the cost the trim removes

        trim_zip_import_caches()
        assert _zip_finders() == []
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []

        from zpkg import b

        assert b.B == 2
        assert reads == []
    finally:
        sys.path[:] = saved_path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in ("zpkg", "zpkg.a", "zpkg.b"):
            sys.modules.pop(name, None)

"""The executor-side import bootstrap (``functions/shipping.py``)."""

from __future__ import annotations

import sys
import zipfile
import zipimport

from cerberus_cpp_spark.functions.shipping import drop_zip_finders


def test_drop_zip_finders_keeps_zip_imports_working(tmp_path) -> None:
    archive = tmp_path / "zipped_pair.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipped_pair/__init__.py", "")
        z.writestr("zipped_pair/first.py", "VALUE = 1\n")
        z.writestr("zipped_pair/second.py", "VALUE = 2\n")
    sys.path.insert(0, str(archive))
    try:
        from zipped_pair import first
        assert first.VALUE == 1
        assert any(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        drop_zip_finders()
        assert not any(isinstance(f, zipimport.zipimporter)
                       for f in sys.path_importer_cache.values())
        from zipped_pair import second  # the finder comes back on demand
        assert second.VALUE == 2
    finally:
        sys.path.remove(str(archive))
        for name in ("zipped_pair", "zipped_pair.first",
                     "zipped_pair.second"):
            sys.modules.pop(name, None)

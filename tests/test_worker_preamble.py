"""The worker preamble drops cached zip importers and nothing else, and a
module in a pruned zip still imports (no JVM)."""

from __future__ import annotations

import sys
import zipfile
import zipimport

from py_datalake_move_files_spark.functions.worker import make_worker_preamble


def test_preamble_drops_zip_importers_and_keeps_imports_working(tmp_path):
    archive = tmp_path / "preamble_fixture.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("preamble_mod_a.py", "VALUE = 'a'\n")
        z.writestr("preamble_mod_b.py", "VALUE = 'b'\n")
    entry = str(archive)
    sys.path.insert(0, entry)
    try:
        import preamble_mod_a

        assert preamble_mod_a.VALUE == "a"
        cache = sys.path_importer_cache
        assert isinstance(cache[entry], zipimport.zipimporter)
        others = {
            k: f for k, f in cache.items() if not isinstance(f, zipimport.zipimporter)
        }

        make_worker_preamble()()

        assert not [f for f in cache.values() if isinstance(f, zipimport.zipimporter)]
        assert dict(cache) == others

        import preamble_mod_b

        assert preamble_mod_b.VALUE == "b"
    finally:
        sys.path.remove(entry)
        sys.path_importer_cache.pop(entry, None)
        sys.modules.pop("preamble_mod_a", None)
        sys.modules.pop("preamble_mod_b", None)

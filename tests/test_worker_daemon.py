"""The worker daemon's zipimporter.invalidate_caches re-reads an archive's
directory only when the file changed. Standard library only, so it runs
under any interpreter: ``python -m unittest tests.test_worker_daemon``."""

from __future__ import annotations

import importlib
import os
import shutil
import sys
import tempfile
import unittest
import zipfile
import zipimport

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sketchmlflink_spark import worker_daemon  # noqa: E402

EAGER = (3, 10) <= sys.version_info[:2] < (3, 13)


def _write_zip(path: str, modules: dict[str, str]) -> None:
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)
    os.replace(tmp, path)


def _file_map(importer: zipimport.zipimporter) -> dict:
    # 3.13 reads the directory lazily through _get_files; 3.10-3.12 keep _files
    get_files = getattr(importer, "_get_files", None)
    return get_files() if get_files else importer._files


class WorkerDaemonTest(unittest.TestCase):
    def setUp(self):
        self.stock = zipimport.zipimporter.invalidate_caches
        self.read_directory = zipimport._read_directory
        self.dir = tempfile.mkdtemp()
        self.archive = os.path.join(self.dir, "pkg.zip")
        _write_zip(self.archive, {"wd_mod_a": "X = 1\n"})
        sys.path.insert(0, self.archive)
        self.reads = 0

        def spy(archive):
            if archive == self.archive:
                self.reads += 1
            return self.read_directory(archive)

        zipimport._read_directory = spy
        self.active = worker_daemon.install()
        self.importer = zipimport.zipimporter(self.archive)
        sys.path_importer_cache[self.archive] = self.importer
        importlib.invalidate_caches()  # the first call after install reads and stamps
        self.reads = 0

    def tearDown(self):
        zipimport.zipimporter.invalidate_caches = self.stock
        zipimport._read_directory = self.read_directory
        sys.path.remove(self.archive)
        sys.path_importer_cache.pop(self.archive, None)
        zipimport._zip_directory_cache.pop(self.archive, None)
        worker_daemon._STAMPS.pop(self.archive, None)
        for name in ("wd_mod_a", "wd_mod_b"):
            sys.modules.pop(name, None)
        shutil.rmtree(self.dir)

    @unittest.skipUnless(EAGER, "the stock method is lazy from Python 3.13")
    def test_unchanged_zip_is_not_reread(self):
        self.assertTrue(self.active)
        for _ in range(3):
            importlib.invalidate_caches()
        self.assertEqual(self.reads, 0)
        self.assertIn("wd_mod_a.py", _file_map(self.importer))
        self.assertEqual(importlib.import_module("wd_mod_a").X, 1)

    def test_rewritten_zip_is_reread_and_new_module_imports(self):
        _write_zip(self.archive, {"wd_mod_a": "X = 1\n", "wd_mod_b": "Y = 2\n"})
        importlib.invalidate_caches()
        self.assertIn("wd_mod_b.py", _file_map(self.importer))
        self.assertEqual(importlib.import_module("wd_mod_b").Y, 2)
        self.assertEqual(self.reads, 1)

    def test_deleted_zip_empties_the_file_map(self):
        os.remove(self.archive)
        importlib.invalidate_caches()  # raises nothing, as the stock method
        self.assertEqual(_file_map(self.importer), {})
        self.assertNotIn(self.archive, zipimport._zip_directory_cache)
        self.assertNotIn(self.archive, worker_daemon._STAMPS)

    @unittest.skipIf(EAGER, "only Python 3.13+ has the lazy stock method")
    def test_install_is_a_no_op_where_the_stock_method_is_lazy(self):
        self.assertFalse(self.active)
        self.assertIs(zipimport.zipimporter.invalidate_caches, self.stock)


if __name__ == "__main__":
    unittest.main()

"""Imported at start-up by the test session's Spark Python workers (the
session puts this directory on their PYTHONPATH, tests/conftest.py).

Spark's worker calls ``importlib.invalidate_caches()`` before every task.
On CPython 3.11 that makes each ``zipimporter`` re-read its archive's whole
directory, and a worker that imports pyspark from ``pyspark.zip`` holds one
importer per package it has loaded (16 after a plain task), each re-reading
the zip's 1,328 entries: about 230 ms of CPU per task, for one row or a
million. Here an importer re-reads its archive only when the file changed,
which is what the invalidation is for.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or getattr(self, "_dir_stamp", None) != stamp:
        _reread(self)
        self._dir_stamp = stamp


zipimport.zipimporter.invalidate_caches = _invalidate_if_changed

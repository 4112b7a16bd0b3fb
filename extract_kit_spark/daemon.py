"""PySpark worker daemon that re-reads a zip archive only when it changed.

Before every task the worker calls ``importlib.invalidate_caches()``.
Before Python 3.13 that makes each ``zipimporter`` re-read its whole
archive directory: pyspark.zip has about 1,300 entries and a worker holds
over a dozen importers on it, about 0.2 s of every task. Here a re-read
happens only when the archive's (mtime_ns, size, inode) differ from the
last read. ``session.get_spark`` runs this module as
``spark.python.daemon.module``; workers fork from the daemon, so every
task inherits the change.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self) -> None:
    # stat before the read, so a write racing the read shows up as a
    # change on the next call
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


def install() -> None:
    """Replace ``zipimporter.invalidate_caches``; Python 3.13 made the
    re-read lazy itself."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark import daemon  # imports the worker and its importers
    importlib.invalidate_caches()  # stamp them once, before any fork
    daemon.manager()

"""Python worker daemon of the engine: ``pyspark.daemon`` with a lazy
zip-directory refresh.

Spark starts one daemon per executor (``spark.python.daemon.module``,
set by ``session.get_session``) and forks every Python worker from it,
so anything installed here reaches every task. Run it as
``python -m gomrjob_spark.worker_daemon``.

Before each task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. Before CPython 3.13 that makes every
``zipimport.zipimporter`` re-read its archive's whole directory at once;
the workers import pyspark from ``pyspark.zip``, which has about 16
importers over 1,300 entries, so each task paid about 0.2 CPU-s before
running any user code. CPython 3.13 defers the re-read to the next
lookup, and this module then changes nothing.

Here the re-read happens only when the archive's ``(st_mtime_ns,
st_size)`` differs from what this importer last read, or when ``stat``
fails; a changed or vanished archive is handled exactly as before.

The module imports nothing heavy: the daemon forks the workers, and
what it has imported is what they inherit.
"""

from __future__ import annotations

import os
import sys
import zipimport

_eager_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _archive_signature(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    # stat before the read: an archive rewritten during the read then
    # differs from the recorded signature and is read again next time
    sig = _archive_signature(self.archive)
    if sig is None or sig != self.__dict__.get("_read_signature"):
        _eager_invalidate_caches(self)
        self._read_signature = sig


def install() -> None:
    """Install the lazy refresh on every ``zipimporter`` (CPython < 3.13)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


if __name__ == "__main__":
    import importlib

    install()
    from pyspark.daemon import manager

    # record what the daemon's importers hold, so forked workers start
    # with a signature instead of re-reading on their first task
    importlib.invalidate_caches()
    manager()

"""Python worker daemon: re-read a zip directory only when the archive changed.

Before every task the pyspark worker calls ``importlib.invalidate_caches()``
(``setup_spark_files``), which asks each ``zipimporter`` in
``sys.path_importer_cache`` to re-parse its archive's whole central
directory. The workers import pyspark itself from ``pyspark.zip``
(1,328 members) and py4j from its zip, and after the first task a worker
holds about a dozen zipimporters on those two archives, one per archive
and one per imported subpackage. On CPython 3.11 the re-reads cost
0.12 s per task, most of a task that scores a small batch, so every
Python stage paid about 0.2 s of wall time before it touched a row.

The rule: an archive's directory is re-read only when the archive's
``(st_ino, st_mtime_ns, st_size)`` differs from its key at the last read
(the stat key ``sources/tables.parquet_schema`` uses). Importers of the
same archive share that read, as they share ``_zip_directory_cache``. A
missing or unreadable archive is always handed to the stock re-read. A
shipped or rewritten archive (``addPyFile``, an archive replaced in
place) has a new key and is re-read, so a new module in it stays
importable; the blind spot is a rewrite that keeps inode, size and
mtime to the nanosecond.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module
at launch. Spark then starts it with ``python -m``; ``install`` puts the
rule in place and ``pyspark.daemon.manager`` forks every worker with it.
The package must therefore be importable by the workers, from the JVM's
working directory or ``PYTHONPATH``, as it already must be for the
inference UDFs, which unpickle ``ml.inference`` by reference. Sessions
built elsewhere keep Spark's default daemon.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches

# archive path -> (stat key, directory) at the last read through the rule
_READS: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stat_key(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` under the rule in the module
    docstring: the stat comes before the read, so an archive rewritten
    during the read is read again at the next call."""
    key = _stat_key(self.archive)
    last = _READS.get(self.archive)
    if key is not None and last is not None and last[0] == key:
        self._files = last[1]
        zipimport._zip_directory_cache[self.archive] = last[1]
        return
    _stock_invalidate(self)
    if key is None or not self._files:
        _READS.pop(self.archive, None)
    else:
        _READS[self.archive] = (key, self._files)


def install() -> None:
    """Put the rule in place for every zipimporter in this process."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    from pyspark.daemon import manager

    from . import pyworker

    # installed from the package module, not from __main__, so the rule
    # carries its real module name inside the workers
    pyworker.install()
    manager()

"""PySpark daemon for `session.get_spark` sessions.

Spark starts one daemon per executor with ``python -m <module>`` and forks
every Python worker from it. This module is that daemon: it does two things
and then hands off to the stock ``pyspark.daemon.manager()``.

1. On CPython < 3.13, ``zipimporter.invalidate_caches`` re-reads the whole
   zip central directory, and PySpark's ``setup_spark_files`` calls
   ``importlib.invalidate_caches()`` at the start of every task. A worker
   holds one zipimporter per package directory of ``pyspark.zip`` (16 of
   them over a 1,328-entry archive), so every task re-read it 16 times.
   ``install()`` makes a re-read happen only when the archive's
   ``(st_mtime_ns, st_size)`` differs from the one it had when its
   directory was last read; a replaced ``--py-files`` zip is still re-read.
   CPython 3.13 made the method lazy, and there it is left alone.
2. It imports numpy, pandas and pyarrow, so every forked worker starts with
   them loaded instead of importing them inside its first task, and then
   freezes the garbage collector's view of everything loaded so far. A
   reused worker runs ``gc.collect()`` after every task, and without the
   freeze each of those walks every object of those libraries again.
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipimport


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives, and
    stamp every archive on ``sys.path`` now, so that workers forked after
    this inherit the stamps and skip from their first task on."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches
    # archive -> its stamp, taken just before its directory was last read
    read_at: dict[str, tuple[int, int] | None] = {}

    def invalidate_caches(self) -> None:
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if (stamp is not None and files is not None
                and read_at.get(self.archive) == stamp):
            # another importer over the same archive may have re-read it
            self._files = files
            return
        read_at[self.archive] = stamp
        reread(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


def main() -> None:
    install()
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    from pyspark import daemon

    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()

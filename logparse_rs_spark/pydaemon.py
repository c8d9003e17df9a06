"""PySpark daemon for `session.get_spark` sessions.

Spark starts one daemon per executor with ``python -m <module>`` and forks
every Python worker from it. This module is that daemon: it does three
things and then hands off to the stock ``pyspark.daemon.manager()``.

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
3. ``pyspark.zip`` holds sources only (1,328 entries, no ``.pyc``), so
   every daemon start compiled all of pyspark again: after numpy, pandas
   and pyarrow, ``import pyspark.daemon`` took 0.75 s from the zip against
   0.27 s with cached bytecode. ``cache_zip_bytecode()`` keeps the
   compiled code of each zip-imported module on disk, under the per-user
   cache (README "Session start-up caches"), so only the first daemon on
   a host compiles it.
"""

from __future__ import annotations

import gc
import hashlib
import importlib
import marshal
import os
import sys
import types
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


def cache_root() -> str:
    """The per-user cache directory of this package's start-up caches."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(base, "logparse_rs_spark")


def cache_zip_bytecode(root: str) -> None:
    """Serve the code of zip-imported modules from ``root``.

    zipimport compiles a module's source with ``_compile_source(pathname,
    source)`` each time it imports it and keeps nothing. The wrapper keys
    the code on ``(pathname, source bytes, optimize level)``: ``pathname``
    is the archive path joined with the path in the zip, and the key
    names a file in ``root/<cache_tag>``. A changed source is a new key and
    compiles again. Files are written to a temporary name and moved into
    place with ``os.replace``, so a reader sees a whole file or none; one
    that does not load as a code object is compiled and written again.
    Without the hook point (another interpreter) zipimport is left alone.
    """
    compile_source = getattr(zipimport, "_compile_source", None)
    if compile_source is None:
        return
    directory = os.path.join(root, sys.implementation.cache_tag)

    def cached_compile(pathname, source):
        key = hashlib.sha256(b"%d\0%s\0" % (sys.flags.optimize,
                                             pathname.encode()) + source)
        path = os.path.join(directory, key.hexdigest())
        try:
            with open(path, "rb") as fh:
                code = marshal.load(fh)
            if isinstance(code, types.CodeType):
                return code
        except (OSError, EOFError, ValueError, TypeError):
            pass
        code = compile_source(pathname, source)
        tmp = f"{path}.{os.getpid()}.tmp"
        try:
            os.makedirs(directory, exist_ok=True)
            with open(tmp, "wb") as fh:
                marshal.dump(code, fh)
            os.replace(tmp, path)
        except OSError:
            pass
        return code

    zipimport._compile_source = cached_compile


def main() -> None:
    install()
    cache_zip_bytecode(os.path.join(cache_root(), "pyc"))
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    from pyspark import daemon

    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()

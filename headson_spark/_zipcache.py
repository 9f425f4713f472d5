"""Stop `importlib.invalidate_caches()` from re-reading unchanged zips.

PySpark's worker calls `importlib.invalidate_caches()` at the start of
every task (`pyspark.worker_util.setup_spark_files`). On CPythons whose
`zipimporter.invalidate_caches` re-parses the archive's central directory
on every call (3.11 does), a reused worker holds one zipimporter per zip
and per package imported from it, 16 for pyspark.zip and the py4j zip,
so every task re-reads those directories 16 times: 0.25 s per task with
four workers at local[4] on a 4-core host. `install()` makes the re-read
conditional on the archive having changed since its last read."""

from __future__ import annotations

import os
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) when its directory was last read
_read_at: dict[str, tuple[int, int] | None] = {}


def _signature(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _checked_invalidate_caches(self) -> None:
    """Re-read only when the archive's (mtime, size) moved since its last
    read, it has no cached directory, or it cannot be stat'ed; otherwise
    share the cached directory, as a freshly built importer would."""
    sig = _signature(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if sig is None or files is None or _read_at.get(self.archive) != sig:
        _stdlib_invalidate(self)
        _read_at[self.archive] = sig
    else:
        self._files = files


def install() -> bool:
    """Patch `zipimporter.invalidate_caches` once per process; returns
    whether the checked method is in place. Patches nothing when the
    stdlib method does not read the directory itself (its code does not
    name `_read_directory`, as in CPythons that reload lazily). Archives
    already cached are read once here, so their signatures are exact."""
    zi = zipimport.zipimporter
    if zi.invalidate_caches is _checked_invalidate_caches:
        return True
    code = getattr(zi.invalidate_caches, "__code__", None)
    if code is None or "_read_directory" not in code.co_names:
        return False
    zi.invalidate_caches = _checked_invalidate_caches
    for archive in list(zipimport._zip_directory_cache):
        try:
            _checked_invalidate_caches(zi(archive))
        except zipimport.ZipImportError:
            pass
    return True

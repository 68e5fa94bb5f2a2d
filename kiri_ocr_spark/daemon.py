"""pyspark daemon whose zipimporters re-read an archive's central directory
only when the archive changed (why: `session` module docstring).

Spark runs it as `python -m kiri_ocr_spark.daemon pyspark.worker`; importing
it installs nothing.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive -> stat stamp taken before its last read; per archive, like
# zipimport's own _zip_directory_cache
_stamps: dict[str, tuple[int, int, int, int]] = {}


def _invalidate_caches(self) -> None:
    """`zipimporter.invalidate_caches`, skipping the re-read while the
    archive's (dev, inode, size, mtime) stamp is unchanged."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _stamps.pop(self.archive, None)
        _stock_invalidate_caches(self)
        return
    stamp = (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stock_invalidate_caches(self)
    _stamps[self.archive] = stamp


if __name__ == "__main__":
    # install the importable module's copy, so workers see the guard under
    # its package name rather than as __main__
    from kiri_ocr_spark import daemon

    zipimport.zipimporter.invalidate_caches = daemon._invalidate_caches

    from pyspark.daemon import manager

    manager()

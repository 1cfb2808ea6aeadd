"""The engine's Python worker daemon (``spark.python.daemon.module``).

PySpark's worker calls ``importlib.invalidate_caches()`` on every task. On
CPython < 3.12 that makes each ``zipimporter`` eagerly re-read its archive's
central directory -- pyspark.zip, once per package directory on the path --
although the archive does not change during a session. This daemon installs
one rule before forking workers, which inherit it: an archive is re-read only
when its ``(st_mtime_ns, st_size)`` differs from the last read; otherwise the
shared ``zipimport._zip_directory_cache`` entry is reused. CPython 3.12
repopulates that cache lazily, so there the rule is not installed.
"""

from __future__ import annotations

import importlib
import importlib.util
import os
import sys


def install_zip_rule() -> None:
    """Patch ``zipimporter.invalidate_caches`` with the stat-gated rule;
    the patched method carries ``stat_gated = True``."""
    if sys.version_info >= (3, 12):
        return
    import zipimport

    read, last = zipimport.zipimporter.invalidate_caches, {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and last.get(self.archive) == key:
            self._files = files
            return
        read(self)
        last[self.archive] = key

    invalidate_caches.stat_gated = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # one read per archive records its stat


def main() -> None:
    for name in ("numpy", "pyarrow"):
        if importlib.util.find_spec(name) is None:
            sys.exit(
                f"torcharrow_spark worker: module {name!r} is not importable "
                f"by {sys.executable}; the engine needs numpy and pyarrow on "
                "every worker"
            )
    from pyspark import daemon

    install_zip_rule()
    daemon.manager()


if __name__ == "__main__":
    main()

"""The engine's one driver-side memo: lazy scan handles, spread decisions
and immutable Column trees, never rows.

A result is reused under the caller's pure key, plus the session's
``applicationId`` when a session is given, plus the identity of every
input path: a file's ``(st_size, st_mtime_ns, st_ino)``, a directory's
sorted listing of the same. A path the driver cannot stat (a non-``file:``
URI, a glob) is keyed by the path alone; ``can_stat`` tells a caller which
paths it can stat. A table overwritten mid-session therefore gets a new
entry and is never served from the old one. One LRU bound drops the least
recently used entry.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from urllib.parse import unquote, urlsplit

_BOUND = 1024
_STORE: OrderedDict = OrderedDict()
_LOCK = threading.Lock()


def _local(path: str) -> str | None:
    parts = urlsplit(path)
    if parts.scheme not in ("", "file"):
        return None
    return unquote(parts.path) if parts.scheme else path


def can_stat(path: str) -> bool:
    """Whether ``path`` is a local file or directory, keyed by its identity."""
    local = _local(path)
    return local is not None and os.path.exists(local)


def _identity(path: str):
    local = _local(path)
    if local is None:
        return path
    try:
        if os.path.isdir(local):
            return (path, tuple(_identity(os.path.join(local, n))
                                for n in sorted(os.listdir(local))))
        st = os.stat(local)
        return (path, st.st_size, st.st_mtime_ns, st.st_ino)
    except OSError:
        return path


def memo(key, build, *, session=None, paths=()):
    """``build()``'s result under ``key`` (see the module docstring)."""
    app = session.sparkContext.applicationId if session is not None else None
    full = (key, app, tuple(_identity(p) for p in paths))
    with _LOCK:
        if full in _STORE:
            _STORE.move_to_end(full)
            return _STORE[full]
    value = build()
    with _LOCK:
        _STORE[full] = value
        if len(_STORE) > _BOUND:
            _STORE.popitem(last=False)
    return value


def clear() -> None:
    with _LOCK:
        _STORE.clear()

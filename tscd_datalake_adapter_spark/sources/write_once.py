"""write_once — each write-once table-metadata file is parsed once per
process.

The Delta and Iceberg specs make four kinds of metadata file write-once:
Delta JSON commits and checkpoint parts, and Iceberg manifests and
manifest lists. A table's state is a replay of them, and every lake
request replays it again. Reading their bytes is cheap; decoding them
(``json.loads`` per action, the parquet checkpoint to Python rows, the
pure-Python Avro decoder) is not. :func:`parsed` reads the file on every
call and reuses the value it parsed last time only when the bytes are
equal to the bytes it was parsed from, so between commits a request
decodes nothing it has decoded before.

Why the bytes and not ``stat``: mtimes are coarse, inodes are reused
when a table is deleted and re-created at the same path, and a file
edited in place keeps its size. Comparing the bytes is exact by
construction, and a file deleted by log cleanup or snapshot expiry fails
to open.

Not cached, because they change in place or their parse is mutated:
Delta's ``_last_checkpoint`` and Iceberg's ``version-hint.text`` are
rewritten in place (and are a few bytes each), and the dict
``iceberg_lite.load_metadata`` returns for ``vN.metadata.json`` is
edited by the commit paths that build the next version from it.

A cached value is shared by every caller in the process: callers read
it and copy before they write. The cache holds at most ``_MAX_BYTES``
of file bytes, evicting the least recently used file; one lock guards
it, since streaming queries and concurrent appends read tables from
several threads.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from collections.abc import Callable
from typing import TypeVar

T = TypeVar("T")

_MAX_BYTES = 16 << 20
_lock = threading.Lock()
# (path, parse) -> (the bytes parsed, the parsed value); LRU order
_entries: OrderedDict[tuple[str, Callable], tuple[bytes, object]] = (
    OrderedDict()
)
_size = 0


def parsed(path: str, parse: Callable[[bytes], T]) -> T:
    """``parse(bytes of path)``, reused while the file's bytes are
    unchanged. The returned value is shared: do not mutate it."""
    global _size
    with open(path, "rb") as f:
        data = f.read()
    key = (path, parse)
    with _lock:
        hit = _entries.get(key)
        if hit is not None and hit[0] == data:
            _entries.move_to_end(key)
            return hit[1]
    value = parse(data)
    with _lock:
        old = _entries.pop(key, None)
        if old is not None:
            _size -= len(old[0])
        if len(data) <= _MAX_BYTES:
            _entries[key] = (data, value)
            _size += len(data)
            while _size > _MAX_BYTES:
                _, (evicted, _) = _entries.popitem(last=False)
                _size -= len(evicted)
    return value


def clear() -> None:
    """Forget every parsed file."""
    global _size
    with _lock:
        _entries.clear()
        _size = 0

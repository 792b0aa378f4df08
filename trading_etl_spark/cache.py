"""The session cache: one input-keyed memo for every relation and model the
engine builds once per session and serves to many queries (the in-session
analog of the reference writing each intermediate table once).

An entry is keyed on (applicationId, namespace, key) and stores the
fingerprint of its input: the sorted ``(file, size, mtime_ns)`` of every
file under a table path, or under a DataFrame's ``inputFiles()``. A lookup
whose fingerprint changed (a part file appended, rewritten or removed)
rebuilds the entry. Local files are read with ``os.scandir``/``os.stat``
(~0.01-0.02 ms per lookup, where a Hadoop ``FileSystem`` listing through
py4j costs ~10 ms). Paths with a non-``file`` URI scheme (``hdfs://``,
``s3a://``, ...) are keyed on the path string alone, so a change there goes
unnoticed until :func:`clear`.

Each namespace keeps at most ``MAX_ENTRIES`` entries, evicting the oldest.
Eviction and :func:`clear` unpersist the DataFrame members of a value;
evicting a relation a consumer still holds is safe (Spark recomputes it).
"""

from __future__ import annotations

import os
import stat
import threading
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

MAX_ENTRIES = 8

_lock = threading.Lock()
# namespace -> {(applicationId, key): (fingerprint, value)}, insertion-ordered
_store: dict[str, dict[tuple, tuple[tuple, object]]] = {}


def materialize(df: DataFrame) -> DataFrame:
    """Compute a session relation now and truncate its lineage: behind a
    bare ``.cache()`` every consumer query would re-analyze the relation's
    whole build tree. Eager, so the build cost lands where the bench's
    cold lines measure it. A lost executor loses a local checkpoint; a
    production deploy writes these relations as tables."""
    return df.localCheckpoint(eager=True)


def _files(path: str) -> list[tuple]:
    url = urlparse(path)
    if url.scheme not in ("", "file"):
        return [(path,)]
    local = unquote(url.path) if url.scheme else path
    try:
        st = os.stat(local)
    except FileNotFoundError:
        return []
    if not stat.S_ISDIR(st.st_mode):
        return [(local, st.st_size, st.st_mtime_ns)]
    out, dirs = [], [local]
    while dirs:
        with os.scandir(dirs.pop()) as it:
            for e in it:
                if e.is_dir():
                    dirs.append(e.path)
                else:
                    s = e.stat()
                    out.append((e.path, s.st_size, s.st_mtime_ns))
    return out


def _fingerprint(inputs: str | DataFrame) -> tuple:
    """Sorted ``(file, size, mtime_ns)`` of every file under a path, or
    under each of a DataFrame's ``inputFiles()``."""
    paths = [inputs] if isinstance(inputs, str) else inputs.inputFiles()
    return tuple(sorted(f for p in paths for f in _files(p)))


def _unpersist(value) -> None:
    for member in value if isinstance(value, tuple) else (value,):
        if isinstance(member, DataFrame):
            try:
                member.unpersist()
            except Exception:
                pass  # session already stopped


def memo(namespace: str, spark: SparkSession, key: tuple, build, inputs: str | DataFrame):
    """The cached ``build()`` for ``key`` in ``namespace``, rebuilt when the
    fingerprint of ``inputs`` (a path or a DataFrame) changed.

    ``build`` runs outside the lock: builds nest (SMA facts read 1h
    candles, which read the candle chain) and run from several threads.
    When two threads build one entry, the first stored wins."""
    slot = (spark.sparkContext.applicationId, key)
    fp = _fingerprint(inputs)
    with _lock:
        entries = _store.setdefault(namespace, {})
        cur = entries.get(slot)
        if cur is not None and cur[0] == fp:
            return cur[1]
        entries.pop(slot, None)
    if cur is not None:
        # release before rebuilding: a .cache()d relation over the same
        # path has the same plan, and Spark would serve the old rows to it
        _unpersist(cur[1])
    value = build()
    with _lock:
        won = entries.get(slot)
        if won is not None and won[0] == fp:
            # not unpersisted: an identical plan shares the winner's storage
            return won[1]
        evicted = [entries.pop(slot)[1]] if won is not None else []
        while len(entries) >= MAX_ENTRIES:
            evicted.append(entries.pop(next(iter(entries)))[1])
        entries[slot] = (fp, value)
    for v in evicted:
        _unpersist(v)
    return value


def clear(spark: SparkSession | None = None, *namespaces: str) -> int:
    """Drop and unpersist the entries of the given namespaces (all when
    none are named), only ``spark``'s application's unless ``spark`` is
    None. Returns the number of entries dropped."""
    app_id = spark.sparkContext.applicationId if spark is not None else None
    dropped = []
    with _lock:
        for ns in namespaces or list(_store):
            entries = _store.get(ns, {})
            for slot in [s for s in entries if app_id is None or s[0] == app_id]:
                dropped.append(entries.pop(slot)[1])
    for v in dropped:
        _unpersist(v)
    return len(dropped)

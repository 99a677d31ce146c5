"""Session-scoped memoization: the one memo policy of the engine.

Several pieces of driver-side work are pure functions of a plan and its
backing files within one Spark application: reading parquet footers
(``load_table``), Catalyst stats probes (``bc_dim``, ``_spread``), the
cached shared-shingle frame and the WARC fixture. Each memoizes through
:func:`session_memo`, so the policy lives here once:

* every key starts with the Spark ``applicationId``; inserting an entry
  drops the store's entries of any other application, so a frame bound
  to a stopped session is never served (CPython can reuse a GC'd py4j
  proxy's ``id()``, the application id is never reused);
* plan-derived keys come from :func:`plan_key`, which adds the analyzed
  plan's ``semanticHash`` and :func:`source_fingerprint` of the backing
  files; ``semanticHash`` alone is stable across an in-place rewrite of
  the same path, the fingerprint is not;
* every store is bounded by the capacity its call site passes, least
  recently used entry first; ``on_evict`` sees each dropped value;
* ``build`` is memoized only after it returns, so a failed build is
  retried on the next call.

:func:`session_dir` names the per-session on-disk fixture roots. The
name is a pure function of (tag, application id, source dir), so it
needs no memo at all.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import threading
from collections import OrderedDict
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

_STORES: dict[str, OrderedDict] = {}
# Guards the stores, not the builds: two threads missing the same key
# may both build, and the later insert wins.
_LOCK = threading.Lock()


def session_memo(
    store: str,
    key: tuple | None,
    build: Callable[[], T],
    *,
    capacity: int,
    on_evict: Callable[[object], None] | None = None,
) -> T:
    """``build()``'s value, memoized in ``store`` under ``key``.

    ``key[0]`` must be the Spark application id; a None key (see
    :func:`plan_key`) builds without memoizing. On a miss the value is
    built first; only then are other applications' entries and, past
    ``capacity``, the least recently used entries dropped (each passed
    to ``on_evict``), and the new entry inserted."""
    if key is None:
        return build()
    with _LOCK:
        entries = _STORES.setdefault(store, OrderedDict())
        if key in entries:
            entries.move_to_end(key)
            return entries[key]
    value = build()
    with _LOCK:
        dropped = [entries.pop(k) for k in list(entries) if k[0] != key[0]]
        while len(entries) >= capacity:
            dropped.append(entries.popitem(last=False)[1])
        entries[key] = value
    if on_evict is not None:
        for old in dropped:
            on_evict(old)
    return value


def session_drop(store: str, key: tuple | None = None) -> list:
    """Forget ``key`` (or every entry) of ``store``; returns the
    dropped values so the caller can release them."""
    with _LOCK:
        entries = _STORES.get(store, OrderedDict())
        if key is None:
            dropped = list(entries.values())
            entries.clear()
            return dropped
        return [entries.pop(key)] if key in entries else []


def session_keys(store: str) -> list[tuple]:
    """The keys ``store`` holds, least recently used first."""
    with _LOCK:
        return list(_STORES.get(store, ()))


def _dir_fingerprint(path: str) -> tuple:
    """(name, size, mtime_ns) of every entry of a local dir (or of the
    file itself): changes when the path is rewritten in place."""
    try:
        if os.path.isdir(path):
            ents = []
            for n in sorted(os.listdir(path)):
                st = os.stat(os.path.join(path, n))
                ents.append((n, st.st_size, st.st_mtime_ns))
            return tuple(ents)
        st = os.stat(path)
        return ((path, st.st_size, st.st_mtime_ns),)
    except OSError:
        return (None,)


def source_fingerprint(df: DataFrame) -> tuple:
    """Best-effort fingerprint of a frame's backing files.

    Local ``file:`` paths contribute (size, mtime_ns) from a driver-side
    stat; other schemes contribute the path only (a remote in-place
    overwrite still needs an explicit drop of the memo). Cost is one
    metadata stat per file: no data motion, no job."""
    from urllib.parse import unquote, urlparse

    try:
        files = sorted(df.inputFiles())
    except Exception:  # non-file-source plans (views, ranges, ...)
        return (None,)
    parts = []
    for f in files:
        ent = f
        parsed = urlparse(f)
        if parsed.scheme in ("file", ""):
            try:
                st = os.stat(unquote(parsed.path) or f)
                ent = f"{f}|{st.st_size}|{st.st_mtime_ns}"
            except OSError:
                pass
        parts.append(ent)
    return (hashlib.md5("\n".join(parts).encode()).hexdigest(),)


def plan_key(df: DataFrame, *extra) -> tuple | None:
    """(applicationId, analyzed-plan semanticHash, source fingerprint,
    *extra): the memo key of any decision that is a pure function of a
    frame's plan, backing files and ``extra``. None if the py4j surface
    drifts, so :func:`session_memo` skips the memo."""
    try:
        return (
            df.sparkSession.sparkContext.applicationId,
            df._jdf.queryExecution().analyzed().semanticHash(),
            source_fingerprint(df),
        ) + extra
    except Exception:  # pragma: no cover - py4j surface drift
        return None


def stable_digest(s: str, n: int = 8) -> str:
    """Deterministic short digest for on-disk cache-root names.
    Python's built-in ``hash`` is PYTHONHASHSEED-salted, so a path
    named with it changes every driver process and leaks the previous
    run's directory (ADVICE r9); md5 is stable across processes."""
    return hashlib.md5(s.encode("utf-8")).hexdigest()[:n]


def session_dir(spark: SparkSession, sf_dir: str, tag: str) -> str:
    """``<tmp>/spark_graft_<tag>_<appId>_<digest of abspath(sf_dir)>``:
    the session-scoped on-disk root of a fixture built from ``sf_dir``.
    Re-invoking a query in the same session reuses the same root (its
    replay path); a new session starts from a fresh one."""
    return os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_{tag}_{spark.sparkContext.applicationId}_"
        f"{stable_digest(os.path.abspath(sf_dir))}",
    )

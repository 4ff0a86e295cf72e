"""Session state: the ONE memo primitive for the package's
per-``SparkSession`` index state.

The engine loads index state once and serves many queries from it
(the reference's IVF.cpp:439-524 load-then-search posture; the EDBT'20
"incremental top-k similarity search in interactive sessions" shape in
PAPERS.md): persisted DataFrames (``graph._pagerank_edges``), persisted
index directories (``ivf.merged_ivf_index``), small driver-side lists
(``knn.fixture_qvec``). Every such builder is a function whose first
parameter is the session, decorated with :func:`session_state`:

- the memo key is ``(spark, *arguments)``, bound through the function's
  signature with defaults applied — no call site writes a key, so a key
  can never silently omit an argument the state depends on;
- every decorated function is recorded in one registry, which is what
  :func:`clear_session_caches` walks (no naming convention to follow,
  no module scan to miss a dict).

A ``WeakKeyDictionary`` would NOT release anything: the cached
DataFrames hold a strong reference back to their session, so value →
key keeps the weak key alive. Release is an explicit eviction instead::

    from gpu_accelerated_vector_indexing_spark.memo import clear_session_caches
    clear_session_caches(spark)                  # one session's state
    clear_session_caches(all_sessions=True)      # every STOPPED session

Eviction unpersists DataFrames and deletes package temp directories
held in a state value. OWNERSHIP CONTRACT: only :func:`state_dir` paths
are rmtree'd — it is the only place the package creates a directory
with the package prefix, so a state value may hold exactly the
directories its own build created, never a shared or caller-owned
path. The all-sessions form is explicit opt-in and skips sessions that
are still running (a live session may be mid-query over its memoized
relations and temp layouts); purge a live session by passing it
directly.
"""

from __future__ import annotations

import functools
import inspect
import os
import shutil
import tempfile
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

_TEMP_DIR_PREFIX = "gpu_accelerated_vector_indexing_"

# Every @session_state function, in definition order.
_REGISTRY: list[Callable[..., Any]] = []


def state_dir(tag: str) -> str:
    """A fresh package temp directory — the ONLY directories eviction
    may delete (see the ownership contract above)."""
    return tempfile.mkdtemp(prefix=f"{_TEMP_DIR_PREFIX}{tag}_")


def session_state(fn: Callable[..., Any]) -> Callable[..., Any]:
    """Memoize a state builder ``fn(spark, ...)`` per bound arguments.

    The decorated function carries ``entries`` (key → value),
    ``lookup(*args)`` (the memoized value or ``None``, never building),
    ``prime(value, *args)`` (store a value built elsewhere, e.g. one
    batched job filling many per-id entries) and ``evict(*args)``
    (release one entry, e.g. state superseded by a changed source).
    """
    sig = inspect.signature(fn)
    entries: dict[tuple, Any] = {}

    def key(*args: Any, **kwargs: Any) -> tuple:
        bound = sig.bind(*args, **kwargs)
        bound.apply_defaults()
        return tuple(bound.arguments.values())

    @functools.wraps(fn)
    def state(*args: Any, **kwargs: Any) -> Any:
        k = key(*args, **kwargs)
        if k not in entries:
            entries[k] = fn(*args, **kwargs)
        return entries[k]

    def prime(value: Any, *args: Any, **kwargs: Any) -> None:
        entries[key(*args, **kwargs)] = value

    def evict(*args: Any, **kwargs: Any) -> None:
        _release(entries.pop(key(*args, **kwargs), None))

    state.entries = entries
    state.lookup = lambda *args, **kwargs: entries.get(key(*args, **kwargs))
    state.prime = prime
    state.evict = evict
    _REGISTRY.append(state)
    return state


def _release(value: Any) -> None:
    """Release storage held by a state VALUE: DataFrames (or tuples/
    lists of them) unpersist; package temp-dir path strings are deleted
    from disk. Other values (float lists, ints, engines) need no
    release."""
    items = value if isinstance(value, (tuple, list)) else (value,)
    for item in items:
        if isinstance(item, DataFrame):
            try:
                item.unpersist()
            except Exception:
                # session already stopped — JVM-side storage is gone
                pass
        elif (
            isinstance(item, str)
            and os.path.basename(item).startswith(_TEMP_DIR_PREFIX)
            and os.path.isdir(item)
        ):
            shutil.rmtree(item, ignore_errors=True)


def _is_stopped(session: Any) -> bool:
    """True when a session is provably stopped — its executor storage
    is already released and its temp layouts can have no in-flight
    readers. Classic sessions expose the JVM context (None after
    ``spark.stop()``); Spark Connect sessions expose a client-closed
    flag. An UNRECOGNIZED session type is assumed LIVE (the sweep must
    never yank state out from under a session it can't classify —
    purge those explicitly)."""
    try:
        return session.sparkContext._jsc is None  # classic
    except Exception:
        pass
    try:
        return bool(session.client.is_closed)  # Spark Connect
    except Exception:
        return False


def clear_session_caches(
    spark: SparkSession | None = None, *, all_sessions: bool = False
) -> int:
    """Evict (and release) every state entry belonging to ``spark``.
    Returns the number of entries evicted.

    Call this between corpora in a long-lived session, or after
    ``spark.stop()`` to drop the now-dead driver-side references.

    The sweep form (``all_sessions=True``, explicit opt-in, not a
    default-argument accident) evicts entries of STOPPED sessions only
    — a live session may be mid-query over its memoized relations and
    temp directories, so bulk cleanup never deletes state out from
    under one; pass each live session explicitly to purge it.
    """
    if spark is None and not all_sessions:
        raise ValueError(
            "pass the SparkSession to evict, or all_sessions=True to sweep "
            "every stopped session's state (deletes their temp index layouts)"
        )
    evicted = 0
    for state in _REGISTRY:
        for key in list(state.entries):
            sess = key[0]
            if spark is not None:
                if sess is not spark:
                    continue
            elif (
                # duck-typed: classic AND Connect sessions (different
                # classes) both expose read/sql; non-session keys fall
                # through and stay evictable
                hasattr(sess, "read")
                and hasattr(sess, "sql")
                and not _is_stopped(sess)
            ):
                continue
            _release(state.entries.pop(key))
            evicted += 1
    return evicted

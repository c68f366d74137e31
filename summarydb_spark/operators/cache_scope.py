"""Lifecycle of the engine's TRANSIENT internal caches.

Two operator families persist small internal relations while one query
plan consumes them from several aliased branches (where AQE exchange
reuse cannot fire): the dedup guards (``functions.dedup``) and the
two-pass running sum (``operators.shuffle_tools.running_sum``).  Both
persist through :func:`persist`, which records the relation in one
registry.  Those persists are load-bearing WITHIN one query but must not
outlive it: a long-lived session issuing many dedup/rank queries would
otherwise accumulate one CacheManager entry + its block-manager blocks
per query (measured round 10: late-suite queries absorbed the lookup/GC
cost of hundreds of stale entries).

:func:`transient_cache_scope` is the library-level answer: wrap each
logical unit of work (one query build + its actions) and every relation
persisted INSIDE the block is unpersisted on exit.  Scopes nest — an
inner scope releases only what it added.  :func:`release_transient_caches`
drops every registered relation at once; it is the tool for code that
cannot use a ``with`` block (``bench.py`` calls it between queries as a
safety net; unpersist is idempotent).

Why release-on-exit instead of auto-release when the consuming action
completes: the persists are created deep inside query builders that
never see the final DataFrame, a weakref on the returned frame fires at
the NEXT GC — often before the caller's action has run (the persist is
lazy, so the win would silently vanish) — and a QueryExecutionListener
needs the py4j callback server plus races concurrent queries that share
a guard relation (bench suite-mode runs 8 threads).  An explicit scope
has none of those failure modes and makes the lifetime visible at the
call site.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

#: every relation persisted through :func:`persist` and not yet released;
#: append-only between releases, so a scope owns everything past its mark
_PERSISTED: list = []
_LOCK = threading.Lock()


def persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` (lazily, at Spark's default level) and register it
    for release by the enclosing :func:`transient_cache_scope` or by
    :func:`release_transient_caches`."""
    df = df.persist()
    with _LOCK:
        _PERSISTED.append(df)
    return df


def _release_past(mark: int) -> int:
    with _LOCK:
        drop = _PERSISTED[mark:]
        del _PERSISTED[mark:]
    n = 0
    for df in reversed(drop):
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


def release_transient_caches() -> int:
    """Unpersist every registered relation and return how many were
    released.  Safe any time (unpersist is idempotent); later guard or
    running-sum calls re-cache."""
    return _release_past(0)


@contextmanager
def transient_cache_scope():
    """Release every relation persisted inside the block on exit
    (including on exception).  Entries present before entry are
    untouched, so scopes nest and concurrent scopes on different threads
    only over-release benignly (unpersist is idempotent and a released
    relation is re-cached by the next guard call)."""
    mark = len(_PERSISTED)
    try:
        yield
    finally:
        _release_past(mark)

"""Query-scoped persist: a relation stays persisted exactly as long as
the query result that needs it.

``query_scoped`` wraps a registry entry or public operator; ``persist``
inside it records the relation, and the outermost scoped call releases
every record when its returned DataFrame is garbage-collected. Results
are lazy (the caller's action runs after the return), so the release
follows the result, not the return. Nested scoped calls join the
outermost scope. Nothing outlives its result, so a later query over
rewritten parquet files never reads an earlier materialization.

Spark keeps one cache entry per plan, so two live scopes that persist
the same plan share it and the first release evicts it: the other
query then re-derives the relation (correct, slower). No workload here
keeps two such queries alive at once; a caller that builds one query
after another collects the earlier result first (gc.collect()) so its
release cannot land mid-build.
"""

from __future__ import annotations

import contextvars
import functools
import threading
import weakref

from pyspark.sql import DataFrame

# The open scope's persisted relations; per thread, None outside a scope.
_held: contextvars.ContextVar[list[DataFrame] | None] = contextvars.ContextVar(
    "query_persists", default=None
)


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, released with the open query scope's result."""
    held = _held.get()
    if held is None:
        raise RuntimeError(
            "persist() outside a query scope: wrap the entry point in @query_scoped"
        )
    held.append(df.persist())
    return df


def unpersist_all(held: list[DataFrame]) -> None:
    """Unpersist every relation in `held`; a no-op on a stopped session."""
    for df in held:
        if df.sparkSession.sparkContext._jsc is not None:
            df.unpersist()


def _release(held: list[DataFrame]) -> None:
    # A finalizer can fire inside the cyclic collector, in the middle of
    # another gateway call on this thread, and py4j's per-thread
    # connection is not reentrant: unpersist on a thread of its own.
    t = threading.Thread(target=unpersist_all, args=(held,))
    t.start()
    t.join()


def query_scoped(fn):
    """Run `fn` in a query scope released with its returned DataFrame
    (or at once if it raises)."""

    @functools.wraps(fn)
    def scoped(*args, **kwargs):
        if _held.get() is not None:
            return fn(*args, **kwargs)
        held: list[DataFrame] = []
        token = _held.set(held)
        try:
            result = fn(*args, **kwargs)
        except BaseException:
            unpersist_all(held)
            raise
        finally:
            _held.reset(token)
        if held:
            weakref.finalize(result, _release, held).atexit = False
        return result

    return scoped

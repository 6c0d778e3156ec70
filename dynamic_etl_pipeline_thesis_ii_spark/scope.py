"""Request-scoped ownership of persisted frames and overlapped arms.

A request is the caller's ``contextvars`` context: each thread starts
its own, and each ``owned()`` block opens a fresh one. ``persist``
registers a frame with the calling request and ``release`` unpersists
only what that request registered, so concurrent requests (serve
threads, two ``integrate()`` calls) never drop each other's caches.
``overlap`` runs independent arms on threads that share the caller's
request and Spark local properties, so their persists are released
with the caller's and their jobs carry the caller's description/tags.
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from contextvars import ContextVar, copy_context

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

_registered: ContextVar[list] = ContextVar("scope_registered")

# Spark's cache is keyed by plan: two separately built identical
# frames share one cached RDD, and unpersist() on either drops it for
# both. Owners are therefore counted per semantic hash, and only the
# last owner's release unpersists; the lock keeps a release from
# racing a new owner of the same plan.
_owners: dict[int, int] = {}
_lock = threading.Lock()


def _request() -> list:
    frames = _registered.get(None)
    if frames is None:
        frames = []
        _registered.set(frames)
    return frames


def persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it with the calling request."""
    key = df.semanticHash()
    frames = _request()
    with _lock:
        df.persist()
        _owners[key] = _owners.get(key, 0) + 1
        frames.append((key, df))
    return df


def release() -> None:
    """Unpersist what the calling request registered (non-blocking).
    A frame whose plan another request still owns stays cached."""
    frames = _registered.get([])
    with _lock:
        while frames:
            key, df = frames.pop()
            _owners[key] -= 1
            if not _owners[key]:
                del _owners[key]
                df.unpersist()


@contextmanager
def owned():
    """Run the block as its own request: a fresh registration list,
    released on exit. Scopes nest; usable as a decorator."""
    token = _registered.set([])
    try:
        yield
    finally:
        release()
        _registered.reset(token)


def overlap(spark: SparkSession, *thunks):
    """Run ``thunks`` concurrently and return their results in argument
    order; a thunk's exception re-raises here. Each thunk runs in its
    own copy of the caller's context (one ``Context`` cannot be entered
    by two threads) over the caller's registration list, with the
    caller's Spark local properties and tags."""
    _request()          # the list must exist before the copies share it
    targets = [inheritable_thread_target(spark)(copy_context().run)
               for _ in thunks]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(target, thunk)
                   for target, thunk in zip(targets, thunks)]
        return [f.result() for f in futures]

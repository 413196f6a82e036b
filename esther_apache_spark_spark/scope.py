"""One scope for everything a call leaves behind.

A catalog call can leave three kinds of things behind once it returns a
lazy frame: executor storage for the frames it cached, scratch
directories on the driver's disk (index stores, streaming outputs,
spilled image files), and memory-sink temp views in the session
catalog. The call cannot release them itself, because the frame it
returns still reads them. ``cache_scope()`` hands that job to the
consumer: every such thing made inside the ``with`` block enrolls a
release action, and the actions run when the block exits. Materialize
results INSIDE the scope::

    with cache_scope():
        pairs = minhash_lsh_candidates(docs)
        pairs.write.parquet(out)      # materialized in-scope
    # executor storage, scratch directories and views are freed here

Three things enroll an action:

- ``cached(df)``: ``df.cache()`` (or ``persist(storage_level)``),
  released by ``unpersist``. The plan-barrier caches are load-bearing:
  they keep Arrow-batched UDFs out of generator operators and are the
  relation both sides of a self-join reuse, so they stay cached until
  the scope exits rather than being dropped after their first read.
- ``scratch_dir(kind)``: a fresh directory under ``scratch_root()``,
  released by ``rmtree``.
- the memory-sink drain in ``streaming/events.py``, released by
  ``dropTempView``. A frame read from the view before the drop keeps
  reading the sink's rows after it.

Actions run last-in first-out, so a cache over files is released before
the directory under it. A failing action does not skip the rest; the
first error is re-raised once all have run, with the others attached as
notes. Scopes nest: each scope releases only what was enrolled while it
was the innermost one, which is how an operator frees an eager barrier
before it returns (``components._cc_loop``). The scope is a
``ContextVar``, so threads never share one: a thread starts outside any
scope, and one thread's exit never releases another thread's things.

Outside any scope nothing is released early: caches live until session
end or ``spark.catalog.clearCache()``, views until the session ends,
and scratch directories until the interpreter exits, when this
process's ``scratch_root()`` is removed. Caveat: Spark's CacheManager
keys entries by analyzed plan, so two scopes running an operator over
the IDENTICAL input share one cache entry, and the first scope to exit
unpersists it for both. Distinct passes over distinct inputs, the
composed-pipeline case, are unaffected.
"""

from __future__ import annotations

import atexit
import contextlib
import functools
import os
import shutil
import tempfile
from collections.abc import Callable
from contextvars import ContextVar

from pyspark.sql import DataFrame

_active: ContextVar[list[Callable[[], object]] | None] = ContextVar(
    "_release_scope", default=None
)

_REAPED: set[str] = set()


def on_exit(release: Callable[[], object]) -> None:
    """Run ``release`` when the active ``cache_scope`` exits. Outside
    any scope it never runs; the caller's exit-time fallback applies."""
    actions = _active.get()
    if actions is not None:
        actions.append(release)


@contextlib.contextmanager
def cache_scope():
    """Release everything enrolled inside the block when it exits (see
    the module docstring)."""
    actions: list[Callable[[], object]] = []
    token = _active.set(actions)
    try:
        yield
    finally:
        _active.reset(token)
        first = None
        for release in reversed(actions):
            try:
                release()
            except Exception as e:  # noqa: BLE001 — run every release first
                if first is None:
                    first = e
                else:
                    first.add_note(f"a later release also failed: {e!r}")
        if first is not None:
            raise first


def cached(df: DataFrame, storage_level=None) -> DataFrame:
    """``df.cache()`` (MEMORY_AND_DISK deserialized — a cached frame
    larger than executor memory spills instead of thrashing eviction),
    or ``df.persist(storage_level)`` when one is given, unpersisted when
    the active scope exits."""
    df = df.cache() if storage_level is None else df.persist(storage_level)
    on_exit(df.unpersist)
    return df


def scratch_root() -> str:
    """This process's root for per-call scratch directories, removed at
    interpreter exit (keyed by PID, so one process's exit never reaps
    another's)."""
    root = os.path.join(
        tempfile.gettempdir(), "spark_graft_incr", f"pid{os.getpid()}"
    )
    os.makedirs(root, exist_ok=True)
    # unlocked: two threads racing here register the same rmtree
    # twice, and the second finds nothing left to remove
    if root not in _REAPED:
        _REAPED.add(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def scratch_dir(kind: str) -> str:
    """A fresh directory under ``scratch_root()`` for ONE call, removed
    when the active scope exits. Calls running at once — two driver
    processes, or two threads sharing a session — never share one, so
    no call's replace-commit races another's (``ConcurrentReplaceError``)."""
    path = tempfile.mkdtemp(prefix=f"{kind}_", dir=scratch_root())
    on_exit(functools.partial(shutil.rmtree, path))
    return path

"""Block lifetimes of persisted intermediates: one rule, one owner.

Operators ``register`` every frame they ``persist()``/``cache()`` or
``localCheckpoint()``. A registered frame joins the innermost open
``scope()`` of the calling thread or task; outside any scope it joins the
session registry. A scope releases its frames when it exits, normally or
by exception; the session registry is released by ``drain_tracked()``.

  * pipeline stages and streaming micro-batches run inside a scope, so a
    stage's blocks are freed as soon as its table commits -- or fails;
  * entry queries / the title cascade return LAZY frames and cannot release
    in-query -- their frames land in the session registry and the NEXT
    query (or a bench/driver loop) calls ``drain_tracked()``.

The scope is a ``ContextVar``: a streaming micro-batch on another thread
never mixes its frames with the main thread's.

Releasing goes through ``release_blocks``: ``DataFrame.unpersist()`` drops
cache-manager entries but is a NO-OP for ``localCheckpoint()`` frames --
their blocks are pinned at the RDD level under a ``LogicalRDD`` plan node.

CONTRACT: releasing declares the released frames, and every frame built on
them, dead. Re-evaluating a frame built on a released localCheckpoint
RAISES (the lineage was truncated; there is nothing to recompute from), so
a scope must enclose the action that materializes its frames (the stage's
table write), and ``drain_tracked()`` runs only where all prior results
have been materialized.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []
_SCOPE: ContextVar[list[DataFrame] | None] = ContextVar("tracking_scope", default=None)


def release_blocks(df: DataFrame) -> None:
    """Free every block-manager resource a frame holds: cache-manager entry
    (persist/cache) and, for a localCheckpointed frame, the pinned RDD
    blocks beneath its LogicalRDD plan node."""
    try:
        df.unpersist()
    except Exception:
        return  # session already stopped
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith(".LogicalRDD"):
            plan.rdd().unpersist(False)
    except Exception:
        pass  # not a checkpointed frame / plan shape changed across versions


def register(df: DataFrame) -> DataFrame:
    """Record a persisted/checkpointed frame in the innermost open scope,
    else in the session registry."""
    frames = _SCOPE.get()
    (_TRACKED if frames is None else frames).append(df)
    return df


@contextmanager
def scope() -> Iterator[list[DataFrame]]:
    """Collect the frames registered inside the block and ``drain`` them on
    exit, normal or by exception. Nested scopes each release only their own
    frames."""
    frames: list[DataFrame] = []
    token = _SCOPE.set(frames)
    try:
        yield frames
    finally:
        _SCOPE.reset(token)
        drain(frames)  # looked up at exit: per-layer tracing wraps ``drain``


def drain_tracked() -> None:
    """Release every frame in the session registry (see module contract)."""
    drain(_TRACKED)


def drain(frames: list[DataFrame]) -> None:
    """Release and clear a list of registered frames."""
    for df in frames:
        release_blocks(df)
    frames.clear()

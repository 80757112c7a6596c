"""Scoped ownership of cached frames: every ``persist`` and every eager
``localCheckpoint`` the engine makes goes through this module, and one
rule decides when its storage dies — the innermost :func:`pin_scope`
frees it on exit, unless :func:`release` freed it earlier or
:func:`keep` handed it to the enclosing scope.

Two kinds of frame, two release paths:

- :func:`pin` is ``df.persist()``. ``persist`` registers an entry in the
  session's CacheManager keyed by the analyzed plan, and only
  ``DataFrame.unpersist()`` removes it. Freeing the RDD blocks alone
  would leave the driver-side entry alive forever: a long-lived endpoint
  whose requests persist request-unique plans would leak driver memory
  and add O(entries) cache-lookup work to every later query's planning.
- :func:`cut` is ``df.localCheckpoint(eager=True)``: it flattens lineage
  so round t+1 of an iterative pass does not replay rounds 1..t
  (Catalyst re-analysis of a deep plan dominates small-round runtime).
  Spark has no DataFrame API to drop a local checkpoint, so ``cut``
  records the persistent-RDD ids the call created and the release
  unpersists those RDDs. The id diff is exact only while no other
  thread persists concurrently; ``serve.KGService`` serializes its runs
  for this reason.

Outside any scope ``pin`` and ``cut`` own nothing: batch jobs keep their
caches for the session. Scopes are thread-local, so concurrent pipelines
in one JVM do not release each other's frames.

THE INVARIANT: releasing a cut destroys it. Its lineage is truncated, so
once its blocks are gone the data can be neither read nor recomputed.
Release a cut only when it is provably dead — for round state, after the
next round is materialized AND any convergence test against the old frame
has run (``plans/iterate.fixpoint`` does exactly this). An operator that
opens a scope must ``keep`` every pinned or cut frame its returned plan
reads.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

_SCOPES = threading.local()
# attribute a cut frame carries: the persistent-RDD ids behind it
_CUT_RDDS = "_waka_cut_rdds"


class _Scope:
    def __init__(self) -> None:
        self.pins: list[DataFrame] = []
        self.cuts: list[DataFrame] = []

    def frames_for(self, df: DataFrame) -> list[DataFrame]:
        return self.cuts if hasattr(df, _CUT_RDDS) else self.pins

    def disown(self, df: DataFrame) -> bool:
        frames = self.frames_for(df)
        n = len(frames)
        frames[:] = [f for f in frames if f is not df]
        return len(frames) < n


def _stack() -> list[_Scope]:
    if not hasattr(_SCOPES, "stack"):
        _SCOPES.stack = []
    return _SCOPES.stack


def _own(df: DataFrame) -> DataFrame:
    stack = _stack()
    if stack:
        stack[-1].frames_for(df).append(df)
    return df


def _persistent_ids(df: DataFrame) -> set[int]:
    jmap = df.sparkSession.sparkContext._jsc.getPersistentRDDs()
    return set(jmap.keySet().toArray())


def _free(df: DataFrame) -> None:
    try:
        rdd_ids = getattr(df, _CUT_RDDS, None)
        if rdd_ids is None:
            df.unpersist()
            return
        jmap = df.sparkSession.sparkContext._jsc.getPersistentRDDs()
        for rid in rdd_ids:
            rdd = jmap.get(rid)
            if rdd is not None:
                rdd.unpersist(False)
    except Exception:
        pass  # session already stopped — nothing to release


def pin(df: DataFrame) -> DataFrame:
    """``df.persist()``, owned by the innermost scope (if any)."""
    return _own(df.persist())


def cut(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)``, owned by the innermost scope
    (if any) and releasable per frame."""
    before = _persistent_ids(df)
    out = df.localCheckpoint(eager=True)
    setattr(out, _CUT_RDDS, sorted(_persistent_ids(out) - before))
    return _own(out)


def release(df: DataFrame) -> None:
    """Free a frame returned by :func:`pin` or :func:`cut` now. A cut must
    be dead (module invariant): its data cannot be recomputed."""
    for scope in _stack():
        scope.disown(df)
    _free(df)


def keep(*dfs: DataFrame) -> None:
    """Hand frames owned by the innermost scope to the enclosing one (or
    to nobody, at the outermost scope): they outlive the current block.
    Frames the innermost scope does not own are ignored."""
    stack = _stack()
    for df in dfs:
        if stack[-1].disown(df) and len(stack) > 1:
            stack[-2].frames_for(df).append(df)


@contextmanager
def pin_scope():
    """Free every frame pinned or cut inside the block when it exits (even
    on error); yields the list of pinned frames.

    CONTRACT: some pins are load-bearing, not caches —
    ``plans/zipindex.with_global_order_stats`` and
    ``plans/incremental.negative_samples`` collect driver-side offsets
    against ONE pinned range partitioning; recomputing that partitioning
    after the pin is released may resample different range boundaries
    while the offsets stay frozen, silently corrupting global ranks. A
    released cut cannot be recomputed at all. Any lazy frame built inside
    the block must be consumed (collect / write / count) BEFORE it exits.
    """
    scope = _Scope()
    _stack().append(scope)
    try:
        yield scope.pins
    finally:
        _stack().pop()
        for df in scope.pins + scope.cuts:
            _free(df)

"""The round loop every iterative DataFrame pass in the engine runs:
PageRank, HITS, personalized PageRank, BFS, label propagation, k-core
peeling and union-find canonicalization.

Each round's state is cut (``plans/pins.cut``: an eager
``localCheckpoint``) so round t+1's plan does not replay rounds 1..t, and
the superseded round is released as soon as it is provably dead, so
executor storage holds two rounds of state, never ``n_iter`` (25 rounds
over a 10^9-node label table would otherwise evict the rest of the job's
cached state). GraphFrames' connected components unpersists superseded
iterations for the same reason (org.graphframes.lib.ConnectedComponents).

Early stops must be exact: pass ``converged`` only where a round whose
test passes provably repeats forever (a synchronous round that changed
nothing, a monotone set whose size did not move). Fixed-budget passes
(PageRank, HITS, PPR) leave it out, and their SQL mirrors chain one CTE
per round.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from waka_spark.plans.pins import cut, release


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    n_iter: int,
    converged: Callable[[DataFrame, DataFrame], bool] | None = None,
) -> DataFrame:
    """Run up to ``n_iter`` rounds of ``state = cut(step(state))``.

    ``state`` must be a cut. ``converged(new, old)`` runs while ``old`` is
    still alive; ``old`` is then released, and the loop stops once the test
    passes. Returns the last round's cut, owned by the caller's scope."""
    for _ in range(n_iter):
        new = cut(step(state))
        done = converged is not None and converged(new, state)
        release(state)
        state = new
        if done:
            break
    return state

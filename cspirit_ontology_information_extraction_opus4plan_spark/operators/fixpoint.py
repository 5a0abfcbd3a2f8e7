"""The semi-naive fixpoint loop shared by the graph operators.

Ancestor closures, BFS depths, transitive reduction and the entailment
closures all grow an accumulated set from a seed until a round adds
nothing. ``fixpoint`` owns that loop: each round's new rows are the
step's output anti-joined against the accumulated set, every new
frontier and accumulated set is cut from its lineage with
``localCheckpoint(eager=True)``, and a set still growing after
``max_iter`` productive rounds plus one verification round is a hard
error (a silent cap would return a truncated closure). Loops whose state
is replaced each round rather than accumulated (label propagation,
cycle peeling) keep their own convergence tests.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

__all__ = ["fixpoint"]


def fixpoint(seed: DataFrame,
             step: Callable[[DataFrame, DataFrame], DataFrame],
             keys: list[str], what: str, max_iter: int) -> DataFrame:
    """The least set containing seed and closed under step: rounds of
    new = step(frontier, acc) left_anti acc on keys, until new is empty;
    the frontier is the previous round's new rows (seed at first).
    Raises RuntimeError naming what and max_iter when max_iter
    productive rounds plus one verification round do not converge.

    A row with a null key is never matched by the anti-join, so a step
    must not keep producing one (equi-joins on a null key produce
    nothing, which is what bounds every step here)."""
    acc = frontier = seed
    for _ in range(max_iter + 1):  # +1 verification round
        new = (step(frontier, acc).join(acc, keys, "left_anti")
               .localCheckpoint(eager=True))
        if new.isEmpty():
            return acc
        acc = acc.unionByName(new).localCheckpoint(eager=True)
        frontier = new
    raise RuntimeError(
        f"{what} still growing after max_iter={max_iter} productive "
        f"rounds plus one verification round")

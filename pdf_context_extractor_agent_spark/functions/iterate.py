"""The one loop of every iterative operator: it owns the lineage-cut
policy, and each operator keeps only its round body."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

State = DataFrame | tuple[DataFrame, ...]


def iterate(
    state: State, step: Callable[[State, int], State | None], rounds: int
) -> State:
    """Run ``step(state, i)`` for ``i`` in ``0..rounds-1`` and return the
    final state, a DataFrame or a tuple of DataFrames. ``step`` returns
    the next state, or None for "fixpoint reached": the loop stops and
    returns the state it was handed.

    Each round re-reads the state, usually more than once, so an uncut
    plan re-derives every earlier round O(2^rounds) times. Between
    rounds every frame gets ``localCheckpoint(eager=False)``: the next
    round's first action materialises the cut, so it costs no extra job.
    The last round's result is not cut — the caller reads it once, and a
    cut would only add a plan compile."""
    for i in range(rounds):
        if i:
            state = (
                tuple(f.localCheckpoint(eager=False) for f in state)
                if isinstance(state, tuple)
                else state.localCheckpoint(eager=False)
            )
        nxt = step(state, i)
        if nxt is None:
            break
        state = nxt
    return state

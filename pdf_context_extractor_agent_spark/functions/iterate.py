"""The engine's one lineage-cut policy, :func:`cut`, and the one loop of
every iterative operator, :func:`iterate`, which applies it between
rounds so each operator keeps only its round body."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

State = DataFrame | tuple[DataFrame, ...]


def cut(df: DataFrame) -> DataFrame:
    """``df`` as a lineage-free leaf: ``localCheckpoint(eager=False)``.

    Use it on a relation that more than one later reader consumes. The
    first action that reads the leaf computes ``df`` once and keeps its
    partitions in the block manager (memory, spilling to disk); every
    later reader scans those blocks. The leaf is a ``Scan ExistingRDD``
    that keeps ``df``'s output partitioning, so a downstream plan holds
    only its own operators. A persist instead nests ``df``'s whole
    physical plan in every reader's plan, which the driver and AQE walk
    again on each re-plan, and a cached plan keeps all its shuffle
    partitions because AQE may not coalesce them.

    Lazy: under AQE the shuffle stages below ``df`` run when the cut is
    taken (the final plan is built then), the last stage with the first
    reader's job."""
    return df.localCheckpoint(eager=False)


def iterate(
    state: State, step: Callable[[State, int], State | None], rounds: int
) -> State:
    """Run ``step(state, i)`` for ``i`` in ``0..rounds-1`` and return the
    final state, a DataFrame or a tuple of DataFrames. ``step`` returns
    the next state, or None for "fixpoint reached": the loop stops and
    returns the state it was handed.

    Each round re-reads the state, usually more than once, so an uncut
    plan re-derives every earlier round O(2^rounds) times. Between
    rounds every frame is :func:`cut`: the next round's first action
    materialises it, so it costs no extra job. The last round's result
    is not cut — the caller reads it once, and a cut would only add a
    plan compile."""
    for i in range(rounds):
        if i:
            state = tuple(map(cut, state)) if isinstance(state, tuple) else cut(state)
        nxt = step(state, i)
        if nxt is None:
            break
        state = nxt
    return state

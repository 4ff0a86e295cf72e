"""The one iteration kernel: PageRank (``graph.copurchase_pagerank``),
k-core peeling (``graph.kcore_trajectory``) and min-label components
(``dedup.min_label_fixpoint``) are step functions over :func:`iterate`,
which owns the lineage cut (a cache-only loop grows the logical plan
exponentially and OOMs the driver past ~20 rounds), the one job per cut,
the freeing of superseded snapshots and the loud non-convergence error.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation, Row

# serializes the (registry-snapshot, checkpoint, registry-snapshot)
# critical section of a cut so concurrent kernel invocations (e.g. two
# component queries on different threads of one session) can never
# attribute each other's snapshot blocks and free them
_FIXPOINT_LOCK = threading.Lock()


class NotConverged(RuntimeError):
    """The round budget ran out before ``converged`` held."""


def _is_local_ckpt(jrdd) -> bool:
    # a localCheckpoint RDD renders as "MapPartitionsRDD[n] at
    # localCheckpoint at ..."; a cached query relation renders as its
    # plan string ("*(1) Range ...") — so the callSite cleanly separates
    # the kernel's snapshots from any cache a concurrent query registers
    # mid-job
    s = jrdd.toString()
    return s.startswith("MapPartitionsRDD") and " at localCheckpoint at " in s


def _cut(state: DataFrame, stats: Sequence[Column]) -> tuple[DataFrame, set, Row | None]:
    # the round's stats are observed metrics of the checkpoint's own job
    # (one job per cut: an aggregate over the snapshot would add a
    # shuffle job and a result job); blocks register during that job,
    # so the registry diff wraps it
    jsc = state.sparkSession._jsc
    obs = Observation()
    with _FIXPOINT_LOCK:
        before = set(jsc.getPersistentRDDs())
        snap = (state.observe(obs, *stats) if stats else state).localCheckpoint(eager=True)
        after = dict(jsc.getPersistentRDDs())
    raw = set(after) - before
    held = {i for i in raw if _is_local_ckpt(after[i])}
    if raw and not held:
        # the callSite filter matched nothing although the checkpoint
        # must have registered blocks — the toString format drifted
        # (Spark upgrade). Fall back to the raw diff (the lock already
        # serializes kernel invocations; only a concurrent OTHER query's
        # cache could now be misattributed) rather than silently freeing
        # nothing and leaking one snapshot per round.
        held = raw
    return snap, held, Row(**obs.get) if stats else None


def _free(state: DataFrame, held: set) -> None:
    registry = dict(state.sparkSession._jsc.getPersistentRDDs())
    for i in held:
        if i in registry:
            registry[i].unpersist(False)


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_rounds: int,
    *,
    stats: Sequence[Column] = (),
    converged: Callable[[Row], bool] | None = None,
    checkpoint_every: int = 1,
    keep: bool = True,
) -> tuple[DataFrame | None, list[Row]]:
    """Apply ``step`` to ``state`` up to ``max_rounds`` times, cutting
    (localCheckpoint) at round 0, every ``checkpoint_every``-th round and
    the last. Each cut evaluates ``stats`` in its job, appends the row to
    the returned list, and frees the superseded snapshot, so peak storage
    is two snapshots. The loop stops at the first cut where
    ``converged(row)`` holds and raises ``NotConverged`` when it still
    fails at ``max_rounds``; without ``converged`` it runs every round.
    Returns ``(state, rows)``: the last snapshot keeps its checkpoint
    (callers may memoize it) unless ``keep`` is false, which frees it and
    returns ``None``. Materialize any cache ``step`` reads before calling,
    so its blocks never register inside a cut's registry diff."""
    state, held, row = _cut(state, stats)
    rows = [row] if stats else []
    done = 0
    while converged is None or not converged(row):
        if done == max_rounds:
            if converged is not None:
                _free(state, held)
                raise NotConverged(f"not converged after {max_rounds} rounds")
            break
        done += 1
        state = step(state)
        if done % checkpoint_every == 0 or done == max_rounds:
            state, new_held, row = _cut(state, stats)
            _free(state, held)  # superseded — the cut's job was its last read
            held = new_held
            if stats:
                rows.append(row)
    if not keep:
        _free(state, held)
        return None, rows
    return state, rows

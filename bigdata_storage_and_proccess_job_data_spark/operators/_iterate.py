"""The one iteration driver behind the engine's iterative DataFrame
operators (pagerank, label_propagation, shortest_paths, tree_rollup,
k_core / core_numbers, weighted_shortest_paths, the random-walk
generators, connected_components, als_fit).

Lineage policy -- written down here once, for every loop:

- Why checkpoint at all: an iterative DataFrame loop grows its logical
  plan by one pass per iteration. persist() caches the DATA but not the
  plan, so Catalyst re-analyzes an ever-deeper tree (connected_components'
  final plan once held 2000+ scan nodes). localCheckpoint() cuts the
  lineage: the pass's rows land in executor block storage and the next
  pass plans against a leaf.
- Every pass -- and the start state -- is materialized by exactly ONE
  eager localCheckpoint. A loop with a convergence aggregate (frontier
  size, changed labels, weak nodes) attaches it to that pass with
  DataFrame.observe, so the figure arrives from the checkpoint job
  itself: no separate count() job per pass. An observation fires even
  over an empty frame, so a drained frontier reads 0 and never hangs.
- Fixed-count loops (pagerank, label_propagation, als_fit) checkpoint
  every pass too. The persist + checkpoint-every-3rd-pass hybrid they
  once used ran MORE Spark jobs and more wall time on the test graphs
  (4 cores, local mode: pagerank 101 jobs vs 81, label_propagation 135
  vs 78): the passes between checkpoints were re-derived inside each
  checkpoint job, with extra stages, and a pass the next one reads
  twice is only computed once when it is a leaf.
- Release: DataFrame.unpersist() cannot drop checkpoint blocks (they
  never enter the CacheManager), so superseded passes would wait for
  the ContextCleaner. The driver drops a superseded checkpoint's blocks
  itself the moment the next one is materialized, so executor storage
  holds about one pass at a time. ``keep=True`` is the exception: the
  caller assembles its result from every pass (random walks' trails),
  so nothing is released and every pass is checkpointed.
- A step must therefore read only the state it is handed plus
  loop-invariant frames, never an older pass.
- Executor-local checkpoint storage is the remaining trade: losing an
  executor mid-loop fails the job. Passes are few and a rerun is cheap;
  switch to reliable checkpoint() if that ever matters.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation


def _release(df: DataFrame) -> None:
    """Drop the blocks of a frame this driver checkpointed: its
    analyzed plan is the LogicalRDD leaf over the checkpointed RDD."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def _iterate(
    start: DataFrame,
    step: Callable[[DataFrame, int, "dict | None"], DataFrame],
    max_passes: int,
    until: Sequence[Column] = (),
    keep: bool = False,
):
    """Run ``step`` up to ``max_passes`` times from ``start`` under the
    module's lineage policy. ``step(state, i, seen)`` returns pass
    ``i``'s lazy next state; ``seen`` is the previous pass's observed
    ``until`` values by alias (None before the first pass, and always
    None without ``until``). The loop stops at the first pass whose
    FIRST ``until`` aggregate reads 0 (or NULL).

    Returns ``(state, converged)``: the final checkpointed state (with
    ``keep=True``, the list of every checkpointed state, ``start``'s
    first) and whether an ``until`` stop fired."""
    state = start.localCheckpoint()
    kept = [state]  # every live checkpoint: the newest one unless keep
    seen = None
    converged = False
    for i in range(max_passes):
        nxt = step(state, i, seen)
        if until:
            obs = Observation()
            nxt = nxt.observe(obs, *until)
        state = nxt.localCheckpoint()
        if not keep:
            _release(kept.pop())
        kept.append(state)
        if until:
            seen = obs.get
            if not next(iter(seen.values())):
                converged = True
                break
    return (kept if keep else state), converged

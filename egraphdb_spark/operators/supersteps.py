"""Superstep loops shared by the graph family.

Every iterative graph operator here is a loop of supersteps: build the
round's messages with a join, fold them into state, cut the lineage, and
ask the cluster one yes/no question to decide whether to go on.  This
module owns the two loop shapes that more than one operator uses, so the
policy for when to cut and when to stop lives in one place:

  * :func:`delta_fixpoint` — monotone label propagation with delta
    senders (GraphX's Pregel with active vertices, OSDI'14; PAPERS.md):
    only vertices whose label moved last round send this round.
  * :func:`frontier_walk` — level-synchronous expansion with a visited
    set: each level's fresh vertices become the next frontier.

Callers pass only what differs: how a round's messages or candidates are
built (join strategy, hints, pre-aggregation) and, for the walk, the
per-level stop test.  Each round is lineage-cut once, eagerly, through
:func:`~.checkpoint.cut_lineage`, and probed with one driver action; the
walk's growing visited set is cut lazily.
"""

from __future__ import annotations

from typing import Callable, Iterator

from pyspark.sql import Column, DataFrame, functions as F

from .checkpoint import cut_lineage, cut_lineage_lazy


def delta_fixpoint(
    labels: DataFrame,
    send: Callable[[DataFrame], DataFrame],
    combine: Callable[[Column], Column],
    max_iter: int,
) -> tuple[DataFrame, bool]:
    """Propagate ``labels`` to a fixpoint under a monotone ``combine``.

    ``labels`` is a ``(key, value)`` frame; ``send(senders)`` maps the
    vertices that changed last round (same schema; all of ``labels`` in
    round one) to ``(key, value)`` messages; ``combine`` is a monotone,
    order-free aggregate such as ``F.min`` or ``F.max``.  Returns the
    labels after the last round and whether they reached the fixpoint
    within ``max_iter`` rounds.

    Dropping unchanged senders is exact for a monotone ``combine``: an
    unchanged vertex delivered its label to every neighbour in the round
    it last changed, so re-sending it cannot move any label, and every
    per-round label — and the round the fixpoint is seen — is the same as
    with all vertices sending, while rounds 2+ join only the
    changed-adjacent edges.

    One aggregate per round yields both the new value and the previous
    one (``old``, the combine over the rows carried forward: exactly one
    per key already labelled, NULL for a key first reached this round),
    so the next senders and the fixpoint probe are scans of the cut
    frame, not a second join.
    """
    key, v = labels.columns
    senders = labels
    for _ in range(max_iter):
        merged = (
            labels.withColumn("is_old", F.lit(1))
            .unionByName(send(senders).withColumn("is_old", F.lit(0)))
            .groupBy(key)
            .agg(
                combine(v).alias(v),
                combine(F.when(F.col("is_old") == 1, F.col(v))).alias("old"),
            )
            .transform(cut_lineage)
        )
        senders = merged.where(
            F.col("old").isNull() | (F.col(v) != F.col("old"))
        ).select(key, v)
        labels = merged.select(key, v)
        if senders.limit(1).isEmpty():
            return labels, True
    return labels, False


def _has_rows(hop: DataFrame) -> bool:
    return not hop.limit(1).isEmpty()


def frontier_walk(
    start: DataFrame,
    expand: Callable[[DataFrame, int], DataFrame],
    max_steps: int,
    key: str = "key",
    probe: Callable[[DataFrame], object] = _has_rows,
) -> Iterator[tuple[DataFrame, object, DataFrame]]:
    """Walk outward from ``start`` one level per step; yield each level.

    Step ``i`` (1-based) builds candidates with ``expand(frontier, i)``
    — the frontier is ``start`` first, then the previous level; one row
    per ``key``, deduplicated as the caller's rows require, with the
    columns of ``start`` — drops those already visited (anti-join on
    ``key``) and cuts the lineage.  Then ONE driver action,
    ``probe(hop)``, decides: a falsy result means the frontier ran dry
    and the walk ends without yielding the empty level; anything else is
    yielded as ``(hop, probe result, visited)`` and ``hop`` becomes the
    next frontier.  The default probe is an existence test; a caller that
    needs more per level (the path search's "did we reach dst") folds it
    into the same action instead of adding a second one.  At most
    ``max_steps`` levels; the caller may stop earlier by breaking.

    ``visited`` is ``start`` plus every level so far, this one included,
    cut lazily: the next level's anti-join materializes it, so the last
    one yielded before the walk ran dry is a stored frame, not a union of
    one scan per level.
    """
    visited = frontier = start
    for step in range(1, max_steps + 1):
        hop = (
            expand(frontier, step)
            .join(visited.select(key), key, "left_anti")
            .transform(cut_lineage)
        )
        verdict = probe(hop)
        if not verdict:
            return
        visited = visited.unionByName(hop).transform(cut_lineage_lazy)
        yield hop, verdict, visited
        frontier = hop

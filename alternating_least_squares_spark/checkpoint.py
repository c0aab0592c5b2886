"""Rotating localCheckpoint — bounded storage for iterative loops.

``DataFrame.localCheckpoint(eager=True)`` materializes the plan into
cached RDD blocks and truncates lineage — exactly what a
Pregel-as-DataFrames loop needs — but the blocks stay pinned in
executor storage until the SESSION ends: ``DataFrame.unpersist()``
releases only CacheManager entries (``df.persist()``), never the
internal RDD a checkpoint cached. A 10-round loop therefore leaves 10
generations of state pinned, and a long-lived session (a notebook, a
bench, a driver running many queries) accumulates them across calls —
measured in round 13 as 9 orphaned persistent RDDs per
``components_fixed`` call, and as end-of-suite pressure inflating
unrelated queries 2-4x before the bench grew an explicit sweeper.

:func:`rotate_local_checkpoint` fixes the leak at the source: it
checkpoints the new state, then releases the blocks owned by the
PREVIOUS rotation (safe — the new checkpoint is already materialized,
so nothing recomputes through the superseded generation).

Ownership is PRECISE, not inferred: a just-checkpointed Dataset's
analyzed plan is a ``LogicalRDD`` holding exactly the internal RDD the
checkpoint cached, so its id is read directly
(``queryExecution().analyzed().rdd().id()``). An earlier design
diffed ``getPersistentRDDs`` around the call, but that mis-attributes
any OTHER RDD whose first materialization happens inside the window —
e.g. a caller's lazily ``persist()``-ed input cache touched by the
eager action — and would silently unpersist it one round later. If a
future Spark stops exposing the plan shape, ownership degrades to the
EMPTY set: the loop then merely leaks like before the fix, which is
strictly safer than ever releasing someone else's blocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _checkpoint_ids(df: DataFrame) -> set[int]:
    """The persistent-RDD ids owned by a just-localCheckpointed
    DataFrame — exactly one (the LogicalRDD's internal RDD), or the
    empty set if the plan shape is not the expected LogicalRDD
    (degrade to leak-not-misrelease)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return set()
        return {int(plan.rdd().id())}
    except Exception:
        return set()


def rotate_local_checkpoint(
    df: DataFrame, owned: set[int] | None
) -> tuple[DataFrame, set[int]]:
    """Eagerly localCheckpoint ``df``, release the blocks of the
    previous rotation (``owned``), and return
    ``(checkpointed_df, ids_owned_by_the_new_rotation)``.

    Pass ``owned=None`` (or an empty set) for the first rotation —
    or seed it with the ids of an input checkpoint that the first
    successor supersedes. The FINAL rotation's blocks are
    intentionally left pinned — the returned DataFrame reads from
    them; release them with :func:`release_local_checkpoint` once a
    caller no longer needs the result (or let the session end).
    """
    out = df.localCheckpoint(eager=True)
    release_local_checkpoint(out, owned)
    return out, _checkpoint_ids(out)


def release_local_checkpoint(
    df: DataFrame, owned: set[int] | None
) -> None:
    """Release a rotation's blocks explicitly — for input/seed
    checkpoints a loop no longer reads once it returns, and for loops
    where the superseded generation is still READ after the new
    checkpoint is created, so the release must happen later than
    :func:`rotate_local_checkpoint` would do it. ``df`` only supplies
    the session; ``owned=None`` is a no-op."""
    if not owned:
        return
    live = df.sparkSession.sparkContext._jsc.getPersistentRDDs()
    for rid in owned:
        jrdd = live.get(rid)
        if jrdd is not None:
            jrdd.unpersist(False)


def local_checkpoint_owned(df: DataFrame) -> tuple[DataFrame, set[int]]:
    """Eagerly localCheckpoint ``df`` and return the result with its
    owned block ids — for one-shot input checkpoints (edge tables,
    seeds, marginals) that a loop wants to release explicitly before
    returning, instead of pinning them for the rest of the session."""
    out = df.localCheckpoint(eager=True)
    return out, _checkpoint_ids(out)

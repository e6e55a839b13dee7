"""Session-scoped persist bookkeeping (cache hygiene).

Spark has no RAII for ``.persist()``: operators that persist shared
subplans return LAZY DataFrames, so they cannot unpersist before the
caller's terminal action without losing the reuse they persisted for.
This registry bounds the leak instead: persisted DataFrames (and
localCheckpoint RDD blocks) are registered under a scope in
GENERATIONS. :func:`begin` opens a new generation and releases all but
the most recent prior one — so a long-lived session holds at most TWO
generations of cached blocks per scope (the in-flight one and the one
that may still back the previously RETURNED, not-yet-materialized
DataFrame). Releasing the previous generation eagerly would break that
older lazy result unrecoverably (localCheckpoint truncates lineage, so
a dropped block cannot be recomputed).

Contract for callers: at most ONE outstanding unmaterialized result per
scope. Materialize (or discard) the result of call N-1 before asking
for call N+1's; :func:`release` / :func:`release_all` drop everything
at session boundaries.

Operators whose final result is tiny (top-k) skip this entirely: they
materialize the result eagerly and unpersist in a ``finally`` (see
keyword.bm25_topk), leaving zero cached blocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class _Gen:
    """One query generation: its persisted DataFrames + checkpoint RDDs."""

    __slots__ = ("dfs", "rdds")

    def __init__(self) -> None:
        self.dfs: list[DataFrame] = []
        self.rdds: list[tuple[object, frozenset[int]]] = []  # (spark, ids)


# scope -> generations, oldest first; begin() keeps at most one prior.
_GENS: dict[str, list[_Gen]] = {}

# Generations an open scope keeps besides the in-flight one. 1 prior
# generation = the previously returned lazy DataFrame stays valid.
KEEP_PRIOR_GENERATIONS = 1


def _current(scope: str) -> _Gen:
    gens = _GENS.setdefault(scope, [])
    if not gens:
        gens.append(_Gen())
    return gens[-1]


def begin(scope: str) -> None:
    """Open a new generation; release all but the most recent prior one.

    The surviving prior generation keeps the previously returned (still
    lazy) DataFrame of this scope materializable; it is dropped on the
    NEXT begin()."""
    gens = _GENS.setdefault(scope, [])
    while len(gens) > KEEP_PRIOR_GENERATIONS:
        _release_gen(gens.pop(0))
    gens.append(_Gen())


def scoped_persist(df: DataFrame, scope: str) -> DataFrame:
    """Persist `df` and register it for release two generations later."""
    _current(scope).dfs.append(df.persist())
    return df


def _persistent_ids(spark) -> set[int]:
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in m.keySet().toArray()}


def unpersist_rdd_ids(spark, ids) -> None:
    """Drop persisted RDDs by id (the only way to release localCheckpoint
    blocks — their DataFrame's unpersist() goes through the SQL cache
    manager, which never held them). The RDD is unusable afterwards:
    only call once every plan referencing it is materialized.

    The ids are also scrubbed from every scope's generation registry,
    so a later generation release never re-issues unpersist on ids a
    caller already dropped at handoff time. (Double-release happened to
    be benign only because Spark never reuses RDD ids within a context
    — an implicit invariant this module no longer leans on.)"""
    ids = frozenset(ids)  # materialize: a generator arg would be
    # exhausted by the unpersist loop, turning the registry scrub below
    # into a silent no-op
    m = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        if m.containsKey(i):
            m.get(i).unpersist(False)
    for gens in _GENS.values():
        for gen in gens:
            if any(s is spark and rids & ids for s, rids in gen.rdds):
                gen.rdds = [
                    (s, rids - ids if s is spark else rids)
                    for s, rids in gen.rdds
                ]


def _plan_rdd_ids(df: DataFrame) -> frozenset[int] | None:
    """RDD id of a localCheckpoint'ed DataFrame, read off its own plan.

    Dataset.localCheckpoint persists the materialized internal RDD and
    wraps exactly that RDD in a LogicalRDD node — its id is the
    persisted id. Reading it from the plan (instead of diffing
    sc.getPersistentRDDs() around the call) is immune to concurrent
    persists by other threads / streaming queries, which a global set
    diff would misattribute to this scope and later wrongly unpersist.
    """
    try:
        plan = df._jdf.queryExecution().logical()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            return frozenset([int(plan.rdd().id())])
    except Exception:
        pass
    return None


def tracked_local_checkpoint(df: DataFrame, scope: str):
    """localCheckpoint(eager=True) with release bookkeeping.

    Returns (checkpointed_df, new_rdd_ids). The checkpoint's RDD ids are
    registered under `scope`'s current generation and survive one
    begin(); callers that supersede a checkpoint mid-computation can
    drop it earlier with unpersist_rdd_ids."""
    spark = df.sparkSession
    before = _persistent_ids(spark)
    out = df.localCheckpoint(eager=True)
    new = _plan_rdd_ids(out)
    if new is None:  # plan shape changed across Spark versions: fall back
        new = frozenset(_persistent_ids(spark) - before)
    _current(scope).rdds.append((spark, new))
    return out, new


def _release_gen(gen: _Gen) -> None:
    for df in gen.dfs:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped
    for spark, ids in gen.rdds:
        try:
            unpersist_rdd_ids(spark, ids)
        except Exception:
            pass  # session already stopped


def release(scope: str | None = None) -> None:
    """Unpersist everything registered under `scope` (or all scopes)."""
    names = [scope] if scope is not None else list(_GENS)
    for name in names:
        for gen in _GENS.pop(name, []):
            _release_gen(gen)


def release_all() -> None:
    release(None)

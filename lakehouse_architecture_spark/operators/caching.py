"""Bounded session caching for lazy query functions.

Query-registry functions return LAZY DataFrames — the consuming action
belongs to the caller (driver, bench, a user), so a function that
persists an intermediate cannot unpersist it in a ``finally`` the way a
streaming job does. Left alone, those persists accumulate across a
multi-query session (the r8 ADVICE leak: every span query pinned a new
posting relation; the same class covered ~20 plain ``.cache()`` sites
across the relational/dedup_sim/events/embeddings query modules until
round 10 routed them all through here).

``one_slot_persist`` bounds that growth by construction: each named
slot holds AT MOST ONE persisted relation, and persisting into a slot
releases its predecessor first. Session-wide cache held by this module
is therefore bounded by the number of slots (a small static set of
call sites), not by the number of queries run.

Identity-aware reuse: the slot's ALREADY-WARM DataFrame is returned
(no unpersist/re-persist) when the incoming relation has the same
identity as the held one. Identity is derived, never claimed by the
caller: the same live session, the same plan (``sameSemantics`` on the
analyzed plans) and the same data files — path, length and
modification time of every file the plan's file-relation leaves list.
A rewrite of any input file (a MERGE swap, a compaction, a user's
``shutil.move``) changes the listing, so the next build misses and
re-persists over the new files: no writer has to tell this module
about a write, and staleness cannot arise from a forgotten release.
A plan over a source whose content has no file identity here (a
non-file relation) never warm-hits. Spark's own plan cache matches a
fresh read to a cached plan over the same path whatever the files now
hold, so the writers still call ``spark.catalog.refreshByPath`` after
a swap; on a miss this module unpersists the held relation before
persisting the new one, so the slot's own stale entry cannot answer
the new build.

Concurrency contract: slot state is guarded by a lock, so concurrent
calls won't corrupt the registry — but two concurrent queries that
share a slot NAME over different relations will still evict each
other's relation mid-flight. Slots assume the build-then-consume, one
query at a time session shape of the driver/bench; a threaded harness
must either give each thread its own slot names or accept
recomputation (correctness is unaffected — an evicted relation
recomputes lazily).
"""

from __future__ import annotations

import threading

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

_LOCK = threading.Lock()
_SLOTS: dict[str, tuple[frozenset | None, DataFrame]] = {}

# Leaves whose data is part of the plan itself, so ``sameSemantics``
# already compares it (a LogicalRDD compares by RDD id, and RDDs are
# immutable).
_IN_PLAN_LEAVES = frozenset(
    ["LocalRelation", "Range", "LogicalRDD", "OneRowRelation"]
)


def _is_persisted(df: DataFrame) -> bool:
    try:
        sl = df.storageLevel
        return sl.useMemory or sl.useDisk
    except Exception:
        return False  # stopped session: definitely not warm


def _input_files(df: DataFrame) -> frozenset | None:
    """The file listing ``df`` reads: one Hadoop ``FileStatus`` string
    (path, length, modification time) per data file of every
    file-relation leaf of the ANALYZED plan. ``df.inputFiles()`` cannot
    serve: it reads the optimized plan after cache substitution and
    lists nothing for a plan Spark already caches. None when a leaf
    reads a source with no file identity."""
    files: set[str] = set()
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        name = leaf.nodeName()
        if name in _IN_PLAN_LEAVES:
            continue
        if name != "LogicalRelation":
            return None
        try:
            listing = leaf.relation().location().allFiles().mkString("\n")
        except Py4JError:
            return None  # a non-file relation (JDBC, ...)
        files.update(listing.split("\n"))
    return frozenset(files)


def one_slot_persist(df: DataFrame, slot: str = "default") -> DataFrame:
    """Persist ``df`` into ``slot``, releasing whatever it held before.

    If the slot already holds a relation with the same identity (see
    the module docstring), return THAT warm DataFrame and leave it
    persisted — the caller's ``df`` is discarded unmaterialized.
    """
    files = _input_files(df)
    with _LOCK:
        held = _SLOTS.get(slot)
        if (
            held is not None
            and files is not None
            and held[0] == files
            # a warm hit must come from the SAME live session — a new
            # session's plan must not be answered with a stopped
            # session's DataFrame (tests create/stop many sessions)
            and held[1].sparkSession is df.sparkSession
            # ...and must STILL be cached: Spark's CacheManager is
            # plan-keyed, so two slots holding the same logical plan
            # share one entry and releasing either kills both — a
            # de-warmed holder is a miss, not a hit (re-persist below)
            and _is_persisted(held[1])
            and held[1].sameSemantics(df)
        ):
            return held[1]
        _SLOTS.pop(slot, None)
        if held is not None:
            try:
                held[1].unpersist(blocking=False)
            except Exception:
                pass  # a stopped session must not fail the new query
        out = df.persist()
        _SLOTS[slot] = (files, out)
        return out


def release_slots(prefix: str = "") -> int:
    """Unpersist and drop every slot whose name starts with ``prefix``.

    Returns the number of slots released. Used by tests and by
    long-running harnesses that want a clean cache boundary between
    phases; queries never need to call this (slots self-bound).
    """
    released = 0
    with _LOCK:
        for name in [n for n in _SLOTS if n.startswith(prefix)]:
            _, df = _SLOTS.pop(name)
            try:
                df.unpersist(blocking=False)
            except Exception:
                pass
            released += 1
    return released

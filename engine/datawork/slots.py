"""The one memo for materialized stages.

``memo(name, key_df, build)`` returns the result slot ``name`` holds when
it was built from an identical ``key_df``; otherwise it evicts the slot's
occupant, runs ``build(key_df)`` and stores the result. ``peek`` is the
same lookup without the build. One registry,
``(applicationId, name) → (key plan, input files, result)``, holds one
result per name, so a long driver session (bench loops, streamed
micro-batches) keeps a bounded set of blocks.

Identity. A hit needs the key plan to be ``sameSemantics``-equal AND the
sorted data files under its scans to be equal. The plan alone is not
enough: Spark canonicalizes a parquet scan by its root path only, so an
in-session append, compaction or rewrite of the same path would keep
serving the old result. Part-file names carry a per-write UUID, so any
write under a scanned path changes the file list. The list is the one the
scan's file index took when the DataFrame was built (``spark.read``): a
frame built before an append still reads, and keys on, the old files. A
lookup that finds the same plan over different files evicts the stale
entry on the spot, so Spark's own cache lookup (also by plan) cannot
substitute the old blocks into a fresh plan either.

Release. Every eviction (refill, ``clear``, an entry of a stopped
application) releases the old result: ``unpersist()`` for a persisted
frame, and unpersisting the checkpointed RDD for a truncated one, because
``DataFrame.unpersist()`` does not free ``localCheckpoint`` blocks.

Builds:

* ``persist`` — persist + eager count. Keeps the lineage (an evicted or
  lost block recomputes) and the ``outputPartitioning``, so consumers
  that shuffle on the partitioning the frame was built with (minhash
  buckets, the LSH base) add no Exchange. The eager count matters:
  consumers of a slot run as concurrent stages of one action, and Spark
  does not share in-flight computation of a not-yet-populated cache —
  each stage would recompute the lineage (measured at a 500k-doc soak:
  the k-min signature aggregate ran up to 3x per cold call).
* ``truncate`` — eager ``localCheckpoint``. The result's plan becomes a
  tiny RDD scan, so every downstream action plans over it instead of
  re-analyzing the upstream tree on the driver (measured: 4 s to count
  a cached 4k-row stage of the curation funnel at sf0.1). The price, paid
  once here: the result has NO lineage. Its blocks live only on the
  executors that computed them (an executor loss is unrecoverable), it
  drops ``outputPartitioning``, and once its slot is refilled or cleared
  the blocks are gone — a frame still derived from it fails on its next
  action. Consume a truncated result before the same slot is filled
  again.

A build may also be any function of the key that returns a frame it
persisted or truncated itself (the k-means codebook, the cluster labels,
a table the caller persists and counts for its own census).
"""

from __future__ import annotations

import logging

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

_SLOTS: dict = {}


def persist(df: DataFrame) -> DataFrame:
    df.persist()
    df.count()
    return df


def truncate(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def peek(name: str, key_df: DataFrame) -> DataFrame | None:
    """The result slot ``name`` holds for ``key_df``, or None. Never
    builds — for consumers that profit from another operator's result
    but must not pay the materialization when running alone. A
    same-plan entry over different files is stale and is evicted here."""
    app = _app(key_df)
    # PySpark runs one SparkContext per process, so an entry of another
    # application belongs to a stopped one
    for slot in [s for s in _SLOTS if s[0] != app]:
        _evict(slot)
    held = _SLOTS.get((app, name))
    if held is None or not held[0].sameSemantics(key_df):
        return None
    if held[1] == _input_files(key_df):
        return held[2]
    _evict((app, name))
    return None


def memo(name: str, key_df: DataFrame, build) -> DataFrame:
    """The result slot ``name`` holds for ``key_df``; on a miss, evict
    the occupant, store ``build(key_df)`` and return it."""
    hit = peek(name, key_df)
    if hit is not None:
        return hit
    slot = (_app(key_df), name)
    if slot in _SLOTS:
        _evict(slot)
    out = build(key_df)
    _SLOTS[slot] = (key_df, _input_files(key_df), out)
    return out


def clear(spark=None) -> None:
    """Release and drop every slot of ``spark``'s application (all slots
    when None)."""
    app = spark.sparkContext.applicationId if spark is not None else None
    for slot in list(_SLOTS):
        if app is None or slot[0] == app:
            _evict(slot)


def report(spark) -> list:
    """Persisted RDDs with fewer cached partitions than they own, as
    (name, cached, total), each logged at WARNING. Under memory pressure
    Spark evicts partitions mid-job and the plan silently recomputes
    them — correct, but invisible without this. Never raises: telemetry
    must not fail the job it observes."""
    out = []
    try:
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
            cached, total = info.numCachedPartitions(), info.numPartitions()
            if 0 < cached < total:
                row = (info.name(), cached, total)
                out.append(row)
                logging.getLogger(__name__).warning(
                    "cache slot partially evicted: %s — %d/%d partitions "
                    "cached (evicted parts recompute from lineage)", *row)
    except Exception:
        pass
    return out


def _app(df: DataFrame) -> str:
    return df.sparkSession.sparkContext.applicationId


def _input_files(df: DataFrame) -> list:
    """Sorted data files under every file scan of ``df``'s analyzed plan
    (not ``df.inputFiles()``: that reads the optimized plan, where a
    cached subtree hides its scans)."""
    jvm = df.sparkSession.sparkContext._jvm
    files: set = set()
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        try:
            listed = leaf.relation().location().inputFiles()
        except Py4JError:
            continue  # not a file scan (local rows, RDD scans, ranges)
        # one round trip for the whole listing, not one per file
        files.update(jvm.scala.collection.immutable.ArraySeq
                     .unsafeWrapArray(listed).mkString("\n").split("\n"))
    files.discard("")
    return sorted(files)


def _evict(slot) -> None:
    release(_SLOTS.pop(slot)[2])


def release(df: DataFrame) -> None:
    """Free ``df``'s blocks: unpersist a persisted frame; for a truncated
    one, unpersist the checkpointed RDD its plan scans (under any
    renaming projections). Also for the intermediate rounds of an
    iterative build, once the next round has materialized."""
    try:
        if df.is_cached:
            df.unpersist()
            return
        plan = df._jdf.queryExecution().analyzed()
        while plan.nodeName() == "Project":
            plan = plan.child()
        if plan.nodeName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:  # a stopped context's blocks died with it
        logging.getLogger(__name__).debug("slot release failed",
                                          exc_info=True)

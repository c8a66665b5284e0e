"""The persisted bucket indexes: one layout contract, one write, one probe.

Three index families persist derived corpus state once and let each new
wave probe it instead of recomputing (the corpus-scale analogue of the
extraction pipeline's skip-completed resume scans, reference
batch_pdf_processor.py:2562-2625): MinHash (``incremental.py``), banded
LSH and semantic cells (``embed_incremental.py``), and sign-LSH
(``ann_index.py``). Their tables are written, compacted and probed only
through this module, under one contract:

* Keyed tables (``buckets/`` by band and bucket, ``members/`` by cell,
  ann ``vectors/`` by bucket, embedding ``vectors/`` by id) are
  range-partitioned and sorted by their keys, so a probe's semi-join on
  the keys a wave touches prunes parquet row groups by min/max
  statistics instead of scanning the index. An append writes
  its own sorted files; ``compact`` restores one global layout.
* Stats tables (``stats/``, ``cstats/``) hold ADDITIVE ``(keys…, cnt)``
  partials: a build counts the table it wrote, an append writes the
  wave's partial rows, readers SUM, and ``compact`` folds them to one row
  per key. Merging counters in place would rewrite a corpus-sized table
  per wave.
* Guards (MinHash and embedding ``max_bucket``, semantic
  ``max_cluster``) use COMBINED occupancy: persisted partials plus the
  wave's counts, over the keys the wave touches. The kept key set, and
  with it the result, is then the one a full recompute over old ∪ new
  gives; untouched keys cannot produce wave results.
* Per-wave cost is ∝ the wave. The corpus is read only through
  semi-joins driven by wave-sized sets (touched keys, hot keys, candidate
  ids), broadcast while the wave's census is within the caller's row cap
  and left to AQE past it (same rows, bounded memory): no corpus-sized
  shuffle anywhere (tests/test_incremental.py pins the plan).

Precondition for every family: ids are unique, and a wave is disjoint
from the indexed corpus (re-ingesting an indexed id doubles its rows).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import slots

BUCKETS = "buckets"
STATS = "stats"
BAND_KEYS = ["band", "bucket"]


def read(spark: SparkSession, path: str, table: str) -> DataFrame:
    return spark.read.parquet(os.path.join(path, table))


@contextmanager
def cached(df: DataFrame):
    """``df`` persisted and counted for the block, released after it.
    ``repartitionByRange`` samples its child for boundaries before the
    real exchange, so an expensive unpersisted projection runs 2-3× per
    sorted write (the 256-plane signature at 88k vectors: plain write
    136 s, range write 375 s); cached, it runs once for every write."""
    df = df.persist()
    df.count()
    try:
        yield df
    finally:
        df.unpersist()


def write_sorted(df: DataFrame, path: str, table: str, keys: list,
                 mode: str) -> None:
    (df.repartitionByRange(*keys).sortWithinPartitions(*keys)
       .write.mode(mode).parquet(os.path.join(path, table)))


def write_keyed(df: DataFrame, path: str, table: str, stats: str,
                keys: list, mode: str) -> None:
    """Write ``table`` sorted by ``keys`` and its ``(keys…, cnt)`` partials
    as ``stats``. A build (overwrite) counts the table it just wrote; an
    append counts the wave frame."""
    write_sorted(df, path, table, keys, mode)
    src = df if mode == "append" else read(df.sparkSession, path, table)
    (src.groupBy(*keys).agg(F.count("*").alias("cnt"))
        .write.mode(mode).parquet(os.path.join(path, stats)))


def occupancy(stats: DataFrame, keys: list) -> DataFrame:
    """``(keys…, cnt)`` with the partials summed."""
    return stats.groupBy(*keys).agg(F.sum("cnt").cast("bigint").alias("cnt"))


def fold_stats(spark: SparkSession, path: str, table: str,
               keys: list) -> dict:
    """Fold a stats table's partials to one row per key, atomically."""
    from engine.spark.sinks import atomic_rewrite
    folded = occupancy(read(spark, path, table), keys)
    return atomic_rewrite(
        os.path.join(path, table),
        lambda tmp: (folded.repartitionByRange(1, *keys)
                     .sortWithinPartitions(*keys)
                     .write.mode("overwrite").parquet(tmp)))


def compact(spark: SparkSession, path: str, tables: dict, stats: str,
            stats_keys: list, target_bytes: int) -> dict:
    """Maintenance after K appended waves: each of ``tables`` (name →
    sort keys) back to one global range-sorted layout, ``stats`` folded.
    Atomic per table (``engine.spark.sinks.atomic_rewrite``, the parquet
    analogue of Iceberg's rewrite_data_files); query results are
    identical before and after. Returns per-table
    {files,bytes}×{before,after}."""
    from engine.spark.sinks import compact_sorted_parquet
    out = {name: compact_sorted_parquet(spark, os.path.join(path, name),
                                        keys, target_bytes)
           for name, keys in tables.items()}
    out[stats] = fold_stats(spark, path, stats, stats_keys)
    return out


def broadcast_hint(rows: int, cap: int):
    """``F.broadcast`` while the wave-side census ``rows`` is within
    ``cap``; past it the identity, so the same joins shuffle with bounded
    memory (a broadcast must fit every executor AND the driver) and AQE
    may still broadcast at runtime when the relation turns out small."""
    return F.broadcast if rows <= cap else (lambda df: df)


def touched(spark: SparkSession, path: str, table: str, wave: DataFrame,
            keys: list, hint) -> DataFrame:
    """The rows of index ``table`` under a key some ``wave`` row carries."""
    return read(spark, path, table).join(
        hint(wave.select(*keys).distinct()), keys, "left_semi")


def drop_hot(wave: DataFrame, corpus: DataFrame, path: str, stats: str,
             keys: list, limit: int | None, hint) -> tuple:
    """(wave, corpus) without the keys whose COMBINED occupancy (persisted
    ``stats`` partials + wave count) exceeds ``limit``: the guard a full
    recompute over old ∪ new applies, on both sides. No-op for None."""
    if limit is None:
        return wave, corpus
    old = (touched(wave.sparkSession, path, stats, wave, keys, hint)
           .groupBy(*keys).agg(F.sum("cnt").alias("old_cnt")))
    new = wave.groupBy(*keys).agg(F.count("*").alias("new_cnt"))
    hot = (new.join(old, keys, "left_outer")
           .withColumn("cnt", F.coalesce("old_cnt", F.lit(0))
                       + F.col("new_cnt"))
           .filter(F.col("cnt") > limit).select(*keys))
    return (wave.join(hint(hot), keys, "left_anti"),
            corpus.join(hint(hot), keys, "left_anti"))


def pair_join(a: DataFrame, b: DataFrame | None = None) -> DataFrame:
    """(id_a, id_b), id_a < id_b, for rows sharing a (band, bucket). A
    self-join (``b`` None) keeps each pair once by a.id < b.id; a join of
    two disjoint tables orders each pair with least/greatest."""
    on = ((F.col("a.band") == F.col("b.band"))
          & (F.col("a.bucket") == F.col("b.bucket")))
    if b is None:
        return (a.alias("a").join(a.alias("b"),
                                  on & (F.col("a.id") < F.col("b.id")))
                .select(F.col("a.id").alias("id_a"),
                        F.col("b.id").alias("id_b")))
    return (a.alias("a").join(b.alias("b"), on)
            .select(F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
                    F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b")))


def banded_candidates(banded: DataFrame,
                      max_bucket: int | None = None) -> DataFrame:
    """Distinct (id_a, id_b) candidates from one (id, band, bucket) table:
    THE candidate join of the full-recompute operators (MinHash and
    banded cosine) and of their telemetry (tools/recall_report.py).
    ``max_bucket`` drops buckets holding more rows (broadcast anti-join:
    the hot list is a handful of degenerate keys)."""
    if max_bucket is not None:
        hot = (banded.groupBy(*BAND_KEYS).agg(F.count("*").alias("bsz"))
               .filter(F.col("bsz") > max_bucket).select(*BAND_KEYS))
        banded = banded.join(F.broadcast(hot), BAND_KEYS, "left_anti")
    return pair_join(banded).distinct()


def wave_probe(wave_keys: DataFrame, wave_rows: DataFrame, path: str,
               rows_table: str, slot: str, side, score: tuple,
               threshold: float, max_bucket: int | None,
               max_broadcast_rows: int) -> DataFrame:
    """Verified pairs TOUCHING the wave (wave×wave plus wave×corpus):
    (id_a, id_b, <score>, origin) with id_a < id_b and origin ∈
    {'new_new', 'new_old'}, kept where the score ≥ ``threshold``.

    ``wave_keys`` is the wave's (id, band, bucket) explode and
    ``wave_rows`` its (id, payload…) verify rows; the index at ``path``
    holds the corpus's ``buckets``/``stats`` and its verify rows as
    ``rows_table``. ``side(rows, s)`` renames an (id, payload…, _new)
    frame for pair side s ∈ {"a", "b"} (id → id_s, _new → s_new);
    ``score`` is (name, Column over both sides).

    The probe fills the slots ``<slot>_b_new`` and ``<slot>_cand``. Each
    family passes its own prefix: a shared slot would let one family's
    probe evict the other's result, and a truncated result dies when its
    slot is refilled (slots.py)."""
    spark = wave_keys.sparkSession
    # repartitioned by (band, bucket) BEFORE the persist: touched/distinct,
    # the wave occupancy aggregate and both candidate joins key on it, so
    # they read the cache's outputPartitioning instead of each adding an
    # Exchange of the wave buckets. Persisted lazily: the census count
    # materializes it and the caller's wave frame beneath it in one pass.
    b_new = slots.memo(f"{slot}_b_new", wave_keys.repartition(*BAND_KEYS),
                       lambda b: b.persist())
    # the explode emits exactly ``bands`` rows per wave row, so this count
    # IS the broadcast-size variable (the wave's real size, not a hope)
    hint = broadcast_hint(b_new.count(), max_broadcast_rows)
    corpus = touched(spark, path, BUCKETS, b_new, BAND_KEYS, hint)
    b_new, corpus = drop_hot(b_new, corpus, path, STATS, BAND_KEYS,
                             max_bucket, hint)
    # the candidate set feeds five subtrees of the verify plan (both verify
    # joins and both arms of the id semi-join); left lazy, AQE would
    # re-materialize the whole join/distinct lineage once per consumer
    # (measured at sf0.1: a 228-job probe, ~60 redundant shuffle stages).
    # It is wave-proportional, and its key scans the index, so a probe
    # after an append misses and recomputes.
    cand = slots.memo(f"{slot}_cand",
                      pair_join(b_new).unionByName(pair_join(b_new, corpus))
                      .distinct(),
                      slots.truncate)
    cand_ids = (cand.select(F.col("id_a").alias("id"))
                .unionByName(cand.select(F.col("id_b").alias("id")))
                .distinct())
    corpus_rows = (read(spark, path, rows_table)
                   .join(hint(cand_ids), "id", "left_semi"))
    # wave membership rides the union as a column, so origin tagging costs
    # no extra join; it is a function of membership, not of which join
    # produced the pair (distinct merged the two)
    rows = (wave_rows.withColumn("_new", F.lit(True))
            .unionByName(corpus_rows.select(*wave_rows.columns)
                         .withColumn("_new", F.lit(False))))
    name, expr = score
    return (cand.join(side(rows, "a"), "id_a").join(side(rows, "b"), "id_b")
            .select("id_a", "id_b", expr.alias(name),
                    F.when(F.col("a_new") & F.col("b_new"),
                           F.lit("new_new")).otherwise(F.lit("new_old"))
                     .alias("origin"))
            .filter(F.col(name) >= threshold))

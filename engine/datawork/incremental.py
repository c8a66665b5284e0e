"""Incremental MinHash dedup against a persisted corpus index.

The corpus is signed and bucketed once; each ingest wave is deduplicated
against the index and itself without re-reading corpus text. Layout,
stats partials, the combined-occupancy guard and the wave probe follow
the shared contract in ``bucket_index.py``. Family-specific tables under
``<path>/``:

* ``sigs/``    — (id, mh0..mh{k-1}), one row per corpus doc: the only
  text-derived state. Written unsorted (a range write would re-run the
  k-min aggregation for its boundary sample); ``compact_index`` sorts it
  by id.
* ``buckets/`` — (id, band, bucket), ``bands`` rows per doc, sorted by
  (band, bucket); ``stats/`` holds their (band, bucket, cnt) partials.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import bucket_index, slots
from .bucket_index import BAND_KEYS, BUCKETS, STATS
from .dedup import (MINHASH_BANDS, MINHASH_K, _band_explode,
                    minhash_signatures)

SIGS = "sigs"


def write_minhash_index(docs: DataFrame, path: str, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        k: int = MINHASH_K,
                        bands: int = MINHASH_BANDS) -> None:
    """Build the persisted index from scratch (mode=overwrite).

    The signature table is written first and READ BACK to derive buckets
    and stats — the k-min aggregation (the expensive part) runs exactly
    once, and the derived tables share the on-disk row values rather than
    a recomputed lineage."""
    sigs = minhash_signatures(docs, id_col, text_col, n, k)
    sigs.write.mode("overwrite").parquet(os.path.join(path, SIGS))
    sigs_r = bucket_index.read(docs.sparkSession, path, SIGS)
    bucket_index.write_keyed(_band_explode(sigs_r, k, bands), path, BUCKETS,
                             STATS, BAND_KEYS, "overwrite")


def append_to_index(new_docs: DataFrame, path: str, id_col: str = "doc_id",
                    text_col: str = "text", n: int = 3,
                    k: int = MINHASH_K,
                    bands: int = MINHASH_BANDS,
                    sigs_df: DataFrame | None = None) -> None:
    """Fold an ingested wave into the index (cost ∝ wave size).

    ``sigs_df`` lets a caller that already signed the wave (the streamed
    probe-then-fold loop: ``incremental_verified_pairs`` materializes the
    same signatures) hand them in, skipping a second shingle+k-min pass
    over the wave text (VERDICT r6 #7). Must be exactly
    ``minhash_signatures(new_docs, ...)`` rows — the signature is a
    deterministic function of the text, so a persisted copy qualifies."""
    sigs = sigs_df if sigs_df is not None \
        else minhash_signatures(new_docs, id_col, text_col, n, k)
    sigs.write.mode("append").parquet(os.path.join(path, SIGS))
    # buckets from the wave's in-memory lineage (1 row/doc), not a rescan
    bucket_index.write_keyed(_band_explode(sigs, k, bands), path, BUCKETS,
                             STATS, BAND_KEYS, "append")


def stream_dedup_ingest(stream_docs: DataFrame, index_path: str,
                        pairs_path: str, checkpoint_dir: str,
                        id_col: str = "doc_id", text_col: str = "text",
                        threshold: float = 0.5, max_bucket: int = 100,
                        available_now: bool = True):
    """CONTINUOUS ingestion dedup — the streaming composition of the
    incremental family: each micro-batch is a wave that is (1) near-dup-
    checked against the persisted index + itself
    (``incremental_verified_pairs``), (2) its pair set written under
    ``pairs_path/batch=<id>/``, and (3) folded into the index
    (``append_to_index``) before the next batch fires. Start from an
    empty index (``write_minhash_index`` over an empty DataFrame) and the
    union over batches partitions the FULL corpus pair set: a pair lands
    exactly once, in the batch where its later member arrives.

    Exactness note: the per-wave hot-bucket guard uses combined occupancy
    AT THAT WAVE, so union-over-waves equals a full recompute iff no
    bucket crosses ``max_bucket`` between waves (a bucket that becomes
    hot later would have had its early pairs emitted). Pin the cap above
    the corpus ceiling — or treat early-emitted pairs of late-hot buckets
    as the documented at-most-once-per-pair semantics.

    Delivery: the pair write is per-batch-overwrite (idempotent under
    foreachBatch retries); ``append_to_index`` is an APPEND and therefore
    at-least-once under a retry between the two steps — on a transactional
    table format (Iceberg) both steps join one snapshot commit; on plain
    parquet, re-running a failed batch can double a wave's signature rows
    (the index precondition in bucket_index.py).

    Returns the started ``StreamingQuery``."""
    def _batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # sign the wave ONCE: the probe's verify side and the index fold
        # read the same persisted signature table (r6 #7 — the old shape
        # paid the shingle+k-min pass twice per micro-batch)
        sig = slots.memo(
            "incr_sig_new", minhash_signatures(batch_df, id_col, text_col),
            slots.truncate)
        pairs = incremental_verified_pairs(
            batch_df, index_path, id_col=id_col, text_col=text_col,
            threshold=threshold, max_bucket=max_bucket, presigned=sig)
        (pairs.write.mode("overwrite")
              .parquet(os.path.join(pairs_path, f"batch={batch_id}")))
        append_to_index(batch_df, index_path, id_col=id_col,
                        text_col=text_col, sigs_df=sig)

    q = (stream_docs.writeStream.foreachBatch(_batch)
         .option("checkpointLocation", checkpoint_dir))
    if available_now:
        q = q.trigger(availableNow=True)
    return q.start()


def compact_index(spark: SparkSession, path: str,
                  target_bytes: int = 128 * 1024 * 1024) -> dict:
    """Maintenance pass after K appended waves (VERDICT r5 #5): each
    ``append_to_index`` adds its own sorted files and stats partials.
    ``buckets/`` goes back to one (band, bucket) range-sorted layout,
    ``sigs/`` is range-sorted by id (the candidate-id semi-join then
    prunes row groups too), ``stats/`` is folded (see
    ``bucket_index.compact``)."""
    return bucket_index.compact(spark, path,
                                {BUCKETS: BAND_KEYS, SIGS: ["id"]},
                                STATS, BAND_KEYS, target_bytes)


#: Above this many wave-derived rows (wave docs × bands), the wave-side
#: broadcasts fall back to shuffle joins: a broadcast must fit in every
#: executor AND the driver, so an unbounded ingest wave (10⁸ docs × 16
#: bands) would OOM long before the corpus side ever became the problem.
#: 5M rows of (band,bucket)/(id) keep the build under ~200 MB. The
#: fallback is AQE-friendly: with no forced hint, AQE still converts the
#: join to a broadcast at runtime when the actual size is small.
MAX_BROADCAST_ROWS = 5_000_000


def wave_census(new_docs: DataFrame, id_col: str = "doc_id",
                bands: int = MINHASH_BANDS) -> dict:
    """Size the wave BEFORE probing (the house census pattern — see
    dedup's bucket census / curation's line census): returns
    ``{"n_docs", "bucket_rows", "broadcast_ok"}`` so the caller can see
    which join strategy ``incremental_verified_pairs`` will pick and
    whether the wave should be split."""
    n_docs = new_docs.select(id_col).count()
    rows = n_docs * bands
    return {"n_docs": n_docs, "bucket_rows": rows,
            "broadcast_ok": rows <= MAX_BROADCAST_ROWS}


def incremental_verified_pairs(new_docs: DataFrame, index_path: str,
                               id_col: str = "doc_id",
                               text_col: str = "text", n: int = 3,
                               k: int = MINHASH_K,
                               bands: int = MINHASH_BANDS,
                               threshold: float = 0.5,
                               max_bucket: int = 100,
                               max_broadcast_rows: int = MAX_BROADCAST_ROWS,
                               presigned: DataFrame | None = None
                               ) -> DataFrame:
    """Verified near-dup pairs TOUCHING the new wave: wave×corpus +
    wave×wave, identical to ``minhash_verified_pairs(old ∪ new)`` filtered
    to pairs with ≥1 wave member (the exactness contract; the combined-
    occupancy guard makes it hold). Returns (id_a, id_b, est_jaccard,
    origin) with id_a < id_b and origin ∈ {'new_new', 'new_old'}.

    ``presigned`` is the wave's already-persisted signature table (exactly
    ``minhash_signatures(new_docs, ...)`` rows): the probe-then-fold loop
    signs the wave once and shares it with ``append_to_index``. Past
    ``max_broadcast_rows`` wave bucket rows the same joins run without
    the broadcast hint (identical pairs; the equivalence tests run both
    paths)."""
    sig_new = presigned if presigned is not None else slots.memo(
        "incr_sig_new", minhash_signatures(new_docs, id_col, text_col, n, k),
        slots.truncate)

    def side(rows: DataFrame, s: str) -> DataFrame:
        return rows.select(F.col("id").alias(f"id_{s}"),
                           F.col("_new").alias(f"{s}_new"),
                           *[F.col(f"mh{i}").alias(f"{s}{i}")
                             for i in range(k)])

    # verify via the signature estimate: k equality tests per candidate
    matches = sum(F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
                  for i in range(k))
    return bucket_index.wave_probe(
        _band_explode(sig_new, k, bands), sig_new, index_path, SIGS, "incr",
        side, ("est_jaccard", F.round(matches / F.lit(float(k)), 6)),
        threshold, max_bucket, max_broadcast_rows)

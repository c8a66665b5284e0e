"""Incremental embedding near-dup against persisted banded-LSH and semantic
indexes: the embedding-space twin of ``incremental.py`` (MinHash). Layout,
stats partials, the combined-occupancy guards and the wave probe follow
the shared contract in ``bucket_index.py``.

Banded-LSH index under ``<path>/``:

* ``vectors/`` — (id, v, nrm, sig), sorted by id (the candidate-id
  semi-join of the verify side prunes row groups).
* ``buckets/`` — (id, band, bucket), ``bands`` rows per vector, with
  their ``stats/`` partials.
* ``layout/``  — one row (bands, rows): the signature layout is FROZEN at
  write time; append/probe read it back, so a caller cannot silently
  probe a 24×4 index with a 16×8 wave.

The pair set of ``incremental_embedding_pairs(wave, path)`` equals
``similarity.cosine_pairs_above(old ∪ new, bucketed=True)`` with the same
pinned layout, restricted to pairs with ≥1 wave member; the equivalence
tests and the DuckDB oracle pin it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import bucket_index, slots
from .bucket_index import BAND_KEYS, BUCKETS, STATS
from .incremental import MAX_BROADCAST_ROWS
from .similarity import (LSH_BANDS, LSH_ROWS, _explode_bands,
                         first_shadowers, norm, pair_cosine)

VECTORS = "vectors"
LAYOUT = "layout"


def _base(emb: DataFrame, id_col: str, vec_col: str, bands: int,
          rows: int) -> DataFrame:
    """(id, v, nrm, sig) — the signature kernel MUST be similarity's
    (banded_sig_udf, the bitwise-equal Arrow twin of banded_sig_expr) so
    the full-recompute equivalence holds bit-for-bit."""
    from .similarity import banded_sig_udf
    return emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("nrm"),
        banded_sig_udf(bands, rows)(F.col(vec_col)).alias("sig"))


def read_layout(spark: SparkSession, path: str) -> tuple[int, int]:
    row = bucket_index.read(spark, path, LAYOUT).collect()[0]
    return int(row["bands"]), int(row["rows"])


def write_embedding_index(emb: DataFrame, path: str,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          bands: int = LSH_BANDS,
                          rows: int = LSH_ROWS) -> None:
    """Build from scratch (mode=overwrite). vectors/ is written first and
    read back to derive buckets/stats — the sign computation (bands·rows
    plane dots per vector) runs exactly once."""
    spark = emb.sparkSession
    with bucket_index.cached(_base(emb, id_col, vec_col, bands,
                                   rows)) as base:
        bucket_index.write_sorted(base, path, VECTORS, ["id"], "overwrite")
    bucket_index.write_keyed(
        _explode_bands(bucket_index.read(spark, path, VECTORS), bands, rows),
        path, BUCKETS, STATS, BAND_KEYS, "overwrite")
    (spark.createDataFrame([(bands, rows)], "`bands` int, `rows` int")
        .coalesce(1).write.mode("overwrite")
        .parquet(os.path.join(path, LAYOUT)))


def append_to_embedding_index(new_emb: DataFrame, path: str,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding") -> None:
    """Fold an ingested wave in (cost ∝ wave); layout comes from the
    index — a mismatched wave cannot be appended."""
    bands, rows = read_layout(new_emb.sparkSession, path)
    # one signature pass for all three appends
    with bucket_index.cached(_base(new_emb, id_col, vec_col, bands,
                                   rows)) as base:
        bucket_index.write_sorted(base, path, VECTORS, ["id"], "append")
        bucket_index.write_keyed(_explode_bands(base, bands, rows), path,
                                 BUCKETS, STATS, BAND_KEYS, "append")


def compact_embedding_index(spark: SparkSession, path: str,
                            target_bytes: int = 128 * 1024 * 1024) -> dict:
    """Same maintenance contract as incremental.compact_index."""
    return bucket_index.compact(spark, path,
                                {VECTORS: ["id"], BUCKETS: BAND_KEYS},
                                STATS, BAND_KEYS, target_bytes)


# ---------------------------------------------------------------------------
# Semantic (SemDeDup) index: k-means cells instead of LSH bands. A frozen
# codebook + per-member centroid-cosine rank persisted once; a wave is
# assigned against the codebook and SemDeDup-pruned against index + itself.
# Codebook provenance is orthogonal to the probe (production trains it
# offline on a sample and refreshes it out of band) — the exactness
# contract is relative to WHATEVER codebook the index froze.
# ---------------------------------------------------------------------------

CELLS = "cells"      # (cell, cv) — the frozen codebook
MEMBERS = "members"  # (id, cell, pcos) — sorted by cell (touched-cell probe)
CSTATS = "cstats"    # (cell, cnt) additive partials (combined max_cluster)
LOSERS = "losers"    # (id) — corpus docs already SemDeDup-dropped (see
                     # write_semantic_index; retroactive probes exclude them)


def _semantic_assign(emb: DataFrame, cent: DataFrame, id_col: str,
                     vec_col: str) -> DataFrame:
    """(id, v, nrm, cell, ccos) — THE assignment kernel
    (similarity._assign_cells at nprobe=1), so index rows and full
    recomputes rank identically."""
    from .similarity import _assign_cells
    base = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                      norm(F.col(vec_col)).alias("nrm"))
    return _assign_cells(base, cent, keep_score=True)


def _write_members(asg: DataFrame, path: str, mode: str) -> None:
    """members/ (+ cstats/) and vectors/ from one cached assignment."""
    with bucket_index.cached(asg) as a:
        bucket_index.write_keyed(
            a.select("id", "cell", F.col("ccos").alias("pcos")), path,
            MEMBERS, CSTATS, ["cell"], mode)
        bucket_index.write_sorted(a.select("id", "v", "nrm"), path, VECTORS,
                                  ["id"], mode)


def write_semantic_index(emb: DataFrame, path: str, centroids: DataFrame,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         losers_threshold: float | None = None) -> None:
    """Build from scratch: freeze ``centroids`` (cell, cv) into the index,
    assign every corpus vector, persist members (cell-sorted), vectors
    (id-sorted) and per-cell stats partials.

    ``losers_threshold`` additionally runs SemDeDup over the corpus itself
    at build time and persists the dropped ids as ``losers/`` — the
    exclusion set ``retroactive_wave_losers`` needs (a corpus doc that
    already lost cannot "newly" lose to a wave). One-time build cost, the
    natural byproduct of deduping a corpus before shipping it."""
    spark = emb.sparkSession
    (centroids.select("cell", "cv").coalesce(1)
              .write.mode("overwrite").parquet(os.path.join(path, CELLS)))
    cent = bucket_index.read(spark, path, CELLS)
    _write_members(_semantic_assign(emb, cent, id_col, vec_col), path,
                   "overwrite")
    if losers_threshold is not None:
        from .similarity import semdedup_losers
        (semdedup_losers(emb, threshold=losers_threshold, centroids=cent,
                         id_col=id_col, vec_col=vec_col)
         .select("id").write.mode("overwrite")
         .parquet(os.path.join(path, LOSERS)))


def append_to_semantic_index(new_emb: DataFrame, path: str,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> None:
    """Fold a processed wave in (cost ∝ wave); assignment uses the FROZEN
    codebook — appending never re-trains."""
    cent = bucket_index.read(new_emb.sparkSession, path, CELLS)
    _write_members(_semantic_assign(new_emb, cent, id_col, vec_col), path,
                   "append")


def _semantic_probe(new_emb: DataFrame, index_path: str, id_col: str,
                    vec_col: str, max_broadcast_rows: int) -> tuple:
    """(wave rows, corpus members of the touched cells, hint) — the wave
    assigned against the frozen codebook, censused once."""
    spark = new_emb.sparkSession
    cent = bucket_index.read(spark, index_path, CELLS)
    wave = slots.memo("sem_wave",
                      _semantic_assign(new_emb, cent, id_col, vec_col),
                      slots.truncate)
    hint = bucket_index.broadcast_hint(wave.count(), max_broadcast_rows)
    cmem = bucket_index.touched(spark, index_path, MEMBERS, wave, ["cell"],
                                hint)
    return wave, cmem, hint


def _with_vectors(cmem: DataFrame, index_path: str, hint) -> DataFrame:
    """Corpus members joined to their vectors, fetched by id (id-sorted
    layout → row-group pruning; volume ∝ touched-cell population)."""
    cvec = (bucket_index.read(cmem.sparkSession, index_path, VECTORS)
            .join(hint(cmem.select("id")), "id", "left_semi"))
    return cmem.join(cvec, "id").select("id", "cell", "pcos", "v", "nrm")


def _ranked(wave: DataFrame) -> DataFrame:
    return wave.select("id", "cell", F.col("ccos").alias("pcos"), "v", "nrm")


def semdedup_wave_losers(new_emb: DataFrame, index_path: str,
                         threshold: float = 0.95,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         max_cluster: int | None = None,
                         max_broadcast_rows: int = MAX_BROADCAST_ROWS
                         ) -> DataFrame:
    """SemDeDup pruning decision for THE WAVE against a frozen-codebook
    index: a wave doc is dropped iff some same-cell mate (indexed corpus
    OR wave) precedes it in the GLOBAL keep order with pairwise cosine ≥
    threshold (``similarity.first_shadowers``). Returns (id, cell,
    kept_id, cosine) — EXACTLY ``semdedup_losers(old ∪ new,
    centroids=<frozen>, nprobe=1)`` restricted to wave ids (equivalence
    test + oracle pin it). Corpus docs are never re-dropped here: canon
    already shipped; the wave is what's being filtered.

    ``max_cluster`` uses COMBINED occupancy (persisted cstats + wave
    counts), the same guard as the LSH hot buckets."""
    wave, cmem, hint = _semantic_probe(new_emb, index_path, id_col, vec_col,
                                       max_broadcast_rows)
    wave_k, cmem = bucket_index.drop_hot(wave, cmem, index_path, CSTATS,
                                         ["cell"], max_cluster, hint)
    wave_side = _ranked(wave_k)
    return first_shadowers(
        wave_side.unionByName(_with_vectors(cmem, index_path, hint)),
        wave_side, threshold)


def retroactive_wave_losers(new_emb: DataFrame, index_path: str,
                            threshold: float = 0.95,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            max_broadcast_rows: int = MAX_BROADCAST_ROWS
                            ) -> DataFrame:
    """The other direction of ``semdedup_wave_losers``: CORPUS docs a wave
    NEWLY outranks — for consumers that can revoke shipped data (a corpus
    doc that keeps its slot under the no-revocation policy still stops
    being canon once a better-ranked wave doc lands).

    A corpus doc newly loses iff it had NO shadower inside the old corpus
    (else it is in the persisted ``losers/`` exclusion set) and ≥1 wave
    doc in its cell precedes it in the global keep order with pairwise
    cosine ≥ threshold — in which case ALL its shadowers are wave docs,
    so its kept_id under the full recompute is exactly the first wave
    shadower this probe sees. Contract:
    ``retroactive == (losers(old ∪ new) − losers(old)) ∩ corpus`` with
    identical (kept_id, cosine) — equivalence test + oracle pin it.
    Requires the index to have been built with ``losers_threshold`` equal
    to this ``threshold``."""
    wave, cmem, hint = _semantic_probe(new_emb, index_path, id_col, vec_col,
                                       max_broadcast_rows)
    cmem = cmem.join(bucket_index.read(new_emb.sparkSession, index_path,
                                       LOSERS), "id", "left_anti")
    return first_shadowers(_ranked(wave),
                           _with_vectors(cmem, index_path, hint), threshold)


def incremental_embedding_pairs(new_emb: DataFrame, index_path: str,
                                threshold: float = 0.95,
                                id_col: str = "vec_id",
                                vec_col: str = "embedding",
                                max_bucket: int | None = None,
                                max_broadcast_rows: int = MAX_BROADCAST_ROWS
                                ) -> DataFrame:
    """Exact-cosine near-dup pairs ≥ threshold TOUCHING the wave:
    wave×corpus + wave×wave, equal to ``cosine_pairs_above(old ∪ new,
    bucketed=True, rows=<index layout>, max_bucket=max_bucket)`` filtered
    to pairs with ≥1 wave member. Returns (id_a, id_b, cosine, origin)
    with id_a < id_b, origin ∈ {'new_new', 'new_old'}.

    ``max_bucket`` is the combined-occupancy guard: a band-bucket whose
    persisted + wave population exceeds it is dropped from candidate
    generation on BOTH sides — exactly what the full recompute's guard
    would do, so exactness survives the cap."""
    bands, rows = read_layout(new_emb.sparkSession, index_path)
    wave = slots.memo("embincr_wave",
                      _base(new_emb, id_col, vec_col, bands, rows),
                      slots.truncate)

    def side(vecs: DataFrame, s: str) -> DataFrame:
        return vecs.select(F.col("id").alias(f"id_{s}"),
                           F.col("v").alias(f"v{s}"),
                           F.col("nrm").alias(f"n{s}"),
                           F.col("_new").alias(f"{s}_new"))

    return bucket_index.wave_probe(
        _explode_bands(wave, bands, rows), wave.select("id", "v", "nrm"),
        index_path, VECTORS, "embincr", side,
        ("cosine", pair_cosine(F.col("va"), F.col("vb"), F.col("na"),
                               F.col("nb"))),
        threshold, max_bucket, max_broadcast_rows)

"""Correctness gate. A run that fails any check reports a failure, never a
number.

Each check returns a list of failure messages (empty when it passes), so a
run can count every operation it attempted and every one that failed.
"""

from __future__ import annotations

import json
import random

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType

from engine.core.assemble import build_conversation_document
from engine.core.extract import extract_turn
from engine.spark.schema import EXTRACTED_SCHEMA

# partition_id names the Spark task that produced a row, so it differs
# between a fresh run, a resumed run and the scaling legs by design
HASHED_COLS = [f.name for f in EXTRACTED_SCHEMA.fields if f.name != "partition_id"]


# extract_turn never raises: a turn the kernel fails on comes out as an
# empty record whose ``error`` is set, so every other check would still pass.
# The synth inputs extract without error on the current tree, so any errored
# turn is a failed operation and fails the run.
MAX_ERRORED_TURNS = 0


def table_digest(df: DataFrame, keys: bool = True, by: str | None = None) -> dict:
    """Row count, errored-turn count, distinct (conv_id, turn_idx) count and
    an order-insensitive content hash (Σ xxhash64 of each row's JSON, exact
    in decimal). ``keys=False`` skips the distinct count and its shuffle.
    ``by`` names a column to digest each of its groups apart, in one job:
    the result is then {group value: digest}."""
    h = F.xxhash64(F.to_json(F.struct(*HASHED_COLS))).cast("decimal(38,0)")
    aggs = [F.count(F.lit(1)).alias("rows"), F.sum(h).alias("hash"),
            F.count("error").alias("errors")]
    if keys:
        aggs.append(F.countDistinct("conv_id", "turn_idx").alias("keys"))

    def digest(row) -> dict:
        return {"rows": int(row["rows"]), "hash": str(row["hash"]),
                "errors": int(row["errors"]),
                "keys": int(row["keys"]) if keys else int(row["rows"])}

    if by is None:
        return digest(df.agg(*aggs).first())
    return {r[by]: digest(r) for r in df.groupBy(by).agg(*aggs).collect()}


def check_digest(label: str, got: dict, n_rows: int, ref_hash: str | None = None) -> list[str]:
    errs = []
    if got["rows"] != n_rows:
        errs.append(f"{label}: {got['rows']} rows, expected {n_rows}")
    if got["keys"] != got["rows"]:
        errs.append(f"{label}: {got['rows'] - got['keys']} duplicate (conv_id, turn_idx) keys")
    if got["errors"] > MAX_ERRORED_TURNS:
        errs.append(f"{label}: {got['errors']} turns with error set")
    if ref_hash is not None and got["hash"] != ref_hash:
        errs.append(f"{label}: content hash {got['hash']} != {ref_hash}")
    return errs


def _project(value, dtype: DataType):
    """Normalize a value onto a Spark type so a collected Row and an
    in-process kernel record compare field for field."""
    if value is None:
        return None
    if isinstance(dtype, StructType):
        get = value.get if isinstance(value, dict) else (lambda k: getattr(value, k, None))
        return {f.name: _project(get(f.name), f.dataType) for f in dtype.fields}
    if isinstance(dtype, ArrayType):
        return [_project(v, dtype.elementType) for v in value]
    if isinstance(dtype, MapType):
        return {k: _project(v, dtype.valueType) for k, v in dict(value).items()}
    if dtype.typeName() == "double":
        return float(value)
    return value


_KERNEL_FIELDS = [f for f in EXTRACTED_SCHEMA.fields
                  if f.name not in ("conv_id", "turn_idx", "role", "ts",
                                    "conv_bucket", "partition_id", "bytes_in")]


def check_turn_sample(out: DataFrame, inputs: dict, seed: int, k: int) -> list[str]:
    """A seeded sample of output rows equals in-process
    ``engine.core.extract_turn`` on the same input, field for field."""
    keys = random.Random(f"turn-sample:{seed}").sample(sorted(inputs), min(k, len(inputs)))
    convs = sorted({c for c, _ in keys})
    got = {(r["conv_id"], r["turn_idx"]): r for r in
           out.filter(F.col("conv_id").isin(convs)).collect()}
    errs = []
    for conv_id, turn_idx in keys:
        row = got.get((conv_id, turn_idx))
        if row is None:
            errs.append(f"turn {conv_id}:{turn_idx} missing from output")
            continue
        src = inputs[(conv_id, turn_idx)]
        exp = extract_turn(src["text"], src["tool"], f"{conv_id}:{turn_idx}")
        for f in _KERNEL_FIELDS:
            if _project(row[f.name], f.dataType) != _project(exp[f.name], f.dataType):
                errs.append(f"turn {conv_id}:{turn_idx} field {f.name} differs from extract_turn")
                break
    return errs


def doc_counts(docs: DataFrame) -> dict:
    """Documents and invalid documents."""
    row = docs.agg(F.count(F.lit(1)).alias("docs"),
                   F.sum(F.col("is_valid").cast("int")).alias("valid")).first()
    return {"docs": int(row["docs"]), "invalid": int(row["docs"]) - int(row["valid"] or 0)}


def check_doc_sample(docs: DataFrame, counts: dict, inputs: dict, n_convs: int,
                     seed: int, k: int) -> list[str]:
    """Every conversation has one valid document (``counts`` from
    ``doc_counts``), and a seeded sample equals ``build_conversation_document``
    over in-process ``extract_turn`` records."""
    errs = []
    if counts["docs"] != n_convs:
        errs.append(f"{counts['docs']} documents for {n_convs} conversations")
    if counts["invalid"]:
        errs.append(f"{counts['invalid']} invalid documents")
    by_conv: dict = {}
    for (conv_id, turn_idx), src in inputs.items():
        by_conv.setdefault(conv_id, []).append((turn_idx, src))
    sample = random.Random(f"doc-sample:{seed}").sample(sorted(by_conv), min(k, len(by_conv)))
    got = {r["conv_id"]: r for r in docs.filter(F.col("conv_id").isin(sample)).collect()}
    for conv_id in sample:
        if conv_id not in got:
            errs.append(f"document {conv_id} missing")
            continue
        records = []
        for turn_idx, src in sorted(by_conv[conv_id], key=lambda t: t[0]):
            rec = extract_turn(src["text"], src["tool"], f"{conv_id}:{turn_idx}")
            rec["turn_idx"] = turn_idx
            records.append(rec)
        expected = json.loads(json.dumps(build_conversation_document(conv_id, records),
                                         ensure_ascii=False, sort_keys=True))
        if json.loads(got[conv_id]["doc_json"]) != expected:
            errs.append(f"document {conv_id} differs from build_conversation_document")
    return errs

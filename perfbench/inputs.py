"""Seeded transcript inputs for the benchmark workloads.

Rows come from the public ``tools.synth`` generator: ``make_turn`` for the
payload and ``conv_length`` for the 80/19/1 conversation-length skew.

``synth`` keys each payload on ``(conv_id, turn_idx)`` only, so the
conversation ids here carry the seed: a different seed gives different
payload bytes and a different row order, and the same seed gives identical
bytes. The conversation lengths do NOT follow the seed. They are synth's
own profile (``conv_length`` under its default seed 42), so every run has
the same conversation shapes. At a few thousand turns the 1% class of
500-2000-turn conversations is zero to three conversations, and letting the
seed pick them moved ``docs_per_s`` between 13 and 91 docs/s across three
seeds: run-to-run differences would measure the draw, not the program.

For the same reason each conversation id is chosen to land in the bucket
synth's own id (``conv-NNNNNN``) lands in. The bucket decides the wave, so
with ids free to hash anywhere the seed moved 10% of the turns between the
two waves, and with them the work of the resumed run.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from engine.spark.udfs import stable_bucket
from tools.synth import conv_length, make_turn

SCHEMA_FIELDS = (("conv_id", "string"), ("turn_idx", "int32"), ("role", "string"),
                 ("text", "string"), ("tool", "string"), ("ts", "timestamp[us]"))

PROFILE_SEED = 42  # tools.synth's default seed: its canonical length profile

# synth picks the payload kind of turn t of conversation c as
# KINDS[(c + t) % 4]; index 3 is "plain"
_PLAIN_KIND = 3


@dataclass(frozen=True)
class Workload:
    name: str
    turns: int          # turns of whole conversations to generate
    plain_only: bool    # then keep only their plain-text turns


# Why each workload exists is recorded in BENCHMARK.json. Both use the same
# 171 conversations of 2-60 turns (the first 2000 turns of the profile), so
# they differ only in the payloads the kernel sees.
WORKLOADS = {
    "mixed": Workload("mixed", 2000, False),
    "plain_chat": Workload("plain_chat", 2000, True),
}


def conv_id_for(seed: int, conv_index: int, n_buckets: int) -> str:
    """An id that carries the seed and has the bucket of synth's own id for
    the conversation: the first of ``s<seed>-conv-NNNNNN[-k]`` that does."""
    target = stable_bucket(f"conv-{conv_index:06d}", n_buckets)
    conv_id, k = f"s{seed}-conv-{conv_index:06d}", 0
    while stable_bucket(conv_id, n_buckets) != target:
        k += 1
        conv_id = f"s{seed}-conv-{conv_index:06d}-{k}"
    return conv_id


def build_rows(seed: int, n_turns: int, plain_only: bool, n_buckets: int) -> list[dict]:
    """Whole conversations until they hold at least ``n_turns`` turns, then
    a seeded shuffle (the pipeline must re-impose (conv_id, turn_idx)
    order)."""
    rows: list[dict] = []
    conv_index = total = 0
    while total < n_turns:
        conv_id = conv_id_for(seed, conv_index, n_buckets)
        length = conv_length(conv_index, random.Random(f"len:{PROFILE_SEED}:{conv_index}"))
        total += length
        for turn_idx in range(length):
            if plain_only and (conv_index + turn_idx) % 4 != _PLAIN_KIND:
                continue
            rows.append(make_turn(conv_id, conv_index, turn_idx))
        conv_index += 1
    random.Random(seed).shuffle(rows)
    return rows


def write_inputs(path: str, seed: int, n_turns: int, plain_only: bool, n_buckets: int) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = build_rows(seed, n_turns, plain_only, n_buckets)
    schema = pa.schema([(name, pa.type_for_alias(t)) for name, t in SCHEMA_FIELDS])
    table = pa.Table.from_pylist(rows, schema=schema)
    pq.write_table(table, path, row_group_size=20_000)
    return table.num_rows

"""Driver-gate rehearsal inside pytest: a representative subset of
queries() vs oracle_sql() (full sweep: tools/check_oracles.py)."""

import duckdb
import pytest

from tools.check_oracles import TABLES, normalize

SF = "/root/testdata/sf0.01"

SUBSET = ["extract_per_turn", "extract_kind_rollup", "conversation_rollup",
          "pricing_summary", "doc_text_stats", "doc_lang_id",
          "dedup_minhash_pairs", "dedup_ngram_jaccard",
          "ann_cosine_topk", "ann_lsh_buckets"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{SF}/{t}.parquet')")
    return con


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, duck, name):
    import __spark_entry__ as entry
    sdf = entry.queries()[name](spark, SF)
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(entry.oracle_sql()[name])
    orows = rel.fetchall()
    assert sorted(sdf.columns) == sorted(rel.columns), name
    assert len(srows) == len(orows), name
    assert normalize(srows, sdf.columns) == normalize(orows, rel.columns), name


def test_rotation_window_covers_every_query():
    """The driver gate verifies only ``_RAW_QUERIES`` keys[:50]; rotating
    the window each round is a manual, load-bearing convention (CLAUDE.md
    #7). This pins it: every registry entry must appear in the union of
    the two most recent committed CORRECTNESS_r*.json artifacts and the
    CURRENT window — a round that forgets to rotate, or adds a query
    outside the window without queueing it, fails here instead of
    silently shipping a never-verified query (VERDICT r6 #1).

    An artifact whose query set repeats the one before it (the same
    window verified again) is the same rotation, not a second one, so
    only the newest of such a run counts toward the two."""
    import json
    import re
    from pathlib import Path

    import __spark_entry__ as entry
    repo = Path(__file__).resolve().parent.parent
    arts = sorted(repo.glob("CORRECTNESS_r*.json"),
                  key=lambda p: int(re.search(r"r(\d+)", p.name).group(1)))
    windows: list = []
    for p in arts:
        keys = set(json.loads(p.read_text()))
        if windows and windows[-1][1] == keys:
            windows.pop()
        windows.append((p, keys))
    assert len(windows) >= 2, "need two distinct committed artifacts"
    verified: set = set()
    for _, keys in windows[-2:]:
        verified |= keys
    window = set(list(entry._RAW_QUERIES)[:50])
    missing = sorted(set(entry._RAW_QUERIES) - (verified | window))
    assert missing == [], (
        f"queries neither verified in "
        f"{[p.name for p, _ in windows[-2:]]} "
        f"nor inside the current 50-entry window: {missing}")

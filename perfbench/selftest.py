"""Self-test of the benchmark: a tiny smoke run of every workload, traced
and untraced, and a mutation check of the correctness gate.

    python3 perfbench/selftest.py

The smoke runs check that each run passes its gate and emits exactly the
metrics BENCHMARK.json declares, with the declared units. The mutation check
builds a small extracted table and its documents, then shows that the gate
fails when one output row is dropped or altered, when one row carries an
extraction error (what ``extract_turn`` returns instead of raising), and
when one document is altered or invalid. Exits 0 when everything holds.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
SMOKE_TURNS = 150


def smoke() -> list[str]:
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    declared = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
                1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    errs = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", w["name"],
                   "--seed", "7", "--seconds", "1", "--trace", str(trace),
                   "--turns", str(SMOKE_TURNS)]
            proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=300)
            label = f"{w['name']} --trace {trace}"
            if proc.returncode != 0:
                errs.append(f"{label}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            if not res["correct"] or res["failed"]:
                errs.append(f"{label}: gate failed: {proc.stdout[-2000:]}")
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != declared[trace]:
                errs.append(f"{label}: metrics differ from BENCHMARK.json: "
                            f"missing {sorted(set(declared[trace]) - set(got))}, "
                            f"extra {sorted(set(got) - set(declared[trace]))}, "
                            f"units {[k for k in got if k in declared[trace] and got[k] != declared[trace][k]]}")
            print(f"smoke {label}: {len(got)} metrics, {res['attempted']} operations", flush=True)
    return errs


def mutation() -> list[str]:
    """The gate must reject a dropped row, an altered row, an errored row, an
    altered document and an invalid document, and accept the untouched
    table."""
    import shutil

    sys.path.insert(0, str(REPO))
    from pyspark.sql import functions as F

    from engine.spark.documents import conversation_documents
    from engine.spark.pipeline import extract_df
    from perfbench import gate, host
    from perfbench.inputs import write_inputs

    work = REPO / ".perfbench" / "work" / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    host.session_env(work, REPO)
    spark = host.build_session(work, "perfbench-selftest")
    try:
        path = str(work / "input.parquet")
        n = write_inputs(path, 3, 60, False, 64)
        import pyarrow.parquet as pq
        inputs = {(r["conv_id"], r["turn_idx"]): r for r in pq.read_table(path).to_pylist()}
        n_convs = len({c for c, _ in inputs})
        good = extract_df(spark.read.parquet(path)).persist()
        ref = gate.table_digest(good)
        victim = sorted(inputs)[len(inputs) // 2]
        hit = (F.col("conv_id") == victim[0]) & (F.col("turn_idx") == victim[1])
        dropped = good.filter(~hit)
        altered = good.withColumn("cleaned_text", F.when(
            hit, F.concat(F.col("cleaned_text"), F.lit("!"))).otherwise(F.col("cleaned_text")))
        errored = good.withColumn("error", F.when(
            hit, F.lit("ValueError: injected")).otherwise(F.col("error")))
        docs = conversation_documents(good).persist()
        on_victim = F.col("conv_id") == victim[0]
        bad_docs = docs.withColumn("doc_json", F.when(
            on_victim, F.lit('{"tampered": true}')).otherwise(F.col("doc_json")))
        invalid_docs = docs.withColumn("is_valid", F.when(
            on_victim, F.lit(False)).otherwise(F.col("is_valid")))

        def doc_check(d):
            return gate.check_doc_sample(d, gate.doc_counts(d), inputs, n_convs, 0, n_convs)

        cases = {
            "untouched table": (gate.check_digest("t", ref, n, ref["hash"])
                                + gate.check_turn_sample(good, inputs, 0, len(inputs))
                                + doc_check(docs)),
            "dropped row": gate.check_digest("t", gate.table_digest(dropped), n, ref["hash"]),
            "altered row (digest)": gate.check_digest("t", gate.table_digest(altered), n,
                                                      ref["hash"]),
            "altered row (sample)": gate.check_turn_sample(altered, inputs, 0, len(inputs)),
            # no reference hash: the error count alone must reject it
            "errored row": gate.check_digest("t", gate.table_digest(errored), n),
            "altered document": doc_check(bad_docs),
            "invalid document": doc_check(invalid_docs),
        }
    finally:
        host.shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    errs = []
    for name, found in cases.items():
        should_fail = name != "untouched table"
        print(f"mutation {name}: {'rejected' if found else 'accepted'}"
              + (f" ({found[0]})" if found else ""))
        if bool(found) != should_fail:
            errs.append(f"gate {'accepted' if should_fail else 'rejected'} the {name}")
    return errs


def main() -> int:
    errs = mutation() + smoke()
    for e in errs:
        print(f"SELFTEST FAILED: {e}")
    print("selftest ok" if not errs else f"selftest: {len(errs)} failure(s)")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())

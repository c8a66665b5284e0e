"""Layered benchmark for the transcript-extraction engine.

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run builds a host-sized local Spark
session, generates the workload's transcripts from ``--seed``, then repeats
one measured iteration until ``--seconds`` have passed (at least once):

1. a fresh ``run_pipeline`` run (``turns_per_s``);
2. ``conversation_documents`` over its committed output (``docs_per_s``);
3. a simulated kill before the last wave's commit: the committed bucket
   directories of the last wave and the whole lineage manifest are deleted,
   then ``run_pipeline`` resumes (``resume_s``);
4. ``extract_df`` over the input with 1 and with 4 task slots into a noop
   sink (``scaling_eff``).

Steps 2 and 4 take seconds, so they repeat (``DOC_REPEAT``, ``LEG_REPEAT``)
and report their medians.

Every step is checked (see gate.py). The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. See README.md for the layer table.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent

SETUP_REPS = 3
# run_pipeline's defaults (4 waves, 1024 buckets) are sized for inputs of
# tens of thousands of turns: at 40k turns a bucket holds ~39 of them. At the
# benchmark's 2000 turns, 1024 buckets would write ~160 files of ~13 turns.
# 64 buckets keep ~31 turns per bucket; 2 waves are the fewest with which a
# kill can lose half the waves.
WAVES = 2
BUCKETS = 64
SCALING_SLOTS = (1, 4)    # N and 4N task slots for scaling_eff
# A stage of one to three seconds timed once follows any short burst of load
# on a shared host. The documents stage and the scaling legs therefore
# repeat, at least (reps, seconds), and report their median. The first
# documents repetition of a run is ~1 s slower than the rest (the grouped
# map's first call at this size), so three repetitions let the median drop it.
DOC_REPEAT = (3, 0.0)
LEG_REPEAT = (2, 6.0)
TURN_SAMPLE = 24          # output rows checked against extract_turn per run
DOC_SAMPLE = 4            # documents checked against build_conversation_document
WARM_TURNS = 100          # input of the untimed warm-up run


class GateFailure(Exception):
    pass


def _load_program():
    """Import the program under test; a checkout without it cannot run."""
    sys.path.insert(0, str(REPO))
    try:
        import pyspark  # noqa: F401
        import engine.spark.pipeline  # noqa: F401
        import tools.synth  # noqa: F401
    except ImportError as exc:
        raise SystemExit(f"perfbench: cannot import the program from {REPO}: {exc}")


class Run:
    def __init__(self, workload, seed: int, seconds: int, traced: bool, work: Path):
        from perfbench.tracing import Tracer

        self.w = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.tracer = Tracer(f"{workload.name}-{seed}", traced)
        # an operation is an extracted turn of a fresh run, a document or
        # one gate check; an errored turn, an invalid document or a failed
        # check is a failed one
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark = None

    # ------------------------------------------------------------ gate
    def count(self, attempted: int, failed: int) -> None:
        """Count operations of the program (turns, documents)."""
        self.attempted += attempted
        self.failed += failed

    def check(self, errs: list[str]) -> None:
        """Count one gate check; a failed one ends the run."""
        self.count(1, 1 if errs else 0)
        if errs:
            self.failures.extend(errs)
            raise GateFailure("; ".join(errs))

    # ----------------------------------------------------------- setup
    def setup(self) -> float:
        """Start a session, generate the inputs and load them, SETUP_REPS
        times; the median is setup_s. The first repetition also launches the
        JVM, so the median leaves that one-off cost out. Starting the Python
        workers happens once, in the untimed warm-up that follows
        (per-layer setup.warmup_s)."""
        from engine.spark.job import tune_input_splits
        from perfbench import host
        from perfbench.inputs import write_inputs

        times = []
        for rep in range(SETUP_REPS):
            last = rep == SETUP_REPS - 1
            if rep:
                self.spark.stop()
            with self.tracer.span("setup") as sp:
                with self.tracer.span("setup.session"):
                    self.spark = host.build_session(
                        self.work, f"perfbench-{self.w.name}",
                        self.work / "eventlog" if (self.traced and last) else None)
                self.input_path = str(self.work / f"input-{rep}.parquet")
                with self.tracer.span("setup.generate"):
                    self.n_rows = write_inputs(self.input_path, self.seed, self.w.turns,
                                               self.w.plain_only, BUCKETS)
                with self.tracer.span("setup.load"):
                    tune_input_splits(self.spark, self.input_path)
                    self.spark.read.parquet(self.input_path).count()
            times.append(sp["wall"])
            if self.traced and rep == SETUP_REPS - 2:
                self._overhead_baseline()
        self._warm_pipeline()
        return statistics.median(times)

    def _warm_pipeline(self) -> None:
        """Untimed warm-up: one small run_pipeline and conversation_documents
        over its output start the Python workers and take the partitioned
        write, the manifest and the grouped map through their first calls,
        so the measured stages do not pay for them. One wave runs every code
        path a wave has."""
        from engine.spark.documents import conversation_documents
        from engine.spark.job import tune_input_splits
        from engine.spark.pipeline import run_pipeline
        from perfbench.inputs import write_inputs

        path, out = self.work / "warm.parquet", self.work / "warm"
        write_inputs(str(path), self.seed, WARM_TURNS, self.w.plain_only, BUCKETS)
        with self.tracer.span("setup.warmup"):
            tune_input_splits(self.spark, str(path))
            run_pipeline(self.spark, str(path), str(out), "warm",
                         n_buckets=BUCKETS, waves=1)
            conversation_documents(
                self.spark.read.parquet(str(out / "extracted_turns"))).count()
        tune_input_splits(self.spark, self.input_path)
        shutil.rmtree(out)

    def _overhead_baseline(self) -> None:
        """The widest scaling leg in an untraced context, twice (the second
        is warm); the traced context's leg against it gives the tracing
        overhead."""
        for _ in range(2):
            self.baseline_leg_s = self._leg(max(SCALING_SLOTS), "untraced_leg")

    # ------------------------------------------------------- measured
    def load_inputs(self) -> None:
        import pyarrow.parquet as pq

        rows = pq.read_table(self.input_path).to_pylist()
        self.inputs = {(r["conv_id"], r["turn_idx"]): r for r in rows}
        self.n_convs = len({c for c, _ in self.inputs})
        self.input_bytes = os.path.getsize(self.input_path)

    def iteration(self, i: int) -> dict:
        from pyspark.sql import functions as F

        from engine.spark.documents import conversation_documents
        from engine.spark.pipeline import run_pipeline
        from perfbench import gate

        spark, out = self.spark, self.work / f"out-{i}"
        turns_dir, lineage_dir = out / "extracted_turns", out / "lineage"
        run_id = f"bench-{i}"
        m: dict = {}

        with self.tracer.span("pipeline.fresh") as sp:
            fresh = run_pipeline(spark, self.input_path, str(out), run_id,
                                 n_buckets=BUCKETS, waves=WAVES)
        m["fresh_wall"], m["fresh_stats"] = sp["wall"], fresh
        m["sinks"] = _dir_stats(turns_dir, lineage_dir)
        # the committed output, cached once: the gate and the documents
        # stage read it from memory, not from its bucket files
        committed = spark.read.parquet(str(turns_dir)).persist()
        with self.tracer.span("gate.fresh"):
            self.check([] if fresh.turns_processed == self.n_rows else
                       [f"fresh run committed {fresh.turns_processed} of {self.n_rows} turns"])
            ref = gate.table_digest(committed)
            self.count(ref["rows"], ref["errors"])
            self.check(gate.check_digest("fresh output", ref, self.n_rows))
            self.check(gate.check_turn_sample(committed, self.inputs,
                                              self.seed * 1000 + i, TURN_SAMPLE))

        held: list = []

        def documents():
            # the previous repetition's cached documents would answer this
            # one's plan from memory
            if held:
                held.pop().unpersist(blocking=True)
            with self.tracer.span("documents") as sp:
                held.append(conversation_documents(committed).persist())
                n_docs = held[-1].count()
            return sp["wall"], n_docs

        reps = _repeat(documents, *DOC_REPEAT)
        docs = held.pop()
        m["docs_walls"] = [w for w, _ in reps]
        m["docs_wall"] = statistics.median(m["docs_walls"])
        m["docs"] = reps[-1][1]
        with self.tracer.span("gate.documents"):
            counts = gate.doc_counts(docs)
            self.count(counts["docs"], counts["invalid"])
            self.check(gate.check_doc_sample(docs, counts, self.inputs, self.n_convs,
                                             self.seed * 1000 + i, DOC_SAMPLE))
        docs.unpersist()
        committed.unpersist()

        kept = _kill(turns_dir, lineage_dir)
        with self.tracer.span("pipeline.resume") as sp:
            resumed = run_pipeline(spark, self.input_path, str(out), run_id,
                                 n_buckets=BUCKETS, waves=WAVES)
        m["resume_wall"], m["resume_stats"] = sp["wall"], resumed
        with self.tracer.span("gate.resume"):
            self.check([] if resumed.turns_skipped_resume == kept and kept > 0 else
                       [f"resume skipped {resumed.turns_skipped_resume} turns, "
                        f"{kept} were committed before the kill"])
            got = gate.table_digest(spark.read.parquet(str(turns_dir)), keys=False)
            self.check(gate.check_digest("resumed output", got, self.n_rows, ref["hash"]))
            lin = spark.read.parquet(str(lineage_dir)).agg(F.sum("turns_processed")).first()[0]
            self.check([] if lin == self.n_rows else
                       [f"lineage after resume counts {lin} turns, input has {self.n_rows}"])

        # the legs alternate
        reps = _repeat(lambda: {k: self._leg(k, f"udfs.extract_df.{k}_slots")
                                for k in SCALING_SLOTS}, *LEG_REPEAT)
        m["leg_walls"] = reps
        for k in SCALING_SLOTS:
            m[f"leg{k}_wall"] = statistics.median(r[k] for r in reps)
        with self.tracer.span("gate.legs"):
            digests = self._leg_digests()
            for k in SCALING_SLOTS:
                self.check(gate.check_digest(f"extract_df on {k} slot(s)", digests[k],
                                             self.n_rows, ref["hash"]))
        shutil.rmtree(out, ignore_errors=True)
        return m

    def _extract(self, slots: int):
        from engine.spark.pipeline import extract_df

        return extract_df(self.spark.read.parquet(self.input_path), BUCKETS,
                          salt_partitions=slots)

    def _leg(self, slots: int, span: str) -> float:
        """Wall time of extract_df over the input with ``slots`` tasks into
        the noop sink: every row is extracted, nothing is written."""
        df = self._extract(slots)
        with self.tracer.span(span) as sp:
            df.write.format("noop").mode("overwrite").save()
        return sp["wall"]

    def _leg_digests(self) -> dict:
        """Every leg's extraction again, untimed, into the gate's digest (one
        job for all legs): {slots: digest}."""
        from functools import reduce

        from pyspark.sql import functions as F

        from perfbench import gate

        legs = [self._extract(k).withColumn("slots", F.lit(k)) for k in SCALING_SLOTS]
        return gate.table_digest(reduce(lambda a, b: a.unionByName(b), legs),
                                 keys=False, by="slots")

    def measure(self) -> list[dict]:
        self.load_inputs()
        its = []
        t_end = time.monotonic() + self.seconds
        with self.tracer.span("measure"):
            while not its or time.monotonic() < t_end:
                its.append(self.iteration(len(its)))
                it = its[-1]
                legs = " ".join("/".join(f"{r[k]:.2f}" for k in SCALING_SLOTS)
                                for r in it["leg_walls"])
                print(f"iteration {len(its) - 1}: fresh {it['fresh_wall']:.2f}s "
                      f"{it['fresh_stats'].phases} docs "
                      f"{' '.join(f'{w:.2f}' for w in it['docs_walls'])}s "
                      f"resume {it['resume_wall']:.2f}s {it['resume_stats'].phases} "
                      f"legs {legs}s", flush=True)
        self.its = its
        return its


def _repeat(fn, reps: int, seconds: float) -> list:
    """Call ``fn`` at least ``reps`` times and until ``seconds`` have passed;
    returns its results."""
    out, t_end = [], time.monotonic() + seconds
    while len(out) < reps or time.monotonic() < t_end:
        out.append(fn())
    return out


def _kill(turns_dir: Path, lineage_dir: Path) -> int:
    """Simulate a run killed before its last commit: delete the committed
    bucket directories of the last wave, and the whole lineage manifest.
    Returns the turns still committed."""
    import pyarrow.parquet as pq

    kept = 0
    for d in turns_dir.glob("conv_bucket=*"):
        if int(d.name.split("=", 1)[1]) % WAVES == WAVES - 1:  # run_pipeline's wave rule
            shutil.rmtree(d)
        else:
            kept += sum(pq.ParquetFile(f).metadata.num_rows for f in d.glob("*.parquet"))
    shutil.rmtree(lineage_dir)
    return kept


def _dir_stats(turns_dir: Path, lineage_dir: Path) -> dict:
    files = list(turns_dir.rglob("*.parquet"))
    return {"output_files": len(files),
            "output_bytes": sum(f.stat().st_size for f in files),
            "lineage_files": len(list(lineage_dir.rglob("*.parquet")))}


def _median(its: list[dict], key: str) -> float:
    return statistics.median(it[key] for it in its)


def end_to_end(run: Run, its: list[dict], setup_s: float, rss_mib: float) -> dict:
    turns_per_s = statistics.median(run.n_rows / it["fresh_wall"] for it in its)
    t1, t4 = _median(its, "leg1_wall"), _median(its, "leg4_wall")
    return {
        "turns_per_s": (turns_per_s, "turns/s"),
        "resume_s": (_median(its, "resume_wall"), "s"),
        "scaling_eff": ((run.n_rows / t4) / (4 * run.n_rows / t1), "ratio"),
        "docs_per_s": (statistics.median(it["docs"] / it["docs_wall"] for it in its), "docs/s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss_mib, "MiB"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--turns", type=int, default=None,
                    help="override the workload size (self-test smoke runs)")
    args = ap.parse_args(argv)

    _load_program()
    from perfbench import host
    from perfbench.inputs import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    workload = WORKLOADS[args.workload]
    if args.turns:
        from dataclasses import replace
        workload = replace(workload, turns=args.turns)

    work = REPO / ".perfbench" / "work" / f"{workload.name}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    cpu_at_start, probe_at_start = host.cpu_times(), host.probe_ms()
    host.session_env(work, REPO)
    run = Run(workload, args.seed, args.seconds, bool(args.trace), work)
    result = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    try:
        setup_s = run.setup()
        its = run.measure()
        python_mib = host.peak_rss_mib([os.getpid()])
        jvm_mib = host.peak_rss_mib([host.jvm_pid(run.spark)])
        print(f"peak rss: python {python_mib:.0f} MiB, jvm {jvm_mib:.0f} MiB")
        if args.trace:
            from perfbench.layers import per_layer
            metrics = per_layer(run, its)
        else:
            metrics = end_to_end(run, its, setup_s, python_mib + jvm_mib)
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        result["correct"] = True
    except GateFailure:
        pass
    except Exception:  # a crash inside the program is a failed operation
        traceback.print_exc()
        run.count(1, 1)
        run.failures.append("the program raised; traceback on stderr")
    finally:
        host.shutdown(run.spark)
        if args.trace:
            run.tracer.write(REPO / ".perfbench" / "traces" / f"{run.tracer.run_id}.json")
        shutil.rmtree(work, ignore_errors=True)

    result["attempted"], result["failed"] = run.attempted, run.failed
    if not result["correct"]:
        result["metrics"] = {}
    for msg in run.failures:
        print(f"FAILED: {msg}")
    record = host.host_record(REPO, cpu_at_start, probe_at_start)
    print("host: " + json.dumps(record, sort_keys=True))
    print(f"workload={workload.name} seed={args.seed} turns={getattr(run, 'n_rows', 0)} "
          f"iterations={len(getattr(run, 'its', []) or [])} "
          f"failed_share={result['failed'] / max(1, result['attempted']):.4f}")
    for name, m in result["metrics"].items():
        print(f"  {name:40s} {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

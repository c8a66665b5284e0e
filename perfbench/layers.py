"""Per-layer metrics of the traced run.

Three sources, each measured from outside the program:

* in-process passes over ``engine.core`` and ``engine.spark.udfs`` with the
  layer's public functions wrapped in spans;
* the ``RunStats`` that ``run_pipeline`` returns, and the output directories;
* the Spark event log of the traced session, cut into the wall-time spans of
  the benchmark's calls into the program.
"""

from __future__ import annotations

import random
import statistics
import time

from perfbench.tracing import EventLog, FnTimer, PY_RECEIVED, PY_SENT, self_time

KINDS = ("md_clean", "md_grounded", "html_fragment", "plain")
KERNEL_SAMPLE_PER_KIND = 100
ASSEMBLE_SAMPLE = 24      # conversations timed through build_conversation_document
BATCH_ROWS = 2048         # the session's spark.sql.execution.arrow.maxRecordsPerBatch
PHASES = ("resume_scan", "extract_write", "lineage_read_agg", "lineage_write")

# the operators engine.core.extract calls, by the module attribute it calls
# them through; every function of a module reports under the module's name
OPERATORS = {
    "grounding": ("grounding", ("grounded_to_markdown", "strip_eos")),
    "html_clean": ("html_clean", ("clean_html",)),
    "figures": ("figures", ("filter_figures",)),
    "cleaner": ("cleaner", ("clean_markdown",)),
    "metadata": ("metadata", ("extract_title", "extract_date", "extract_companies",
                              "extract_authors", "detect_language", "extract_tickers")),
    "pages": ("pages", ("split_pages", "word_count", "count_page_markers")),
    "passages": ("passages", ("extract_passages",)),
    "tables": ("tables", ("extract_tables",)),
    "numerics": ("numerics", ("extract_numerics",)),
}


def kernel_sample(seed: int, per_kind: int) -> list[dict]:
    """``per_kind`` turns of each payload kind, from conversations of the
    run's seed (the per-kind timing does not depend on the workload's mix)."""
    from tools.synth import make_turn

    rng = random.Random(f"kernel-sample:{seed}")
    rows = []
    for k in range(len(KINDS)):
        for _ in range(per_kind):
            conv_index = rng.randrange(1_000_000)
            turn_idx = (k - conv_index) % 4 + 4 * rng.randrange(8)
            rows.append(make_turn(f"s{seed}-k-{conv_index:06d}", conv_index, turn_idx))
    return rows


def kernel_pass(tracer, rows: list[dict]) -> dict:
    """engine.core: median µs per turn by kind (unwrapped), then self
    seconds per operator (wrapped)."""
    from engine.core import extract

    out: dict = {}
    by_kind: dict = {k: [] for k in KINDS}
    for r in rows:
        t0 = time.perf_counter()
        rec = extract.extract_turn(r["text"], r["tool"], f"{r['conv_id']}:{r['turn_idx']}")
        by_kind[rec["payload_kind"]].append(time.perf_counter() - t0)
    for kind in KINDS:
        out[f"core.extract_turn.{kind}.us"] = (statistics.median(by_kind[kind]) * 1e6, "us")

    timer = FnTimer(tracer)
    for name, (module, fns) in OPERATORS.items():
        for fn in fns:
            timer.wrap(getattr(extract, module), fn, f"core.{name}")
    timer.wrap(extract, "entities_from_companies", "core.entities")
    try:
        with tracer.span("core.pass"):
            for r in rows:
                with tracer.span("core.extract_turn"):
                    extract.extract_turn(r["text"], r["tool"], f"{r['conv_id']}:{r['turn_idx']}")
    finally:
        timer.restore()
    selfs: dict = {}
    turn_spans = tracer.find("core.extract_turn")
    for s in turn_spans:
        selfs["extract_turn"] = selfs.get("extract_turn", 0.0) + self_time(s, tracer.children(s))
    for name in list(OPERATORS) + ["entities"]:
        selfs[name] = sum(self_time(s, tracer.children(s)) for s in tracer.find(f"core.{name}"))
    for name, v in selfs.items():
        out[f"core.{name}.self_s"] = (v, "s")
    return out


def assemble_pass(run, tracer) -> dict:
    """engine.core.assemble: median µs per conversation for
    build_conversation_document over a seeded sample of the workload's
    conversations (records from in-process extract_turn, untimed)."""
    from engine.core.assemble import build_conversation_document
    from engine.core.extract import extract_turn

    by_conv: dict = {}
    for (conv_id, turn_idx), r in run.inputs.items():
        by_conv.setdefault(conv_id, []).append((turn_idx, r))
    rng = random.Random(f"assemble-sample:{run.seed}")
    sample = rng.sample(sorted(by_conv), min(ASSEMBLE_SAMPLE, len(by_conv)))
    times = []
    for conv_id in sample:
        records = []
        for turn_idx, r in sorted(by_conv[conv_id], key=lambda t: t[0]):
            rec = extract_turn(r["text"], r["tool"], f"{conv_id}:{turn_idx}")
            rec["turn_idx"] = turn_idx
            records.append(rec)
        with tracer.span("core.assemble.build_conversation_document") as sp:
            build_conversation_document(conv_id, records)
        times.append(sp["wall"])
    return {"core.assemble.build_conversation_document.us":
            (statistics.median(times) * 1e6, "us")}


def batches_pass(run, tracer, batch_rows: int) -> tuple[dict, float]:
    """engine.spark.udfs: extract_batches in process over ``batch_rows``-row
    pandas batches of the whole input; the wrapper's own time is the total
    minus the extract_turn time inside it. Returns Σ kernel seconds too."""
    import pyarrow.parquet as pq

    from engine.spark import udfs

    pdf = pq.read_table(run.input_path).to_pandas()
    batches = [pdf.iloc[i:i + batch_rows] for i in range(0, len(pdf), batch_rows)]
    timer = FnTimer(tracer)
    timer.wrap(udfs, "extract_turn", "udfs.extract_turn")
    try:
        with tracer.span("udfs.extract_batches") as sp:
            n = sum(len(b) for b in udfs.extract_batches(iter(batches)))
    finally:
        timer.restore()
    if n != len(pdf):
        raise RuntimeError(f"extract_batches returned {n} rows for {len(pdf)}")
    kernel_s = sum(s.duration for s in tracer.find("udfs.extract_turn"))
    return {"udfs.extract_batches.wrap_s": (sp["wall"] - kernel_s, "s")}, kernel_s


def pipeline_metrics(its: list[dict]) -> dict:
    """engine.spark.pipeline, from RunStats (medians over iterations). The
    unphased share is wall minus Σ phases; it must not be negative and
    RunStats' own wall must agree with the benchmark's."""
    out: dict = {}
    for run_kind in ("fresh", "resume"):
        for ph in PHASES:
            out[f"pipeline.{run_kind}.{ph}_s"] = (statistics.median(
                it[f"{run_kind}_stats"].phases[ph] for it in its), "s")
        unphased = []
        for it in its:
            wall, st = it[f"{run_kind}_wall"], it[f"{run_kind}_stats"]
            gap = wall - sum(st.phases[ph] for ph in PHASES)
            if gap < -0.01 or abs(wall - st.wall_s) > 0.05 * wall + 0.05:
                raise ReconcileError(
                    f"{run_kind}: phases {st.phases} and RunStats wall {st.wall_s:.3f}s "
                    f"do not reconcile with the measured {wall:.3f}s")
            unphased.append(gap)
        out[f"pipeline.{run_kind}.unphased_s"] = (statistics.median(unphased), "s")
    out["pipeline.resume.turns_skipped"] = (statistics.median(
        it["resume_stats"].turns_skipped_resume for it in its), "turns")
    out["pipeline.noop_extract_s"] = (statistics.median(it["leg4_wall"] for it in its), "s")
    return out


class ReconcileError(Exception):
    pass


def sink_metrics(run, its: list[dict]) -> dict:
    """engine.spark.sinks, counted from the fresh run's output directories."""
    s = its[-1]["sinks"]
    return {
        "sinks.output_files": (s["output_files"], "count"),
        "sinks.output_bytes": (s["output_bytes"], "bytes"),
        "sinks.lineage_files": (s["lineage_files"], "count"),
        "sinks.bytes_per_input_byte": (s["output_bytes"] / run.input_bytes, "ratio"),
    }


def spark_metrics(log: EventLog, tracer, slots: int, leg_slots: int) -> dict:
    """Spark counters over the tasks of the program's own spans in the
    measured iterations — the fresh run, the documents stage and the resumed
    run, not the gate's jobs (``slots`` is the session's task slots) — and
    the documents stage and the Python boundary over their own spans."""
    resumes = tracer.find("pipeline.resume")
    docs = tracer.find("documents")
    # the documents stage repeats; each iteration counts its last repetition
    last_docs = [max((d for d in docs if d.end <= r.start), key=lambda d: d.end)
                 for r in resumes]
    w = log.windows([(s.start, s.end) for s in
                     tracer.find("pipeline.fresh") + last_docs + resumes])
    out = {
        "spark.jobs": (w.jobs, "count"),
        "spark.stages": (w.stages(), "count"),
        "spark.tasks": (len(w.tasks), "count"),
        "spark.shuffle_read_bytes": (w.total("shuffle_read"), "bytes"),
        "spark.shuffle_write_bytes": (w.total("shuffle_write"), "bytes"),
        "spark.spill_bytes": (w.total("spill"), "bytes"),
        "spark.gc_s": (w.total("gc_ms") / 1000.0, "s"),
        "spark.executor_run_s": (w.total("run_ms") / 1000.0, "s"),
        "spark.busy_share": (w.busy_share(slots), "ratio"),
        "spark.task_skew": (w.heaviest_stage_skew(), "ratio"),
    }
    d = log.window(last_docs[-1].start, last_docs[-1].end)
    out["documents.assemble_s"] = (statistics.median(s.duration for s in docs), "s")
    out["documents.shuffle_bytes"] = (d.total("shuffle_write"), "bytes")
    out["documents.task_skew"] = (d.heaviest_stage_skew(), "ratio")
    leg = tracer.find(f"udfs.extract_df.{leg_slots}_slots")[-1]
    lw = log.window(leg.start, leg.end)
    out["udfs.python_bytes_sent"] = (lw.sql_metric("MapInPandas", PY_SENT), "bytes")
    out["udfs.python_bytes_received"] = (lw.sql_metric("MapInPandas", PY_RECEIVED), "bytes")
    return out


def per_layer(run, its: list[dict]) -> dict:
    from perfbench.host import cpu_count
    from perfbench.run import SCALING_SLOTS

    tracer = run.tracer
    slots = max(SCALING_SLOTS)
    out: dict = {}
    out.update(pipeline_metrics(its))
    out.update(sink_metrics(run, its))
    traced_leg = statistics.median(it[f"leg{slots}_wall"] for it in its)
    out["trace.overhead_share"] = (traced_leg / run.baseline_leg_s - 1.0, "ratio")

    # the event log is complete once the traced context stops
    run.spark.stop()
    logs = [p for p in (run.work / "eventlog").iterdir() if p.is_file()]
    log = EventLog(max(logs, key=lambda p: p.stat().st_mtime))
    out.update(spark_metrics(log, tracer, cpu_count(), slots))

    out.update(kernel_pass(tracer, kernel_sample(run.seed, KERNEL_SAMPLE_PER_KIND)))
    out.update(assemble_pass(run, tracer))
    wrap, kernel_s = batches_pass(run, tracer, BATCH_ROWS)
    out.update(wrap)
    noop_wall = out["pipeline.noop_extract_s"][0]
    out["udfs.boundary_share"] = (1.0 - kernel_s / (noop_wall * slots), "ratio")
    # how much of the fresh run's slot time the kernel itself accounts for
    fresh_wall = statistics.median(it["fresh_wall"] for it in its)
    out["pipeline.fresh.kernel_share"] = (kernel_s / (fresh_wall * cpu_count()), "ratio")

    for name in ("session", "generate", "load", "warmup"):
        spans = tracer.find(f"setup.{name}")
        out[f"setup.{name}_s"] = (statistics.median(s.duration for s in spans), "s")
    out["failed_share"] = (run.failed / max(1, run.attempted), "ratio")
    return out

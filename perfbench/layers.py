"""The traced run: per-layer metrics, measured from outside the engine.

Order of work in one traced run:

1. for ``--seconds``, untraced passes (the base of
   ``trace.overhead_frac``) alternating with traced ones;
2. on pipeline_skewed, layer probes on the staged input: the prefix
   ladder, the offline kernel split and the verdict aggregate; on
   corpus_sweep, which has the time to spare, one pass of the production
   job with spans around the table functions it calls;
3. after the output checks, on pipeline_skewed, ``one_cpu``.

A layer a workload does not run reports 0.  Every wrapped function is put
back as soon as its pass ends.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import time

import spans
from workloads import (
    CORPUS_QUERIES, JOB_BUCKETS, JOB_CRASH_AFTER, TURNS, JobManyConv, noop, timed_passes,
)

# The ladder's self times must account for the traced pass wall, less its
# unattributed share, within this fraction (trace.ladder_closure_frac);
# a closure outside it is a failed check of the traced run.
LADDER_TOLERANCE = 0.2

PER_LAYER = (
    "setup.session_s", "setup.input_s", "setup.warmup_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_bytes",
    "spark.spill_bytes",
    "scan.s", "scan.bytes_read", "scan.files",
    "ordering.dedupe_s", "ordering.shuffle_bytes", "ordering.rows_in",
    "ordering.rows_out",
    "rules.s",
    "udfs.stage_s", "udfs.python_run_s", "udfs.python_init_s",
    "udfs.bytes_to_python", "udfs.bytes_from_python",
    "kernels.batch_rows", "kernels.score_batch_s", "kernels.pack_s",
    "kernels.langid_s", "kernels.lm_s", "kernels.repetition_s",
    "kernels.mask_scrub_s",
    "conv_agg.stage_s", "conv_agg.verdicts_s", "conv_agg.attach_s",
    "conv_agg.verdict_rows", "conv_agg.broadcast_bytes",
    "job.pass_s", "job.resume_s", "job.verdict_rows",
    "job.labels_stage_s", "job.audit_s", "tableio.commit_s",
    "tableio.resume_check_s", "tableio.bytes_written", "tableio.files_written",
    "job.buckets_skipped",
    *(f"query.{q}.{m}" for q in CORPUS_QUERIES for m in ("s", "shuffle_bytes", "spill_bytes")),
    "host.steal_frac", "trace.unattributed_frac", "trace.overhead_frac",
    "trace.ladder_closure_frac", "scaling.turns_per_s_1cpu", "scaling.eff_1to4",
)


def unit(name: str) -> str:
    if name == "scaling.turns_per_s_1cpu":
        return "turns/s"
    if "bytes" in name:
        return "B"
    if name.endswith(("_frac", "eff_1to4")):
        return "ratio"
    if name.endswith(("_s", ".s")):
        return "s"
    return "count"


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


# ---------------------------------------------------------------- passes
def _pass_metrics(tr, runs, w) -> dict:
    m: dict[str, float] = {}
    totals = [tr.stage_totals(tr.subtree(r["span"])) for r in runs]
    for k in ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes"):
        m[f"spark.{k}"] = _median(t[k] for t in totals)
    unattributed = []
    for r in runs:
        sp = tr.spans[r["span"]]
        unattributed.append(tr.self_time(sp["id"]) / (sp["end"] - sp["start"]))
    m["trace.unattributed_frac"] = _median(unattributed)

    if w.name == "corpus_sweep":
        for q in CORPUS_QUERIES:
            m[f"query.{q}.s"] = _median(r["queries"][q] for r in runs)
            qt = []
            for r in runs:
                sid = next(s["id"] for s in tr.spans if s["name"] == f"query.{q}"
                           and s["parent"] == r["span"])
                qt.append(tr.stage_totals([sid]))
            m[f"query.{q}.shuffle_bytes"] = _median(t["shuffle_bytes"] for t in qt)
            m[f"query.{q}.spill_bytes"] = _median(t["spill_bytes"] for t in qt)

    return m


def _under(tr, span_id: int, ancestor: int) -> bool:
    while span_id is not None:
        if span_id == ancestor:
            return True
        span_id = tr.spans[span_id]["parent"]
    return False


def _wrap_job(tr) -> None:
    from moira_spark.sources.tableio import SnapshotTable

    tr.wrap(
        SnapshotTable, "stage",
        lambda table, *a, **kw: "tableio.stage:" + os.path.basename(table.table_dir.rstrip("/")),
    )
    tr.wrap(SnapshotTable, "commit", "tableio.commit")
    tr.wrap(SnapshotTable, "latest_snapshot", "tableio.resume_check")
    tr.wrap(SnapshotTable, "is_committed", "tableio.resume_check")


# ---------------------------------------------------------------- probes
def job_layers(spark, tr, w) -> tuple[dict, list[str], int]:
    """One pass of the production job (crash, then resume) on
    pipeline_skewed's input for the same seed, re-keyed.  It is the job's
    first run in the process, so it includes the write path's first-run
    costs.  The spans come from wrapping the SnapshotTable methods
    the job calls.  Returns (metrics, check failures, checks made)."""
    from moira_spark.datagen import transcripts as tg

    work = os.path.join(w.work, "job")
    path = os.path.join(work, "transcripts")
    tg.gen_spark(spark, TURNS, seed=w.seed).write.parquet(path)
    job = JobManyConv(spark, work, spark.read.parquet(path))
    tr.pass_id = "job"
    _wrap_job(tr)
    try:
        with tr.span("job.pass") as top:
            rec = job.run_pass(tr)
    finally:
        tr.restore()
        tr.pass_id = None
    ss = [tr.spans[i] for i in tr.subtree(top["id"])]
    legs = {s["id"]: s["name"] for s in ss if s["name"].endswith("_leg")}
    resume = next(i for i, n in legs.items() if n == "job.resume_leg")

    def total(name):
        return sum(s["end"] - s["start"] for s in ss if s["name"] == name)

    restaged = sum(
        1 for s in ss if s["name"] == "tableio.stage:labels" and _under(tr, s["id"], resume)
    )
    m = {
        "job.pass_s": rec["wall_s"],
        "job.resume_s": rec["resume_s"],
        "job.labels_stage_s": total("tableio.stage:labels"),
        "job.audit_s": total("tableio.stage:audit"),
        "tableio.commit_s": total("tableio.commit"),
        # direct calls from the job only; commit's own snapshot reads are
        # part of tableio.commit_s
        "tableio.resume_check_s": sum(
            s["end"] - s["start"] for s in ss
            if s["name"] == "tableio.resume_check" and s["parent"] in legs
        ),
        "tableio.bytes_written": rec["bytes_written"],
        "tableio.files_written": rec["files_written"],
        "job.buckets_skipped": JOB_BUCKETS - restaged,
    }
    failures = job.check()
    skipped_want = JOB_BUCKETS - JOB_CRASH_AFTER
    if m["job.buckets_skipped"] != skipped_want:
        failures.append(f"resume skipped {m['job.buckets_skipped']} buckets, not {skipped_want}")
    m["job.verdict_rows"] = job.verdict_rows
    return m, failures, job.n_checks + 1


def ladder(spark, tr, src) -> dict:
    """Prefix ladder: materialise each prefix of the pipeline through noop;
    a layer's self time is its rung minus the rung before."""
    from moira_spark.operators import ordering, rules
    from moira_spark.pipeline import release_cache, run_pipeline, score_turns

    def full():
        labels = run_pipeline(spark, src)
        noop(labels)
        release_cache(labels)

    rungs = {
        "scan": lambda: noop(src),
        "ordering": lambda: noop(ordering.dedupe_stable(src)),
        "rules": lambda: noop(
            ordering.dedupe_stable(src)
            .withColumn("length_fail", rules.length_rule_fails())
            .withColumn("symbol_fail", rules.symbol_rule_fails())
        ),
        "udfs": lambda: noop(score_turns(spark, src)),
        "conv_agg": full,
    }
    w, span_of = {}, {}
    for k, fn in rungs.items():
        with tr.span(f"ladder.{k}") as sp:
            w[k] = _timed(fn)
        span_of[k] = sp["id"]
    m = {
        "scan.s": w["scan"],
        "ordering.dedupe_s": w["ordering"] - w["scan"],
        "rules.s": w["rules"] - w["ordering"],
        "udfs.stage_s": w["udfs"] - w["rules"],
        "conv_agg.stage_s": w["conv_agg"] - w["udfs"],
    }
    scan = tr.sql_metrics([span_of["scan"]])
    m["scan.bytes_read"] = spans.metric_sum(scan, "Scan parquet", "size of files read")
    m["scan.files"] = spans.metric_sum(scan, "Scan parquet", "number of files read")
    m["ordering.shuffle_bytes"] = tr.stage_totals([span_of["ordering"]])["shuffle_bytes"]
    m["ordering.rows_in"] = src.count()
    m["ordering.rows_out"] = ordering.dedupe_stable(src).count()
    udf = tr.sql_metrics([span_of["udfs"]])
    for key, metric in (
        ("udfs.python_run_s", "time to run Python workers"),
        ("udfs.python_init_s", "time to initialize Python workers"),
        ("udfs.bytes_to_python", "data sent to Python workers"),
        ("udfs.bytes_from_python", "data returned from Python workers"),
    ):
        m[key] = spans.metric_sum(udf, "ArrowEvalPython", metric)
    m["ladder_total_s"] = w["conv_agg"]
    return m


def kernels(spark, path: str) -> dict:
    """Offline split of the fused UDF's kernel on one Arrow batch of the
    staged input, in this process, with the models the UDF broadcasts."""
    import pyarrow.parquet as pq

    from moira_spark.kernels import hashing, langid, lm
    from moira_spark.kernels import text as textk
    from moira_spark.kernels.score import score_batch

    rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    texts = pq.read_table(path, columns=["text"]).column("text").to_pandas()
    texts = texts.iloc[:rows].fillna("").tolist()
    lid, bigram = langid.default_model(), lm.default_model()
    score_batch(texts[:100], lid, bigram)
    buf = hashing.pack_texts(texts)

    m = {
        "kernels.batch_rows": len(texts),
        "kernels.score_batch_s": _timed(lambda: score_batch(texts, lid, bigram)),
        "kernels.pack_s": _timed(lambda: hashing.pack_texts(texts)),
        "kernels.langid_s": _timed(lambda: lid.predict_packed(*buf)),
        "kernels.lm_s": _timed(lambda: bigram.perplexity_packed(*buf)),
        "kernels.repetition_s": _timed(lambda: textk.repetition_flags(texts)),
    }
    m["kernels.mask_scrub_s"] = m["kernels.score_batch_s"] - sum(
        m[k] for k in ("kernels.pack_s", "kernels.langid_s", "kernels.lm_s", "kernels.repetition_s")
    )
    return m


def verdicts(spark, tr, src) -> dict:
    """The conversation aggregate and verdict join on a persisted scored
    frame; attach_s is the join's wall minus the aggregate's."""
    from moira_spark.operators import conv_agg
    from moira_spark.pipeline import score_turns

    scored = score_turns(spark, src).persist()
    try:
        noop(scored)
        v = conv_agg.conversation_verdicts(scored)
        agg_s = _timed(lambda: noop(v))
        with tr.span("conv_agg.attach") as sp:
            join_s = _timed(lambda: noop(conv_agg.attach_conv_verdicts(scored, v)))
        rows = tr.sql_metrics([sp["id"]])
        return {
            "conv_agg.verdicts_s": agg_s,
            "conv_agg.attach_s": join_s - agg_s,
            "conv_agg.verdict_rows": v.count(),
            "conv_agg.broadcast_bytes": spans.metric_sum(rows, "BroadcastExchange", "data size"),
        }
    finally:
        scored.unpersist()


def one_cpu(spark, w, build, metrics: dict, pass_s_4: float):
    """pipeline_skewed on 1 CPU, against this run's untraced 4-CPU passes.

    The 4-CPU session is stopped, this process and every thread of the JVM
    are pinned to CPU 0 with ``taskset`` (Python workers forked later
    inherit it), and a local[1] session is built in the same JVM.  A small
    pass starts the Python workers; one full pass is timed.  Returns the
    new session."""
    from pyspark import SparkContext
    from pyspark.sql import functions as F

    from moira_spark.pipeline import release_cache, run_pipeline

    jvm = SparkContext._gateway.proc.pid
    spark.stop()
    for pid in (os.getpid(), jvm):
        subprocess.run(["taskset", "-a", "-p", "-c", "0", str(pid)], check=True,
                       capture_output=True)
    spark = build(1)
    src = spark.read.parquet(w.path)
    warm = run_pipeline(spark, src.filter(F.col("turn_idx") < 2))
    noop(warm)
    release_cache(warm)

    def full():
        labels = run_pipeline(spark, src)
        noop(labels)
        release_cache(labels)

    pass_s_1 = _timed(full)
    metrics["scaling.turns_per_s_1cpu"] = metrics["ordering.rows_out"] / pass_s_1
    metrics["scaling.eff_1to4"] = pass_s_1 / (4 * pass_s_4)
    return spark


# ------------------------------------------------------------------ main
def traced_run(spark, w, args) -> dict:
    # Untraced and traced passes alternate, so host drift falls on both.
    tr = spans.Tracer(spark, w.name)
    plain, runs, raised = [], [], 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < args.seconds:
        p, r0 = timed_passes(w, 0)
        tr.pass_id = len(runs)
        t, r1 = timed_passes(w, 0, tracer=tr)
        plain, runs, raised = plain + p, runs + t, raised + r0 + r1
    tr.pass_id = None
    plain_s = _median(r["wall_s"] for r in plain)
    if not runs or not plain:
        raise RuntimeError("no pass finished in the traced run")

    m = {k: 0.0 for k in PER_LAYER}
    m.update(_pass_metrics(tr, runs, w))
    traced_s = _median(r["wall_s"] for r in runs)
    m["trace.overhead_frac"] = traced_s / plain_s - 1
    failures, checks = [], 0
    if w.name == "pipeline_skewed":
        lad = ladder(spark, tr, w.src)
        covered = traced_s * (1 - m["trace.unattributed_frac"])
        closure = lad.pop("ladder_total_s") / covered - 1
        m["trace.ladder_closure_frac"] = closure
        checks = 1
        if abs(closure) > LADDER_TOLERANCE:
            failures.append(f"ladder closure {closure:+.3f} is outside +-{LADDER_TOLERANCE}")
        m.update(lad)
        m.update(kernels(spark, w.path))
        m.update(verdicts(spark, tr, w.src))
    else:
        m_job, failures, checks = job_layers(spark, tr, w)
        m.update(m_job)
    return {
        "runs": plain + runs,
        "raised": raised,
        "metrics": m,
        "spans": tr.spans,
        "failures": failures,
        "checks": checks,
        "pass_s_untraced": plain_s,
    }

"""The benchmark's workloads.

Each workload stages its inputs (pipeline_skewed generates them from the
seed; corpus_sweep reads the fixed fixture under perfbench/fixture), warms
up, runs timed passes and checks its outputs.  ``run_pass`` takes an optional tracer; the untraced
runs pass ``None`` and so install no spans, job groups or wrappers.

Sizes keep one run (set-up, ``--seconds`` of passes, checks) under about
a minute on 4 CPUs, so that 22 runs per workload fit a fixed time budget
(perfbench/README.md).  ``JobManyConv`` is not a gated workload (it does
not fit that budget); corpus_sweep's traced run runs one pass of it.
"""

from __future__ import annotations

import contextlib
import os
import time
import traceback
import zlib

import pyspark.sql.functions as F

# Turns generated for pipeline_skewed (before retry duplicates collapse).
TURNS = 30_000
# The corpus tables: the fixed sf0.01 test fixture (TESTDATA.md, seed 42),
# copied byte for byte so that the sweep reads only files of the checkout.
# The sweep's inputs therefore do not vary with --seed.
FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture", "sf0.01")
# Conversations are re-keyed into chunks of this many consecutive turns.
JOB_CHUNK = 4
JOB_BUCKETS = 4
JOB_CRASH_AFTER = 2

CORPUS_QUERIES = (
    "q3_top_orders",
    "q5_region_revenue",
    "sessionize_events",
    "events_proximity_join",
    "dedup_exact",
    "dedup_jaccard_capped",
    "dedup_containment",
    "dedup_cluster_representatives",
    "corpus_split_leakage",
)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _span(tracer, name: str):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


class Workload:
    """Base: ``stage`` and ``warm_up`` are set-up; ``run_pass`` returns a
    dict with at least ``wall_s``; ``check`` makes ``n_checks`` checks and
    returns one message per failed check."""

    name = ""
    n_checks = 0

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.units = 0  # turns a pass labels; known after check()

    def stage(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def run_pass(self, tracer) -> dict:
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError


# ------------------------------------------------------------- transcripts
class PipelineSkewed(Workload):
    name = "pipeline_skewed"
    n_checks = 4

    def stage(self) -> None:
        from moira_spark.datagen import transcripts as tg

        self.path = os.path.join(self.work, "transcripts")
        tg.gen_spark(self.spark, TURNS, seed=self.seed).write.parquet(self.path)
        self.src = self.spark.read.parquet(self.path)

    def warm_up(self) -> None:
        """Six passes: passes kept getting faster over the first five or
        six of a process (JIT, heap growth); after three, the first timed
        pass was still up to 28% slower than the fourth."""
        for _ in range(6):
            self.run_pass(None)

    def run_pass(self, tracer) -> dict:
        from moira_spark.pipeline import release_cache, run_pipeline

        t0 = time.perf_counter()
        with _span(tracer, "pipeline.run_pipeline"):
            labels = run_pipeline(self.spark, self.src)
        with _span(tracer, "sink.noop"):
            noop(labels)
        with _span(tracer, "pipeline.release_cache"):
            release_cache(labels)
        return {"wall_s": time.perf_counter() - t0}

    def check(self) -> list[str]:
        """Labels against the pandas oracle on a slice of whole
        conversations (every fourth by conv_id hash, plus the hot one), and
        the deduped row count of the full output."""
        import pyarrow.parquet as pq

        from moira_spark.datagen.transcripts import HOT_CONV_ID
        from moira_spark.oracle import ref_pipeline
        from moira_spark.pipeline import release_cache, run_pipeline

        labels = run_pipeline(self.spark, self.src)
        got = labels.select("conv_id", "turn_idx", "keep", "scrubbed_text", "conv_keep").toPandas()
        release_cache(labels)
        src = pq.read_table(self.path).to_pandas()
        failures = []
        n_dedup = len(ref_pipeline.dedupe_stable(src))
        if len(got) != n_dedup:
            failures.append(f"{len(got)} label rows != {n_dedup} deduped turns")
        self.units = len(got)

        def in_slice(conv_ids):
            return conv_ids.map(
                lambda c: c == HOT_CONV_ID or zlib.crc32(c.encode()) % 4 == 0
            )

        ref = ref_pipeline.run(src[in_slice(src["conv_id"])])
        got = got[in_slice(got["conv_id"])]
        m = got.merge(ref, on=["conv_id", "turn_idx"], suffixes=("", "_ref"))
        if len(m) != len(ref) or len(m) != len(got):
            failures.append(f"slice rows: spark {len(got)}, oracle {len(ref)}, joined {len(m)}")
        final = m["keep"] & m["conv_keep"]
        final_ref = m["keep_ref"] & m["conv_keep_ref"]
        tp = int((final & final_ref).sum())
        f1 = 2 * tp / max(1, int(final.sum()) + int(final_ref.sum()))
        if f1 != 1.0 or not (m["keep"] == m["keep_ref"]).all():
            failures.append(f"keep/drop F1 {f1:.6f} != 1.0")
        if not (m["scrubbed_text"] == m["scrubbed_text_ref"]).all():
            failures.append("scrubbed_text differs from the oracle")
        return failures


class JobManyConv:
    """The production job (writes next to reads) on many short
    conversations: each conversation of ``src`` is re-keyed into chunks of
    JOB_CHUNK consecutive turns (duplicate rows stay duplicates), which
    removes the hot key and multiplies the verdict rows.  A pass is the
    injected crash after JOB_CRASH_AFTER buckets, then the resume, into a
    fresh output dir."""

    n_checks = 2

    def __init__(self, spark, work_dir: str, src):
        self.spark = spark
        self.work = work_dir
        self.src = src.withColumn(
            "conv_id", F.expr(f"conv_id || '#' || (turn_idx div {JOB_CHUNK})")
        )
        self._passes = 0

    def run_pass(self, tracer) -> dict:
        from moira_spark import job

        self._passes += 1
        self.out = os.path.join(self.work, f"job_out_{self._passes}")
        run_id = f"bench-{self._passes}"
        t0 = time.perf_counter()
        crashed = False
        try:
            with _span(tracer, "job.crash_leg"):
                job.run_filter_job(
                    self.spark, self.src, self.out, run_id,
                    n_buckets=JOB_BUCKETS, fail_after_buckets=JOB_CRASH_AFTER,
                )
        except RuntimeError as e:
            crashed = "injected crash" in str(e)
            if not crashed:
                raise
        t1 = time.perf_counter()
        with _span(tracer, "job.resume_leg"):
            job.run_filter_job(self.spark, self.src, self.out, run_id, n_buckets=JOB_BUCKETS)
        t2 = time.perf_counter()
        if not crashed:
            raise RuntimeError("the injected crash did not happen")
        n_bytes = n_files = 0
        for d, _, files in os.walk(self.out):
            for f in files:
                if f.endswith(".parquet"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(d, f))
        return {
            "wall_s": t2 - t0, "crash_s": t1 - t0, "resume_s": t2 - t1,
            "bytes_written": n_bytes, "files_written": n_files,
        }

    def check(self) -> list[str]:
        """Committed labels equal the pipeline's labels on the same input
        (row count and an order-insensitive sum of row hashes); the audit's
        input_turns sum to the deduped input."""
        from moira_spark.pipeline import LABEL_COLUMNS, release_cache, run_pipeline
        from moira_spark.sources.tableio import SnapshotTable

        def digest(df):
            h = F.xxhash64(*LABEL_COLUMNS).cast("decimal(38,0)")
            return tuple(df.agg(F.count(F.lit(1)), F.sum(h)).collect()[0])

        labels = run_pipeline(self.spark, self.src)
        want = digest(labels)
        release_cache(labels)
        committed = SnapshotTable(f"{self.out}/labels").read(self.spark)
        got = digest(committed)
        self.verdict_rows = committed.select("conv_id").distinct().count()
        failures = []
        if got != want:
            failures.append(f"committed labels (rows, hash) {got} != pipeline {want}")
        audit = SnapshotTable(f"{self.out}/audit").read(self.spark)
        audited = audit.agg(F.sum("input_turns")).collect()[0][0]
        if audited != want[0]:
            failures.append(f"audit input_turns sum {audited} != {want[0]} deduped turns")
        return failures


# ------------------------------------------------------------------ corpus
class CorpusSweep(Workload):
    name = "corpus_sweep"
    n_checks = len(CORPUS_QUERIES)

    def stage(self) -> None:
        import __spark_entry__ as entry

        self.sf_dir = FIXTURE

        self.queries = entry.queries()

    def warm_up(self) -> None:
        """Two sweeps.  The first collects each query's result, the output
        the check compares with DuckDB after the timed passes.  Sweeps
        still get faster for two or three more; a longer warm-up does not
        fit the run budget (perfbench/README.md)."""
        self.results = {}
        for name in CORPUS_QUERIES:
            self.results[name] = self.queries[name](self.spark, self.sf_dir).toPandas()
            self.spark.catalog.clearCache()
        self.run_pass(None)

    def run_pass(self, tracer) -> dict:
        per_query = {}
        t0 = time.perf_counter()
        for name in CORPUS_QUERIES:
            q0 = time.perf_counter()
            with _span(tracer, f"query.{name}"):
                noop(self.queries[name](self.spark, self.sf_dir))
                self.spark.catalog.clearCache()
            per_query[name] = time.perf_counter() - q0
        return {"wall_s": time.perf_counter() - t0, "queries": per_query}

    def check(self) -> list[str]:
        import duckdb
        from check_correctness import value_hash

        import __spark_entry__ as entry

        oracle = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in sorted(os.listdir(self.sf_dir)):
                name = t.removesuffix(".parquet")
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.sf_dir, t)}')"
                )
            failures = []
            for name in CORPUS_QUERIES:
                got = self.results[name]
                want = con.execute(oracle[name]).df()
                if len(got) != len(want) or value_hash(got) != value_hash(want):
                    failures.append(
                        f"{name}: {len(got)} rows vs DuckDB {len(want)}, or hash differs"
                    )
        finally:
            con.close()
        return failures


def timed_passes(w, seconds: float, tracer=None) -> tuple[list[dict], int]:
    """Closed loop: passes back to back until ``seconds`` have gone by.
    Returns (records of the passes that finished, passes that raised)."""
    runs, raised = [], 0
    t0 = time.perf_counter()
    while True:
        try:
            if tracer is None:
                runs.append(w.run_pass(None))
            else:
                with tracer.span("pass") as sp:
                    rec = w.run_pass(tracer)
                runs.append({**rec, "span": sp["id"]})
        except Exception:
            traceback.print_exc()
            raised += 1
        if time.perf_counter() - t0 >= seconds:
            return runs, raised


WORKLOADS = {w.name: w for w in (PipelineSkewed, CorpusSweep)}

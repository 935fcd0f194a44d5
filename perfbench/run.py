"""Repository benchmark: one named workload per process on local[$(nproc)].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  One Spark application, one action in
flight, closed loop: the next pass starts when the previous one has
finished, and passes repeat until ``--seconds`` have gone by.  The untraced run
(``--trace 0``) prints the end-to-end metrics; the traced run
(``--trace 1``) prints the per-layer metrics (see perfbench/README.md).
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  The run's record (host
state, raw per-pass times, spans) goes to ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

# (unit, better) of every metric the untraced run prints; GATED are the
# end-to-end metrics of BENCHMARK.json.  peak_rss_mb is printed but not
# gated: the JVM's share moves with GC heap sizing, 2.2-3.8 GiB for the
# same work, while the Python processes' share repeats within a few %.
E2E_UNITS = {
    "setup_s": ("s", "lower"),
    "pass_s": ("s", "lower"),
    "python_rss_mb": ("MiB", "lower"),
    "peak_rss_mb": ("MiB", "lower"),
    "turns_per_s": ("turns/s", "higher"),
    "sweep_s": ("s", "lower"),
    "failed_frac": ("ratio", "lower"),
}
GATED = ("setup_s", "pass_s", "python_rss_mb")


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# ---------------------------------------------------------------- host
def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def vm_hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss() -> dict[str, float]:
    """VmHWM in MiB of this process and every descendant (Spark JVM,
    Python workers), keyed by "pid command"."""
    out = {}
    for p in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        out[f"{p} {comm}"] = vm_hwm_kib(p) / 1024.0
    return out


def reset_peak_rss() -> None:
    """Set VmHWM of this process and every descendant back to its current
    RSS, so that ``peak_rss`` covers only what runs after this call."""
    for p in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def host_record(cpus: int) -> dict:
    import platform

    import pyspark

    return {
        "nproc": cpus,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


# ------------------------------------------------------------- session
def prepare_env(cpus: int) -> None:
    """Everything Spark, its workers and tempfile write goes under the
    checkout; workers import the engine from the checkout root."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    import tempfile

    tempfile.tempdir = None


def build(cpus: int):
    from moira_spark.session import build_session

    spark = build_session(
        app_name="perfbench",
        cores=cpus,
        extra_conf={
            # explicit, so a session rebuilt in the same JVM gets its width
            "spark.master": f"local[{cpus}]",
            # no hsperfdata files in /tmp, temp files under the checkout
            "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir="
            + os.path.join(WORK, "tmp"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop Spark, the JVM and every process it started, and wait for each."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    kids = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    alive = kids
    while alive and time.time() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(os.path.exists(f"/proc/{p}") for p in alive):
        time.sleep(0.1)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "moira_spark")) or not os.path.isfile(
        os.path.join(ROOT, "scripts", "check_correctness.py")
    ):
        fail(f"run from a checkout of the repository: no engine under {ROOT}")
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]
    from workloads import WORKLOADS, timed_passes

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    cpus = len(os.sched_getaffinity(0))
    host = host_record(cpus)
    from moira_spark.benchutil import cpu_jiffies

    shutil.rmtree(WORK, ignore_errors=True)  # left by a killed run
    prepare_env(cpus)

    t = time.perf_counter()
    spark = build(cpus)
    setup = {"session_s": time.perf_counter() - t}
    try:
        w = WORKLOADS[args.workload](spark, WORK, args.seed)
        t = time.perf_counter()
        w.stage()
        setup["input_s"] = time.perf_counter() - t
        t = time.perf_counter()
        w.warm_up()
        setup["warmup_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - T_START
        reset_peak_rss()  # the peaks of staging and warm-up are set-up's

        steal0, total0 = cpu_jiffies()
        if args.trace:
            import layers

            result = layers.traced_run(spark, w, args)
        else:
            runs, raised = timed_passes(w, args.seconds)
            result = {"runs": runs, "raised": raised, "rss": peak_rss()}
        steal1, total1 = cpu_jiffies()
        steal = (steal1 - steal0) / max(1, total1 - total0)

        failures = result.get("failures", []) + w.check()
        if args.trace and args.workload == "pipeline_skewed":
            spark = layers.one_cpu(
                spark, w, build, result["metrics"], result["pass_s_untraced"]
            )
    finally:
        stop(spark)
        shutil.rmtree(WORK, ignore_errors=True)

    for f in failures:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    runs = result["runs"]
    if not runs:
        fail("no pass finished")
    checks = result.get("checks", 0) + w.n_checks
    attempted = len(runs) + result["raised"] + checks
    failed = result["raised"] + len(failures)
    walls = [r["wall_s"] for r in runs]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": {**host, "steal_frac": steal},
        "setup": {**setup, "setup_s": setup_s},
        "runs": runs,
        "failures": failures,
    }
    if args.trace:
        metrics = result["metrics"]
        metrics["host.steal_frac"] = steal
        for k in ("session_s", "input_s", "warmup_s"):
            metrics[f"setup.{k}"] = setup[k]
        record["spans"] = result["spans"]
        out = {k: {"value": v, "unit": layers.unit(k)} for k, v in metrics.items()}
    else:
        pass_s = statistics.median(walls)
        e2e = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "python_rss_mb": sum(v for k, v in result["rss"].items() if "python" in k),
            "peak_rss_mb": sum(result["rss"].values()),
            "failed_frac": failed / max(1, attempted),
        }
        if args.workload == "corpus_sweep":
            e2e["sweep_s"] = pass_s
        else:
            e2e["turns_per_s"] = w.units / pass_s
        for k, v in e2e.items():
            unit, better = E2E_UNITS[k]
            print(f"{args.workload} {k} = {v:.6g} {unit} ({better} is better)")
        print(f"{args.workload} passes = {len(walls)}; per-pass s = "
              + ", ".join(f"{x:.3f}" for x in walls))
        record["e2e"] = e2e
        record["rss_mb"] = result["rss"]
        out = {k: {"value": e2e[k], "unit": E2E_UNITS[k][0]} for k in GATED}
    print(f"{args.workload} host = {json.dumps(record['host'])}")
    os.makedirs(OUT, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(OUT, name), "w") as f:
        json.dump(record, f, indent=1, default=float)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

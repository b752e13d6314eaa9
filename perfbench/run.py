"""Benchmark entry point.

    python3 perfbench/run.py --workload voter_import --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates (or reuses) the seeded
inputs of one workload, computes the per-seed references, then:

- set-up: builds the Spark session on local[nproc] in a fresh JVM and
  runs one cold pass (``setup_s``);
- measurement: runs a fixed number of warm passes, ``--seconds``
  divided by the nominal pass length ``PASS_S``, and reports the median
  pass (``wall_s``, ``rows_per_s``) and the peak resident memory of the
  process tree during them (``peak_rss_mb``). The passes still speed up
  as the JIT settles, the first by ~25%, and the median leaves that one
  out;
- with ``--trace 1`` it runs untraced, traced, traced, untraced passes
  instead and reports the per-layer numbers of the traced ones, plus
  the tracing overhead.

Each pass records the host's steal share, the part of the CPU time the
machine used that its vCPUs spent waiting for the host: it tells a pass
the host slowed from slow code.

Every operation of every pass is checked against its reference. The
last line of stdout is one JSON object: correct, attempted, failed and
metrics. A self-describing detail file (box state, versions, inputs,
per-operation walls, spans) goes to ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
sys.path[:0] = [str(HERE), str(ROOT)]

E2E_UNITS = {"wall_s": "s", "rows_per_s": "rows/s", "setup_s": "s", "peak_rss_mb": "MB"}
RATIO_UNITS = {
    "plans.matching.match_rate": "ratio",
    "operators.fuzzy.claim_rate": "ratio",
    "sources.csv_source.malformed_share": "ratio",
    "bench.trace_overhead_s": "s",
    "fail_ratio": "ratio",
}
DRIVER_MEMORY = "2g"
# a warm pass of either workload on a 4-vCPU VM; the pass count of a
# run depends on --seconds only, never on how fast the run goes
PASS_S = 7.5


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


# -- peak RSS of the process tree ------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def _tree(root: int) -> list[int]:
    seen, todo = [], [root]
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def _rss_bytes(pids: list[int]) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler(threading.Thread):
    """Samples the summed RSS of this process and its descendants (the
    JVM and its Python workers) every 50 ms; the process set is
    refreshed every tenth sample."""

    INTERVAL = 0.05

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        pids, n = [], 0
        while not self._halt.is_set():
            if n % 10 == 0:
                pids = _tree(os.getpid())
            self.peak = max(self.peak, _rss_bytes(pids))
            n += 1
            self._halt.wait(self.INTERVAL)

    def reset(self) -> None:
        self.peak = 0

    def stop(self) -> None:
        self._halt.set()
        self.join()


# -- Spark session -------------------------------------------------------------------


def start_spark(cores: int):
    from voter_gateway_spark.session import build_spark

    tmp = WORK / "tmp"
    spark = build_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:  # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def box_state(spark, cores: int) -> dict:
    import pyspark

    head = ROOT / ".git" / "HEAD"
    ref = None
    if head.exists():
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            p = ROOT / ".git" / ref[5:]
            ref = p.read_text().strip() if p.exists() else ref
    jvm = spark.sparkContext._jvm
    return {
        "nproc": cores,
        "master": f"local[{cores}]",
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": DRIVER_MEMORY,
        "git_ref": ref,
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "platform": platform.platform(),
    }


# -- metrics ---------------------------------------------------------------------------


def e2e_metrics(pass_walls: list[float], input_rows: int, setup_s: float,
                peak_rss: int) -> dict[str, float]:
    wall = statistics.median(pass_walls)
    return {
        "wall_s": wall,
        "rows_per_s": input_rows / wall,
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss / (1024 * 1024),
    }


def ratio_metrics(stats: dict, manifest: dict, untraced: list[float],
                  traced: list[float], attempted: int, failed: int) -> dict[str, float]:
    """The traced run's ratios. Layers a workload never calls read 0."""
    total = stats.get("source_rows", 0)
    residual = stats.get("fuzzy_residual", 0)
    lines = manifest["truth"].get("data_lines", 0)
    return {
        "plans.matching.match_rate": stats.get("matched", 0) / total if total else 0.0,
        "operators.fuzzy.claim_rate": stats.get("fuzzy_claimed", 0) / residual if residual else 0.0,
        "sources.csv_source.malformed_share": stats.get("malformed", 0) / lines if lines else 0.0,
        "bench.trace_overhead_s": statistics.median(traced) - statistics.median(untraced),
        "fail_ratio": failed / attempted,
    }


def declared_units() -> dict[str, dict[str, str]]:
    """Every metric the benchmark can print, by mode, with its unit."""
    from spans import metric_units

    layer = metric_units()
    layer.update(RATIO_UNITS)
    return {"end_to_end": dict(E2E_UNITS), "per_layer": layer}


# -- main --------------------------------------------------------------------------------


def cpu_jiffies() -> tuple[int, int]:
    """(stolen, used) CPU time of the machine so far, in jiffies, from
    /proc/stat. Steal is time a vCPU was ready to run while the host ran
    something else; used counts busy and stolen time, not idle."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(v) for v in fh.readline().split()[1:9])
    return steal, user + nice + system + irq + softirq + steal


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Stolen share of the CPU time used between two cpu_jiffies()."""
    used = after[1] - before[1]
    return (after[0] - before[0]) / used if used > 0 else 0.0


def warm_passes(seconds: float) -> int:
    return max(1, round(seconds / PASS_S))


def walls_of(passes: list[dict], kind: str) -> list[float]:
    return [p["wall_s"] for p in passes if p["kind"] == kind]


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate_scratch() -> None:
    """Keep every temporary file of the run inside the checkout."""
    for d in ("tmp", "spark-local", "warehouse", "results"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    # for the short-lived launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"
    # the benchmark pins the local (block-manager) checkpoint path
    os.environ.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
    tempfile.tempdir = str(WORK / "tmp")


def measure(wl, seconds: float, trace: bool) -> dict:
    """Set-up plus the measured passes of one run, with the JVM stopped
    on every exit path."""
    cores = nproc()
    sampler = RssSampler()
    sampler.start()
    passes: list[dict] = []
    tracer = None
    spark = None

    def run_pass(kind: str, tracer=None) -> dict:
        """One pass; its wall is the sum of its operations' timed parts
        (the reference checks run untimed between them)."""
        before = cpu_jiffies()
        ops = wl.run_pass(spark, tracer)
        passes.append({"kind": kind, "wall_s": sum(o.seconds for o in ops),
                       "steal_share": steal_share(before, cpu_jiffies()),
                       "ops": [{"name": o.name, "seconds": o.seconds, "ok": o.ok,
                                **o.detail} for o in ops]})
        return passes[-1]

    try:
        t0 = time.perf_counter()
        spark = start_spark(cores)
        session_s = time.perf_counter() - t0
        setup_s = session_s + run_pass("cold")["wall_s"]
        box = box_state(spark, cores)
        sampler.reset()
        t_measure = time.perf_counter()
        if trace:
            from spans import Tracer, read_jobs

            tracer = Tracer(spark.sparkContext)
            first_job = spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()
            # untraced, traced, traced, untraced: passes still speed up
            # as the JIT warms, and this order cancels a linear drift
            # out of the tracing overhead
            for kind in ("untraced", "traced", "traced", "untraced"):
                if kind == "untraced":
                    run_pass(kind)
                    continue
                tracer.install()
                try:
                    run_pass(kind, tracer)
                finally:
                    tracer.uninstall()
        else:
            for _ in range(warm_passes(seconds)):
                run_pass("warm")
        measure_s = time.perf_counter() - t_measure
        peak = sampler.peak
        jobs = read_jobs(spark.sparkContext, first_job) if trace else []
        wl.probe_notes(spark)
    finally:
        if spark is not None:
            stop_spark(spark)
        sampler.stop()
    return {
        "box": box, "session_s": session_s, "setup_s": setup_s,
        "measure_s": measure_s, "peak_rss": peak, "passes": passes,
        "tracer": tracer, "jobs": jobs,
    }


def op_spreads(passes: list[dict]) -> dict:
    """Per operation: [min, median, max] of its measured walls."""
    walls: dict[str, list[float]] = {}
    for p in passes:
        if p["kind"] != "cold":
            for o in p["ops"]:
                walls.setdefault(o["name"], []).append(o["seconds"])
    return {k: [min(v), statistics.median(v), max(v)] for k, v in walls.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import voter_gateway_spark  # noqa: F401  (the program under test)
    except ImportError as exc:
        print(f"perfbench: engine package not found under {ROOT}: {exc}", file=sys.stderr)
        return 2
    import gen
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    isolate_scratch()
    load_before = os.getloadavg()
    t_prep = time.perf_counter()
    input_dir, manifest = gen.ensure_inputs(args.workload, args.seed, WORK / "inputs")
    run_dir = WORK / "run" / f"{args.workload}-seed{args.seed}"
    run_dir.mkdir(parents=True, exist_ok=True)
    wl = WORKLOADS[args.workload](input_dir, manifest, run_dir)
    wl.prepare()
    prepare_s = time.perf_counter() - t_prep

    r = measure(wl, args.seconds, bool(args.trace))
    attempted = sum(len(p["ops"]) for p in r["passes"])
    failed = sum(not o["ok"] for p in r["passes"] for o in p["ops"])
    if args.trace:
        from spans import layer_metrics, op_counts

        traced = walls_of(r["passes"], "traced")
        metrics = layer_metrics(r["tracer"].spans, r["jobs"], len(traced), sum(traced))
        metrics.update(ratio_metrics(wl.stats, manifest, walls_of(r["passes"], "untraced"),
                                     traced, attempted, failed))
    else:
        metrics = e2e_metrics(walls_of(r["passes"], "warm"), wl.input_rows,
                              r["setup_s"], r["peak_rss"])
    units = declared_units()["per_layer" if args.trace else "end_to_end"]

    stamp = time.strftime("%Y%m%dT%H%M%S")
    out = WORK / "results" / f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json"
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "box": r["box"],
        "load_before": load_before, "load_after": os.getloadavg(),
        "inputs": {k: manifest[k] for k in ("files", "sizes", "truth")},
        "input_rows": wl.input_rows, "prepare_s": prepare_s,
        "session_s": r["session_s"], "setup_s": r["setup_s"],
        "measure_s": r["measure_s"], "peak_rss_mb": r["peak_rss"] / (1024 * 1024),
        "notes": wl.notes, "op_wall_spread_s": op_spreads(r["passes"]),
        "passes": r["passes"], "metrics": metrics,
    }
    if args.trace:
        spans_path = out.with_suffix(".spans.jsonl")
        spans_path.write_text("".join(json.dumps(s) + "\n" for s in r["tracer"].dump()))
        detail["spans_file"] = spans_path.name
        detail["op_count_spread"] = op_counts(r["tracer"].spans, r["jobs"])
        detail["jobs"] = [vars(j) for j in r["jobs"]]
    out.write_text(json.dumps(detail, indent=1))

    for name in sorted(metrics):
        print(f"{args.workload} {name} = {metrics[name]:.6g} {units[name]}", file=sys.stderr)
    print(f"{args.workload} fail_ratio = {failed}/{attempted}  detail: {out}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

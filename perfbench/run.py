"""KG-construction benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke        # every workload at minimal size
    python3 perfbench/run.py --describe     # workloads, metrics, what moves what
    python3 perfbench/run.py --write-spec   # regenerate BENCHMARK.json

A run prints its metrics by name and unit, its output checks and its
host stamp, then, as the last line of standard output, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.  Every run
is also appended to ``.perfbench/runs.jsonl``; traced runs write their
spans under ``.perfbench/spans/``.  All files a run writes stay under
``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "usc_ds_relationextraction_spark"

import spec  # noqa: E402  (HERE is sys.path[0])


def _env() -> None:
    """Python workers import the package from the repository root; Spark,
    JVM and Python temporary files go under the run's work directory."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    work = os.path.join(ROOT, ".perfbench", "work")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM spark-submit starts, its launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"


def units(trace: bool) -> dict[str, str]:
    """Name and unit of each metric the last line reports."""
    names = spec.LAYER_METRICS if trace else spec.END_TO_END
    return {n[0]: spec.UNITS[n[0]] for n in names}


def run_one(args) -> int:
    _env()
    import tempfile
    from workloads import Run
    r = Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace),
            args.size == "smoke")
    tempfile.tempdir = os.environ["TMPDIR"]
    try:
        r.run()
    except Exception:
        print(f"run failed: attempted {r.attempted}, failed "
              f"{max(r.failed, 1)}", file=sys.stderr)
        for e in r.errors:
            print("  " + e, file=sys.stderr)
        raise
    wanted = units(bool(args.trace))
    runs_path = os.path.join(ROOT, ".perfbench", "runs.jsonl")
    earlier = records(runs_path)
    if args.trace:
        r.extra["trace_overhead_s"] = tracing_overhead(
            earlier, args, r.metrics["trace.wall_s"])
    # a canary 25% slower than this checkout's usual marks a slow host
    # phase; such runs are flagged and kept
    canaries = [rec["canary_s"] for rec in earlier]
    r.extra["slow_host"] = len(canaries) >= 5 and \
        r.extra["canary_s"] > 1.25 * statistics.median(canaries)
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"turns={r.extra['n_turns']}")
    for name, value in r.metrics.items():
        print(f"{name:42s} {value:>16.6g} {spec.UNITS[name]}")
    print("set-up: session starts {starts} s, input preparation "
          "{setup_prep_s:.3f} s, warm-up {setup_warm_up_s:.3f} s".format(
              starts=", ".join(f"{x:.3f}" for x in
                               r.extra["session_starts_s"]), **r.extra))
    if not args.trace and "commit_tail_s" not in r.metrics \
            and "commit_samples_s" in r.extra:
        print(f"commit_tail_s: absent, {len(r.extra['commit_samples_s'])} "
              "commits leave no percentile above p50 with ten beyond it")
    if args.trace:
        ov = r.extra["trace_overhead_s"]
        print("tracing overhead (trace.wall_s - untraced wall_s): "
              + (f"{ov:.3f} s" if ov is not None else
                 "no untraced run of this workload recorded here"))
    for name, ok in r.checks.items():
        print(f"check {name}: {'pass' if ok else 'FAIL'}")
    for e in r.errors:
        print("error " + e)
    print(f"host nproc={r.extra['nproc']} load_before="
          f"{r.extra['load_before']:.2f} load_peak={r.extra['load_peak']:.2f}"
          f" steal={r.extra['steal_frac']:.1%}"
          f" canary_s={r.extra['canary_s']:.3f} contended="
          f"{r.extra['contended']} slow_host={r.extra['slow_host']}")

    record = {"run_id": r.run_id, "workload": args.workload,
              "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "size": args.size,
              "time": time.time(), "metrics": r.metrics,
              "checks": r.checks, "attempted": r.attempted,
              "failed": r.failed, **r.extra}
    with open(runs_path, "a") as fh:
        fh.write(json.dumps(record) + "\n")

    missing = [n for n in wanted if not _finite(r.metrics.get(n))]
    if missing:
        print(f"metrics missing: {missing}", file=sys.stderr)
        return 1
    out = {"correct": r.failed == 0 and all(r.checks.values()),
           "attempted": r.attempted, "failed": r.failed,
           "metrics": {n: {"value": float(r.metrics[n]), "unit": u}
                       for n, u in wanted.items()}}
    print(json.dumps(out))
    return 0


def records(runs_path: str) -> list[dict]:
    """Every earlier run recorded in this checkout."""
    if not os.path.exists(runs_path):
        return []
    with open(runs_path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def tracing_overhead(earlier: list[dict], args, traced_wall: float):
    """``trace.wall_s`` minus the median untraced ``wall_s`` of the same
    workload and size recorded in this checkout (same seed if there are
    such runs), or None without any."""
    walls: dict[bool, list[float]] = {True: [], False: []}
    for rec in earlier:
        if (rec["workload"], rec["size"], rec["trace"]) == \
                (args.workload, args.size, 0):
            walls[rec["seed"] == args.seed].append(rec["metrics"]["wall_s"])
    ref = walls[True] or walls[False]
    return traced_wall - statistics.median(ref) if ref else None


def _finite(v) -> bool:
    return isinstance(v, (int, float)) and math.isfinite(v)


def smoke() -> int:
    """Every workload, untraced and traced, at minimal size: every named
    metric present with its unit and every output check passing."""
    problems = []
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        if json.load(fh) != spec.benchmark_json():
            problems.append("BENCHMARK.json differs from perfbench/spec.py")
    for wl in spec.WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"),
                   "--workload", wl, "--seed", "1", "--seconds", "1",
                   "--trace", str(trace), "--size", "smoke"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            sys.stdout.write(p.stdout)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                problems.append(f"{wl} trace={trace}: exit {p.returncode}: "
                                f"{p.stderr[-2000:]}")
                continue
            res = json.loads(lines[-1])
            if not res["correct"] or res["failed"]:
                problems.append(f"{wl} trace={trace}: checks failed")
            want = units(bool(trace))
            got = {n: m["unit"] for n, m in res["metrics"].items()}
            if got != want:
                problems.append(f"{wl} trace={trace}: metrics/units differ: "
                                f"{sorted(set(want) ^ set(got))}")
    for p in problems:
        print("SMOKE FAIL " + p)
    print("smoke " + ("FAILED" if problems else "passed"))
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(spec.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--describe", action="store_true")
    ap.add_argument("--write-spec", action="store_true")
    args = ap.parse_args()
    if args.describe:
        print(spec.describe())
        return 0
    if args.write_spec:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as fh:
            json.dump(spec.benchmark_json(), fh, indent=2)
            fh.write("\n")
        return 0
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE} is not in {ROOT}: nothing to benchmark",
              file=sys.stderr)
        return 2
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())

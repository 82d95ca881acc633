"""Benchmark of the engine's streaming hot path, warm queries and cold
index builds.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0

Run from the repository root. Workloads: hot_path_replay, query_mix,
index_build_cold (see workloads.py). With `--trace 0` the last stdout line
is one JSON object with the end-to-end metrics (setup_s, pass_s,
op_p50_ms, op_p90_ms, pass_cpu_s); with `--trace 1` it carries the
per-layer metrics, and the spans go to `.perfbench/trace-<workload>-<seed>.json`.
`correct` is true only if no op failed and every result matched its
DuckDB oracle.

All inputs are generated inside the run's work dir under `.perfbench/`;
the run reads and writes nothing outside the repository.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
#: a run still going after this many seconds is aborted (non-zero exit,
#: no result line)
DEADLINE_S = 170


class Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def _baseline_path(workload: str, seconds: int) -> str:
    return os.path.join(STATE, f"baseline-{workload}-{seconds}s.json")


def _untraced_pass_s(args) -> float:
    """pass_s of the latest untraced run of this workload in this checkout;
    runs one if there is none."""
    path = _baseline_path(args.workload, args.seconds)
    if not os.path.exists(path):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        subprocess.run(cmd, stdout=subprocess.DEVNULL, check=True, timeout=DEADLINE_S)
    with open(path) as f:
        return json.load(f)["pass_s"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "kol_bigdata_realtime_analytics_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import harness
    import workloads
    from tracing import Spans

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    baseline_s = _untraced_pass_s(args) if args.trace else None

    work = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    harness.prepare_env(ROOT, work)
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S - int(time.perf_counter() - T_START))
    run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace),
                        ROOT, work, T_START, spans=Spans(args.workload))
    try:
        try:
            workloads.WORKLOADS[args.workload][0](run)
        finally:
            if run.spark is not None:
                harness.stop_session(run.spark)
            signal.alarm(0)
        if args.trace:
            workloads.finish_trace(run)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        run.spans.write(os.path.join(STATE, f"trace-{args.workload}-{args.seed}.json"))
        run.layer["trace.overhead_pct"] = (run.e2e["pass_s"] / baseline_s - 1.0) * 100.0
        units = workloads.LAYER_UNITS
    else:
        with open(_baseline_path(args.workload, args.seconds), "w") as f:
            json.dump({"pass_s": run.e2e["pass_s"], "seed": args.seed}, f)
        run.e2e["setup_s"] = run.setup_s
        units = workloads.E2E_UNITS
    values = run.layer if args.trace else run.e2e
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}

    for err in run.errors:
        print(f"failed: {err}", file=sys.stderr)
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

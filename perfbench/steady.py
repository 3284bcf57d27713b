"""Steadiness tool: run one workload repeatedly and report the spread.

    python3 perfbench/steady.py --workload fleet_tail --runs 10 --seconds 10

Runs ``perfbench/run.py --trace 0`` once per seed (``--seed0``,
``--seed0 + 1``, ...), one after another, from the checkout root. For every metric it prints the
median, the quartiles (``statistics.quantiles(n=4)``), the quartile spread as
a share of the median, and the medians of the first and second half of the
runs, so a drift between halves shows. ``setup_s`` is also broken into its
parts: session start, workload state, warm-up ops; input generation and the
whole run's wall time are printed for information.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def one(workload: str, seed: int, seconds: float) -> tuple[dict, dict, float]:
    cmd = [
        sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run failed: seed {seed}, exit {p.returncode}")
    info = next(json.loads(x[5:]) for x in lines if x.startswith("INFO "))
    return json.loads(lines[-1]), info, wall


def summarize(name: str, values: list[float]) -> str:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    half = len(values) // 2
    h1 = statistics.median(values[:half]) if half else med
    h2 = statistics.median(values[half:])
    spread = (q3 - q1) / med if med else 0.0
    drift = (h2 - h1) / h1 if h1 else 0.0
    return (
        f"{name:<38} {med:>12.4f} {q1:>12.4f} {q3:>12.4f} {spread:>8.3f} "
        f"{h1:>12.4f} {h2:>12.4f} {drift:>+8.3f}"
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    args = ap.parse_args(argv)

    metrics: dict = {}
    parts: dict = {}
    for i in range(args.runs):
        seed = args.seed0 + i
        res, info, wall = one(args.workload, seed, args.seconds)
        for k, v in res["metrics"].items():
            metrics.setdefault(k, []).append(v["value"])
        state_s = res["metrics"]["setup_s"]["value"] - info["session_start_s"] - info["warmup_s"]
        for k, v in (
            ("session_start_s", info["session_start_s"]), ("state_s", state_s),
            ("warmup_s", info["warmup_s"]), ("gen_s", info["gen_s"]), ("run_wall_s", wall),
        ):
            parts.setdefault(k, []).append(v)
        print(
            f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
            f"failed={res['failed']} samples={info['samples']} wall={wall:.1f}s "
            f"latencies={info['latencies_s']}",
            flush=True,
        )
    head = (
        f"{'metric':<38} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} "
        f"{'half1':>12} {'half2':>12} {'drift':>8}"
    )
    print(head)
    for k, v in metrics.items():
        print(summarize(k, v))
    print("setup parts and run wall (information only)")
    for k, v in parts.items():
        print(summarize(k, v))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Run one workload on several seeds and report each metric's median and
quartile spread, the check a benchmark change must pass before it lands.

    python3 perfbench/spread.py --workload olap_mix --seeds 1-10 --seconds 15
    python3 perfbench/spread.py --workload etl_merge --seeds 1-5 --seconds 15 --trace 1

Each run is a fresh ``run.py`` process, one after the other. The spread
is (Q3 - Q1) / median with quartiles from ``statistics.quantiles(n=4)``.
With ``--trace 1`` it also runs each seed untraced and reports the
tracing overhead: the relative drop of ``ops_per_s`` in the traced run.
Raw result lines are appended to ``perfbench/_work/spread.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def _run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float]:
    t = time.time()
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=HERE.parent, capture_output=True, text=True, timeout=600,
    )
    wall = time.time() - t
    if proc.returncode != 0:
        raise SystemExit(f"seed {seed} exited {proc.returncode}:\n{proc.stdout[-2000:]}{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1]), wall


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    log = HERE / "_work" / "spread.jsonl"
    log.parent.mkdir(parents=True, exist_ok=True)
    values: dict[str, list[float]] = {}
    walls, overhead = [], []
    for seed in _seeds(args.seeds):
        res, wall = _run(args.workload, seed, args.seconds, args.trace)
        walls.append(wall)
        with log.open("a") as fh:
            fh.write(json.dumps({"workload": args.workload, "seed": seed, "trace": args.trace,
                                 "wall_s": wall, "result": res}) + "\n")
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        if args.trace:
            plain, _ = _run(args.workload, seed, args.seconds, 0)
            base = plain["metrics"]["ops_per_s"]["value"]
            overhead.append((base - res["metrics"]["trace.ops_per_s"]["value"]) / base)
        print(f"seed {seed}: {wall:.1f} s wall, correct={res['correct']}", flush=True)

    print(f"{'metric':40s} {'median':>12s} {'spread':>8s}")
    for name, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = f"{(q3 - q1) / abs(med):8.3f}"
        else:
            spread = f"{'-':>8s}"
        print(f"{name:40s} {med:12.6g} {spread}")
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    if overhead:
        print(f"tracing overhead on ops_per_s: median {statistics.median(overhead):.3f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

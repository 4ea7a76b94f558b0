#!/usr/bin/env python3
"""Run workloads over several seeds and print every metric per workload
by name and unit, with its median and run-to-run spread.

    python3 perfbench/sweep.py                         # all workloads, seed 1
    python3 perfbench/sweep.py --seeds 1-10            # the steadiness check
    python3 perfbench/sweep.py --workloads fused_pipeline --seeds 1-5 --trace 1

Each (workload, seed) is one ``run.py`` process, as a single
benchmark run is made. The spread is (Q3 - Q1) / median over the runs, as
``statistics.quantiles(n=4)`` gives the quartiles; with --against, the
medians are also compared with an earlier summary. Summaries are
written under ``.perfbench/sweeps/``.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench.telemetry import median, quartile_spread  # noqa: E402


def seed_list(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    wall = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    result = json.loads(lines[-1])
    result["run_wall_s"] = wall
    for line in lines:
        if line.startswith("CHECK FAILED"):
            print(f"  {workload} seed {seed}: {line}")
        elif line.startswith(("-- pass walls", "-- host steal")):
            result.setdefault("notes", []).append(line[3:])
    return result


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--against", type=Path, help="earlier summary to compare medians with")
    args = ap.parse_args()

    bounds = {m["name"]: m for m in bench["end_to_end"]}
    lower_better = {m["name"]: m["better"] == "lower" for m in bench["end_to_end"] + bench["per_layer"]}
    before = json.loads(args.against.read_text())["medians"] if args.against else {}
    summary = {"seeds": seed_list(args.seeds), "trace": args.trace, "runs": {}, "medians": {}}
    worst = 0.0
    for wname in args.workloads.split(","):
        runs = []
        for seed in summary["seeds"]:
            r = run_one(wname, seed, args.seconds, args.trace)
            runs.append(r)
            print(f"  {wname} seed {seed}: {r['run_wall_s']:.1f} s, correct={r['correct']} "
                  f"failed {r['failed']}/{r['attempted']}; " + "; ".join(r.get("notes", [])),
                  flush=True)
        summary["runs"][wname] = runs
        attempted = sum(r["attempted"] for r in runs)
        failed = sum(r["failed"] for r in runs)
        print(f"== {wname}: {len(runs)} runs, run wall median "
              f"{median(r['run_wall_s'] for r in runs):.1f} s, error_rate "
              f"{failed / attempted:.6g} ({failed}/{attempted})")
        print(f"   {'metric':34s} {'unit':>10s} {'median':>12s} {'spread':>8s} {'bound':>6s} {'drift':>8s}")
        meds = summary["medians"].setdefault(wname, {})
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            unit = runs[0]["metrics"][name]["unit"]
            med = meds[name] = median(vals)
            spread = quartile_spread(vals) if len(vals) >= 2 and med else 0.0
            bound = bounds.get(name, {}).get("bound")
            drift = ""
            old = before.get(wname, {}).get(name)
            if old:
                d = (med - old) / old * (1 if lower_better.get(name, True) else -1)
                drift = f"{d:+.4f}"
            if bound and name != "setup_s":
                worst = max(worst, spread / bound)
            print(f"   {name:34s} {unit:>10s} {med:12.6g} {spread:8.4f} "
                  f"{bound if bound is not None else '':>6} {drift:>8s}")
    if args.trace == 0:
        print(f"largest spread / bound (setup_s excluded): {worst:.3f}")
    out = ROOT / ".perfbench" / "sweeps"
    out.mkdir(parents=True, exist_ok=True)
    path = out / f"sweep-{time.strftime('%Y%m%d-%H%M%S')}.json"
    path.write_text(json.dumps(summary, indent=1))
    print(f"summary: {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Steadiness mode: two sets of five runs of one workload, compared.

Each run is a fresh process with its own seed (set ``s``, run ``i`` uses
``seed + s * RUNS + i``). For every end-to-end metric, and for the
per-kind figures of the ``detail:`` line, it prints each set's median and
quartiles, the spread (quartile distance over median) of all runs, and
how much worse the second set's median is than the first's, against the
metric's bound in BENCHMARK.json. A metric whose spread or shift exceeds
its bound is marked ``OVER``. ``pooled_p50_ms`` (one median over all
request kinds) is printed beside ``latency_p50_ms`` to show why this
benchmark takes medians per kind.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETS = 2
RUNS = 5  # per set


def _flatten(detail: dict) -> dict[str, float]:
    out = {f"kind.{k}.p50_ms": v["p50_ms"] for k, v in detail.get("kinds", {}).items()}
    for key, value in detail.items():
        if isinstance(value, (int, float)) and not isinstance(value, bool) and key not in ("seed", "incorrect"):
            out[key] = float(value)
    return out


def one_run(args, root: str, seed: int) -> tuple[dict, dict, float]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload, "--seed", str(seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(
            f"run with seed {seed} exited {proc.returncode}:\n{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}"
        )
    result = json.loads(lines[-1])
    detail = next((json.loads(line[len("detail: "):]) for line in lines if line.startswith("detail: ")), {})
    if not result["correct"] or result["failed"]:
        raise SystemExit(f"run with seed {seed}: correct={result['correct']} failed={result['failed']}")
    values = {name: m["value"] for name, m in result["metrics"].items()}
    return values, _flatten(detail), wall


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main(args, root: str) -> int:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    sets: list[list[dict]] = []
    walls = []
    for s in range(SETS):
        runs = []
        for i in range(RUNS):
            seed = args.seed + s * RUNS + i
            values, detail, wall = one_run(args, root, seed)
            walls.append(wall)
            runs.append({**values, **{f"detail.{k}": v for k, v in detail.items()}})
            shown = ", ".join(f"{k}={v:.4g}" for k, v in values.items())
            shown += f", yardstick={detail.get('yardstick_cal2_s', 0):.3g}"
            print(f"set {s} seed {seed}: {wall:.1f} s wall; {shown}", flush=True)
        sets.append(runs)

    print(f"\nworkload {args.workload}: {SETS} sets x {RUNS} runs, "
          f"wall per run median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    header = f"{'metric':52} {'bound':>6} {'spread':>7} {'shift':>7}  per-set median [q1, q3]"
    print(header)
    summary = {}
    for name in sets[0][0]:
        per_set = [[run[name] for run in runs if name in run] for runs in sets]
        everything = [v for values in per_set for v in values]
        q1, med, q3 = _quartiles(everything)
        spread = (q3 - q1) / med if med else 0.0
        medians = [statistics.median(v) for v in per_set]
        better = spec.get(name, {}).get("better", "lower")
        shift = (medians[1] - medians[0]) / medians[0] if medians[0] else 0.0
        worse = shift if better == "lower" else -shift
        bound = spec.get(name, {}).get("bound")
        sets_text = "  ".join(
            f"{statistics.median(v):.4g} [{_quartiles(v)[0]:.4g}, {_quartiles(v)[2]:.4g}]" for v in per_set
        )
        flag = ""
        if bound is not None:
            flag = " ok" if (worse <= bound and spread <= bound) else " OVER"
        bound_text = f"{bound:.2f}" if bound is not None else "-"
        print(f"{name:52} {bound_text:>6} {spread:7.3f} {worse:+7.3f}  {sets_text}{flag}")
        summary[name] = {"spread": spread, "worse_shift": worse, "set_medians": medians, "bound": bound}
    print("summary: " + json.dumps(summary))
    return 0

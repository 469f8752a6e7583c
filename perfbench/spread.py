#!/usr/bin/env python3
"""Runs the benchmark once per seed and reports, for every end-to-end
metric, the median and the interquartile range as a share of the median
(`statistics.quantiles(values, n=4)`), beside the metric's bound.

    python3 perfbench/spread.py --workloads plan_heavy corpus_ops --seeds 10

With `--overhead` each seed also gets a traced run, and the tracing
overhead against the untraced run is printed: the sum over operation
kinds of the traced cycles' medians, over the same sum in the untraced
run, less one.

Records land in `.bench_build/spread/<workload>.jsonl`, one line a run.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    """One run's stamp and result; exits on a failed run."""
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        print(f"{workload} seed {seed} trace {trace}: exit {p.returncode}\n"
              f"{p.stderr[-2000:]}")
        sys.exit(1)
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def kind_sum(per_kind):
    return sum(k["p50_ms"] for k in per_kind.values())


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+",
                    default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    out_dir = os.path.join(ROOT, ".bench_build", "spread")
    os.makedirs(out_dir, exist_ok=True)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    worst = 0.0
    for w in a.workloads:
        runs, overheads = [], []
        path = os.path.join(out_dir, f"{w}.jsonl")
        with open(path, "w") as log:
            for seed in range(a.first_seed, a.first_seed + a.seeds):
                stamp, result = run(w, seed, a.seconds, 0)
                log.write(json.dumps({"seed": seed, "stamp": stamp,
                                      "result": result}) + "\n")
                log.flush()
                runs.append(result)
                line = " ".join(f"{k}={v['value']:.4g}"
                                for k, v in result["metrics"].items())
                if a.overhead:
                    tstamp, _ = run(w, seed, a.seconds, 1)
                    plain = kind_sum(stamp["stamp"]["per_kind"])
                    traced = kind_sum(tstamp["stamp"]["per_kind_traced"])
                    overheads.append(100 * (traced / plain - 1))
                    line += f" trace_overhead_pct={overheads[-1]:.3g}"
                print(f"{w} seed {seed}: correct={result['correct']} {line}",
                      flush=True)
        if overheads:
            print(f"\n{w}: tracing overhead against the untraced run, "
                  f"median {statistics.median(overheads):.3g}%")
        print(f"\n{w}: {sum(r['correct'] for r in runs)}/{len(runs)} correct")
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            q1, q2, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / q2 if q2 else float("inf")
            if name != "setup_s":
                worst = max(worst, spread / bound)
            flag = "ok" if spread < bound / 3 else ("WITHIN" if spread < bound else "OVER")
            print(f"  {name:16s} median {q2:12.5g}  spread {spread:6.3f}  "
                  f"bound {bound:5.2f}  {flag}")
    print(f"\nworst spread/bound (setup_s excluded): {worst:.2f}")


if __name__ == "__main__":
    main()

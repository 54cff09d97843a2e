"""Run one workload k times, each with its own seed, and print the spread
of every end-to-end metric: median, quartiles, min/max and the
interquartile range as a share of the median. These figures are the
evidence behind the bounds in BENCHMARK.json.

    python3 perfbench/stability.py --workload bi_dashboard --runs 10
    python3 perfbench/stability.py --workload corpus_pipeline --runs 5 --first-seed 100

With ``--traced`` it also makes one traced run on the first seed and
prints the tracing overhead: the traced run's median pass time minus
the untraced runs' median pass time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"run failed (exit {proc.returncode}):\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    for line in lines[:-1]:
        if line.startswith('{"provenance"'):
            steal = json.loads(line)["provenance"]["cpu_steal_share"]
            print(f"    cpu steal share {steal:.3f}")
        elif not line.startswith("{"):
            print("   ", line)
    return json.loads(lines[-1])


def spread(values: list[float]) -> dict[str, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "min": min(values), "max": max(values),
            "iqr_share": (q3 - q1) / med if med else float("nan")}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=None,
                   help="run length (default: run_seconds from BENCHMARK.json)")
    p.add_argument("--traced", action="store_true")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    failed = attempted = 0
    for i in range(args.runs):
        seed = args.first_seed + i
        res = run_once(args.workload, seed, seconds, 0)
        failed += res["failed"]
        attempted += res["attempted"]
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
            units[k] = v["unit"]
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
    print(f"\n{args.workload}: {args.runs} runs, {attempted} checked operations, {failed} failed")
    print(f"{'metric':14s} {'unit':7s} {'median':>10s} {'q1':>10s} {'q3':>10s} "
          f"{'min':>10s} {'max':>10s} {'iqr/med':>8s} {'bound':>6s}")
    for k, vs in values.items():
        s = spread(vs)
        print(f"{k:14s} {units[k]:7s} {s['median']:10.4g} {s['q1']:10.4g} {s['q3']:10.4g} "
              f"{s['min']:10.4g} {s['max']:10.4g} {s['iqr_share']:8.3f} {bounds.get(k, float('nan')):6.2f}")
    if args.traced:
        res = run_once(args.workload, args.first_seed, seconds, 1)
        traced = res["metrics"]["trace.pass_s"]["value"]
        base = statistics.median(values["pass_s"])
        print(f"\ntracing overhead: traced pass {traced:.3f} s - untraced median {base:.3f} s "
              f"= {traced - base:+.3f} s ({(traced - base) / base:+.1%})")
        print(f"in-run overhead (traced minus one untraced pass): "
              f"{res['metrics']['trace.overhead_s']['value']:+.3f} s")
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

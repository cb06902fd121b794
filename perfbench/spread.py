"""Run one workload over several seeds and report each metric's median
and spread (interquartile range over median), optionally against an
earlier set of runs.

    python3 perfbench/spread.py --workload serve --seeds 1-10 --seconds 35
    python3 perfbench/spread.py --workload serve --seeds 11-20 --seconds 35 \\
        --against .perfbench_work/spread/serve-t0-1-10.json

Runs go one after another, each as its own process, from the
repository root. Sets taken at different core counts are not compared.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(values: dict[str, list[float]]) -> dict[str, dict]:
    out = {}
    for k, xs in values.items():
        q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
        out[k] = {"median": med, "q1": q1, "q3": q3,
                  "spread": (q3 - q1) / med if med else 0.0, "values": xs}
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,4,7")
    ap.add_argument("--seconds", default="35")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--against", help="summary JSON of an earlier set")
    args = ap.parse_args(argv)

    values: dict[str, list[float]] = {}
    nprocs = set()
    for seed in seeds(args.seeds):
        cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
               "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, capture_output=True, text=True)
        wall = time.perf_counter() - t0
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        if proc.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(last)
        with open(os.path.join(".perfbench_work", "results",
                               f"{args.workload}-s{seed}-t{args.trace}.json")) as f:
            nprocs.add(json.load(f)["environment"]["nproc"])
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed} ({wall:.0f} s): "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
    if len(nprocs) != 1:
        print(f"runs saw different core counts {sorted(nprocs)}", file=sys.stderr)
        return 1
    summary = {"workload": args.workload, "nproc": nprocs.pop(), "seconds": args.seconds,
               "trace": args.trace, "metrics": summarize(values)}
    os.makedirs(os.path.join(".perfbench_work", "spread"), exist_ok=True)
    path = os.path.join(".perfbench_work", "spread",
                        f"{args.workload}-t{args.trace}-{args.seeds.replace(',', '_')}.json")
    with open(path, "w") as f:
        json.dump(summary, f, indent=1)
    base = None
    if args.against:
        with open(args.against) as f:
            base = json.load(f)
        if base["nproc"] != summary["nproc"]:
            print(f"refusing to compare: {base['nproc']} cores against {summary['nproc']}",
                  file=sys.stderr)
            return 1
    print(f"{'metric':<34}{'median':>12}{'spread':>9}" + ("  vs earlier" if base else ""))
    for k, m in summary["metrics"].items():
        line = f"{k:<34}{m['median']:>12.5g}{m['spread']:>9.3f}"
        if base and k in base["metrics"] and base["metrics"][k]["median"]:
            line += f"  {m['median'] / base['metrics'][k]['median']:.3f}x"
        print(line)
    print(f"summary: {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

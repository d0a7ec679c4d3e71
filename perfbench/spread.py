"""Run the benchmark over several seeds and report each end-to-end metric's
median and quartile spread (IQR ÷ median, from ``statistics.quantiles(n=4)``)
against the bound in ``BENCHMARK.json``.

    python3 perfbench/spread.py --workloads passthrough,payload_decode --seeds 1-10 [--out DIR]

Runs are interleaved, one seed at a time across the workloads, so that a
drift of the host over the whole measurement shows as spread in every
workload rather than shifting one workload's median.  A spread above a
third of the bound is flagged.  ``--out`` writes ``DIR/<workload>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(runs: list, bounds: dict) -> dict:
    summary = {}
    for name in runs[0]["result"]["metrics"]:
        values = [r["result"]["metrics"][name]["value"] for r in runs]
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        summary[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                         "unit": runs[0]["result"]["metrics"][name]["unit"]}
        bound = bounds[name]
        flag = "  WIDE" if spread >= bound / 3 else ""
        print(f"{name:28s} median {med:12.6g}  spread {spread:7.4f}  bound {bound}{flag}")
    return summary


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", required=True, type=lambda t: t.split(","))
    p.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    p.add_argument("--out", default=None, help="directory for <workload>.json")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    runs = {w: [] for w in args.workloads}
    for seed in args.seeds:
        for workload in args.workloads:
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", workload,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{workload} seed {seed}: exit {proc.returncode}")
                return 1
            record = next((json.loads(l[len("record "):]) for l in lines
                           if l.startswith("record ")), None)
            runs[workload].append({"seed": seed, "result": json.loads(lines[-1]),
                                   "record": record})
            print(f"{workload} seed {seed}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in runs[workload][-1]["result"]["metrics"].items()),
                flush=True)

    ok = True
    for workload, wruns in runs.items():
        print(f"== {workload}")
        summary = summarize(wruns, bounds)
        ok &= all(r["result"]["correct"] for r in wruns)
        if args.out:
            with open(os.path.join(args.out, f"{workload}.json"), "w") as f:
                json.dump({"workload": workload, "seeds": args.seeds,
                           "run_seconds": spec["run_seconds"], "summary": summary,
                           "runs": wruns}, f, indent=1)
    print(f"all correct: {ok}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

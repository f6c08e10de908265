#!/usr/bin/env python3
"""Run a set of benchmark runs and summarize, or compare two sets.

    python3 perfbench/sets.py run --seeds 0-9 --out set1.json
    python3 perfbench/sets.py run --seeds 10-19 --workload curation \\
        --out set2.json
    python3 perfbench/sets.py compare set1.json set2.json

``run`` calls ``perfbench/run.py`` once per workload and seed (untraced
unless ``--trace 1``) and prints, for every metric, the median over the
seeds and the spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median.
``compare`` checks that no end-to-end metric's median in the second set is
worse than in the first by more than the metric's bound in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

from summary import median, spread

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_set(spec: dict, workloads: list[str], seeds: list[int],
            trace: int) -> dict:
    out: dict = {w: {"runs": []} for w in workloads}
    for w in workloads:
        for seed in seeds:
            cmd = spec["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                                  text=True, check=False)
            if proc.returncode != 0:
                sys.stderr.write(proc.stderr[-2000:])
                raise SystemExit(f"{w} seed {seed}: exit {proc.returncode}")
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            out[w]["runs"].append({"seed": seed, **res})
            print(f"{w} seed {seed}: correct={res['correct']} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                if trace == 0), flush=True)
    return out


def summarize(result: dict) -> None:
    for w, data in result.items():
        runs = data["runs"]
        print(f"== {w}: {len(runs)} runs, "
              f"{sum(not r['correct'] for r in runs)} incorrect")
        for name in runs[0]["metrics"]:
            values = [r["metrics"][name]["value"] for r in runs]
            unit = runs[0]["metrics"][name]["unit"]
            if any(values):
                print(f"  {name:34s} median {median(values):12.5g} {unit:7s}"
                      f" spread {spread(values):.3f}")


def compare(spec: dict, first: dict, second: dict) -> bool:
    ok = True
    for m in spec["end_to_end"]:
        for w in first:
            a = median([r["metrics"][m["name"]]["value"]
                        for r in first[w]["runs"]])
            b = median([r["metrics"][m["name"]]["value"]
                        for r in second[w]["runs"]])
            worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
            good = worse <= m["bound"]
            ok &= good
            print(f"{w:14s} {m['name']:12s} {a:10.4g} -> {b:10.4g} "
                  f"worse by {worse:+.3f} (bound {m['bound']}) "
                  f"{'ok' if good else 'REGRESSION'}")
    return ok


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    r = sub.add_parser("run")
    r.add_argument("--seeds", default="0-9")
    r.add_argument("--workload", action="append",
                   help="default: every workload of BENCHMARK.json")
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--out", required=True)
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    args = ap.parse_args()
    if args.mode == "run":
        workloads = args.workload or [w["name"] for w in spec["workloads"]]
        result = run_set(spec, workloads, seeds_of(args.seeds), args.trace)
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1)
        summarize(result)
        return 0
    with open(args.first) as f:
        first = json.load(f)
    with open(args.second) as f:
        second = json.load(f)
    return 0 if compare(spec, first, second) else 1


if __name__ == "__main__":
    sys.exit(main())

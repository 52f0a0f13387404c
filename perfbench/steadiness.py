#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/steadiness.py run --workloads sync_lifecycle corpus_curation \
        --seeds 101 102 103 104 105 106 107 108 109 110 --seconds 20 --out set1.json
    python3 perfbench/steadiness.py compare set1.json set2.json --out perfbench/steadiness.json

`run` runs every seed of every workload untraced and prints, for each
workload and end-to-end metric, the median of the runs and the spread: the
distance between the first and third quartile
(`statistics.quantiles(values, n=4)`) as a share of the median.

`compare` takes two such sets of the same code and checks them against the
bounds in BENCHMARK.json: each spread but that of `setup_s` within its
bound, and the second set's median worse than the first's by no more than
the bound. It writes both sets and the comparison to one file.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"
SPEC = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def run_set(workloads: list[str], seeds: list[int], seconds: int) -> dict:
    runs = []
    for seed in seeds:  # workloads interleaved, so drift hits both alike
        for wl in workloads:
            cmd = [sys.executable, str(RUN), "--workload", wl, "--seed", str(seed),
                   "--seconds", str(seconds), "--trace", "0"]
            t0 = time.monotonic()
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
            wall = time.monotonic() - t0
            lines = proc.stdout.strip().splitlines()
            ok = proc.returncode == 0 and len(lines) >= 2
            result = json.loads(lines[-1]) if ok else None
            steal = json.loads(lines[-2])["detail"]["measure_cpu_steal_share"] if ok else None
            runs.append({"workload": wl, "seed": seed, "wall_s": wall, "cpu_steal_share": steal,
                         "returncode": proc.returncode, "result": result})
            print(json.dumps(runs[-1]), flush=True)

    summary = {}
    for wl in workloads:
        ok = [r["result"] for r in runs if r["workload"] == wl and r["result"]]
        if len(ok) < 2:
            continue
        summary[wl] = {
            name: {
                "median": statistics.median(r["metrics"][name]["value"] for r in ok),
                "spread": spread([r["metrics"][name]["value"] for r in ok]),
            }
            for name in ok[0]["metrics"]
        }
        summary[wl]["wall_s_median"] = statistics.median(
            r["wall_s"] for r in runs if r["workload"] == wl
        )
    return {"runs": runs, "summary": summary}


def compare(set1: dict, set2: dict) -> dict:
    spec = json.loads(SPEC.read_text())["end_to_end"]
    out = {}
    for wl, s1 in set1["summary"].items():
        s2 = set2["summary"][wl]
        out[wl] = {}
        for m in spec:
            name, bound = m["name"], m["bound"]
            a, b = s1[name]["median"], s2[name]["median"]
            worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
            spreads = [s1[name]["spread"], s2[name]["spread"]]
            steady = name == "setup_s" or max(spreads) <= bound
            out[wl][name] = {"median_set1": a, "median_set2": b, "set2_worse_by": worse,
                             "spreads": spreads, "bound": bound,
                             "ok": steady and worse <= bound}
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workloads", nargs="+", required=True)
    r.add_argument("--seeds", nargs="+", type=int, required=True)
    r.add_argument("--seconds", type=int, required=True)
    r.add_argument("--out", required=True)
    c = sub.add_parser("compare")
    c.add_argument("set1")
    c.add_argument("set2")
    c.add_argument("--out", required=True)
    args = ap.parse_args()

    if args.cmd == "run":
        result = run_set(args.workloads, args.seeds, args.seconds)
        shown = result["summary"]
    else:
        set1 = json.loads(Path(args.set1).read_text())
        set2 = json.loads(Path(args.set2).read_text())
        shown = compare(set1, set2)
        result = {"comparison": shown, "set1": set1, "set2": set2}
    Path(args.out).write_text(json.dumps(result, indent=1))
    print(json.dumps(shown, indent=1))


if __name__ == "__main__":
    main()

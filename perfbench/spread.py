#!/usr/bin/env python3
"""Measure how steady the benchmark's end-to-end metrics are.

    python3 perfbench/spread.py run <out.json> --seeds 201-210 [--workloads a,b]
    python3 perfbench/spread.py compare <first.json> <second.json>

`run` makes one untraced run per seed and workload, one after another,
and writes every metric value with, per metric, the median and the
spread: the distance between the first and third quartile (as
`statistics.quantiles(values, n=4)` gives them) over the median.
`compare` reads two such files and prints, per metric, how far the
second median moved from the first, as a share of the first, beside the
metric's bound from BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(out, seed_list, workloads, seconds):
    result = {"seeds": seed_list, "seconds": seconds, "workloads": {}}
    for w in workloads:
        runs = []
        for s in seed_list:
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(seconds), "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                sys.exit(f"{w} seed {s} exited {p.returncode}:\n{p.stderr[-2000:]}")
            last = json.loads(p.stdout.strip().splitlines()[-1])
            runs.append({"seed": s, "wall_s": round(time.time() - t0, 1),
                         "correct": last["correct"], "failed": last["failed"],
                         "metrics": {k: v["value"] for k, v in last["metrics"].items()}})
            print(f"{w} seed {s}: {runs[-1]['wall_s']} s, correct={last['correct']}", flush=True)
        names = list(runs[0]["metrics"])
        result["workloads"][w] = {
            "runs": runs,
            "median": {m: statistics.median(r["metrics"][m] for r in runs) for m in names},
            "spread": {m: spread([r["metrics"][m] for r in runs]) for m in names},
        }
    with open(out, "w") as f:
        json.dump(result, f, indent=1)
        f.write("\n")
    report(result)


def report(result):
    bounds = {m["name"]: m["bound"] for m in contract()["end_to_end"]}
    for w, r in result["workloads"].items():
        for m, sp in r["spread"].items():
            print(f"{w:16s} {m:16s} spread {sp:.3f}  bound {bounds[m]:.2f}  "
                  f"{'ok' if sp <= bounds[m] / 3 else 'over a third' if sp <= bounds[m] else 'OVER'}")


def compare(first, second):
    with open(first) as f:
        a = json.load(f)
    with open(second) as f:
        b = json.load(f)
    bench = contract()
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    all_ok = True
    for w in a["workloads"]:
        for m, x in a["workloads"][w]["median"].items():
            y = b["workloads"][w]["median"][m]
            worse = (y - x) / x if better[m] == "lower" else (x - y) / x
            ok = worse <= bounds[m]
            all_ok &= ok
            print(f"{w:16s} {m:16s} {x:12.4f} -> {y:12.4f}  worse by {worse:+.3f}  "
                  f"bound {bounds[m]:.2f}  {'ok' if ok else 'OVER'}")
    return all_ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("out")
    r.add_argument("--seeds", type=seeds, required=True)
    r.add_argument("--workloads", default="")
    r.add_argument("--seconds", type=int, default=None)
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    a = ap.parse_args()
    if a.cmd == "run":
        bench = contract()
        ws = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
        run(a.out, a.seeds, ws, a.seconds or bench["run_seconds"])
    else:
        sys.exit(0 if compare(a.first, a.second) else 1)


if __name__ == "__main__":
    main()

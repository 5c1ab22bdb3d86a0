"""Self-check: do two sets of runs of the same commit agree?

    python3 perfbench/selfcheck.py --runs 10
    python3 perfbench/selfcheck.py --runs 3 --workloads tile_writeback

Runs ``run.py`` ``--runs`` times per workload in each of two sets, each
run with its own seed (set A: 1000+i, set B: 2000+i). For every
end-to-end metric and workload it prints each set's median and its
spread (distance between the first and third quartile over the
median), and whether set B's median is worse than set A's by more than
the metric's bound in ``BENCHMARK.json``. Spreads above a third of the
bound are flagged. Exit code 1 when any pair disagrees or any spread
(``setup_s`` excepted) exceeds its bound.
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


def one_run(workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True, timeout=180)
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {out.returncode}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        raise RuntimeError(f"{workload} seed {seed}: wrong answers")
    return {k: v["value"] for k, v in res["metrics"].items()}


def spread(values: list) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse second is than first, as a share of first."""
    return (second - first) / first if better == "lower" else (first - second) / first


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default="")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = ([w for w in args.workloads.split(",") if w]
             or [w["name"] for w in bench["workloads"]])
    seconds = bench["run_seconds"]
    results: dict = {}
    for w in names:
        for label, base in (("A", 1000), ("B", 2000)):
            results[(w, label)] = [one_run(w, base + i, seconds)
                                   for i in range(args.runs)]
            print(f"# {w} set {label}: {args.runs} runs done", flush=True)

    ok = True
    report = []
    print(f"{'workload':18} {'metric':14} {'med A':>12} {'spread A':>9} "
          f"{'med B':>12} {'spread B':>9} {'B worse':>8} {'bound':>6}  verdict")
    for w in names:
        for m in bench["end_to_end"]:
            a = [r[m["name"]] for r in results[(w, "A")]]
            b = [r[m["name"]] for r in results[(w, "B")]]
            sa, sb = spread(a), spread(b)
            wb = worse_by(statistics.median(a), statistics.median(b), m["better"])
            agree = wb <= m["bound"]
            steady = m["name"] == "setup_s" or max(sa, sb) <= m["bound"]
            verdict = "agree" if agree else "DISAGREE"
            if not steady:
                verdict += " UNSTEADY"
            elif max(sa, sb) > m["bound"] / 3 and m["name"] != "setup_s":
                verdict += " (spread > bound/3)"
            ok &= agree and steady
            print(f"{w:18} {m['name']:14} {statistics.median(a):12.4f} {sa:9.3f} "
                  f"{statistics.median(b):12.4f} {sb:9.3f} {wb:8.3f} "
                  f"{m['bound']:6.2f}  {verdict}")
            report.append({"workload": w, "metric": m["name"], "a": a, "b": b,
                           "spread_a": sa, "spread_b": sb, "b_worse_by": wb,
                           "bound": m["bound"], "verdict": verdict})
    out = os.path.join(ROOT, ".perfbench_work", "results", "selfcheck.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

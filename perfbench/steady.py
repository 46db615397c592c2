"""Steadiness check: two sets of runs of the same code, compared.

Usage (from the repository root):

    python3 perfbench/steady.py [--runs 10] [--workload W ...]

Runs ``run.py`` ``--runs`` times per workload in each of two sets,
each run with its own seed (set k uses seeds ``k*1000 + 1 ..``), reads
the last JSON line of each, and prints for every end-to-end metric the
median, quartiles and quartile spread (as a share of the median) of
both sets, then whether they agree within the bounds of
``BENCHMARK.json``: every spread, ``setup_s``'s too, within its
bound, and the two medians apart by no more than the bound, either
way. Results are also written to ``.perfbench_out/steady-<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = 2


def one_run(workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} failed "
                           f"({proc.returncode}): {proc.stderr[-2000:]}")
    res = json.loads(lines[-1])
    run = [json.loads(l[4:]) for l in lines if l.startswith("run: ")]
    res["steal_s"] = run[0]["steal_s"] if run else None
    return res


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def worse_by(first: float, second: float, better: str) -> float:
    """Share by which ``second`` is worse than ``first`` (< 0: better)."""
    diff = second - first if better == "lower" else first - second
    return diff / abs(first)


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--workload", action="append",
                   help="workload(s) to run (default: all in BENCHMARK.json)")
    args = p.parse_args(argv)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]

    results = {w: [[] for _ in range(SETS)] for w in workloads}
    for k in range(SETS):
        for w in workloads:
            for r in range(args.runs):
                seed = k * 1000 + r + 1
                t0 = time.time()
                res = one_run(w, seed, bench["run_seconds"])
                results[w][k].append(res)
                print(f"set {k + 1} {w} seed {seed}: correct="
                      f"{res['correct']} attempted={res['attempted']} "
                      f"steal={res['steal_s']} s "
                      f"({time.time() - t0:.0f} s)", flush=True)

    ok = True
    report = {}
    for w in workloads:
        print(f"\n== {w}")
        for m in metrics:
            name, bound = m["name"], m["bound"]
            sets = [summary([r["metrics"][name]["value"] for r in runs])
                    for runs in results[w]]
            line = f"{name:>12} [{m['unit']}] bound {bound:.2f}: "
            line += " | ".join(
                f"set {i + 1} median {s['median']:.5g} q1 {s['q1']:.5g} "
                f"q3 {s['q3']:.5g} spread {s['spread']:.3f}"
                for i, s in enumerate(sets))
            drift = worse_by(sets[0]["median"], sets[1]["median"],
                             m["better"])
            agree = (all(s["spread"] <= bound for s in sets)
                     and abs(drift) <= bound)
            line += f" | second worse by {drift:+.3f}"
            line += "  AGREE" if agree else "  DISAGREE"
            ok = ok and agree
            print(line)
            report.setdefault(w, {})[name] = sets
        correct = all(r["correct"] for runs in results[w] for r in runs)
        ok = ok and correct
        print(f"{'outputs':>12}: {'all correct' if correct else 'FAILED'}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"steady-{int(time.time())}.json"),
              "w") as fh:
        json.dump({"summary": report, "runs": results}, fh)
    print("\nverdict:", "steady" if ok else "NOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

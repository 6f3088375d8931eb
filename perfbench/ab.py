#!/usr/bin/env python3
"""Paired A/B comparison of two commits on one workload.

    python3 perfbench/ab.py --base <rev> --change <rev> --workload <name>
                            [--pairs 10]

Run from the root of the repository. Both revisions are exported with
`git archive` under .bench_build/ab/, and this checkout's BENCHMARK.json
and perfbench/ are copied over both, so the two sides run identical
benchmark code and settings. Pair i runs both sides on seed SEED0 + i,
alternating which side goes first.

For every end-to-end metric of BENCHMARK.json, and the client loop's
timings (`loop.*`: printed on every run's detail line, not gated), it
prints each side's median and quartiles and the change's wins, and
applies the rule of choosing-metrics §8:
  * gain: the change wins at least 9/10 of the pairs (ties count for
    neither) and the medians differ by more than the base's quartile
    spread;
  * regression: the change's median is worse than the base's by more
    than the metric's bound; "unresolved" when the base's own spread is
    wider than the bound and the runs overlap;
  * loss, for a metric without a bound: the gain rule mirrored.
Failed operations are compared too: a gain does not count when the
change fails more operations than the base.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED0 = 1000  # apart from the seeds the reference figures were taken on


def _build_outputs(d, names):
    skip = {"target", "__pycache__"}
    if os.path.basename(d) == "project":
        skip.add("project")
    return [n for n in names if n in skip]


def export(rev, dest):
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = subprocess.run(["git", "archive", rev], cwd=ROOT, check=True,
                             capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    shutil.rmtree(os.path.join(dest, "perfbench"), ignore_errors=True)
    shutil.copytree(HERE, os.path.join(dest, "perfbench"), ignore=_build_outputs)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), dest)


def run(checkout, workload, seed, seconds):
    """One run: its result line, with the client loop's timings (printed
    on the detail line) added to its metrics."""
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stderr[-3000:])
        raise SystemExit(f"run failed in {checkout} (seed {seed})")
    detail, result = (json.loads(x) for x in res.stdout.strip().splitlines()[-2:])
    for k, v in detail["e2e"].items():
        result["metrics"].setdefault(f"loop.{k}", {"value": v})
    return result


def quartiles(xs):
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return q[0], statistics.median(xs), q[2]


def verdict(metric, base, change):
    """The §8 verdict of one metric over paired runs."""
    higher = metric["better"] == "higher"
    wins = sum((c > b) if higher else (c < b) for b, c in zip(base, change))
    b_q1, b_med, b_q3 = quartiles(base)
    c_q1, c_med, c_q3 = quartiles(change)
    spread = b_q3 - b_q1
    gap = (c_med - b_med) if higher else (b_med - c_med)
    losses = sum((c < b) if higher else (c > b) for b, c in zip(base, change))
    bound = metric.get("bound")
    if wins >= 0.9 * len(base) and gap > spread:
        word = "gain"
    elif bound is None:
        # an ungated figure: the gain rule mirrored
        word = "loss" if losses >= 0.9 * len(base) and -gap > spread else "no change"
    elif b_med and -gap / b_med > bound:
        word = "regression"
    elif b_med and spread / b_med > bound and not (
            min(change) > max(base) if higher else max(change) < min(base)):
        word = "unresolved"
    else:
        word = "no change"
    return {"metric": metric["name"], "unit": metric["unit"], "wins": wins,
            "pairs": len(base), "base": [b_q1, b_med, b_q3],
            "change": [c_q1, c_med, c_q3], "verdict": word}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    a = ap.parse_args()
    if a.pairs < 10:
        raise SystemExit("the §8 rule needs at least 10 pairs")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    loop = [m for m in spec["per_layer"] if m["name"].startswith("loop.")]
    metrics = spec["end_to_end"] + loop
    work = os.path.join(ROOT, ".bench_build", "ab")
    sides = {"base": os.path.join(work, "base"), "change": os.path.join(work, "change")}
    export(a.base, sides["base"])
    export(a.change, sides["change"])
    results = {"base": [], "change": []}
    for i in range(a.pairs):
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        for side in order:
            r = run(sides[side], a.workload, SEED0 + i, spec["run_seconds"])
            results[side].append(r)
            print(f"pair {i} {side}: correct={r['correct']} failed={r['failed']}/"
                  f"{r['attempted']}", file=sys.stderr)
    out = [verdict(m, [r["metrics"][m["name"]]["value"] for r in results["base"]],
                   [r["metrics"][m["name"]]["value"] for r in results["change"]])
           for m in metrics]
    fails = {s: sum(r["failed"] for r in results[s]) for s in results}
    if fails["change"] > fails["base"]:
        for v in out:
            if v["verdict"] == "gain":
                v["verdict"] = "no gain (more failed operations)"
    for v in out:
        b, c = v["base"], v["change"]
        print(f"{v['metric']:28s} base {b[1]:.4g} [{b[0]:.4g}, {b[2]:.4g}]  "
              f"change {c[1]:.4g} [{c[0]:.4g}, {c[2]:.4g}] {v['unit']:6s} "
              f"wins {v['wins']}/{v['pairs']}  {v['verdict']}")
    print(json.dumps({"workload": a.workload, "failed": fails,
                      "correct": {s: all(r["correct"] for r in results[s]) for s in results},
                      "metrics": out}))


if __name__ == "__main__":
    main()

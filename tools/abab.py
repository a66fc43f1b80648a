#!/usr/bin/env python3
"""Paired A/B runs of one perfbench workload: a git revision against the
working tree.

    python3 tools/abab.py --workload cdc_small_batch --seeds 71-80 \
        --rev HEAD --out bench_results/ab.json

Extracts `git archive <rev>` into a scratch directory (the "parent"
side) and runs `python3 perfbench/run.py` there and in the working tree
(the "change" side), one pair per seed. The side that runs first flips
from pair to pair, so a drift of the host over the session does not
favour one side. Each side builds its own copy under its own
`.bench_build/`.

Writes every result line plus, per end-to-end metric of BENCHMARK.json,
what the benchmark check reads, to the `--out` JSON:

- each side's median and quartiles, and its spread (quartile distance
  over median), with `spread_within_bound` true when both spreads are
  within the metric's `bound`;
- the pairs on which the change was better, whether the change's median
  is worse than the parent's by more than the bound, and whether it is
  better by more than the parent's quartile distance;
- per side, the runs at fault: an error, `correct: false` or
  `failed > 0`.

Run it from the root of a checkout.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile


def seeds_of(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run_side(cwd, args, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace)]
    r = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if r.returncode != 0 or not lines:
        return {"error": f"exit {r.returncode}", "stderr": r.stderr[-2000:]}
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def spread(q1, q3, median):
    return (q3 - q1) / median if median else None


def at_fault(run):
    return "error" in run or run.get("correct") is False or run.get("failed", 0) > 0


def summary(pairs, metrics):
    out = {"runs_at_fault": {side: sum(1 for p in pairs if at_fault(p[side]))
                             for side in ("parent", "change")}}
    pairs = [p for p in pairs if "error" not in p["parent"] and "error" not in p["change"]]
    for m, (better, bound) in metrics.items():
        got = [(p["parent"]["metrics"][m]["value"], p["change"]["metrics"][m]["value"])
               for p in pairs
               if m in p["parent"].get("metrics", {}) and m in p["change"].get("metrics", {})]
        if not got:
            continue
        par = [a for a, _ in got]
        chg = [b for _, b in got]
        q1, q3 = quartiles(par)
        cq1, cq3 = quartiles(chg)
        med_p, med_c = statistics.median(par), statistics.median(chg)
        sp_p, sp_c = spread(q1, q3, med_p), spread(cq1, cq3, med_c)
        # the change's gain in the metric's good direction
        gain = med_p - med_c if better == "lower" else med_c - med_p
        out[m] = {
            "better": better,
            "bound": bound,
            "pairs": len(got),
            "parent_median": med_p, "parent_q1": q1, "parent_q3": q3,
            "change_median": med_c, "change_q1": cq1, "change_q3": cq3,
            "parent_spread": sp_p, "change_spread": sp_c,
            "spread_within_bound": sp_p is not None and sp_c is not None
                                   and sp_p <= bound and sp_c <= bound,
            "delta_pct": 100.0 * (med_c - med_p) / med_p if med_p else None,
            "worse_than_bound": bool(med_p) and -gain / abs(med_p) > bound,
            "gain_exceeds_parent_iqr": gain > q3 - q1,
            "change_better_pairs": sum(
                1 for a, b in got if (b < a if better == "lower" else b > a)),
        }
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 71-80 or 3,5,8")
    ap.add_argument("--seconds", type=int, default=14)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--rev", default="HEAD", help="revision of the parent side")
    ap.add_argument("--work", help="where to extract the parent (default: a temp dir)")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    tree = os.getcwd()
    with open(os.path.join(tree, "BENCHMARK.json")) as f:
        metrics = {m["name"]: (m["better"], m["bound"]) for m in json.load(f)["end_to_end"]}
    work = args.work or tempfile.mkdtemp(prefix="abab-")
    parent = os.path.join(work, "parent")
    shutil.rmtree(parent, ignore_errors=True)
    os.makedirs(parent)
    sha = subprocess.run(["git", "rev-parse", args.rev], cwd=tree, check=True,
                         stdout=subprocess.PIPE, text=True).stdout.strip()
    archive = subprocess.Popen(["git", "archive", sha], cwd=tree, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", parent], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"git archive {sha} failed")

    pairs = []
    for i, seed in enumerate(seeds_of(args.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run_side(parent if side == "parent" else tree, args, seed)
        pairs.append(pair)
        brief = {s: pair[s].get("metrics", {}).get("batch_p50_ms", {}).get("value",
                 pair[s].get("error")) for s in ("parent", "change")}
        print(f"seed {seed} ({order[0]} first): batch_p50_ms {brief}", file=sys.stderr)
        result = {"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
                  "parent_rev": sha, "pairs": pairs, "summary": summary(pairs, metrics)}
        with open(args.out, "w") as f:  # rewritten after every pair
            json.dump(result, f, indent=1)
    print(json.dumps(result["summary"], indent=1))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Alternated A/B pairs of perfbench runs: a parent checkout against a change.

    python3 tools/ab_pairs.py --parent DIR --change DIR --workload W --seeds 1-10
                              [--seconds S] [--trace 0|1] [--queries Q1,Q2,...]

For each seed, runs `python3 perfbench/run.py` once in each checkout (each
checkout builds and runs its own sources), alternating which arm goes
first: the parent on odd positions in the seed list, the change on even
ones. --seconds defaults to the change's BENCHMARK.json `run_seconds`.
--queries (pipeline-sf0.1 only) is passed through to perfbench/run.py,
which picks those queries from its catalogue instead of its default set.

Prints, per seed, every metric of both arms with the ratio change/parent,
then per metric the median, q1 and q3 of each arm, the median ratio, the
pairs the change won (by the metric's `better` in BENCHMARK.json; ties
count for neither) and whether the medians differ by more than the
parent's IQR (q3 - q1). Metrics that read 0 in every run are left out.
Exits 1 when a run fails or reports failures, or when
`latency_at_budget_s` differs between the arms for a seed on a loop
workload (with --trace 0, where it is reported; on the pipeline it is a
measured time, see perfbench/README.md). Standard library only.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

# workloads whose latency_at_budget_s is a sum of query latencies, not the
# exploration loop's exact per-seed result
TIMED_LATENCY = {"pipeline-sf0.1"}


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        if "-" in part:
            lo, hi = part.split("-", 1)
            seeds.extend(range(int(lo), int(hi) + 1))
        elif part:
            seeds.append(int(part))
    if not seeds:
        raise argparse.ArgumentTypeError(f"no seeds in {text!r}")
    return seeds


def run_arm(checkout, workload, seed, seconds, trace, queries):
    """One perfbench run; returns (result dict or None, error text)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    if queries:
        cmd += ["--queries", queries]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None, f"exit {p.returncode}: {p.stderr.strip()[-2000:]}"
    try:
        res = json.loads(lines[-1])
    except json.JSONDecodeError:
        return None, f"no result line: {lines[-1][:200]}"
    if not res.get("correct") or res.get("failed", 0) > 0:
        return res, f"{res.get('failed')}/{res.get('attempted')} operations failed: {p.stderr.strip()[-2000:]}"
    return res, ""


def quartiles(xs):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=parse_seeds, help="e.g. 1-10 or 1,3,5")
    ap.add_argument("--seconds", type=float, help="run length (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--queries", help="pipeline-sf0.1 only: comma-separated catalogue queries")
    a = ap.parse_args()
    if a.queries and a.workload != "pipeline-sf0.1":
        sys.exit("ab_pairs: --queries applies to the pipeline-sf0.1 workload only")
    for d in (a.parent, a.change):
        if not os.path.isfile(os.path.join(d, "perfbench", "run.py")):
            sys.exit(f"ab_pairs: no perfbench/run.py under {d}")
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}

    arms = {"parent": a.parent, "change": a.change}
    results = {"parent": {}, "change": {}}
    errors = []
    for i, seed in enumerate(a.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for arm in order:
            res, err = run_arm(arms[arm], a.workload, seed, seconds, a.trace, a.queries)
            if err:
                errors.append(f"seed {seed} {arm}: {err}")
                print(f"FAIL seed {seed} {arm}: {err}", file=sys.stderr)
            if res is not None:
                results[arm][seed] = {k: v["value"] for k, v in res["metrics"].items()}
        print(f"seed {seed} done ({order[0]} first)", file=sys.stderr, flush=True)

    seeds = [s for s in a.seeds if s in results["parent"] and s in results["change"]]
    names = sorted({k for s in seeds for arm in results for k, v in results[arm][s].items() if v})
    print(f"workload {a.workload}, {len(seeds)} pairs, {seconds:g} s runs, trace {a.trace}"
          + (f", queries {a.queries}" if a.queries else ""))
    print("\nper pair (parent -> change, ratio change/parent)")
    for s in seeds:
        first = "parent" if a.seeds.index(s) % 2 == 0 else "change"
        print(f"seed {s} ({first} first)")
        for n in names:
            p, c = results["parent"][s].get(n, float("nan")), results["change"][s].get(n, float("nan"))
            ratio = c / p if p else float("nan")
            print(f"  {n:40s} {p:12.6g} -> {c:12.6g}  {ratio:8.4f}")

    print("\nsummary: median [q1, q3] per arm; median ratio; pairs won; gain beyond parent IQR")
    for n in names:
        ps = [results["parent"][s].get(n, float("nan")) for s in seeds]
        cs = [results["change"][s].get(n, float("nan")) for s in seeds]
        pq1, pmed, pq3 = quartiles(ps)
        cq1, cmed, cq3 = quartiles(cs)
        ratios = [c / p for p, c in zip(ps, cs) if p]
        sign = -1 if better.get(n, "lower") == "lower" else 1
        won = sum(1 for p, c in zip(ps, cs) if sign * (c - p) > 0)
        beyond = sign * (cmed - pmed) > (pq3 - pq1)
        mr = statistics.median(ratios) if ratios else float("nan")
        print(f"  {n:40s} parent {pmed:.6g} [{pq1:.6g}, {pq3:.6g}]  change {cmed:.6g} "
              f"[{cq1:.6g}, {cq3:.6g}]  ratio {mr:.4f}  won {won}/{len(seeds)}  "
              f"beyond-IQR {'yes' if beyond else 'no'}")

    if a.trace == 0 and a.workload not in TIMED_LATENCY:
        for s in seeds:
            p = results["parent"][s].get("latency_at_budget_s")
            c = results["change"][s].get("latency_at_budget_s")
            if p != c:
                errors.append(f"seed {s}: latency_at_budget_s {p!r} (parent) != {c!r} (change)")
    if errors:
        print("\nerrors:")
        for e in errors:
            print(f"  {e}")
        sys.exit(1)


if __name__ == "__main__":
    main()

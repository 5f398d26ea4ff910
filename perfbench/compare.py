"""Compare two result sets of the benchmark, or report the spread of one.

A result set is a JSON-lines file written by `sample.py`: one line per run,
`{"workload": ..., "seed": ..., "result": <the line run.py printed>}`.

    python3 perfbench/compare.py parent.jsonl change.jsonl
    python3 perfbench/compare.py --spread runs.jsonl

For each workload and end-to-end metric the comparison gives each side's
median and quartiles, how many seed-paired runs the change won, and a
verdict judged against the metric's bound in BENCHMARK.json:

- better: the change wins at least nine tenths of the pairs (ties count for
  neither) and its median beats the parent's by more than the parent's
  quartile distance;
- worse: the change's median is worse than the parent's by more than the
  bound (as a share of the parent's median);
- unresolved: either side's quartile distance exceeds the bound, so a
  difference within it cannot be told from noise;
- within-bound: none of the above.
"""
import argparse
import json
import statistics
import sys
from pathlib import Path

DEFAULT_SPEC = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def load(path):
    runs = {}
    for line in Path(path).read_text().splitlines():
        if line.strip():
            r = json.loads(line)
            runs.setdefault(r["workload"], []).append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def values(runs, metric):
    return {r["seed"]: r["result"]["metrics"][metric]["value"] for r in runs
            if metric in r["result"]["metrics"]}


def verdict(old, new, better, bound):
    """Verdict on `new` against `old`, two {seed: value} maps."""
    lower = better == "lower"
    o1, om, o3 = quartiles(sorted(old.values()))
    n1, nm, n3 = quartiles(sorted(new.values()))
    seeds = sorted(set(old) & set(new))
    wins = sum(1 for s in seeds if (new[s] < old[s] if lower else new[s] > old[s]))
    gain = (om - nm) if lower else (nm - om)
    worse_by = -gain / om if om else 0.0
    if seeds and wins >= 0.9 * len(seeds) and gain > (o3 - o1):
        v = "better"
    elif worse_by > bound:
        v = "worse"
    elif om and ((o3 - o1) / om > bound or (n3 - n1) / nm > bound):
        v = "unresolved"
    else:
        v = "within-bound"
    return {"parent": [o1, om, o3], "change": [n1, nm, n3], "pairs": len(seeds),
            "wins": wins, "worse_by": worse_by, "verdict": v}


def compare(old_runs, new_runs, spec):
    rows = []
    for w in sorted(set(old_runs) & set(new_runs)):
        for m in spec["end_to_end"]:
            old, new = values(old_runs[w], m["name"]), values(new_runs[w], m["name"])
            if old and new:
                rows.append({"workload": w, "metric": m["name"], "unit": m["unit"],
                             **verdict(old, new, m["better"], m["bound"])})
    return rows


def spread(runs, spec):
    rows = []
    for w in sorted(runs):
        for m in spec["end_to_end"]:
            xs = sorted(values(runs[w], m["name"]).values())
            if xs:
                q1, med, q3 = quartiles(xs)
                rows.append({"workload": w, "metric": m["name"], "n": len(xs),
                             "median": med, "spread": (q3 - q1) / med if med else 0.0,
                             "bound": m["bound"],
                             "steady": (q3 - q1) / med < m["bound"] / 3})
    return rows


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("files", nargs="+")
    ap.add_argument("--spread", action="store_true")
    ap.add_argument("--spec", default=str(DEFAULT_SPEC))
    args = ap.parse_args(argv)
    spec = json.loads(Path(args.spec).read_text())
    if args.spread:
        for path in args.files:
            for r in spread(load(path), spec):
                print(f"{r['workload']:9} {r['metric']:12} n={r['n']:2} median={r['median']:.4f} "
                      f"spread={r['spread']:.3f} bound/3={r['bound'] / 3:.3f} "
                      f"{'ok' if r['steady'] else 'WIDE'}")
        return 0
    if len(args.files) != 2:
        ap.error("give a parent and a change result set")
    rows = compare(load(args.files[0]), load(args.files[1]), spec)
    for r in rows:
        print(f"{r['workload']:9} {r['metric']:12} parent={r['parent'][1]:.4f} "
              f"[{r['parent'][0]:.4f}, {r['parent'][2]:.4f}] change={r['change'][1]:.4f} "
              f"[{r['change'][0]:.4f}, {r['change'][2]:.4f}] {r['unit']} "
              f"wins={r['wins']}/{r['pairs']} {r['verdict']}")
    return 1 if any(r["verdict"] == "worse" for r in rows) else 0


if __name__ == "__main__":
    sys.exit(main())

"""Run the benchmark over several workloads and seeds, one run at a time,
appending each result line to a JSON-lines result set for `compare.py`.

    python3 perfbench/sample.py --workloads verbs,pipeline,stream \
        --seeds 1-10 --out runs.jsonl
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    status = 0
    for seed in seeds(args.seeds):
        for w in args.workloads.split(","):
            proc = subprocess.run(
                [sys.executable, str(RUN), "--workload", w, "--seed", str(seed),
                 "--seconds", args.seconds, "--trace", args.trace],
                stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {proc.returncode}", file=sys.stderr)
                status = 1
                continue
            result = json.loads(lines[-1])
            with open(args.out, "a") as fh:
                fh.write(json.dumps({"workload": w, "seed": seed, "result": result}) + "\n")
            print(f"{w} seed {seed}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
    return status


if __name__ == "__main__":
    sys.exit(main())

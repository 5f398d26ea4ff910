"""graft's benchmark: one command that sets up graft's production session,
runs one workload's queries in a closed loop with one client, checks every
output against its reference digest, and prints every metric by name and
unit as the last line of standard output.

    python3 perfbench/run.py --workload verbs --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout; it builds graft and the benchmark
into `.bench_build/perfbench` first. `--trace 1` prints the per-layer
metrics instead and writes spans and per-query plan counts to
`.bench_build/perfbench/trace/`. Two maintenance modes run every declared
query once: `--check-all` checks each against its digest, and
`--record-digests` (re)writes `perfbench/digests.json`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import metrics  # noqa: E402
from metrics import BenchError  # noqa: E402

HERE = Path(__file__).resolve().parent
OUT = build.OUT
SETTLE_PASSES = 5  # unmeasured passes after the cold one, while the JIT settles
MIN_PASSES = 4  # measured passes at least, whatever --seconds says
# Fixed and pre-touched: left to grow on demand, the heap's peak RSS follows
# G1's time-driven sizing and spread 0.26 of its median over ten seeds.
HEAP = "2g"
RUN_TIMEOUT_S = 170
SWEEP_TIMEOUT_S = 1800


def load_config():
    cfg = json.loads((HERE / "workloads.json").read_text())
    cfg["data_dir"] = (HERE / cfg["data"]).resolve()
    return cfg


def load_digests():
    return json.loads((HERE / "digests.json").read_text())


def jvm(cfg, plan, seconds, settle, min_passes, trace, seed, tag, timeout):
    """Run the JVM side over `plan` and return its raw samples."""
    tmp = OUT / "tmp" / str(os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    (OUT / "logs").mkdir(parents=True, exist_ok=True)
    plan_file, out_file = tmp / "plan.txt", tmp / "raw.json"
    plan_file.write_text("\n".join(",".join(p) for p in plan) + "\n")
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-Xss8m"]
    for pkg in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar"):
        cmd += ["--add-opens", f"java.base/{pkg}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}", f"-Dderby.system.home={tmp}",
            "-Dspark.ui.enabled=false",
            "-cp", build.classpath(), "graftbench.Main",
            "--data", str(cfg["data_dir"]), "--plan", str(plan_file), "--out", str(out_file),
            "--seconds", str(seconds), "--settle", str(settle), "--min-passes", str(min_passes),
            "--trace", str(trace), "--seed", str(seed)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    log = OUT / "logs" / f"{tag}.log"
    with open(log, "w") as fh:
        cmd += ["--launch-epoch-ns", str(time.time_ns())]
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env,
                                cwd=str(tmp))
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"the JVM ran past {timeout} s (log: {log})")
    if code != 0 or not out_file.exists():
        tail = log.read_text(errors="replace")[-3000:]
        raise BenchError(f"the JVM exited with code {code} (log: {log})\n{tail}")
    (OUT / "raw").mkdir(exist_ok=True)
    raw_file = OUT / "raw" / f"{tag}.json"
    shutil.move(str(out_file), raw_file)
    shutil.rmtree(tmp, ignore_errors=True)
    return json.loads(raw_file.read_text())


def check_outputs(raw, digests):
    """(attempted, failures) over every execution in `raw`."""
    refs, varying = digests["queries"], digests["varying"]
    fails = []
    for ex in raw["executions"]:
        why = metrics.check_output(ex, refs.get(ex["query"]), varying)
        if why:
            fails.append(f"{ex['query']} (pass {ex['pass']}): {why}")
    return len(raw["executions"]), fails


def require_digest_coverage(names, digests):
    missing = sorted(set(names) - set(digests["queries"]))
    if missing:
        raise BenchError("declared queries without a reference digest (run "
                         "--record-digests): " + ", ".join(missing))


def run_workload(args, cfg):
    if args.workload not in cfg["workloads"]:
        raise BenchError(f"unknown workload {args.workload}; "
                         f"choose from {', '.join(cfg['workloads'])}")
    spec = cfg["workloads"][args.workload]
    plan = metrics.pass_orders(args.workload, args.seed, spec["queries"], 400)
    raw = jvm(cfg, plan, args.seconds, SETTLE_PASSES, MIN_PASSES, args.trace, args.seed,
              f"{args.workload}-{args.seed}-trace{args.trace}", RUN_TIMEOUT_S)
    metrics.check_workloads(cfg, raw["names"])
    digests = load_digests()
    require_digest_coverage(raw["names"], digests)
    attempted, fails = check_outputs(raw, digests)
    for f in fails:
        print("[perfbench] output check failed: " + f, file=sys.stderr)
    if args.trace:
        layer_family = cfg["layer_families"]
        non_final = sum(e["trace"].get("non_final_plans", 0) for e in raw["executions"]
                        if "trace" in e)
        if non_final:
            raise BenchError(f"{non_final:g} traced plans were not final (isFinalPlan=false)")
        values = metrics.per_layer(raw, layer_family)
        write_trace(args, raw)
        units = metrics.PER_LAYER
    else:
        values = metrics.end_to_end(raw)
        units = metrics.END_TO_END
    measured = [p for p in raw["passes"][1:] if not p["settle"]]
    print(f"[perfbench] {args.workload}: {len(spec['queries'])} queries, "
          f"{len(raw['passes']) - 1 - len(measured)} settle and {len(measured)} measured passes, "
          f"local[{raw['cores']}], -Xmx{HEAP}", file=sys.stderr)
    return metrics.result_line(not fails, attempted, len(fails), values, units)


def write_trace(args, raw):
    """Spans (query -> build, execute -> plan) and per-query plan counts
    of the traced passes."""
    spans, plans = [], {}
    for e in raw["executions"]:
        tr = e.get("trace")
        if tr is None:
            continue
        qid = f"{e['pass']}:{e['query']}"
        spans += [
            {"id": qid, "name": "query", "parent": None, "duration_s": e["wall_s"]},
            {"id": qid, "name": "build", "parent": "query", "duration_s": e["build_s"]},
            {"id": qid, "name": "execute", "parent": "query",
             "duration_s": e["wall_s"] - e["build_s"]},
            {"id": qid, "name": "plan", "parent": "execute",
             "duration_s": tr.get("plan_ms", 0.0) / 1e3},
        ]
        plans.setdefault(e["query"], {k: tr.get(k, 0.0) for k in (
            "exchanges", "reused_exchanges", "broadcasts", "codegen_stages",
            "non_codegen_ops", "graft_native_ops", "final_plans", "non_final_plans")})
    d = OUT / "trace"
    d.mkdir(parents=True, exist_ok=True)
    (d / f"{args.workload}-{args.seed}.json").write_text(json.dumps(
        {"workload": args.workload, "seed": args.seed, "spans": spans, "plans": plans},
        indent=1))


def sweep(args, cfg):
    """Run every declared query: check it, or record reference digests."""
    names = run_names()
    metrics.check_workloads(cfg, names)
    if not args.record_digests:
        raw = jvm(cfg, metrics.pass_orders("all", args.seed, names, 1), 0, 0, 0, 0,
                  args.seed, "check-all", SWEEP_TIMEOUT_S)
        digests = load_digests()
        require_digest_coverage(raw["names"], digests)
        attempted, fails = check_outputs(raw, digests)
        for f in fails:
            print("[perfbench] output check failed: " + f, file=sys.stderr)
        print(json.dumps({"checked": attempted, "failed": len(fails)}))
        return 1 if fails else 0
    seen = {}
    for seed in (args.seed, args.seed + 1):
        raw = jvm(cfg, metrics.pass_orders("all", seed, names, 2), 0, 0, 1, 0, seed,
                  f"record-{seed}", SWEEP_TIMEOUT_S)
        for ex in raw["executions"]:
            if ex["error"]:
                raise BenchError(f"{ex['query']} failed while recording: {ex['error']}")
            seen.setdefault(ex["query"], []).append(ex)
    queries, varying = {}, {}
    for q, exs in sorted(seen.items()):
        first = exs[0]
        for ex in exs[1:]:
            if (ex["schema"], ex["rows"]) != (first["schema"], first["rows"]):
                raise BenchError(f"{q} changes schema or row count between runs")
        queries[q] = {k: first[k] for k in ("schema", "rows", "hash")}
        if len({ex["hash"] for ex in exs}) > 1:
            varying[q] = "content hash differed across four executions while recording"
    old = load_digests() if (HERE / "digests.json").exists() else {"varying": {}}
    for q, why in old["varying"].items():
        varying.setdefault(q, why)
    (HERE / "digests.json").write_text(json.dumps(
        {"data": cfg["data"], "queries": queries, "varying": dict(sorted(varying.items()))},
        indent=1, sort_keys=False) + "\n")
    print(json.dumps({"recorded": len(queries), "varying": sorted(varying)}))
    return 0


def run_names():
    """Declared query names, from the JVM without a Spark session."""
    proc = subprocess.run(["java", "-XX:-UsePerfData", "-cp", build.classpath(),
                           "graftbench.Names"],
                          stdout=subprocess.PIPE, text=True, timeout=120)
    if proc.returncode != 0:
        raise BenchError("could not list the declared queries")
    return proc.stdout.split()


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--check-all", action="store_true")
    ap.add_argument("--record-digests", action="store_true")
    args = ap.parse_args(argv)
    try:
        cfg = load_config()
        build.build()
        if args.check_all or args.record_digests:
            return sweep(args, cfg)
        if not args.workload:
            raise BenchError("--workload is required")
        print(json.dumps(run_workload(args, cfg)))
        return 0
    except BenchError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())

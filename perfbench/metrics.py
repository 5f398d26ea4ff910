"""Policy of the benchmark, kept free of I/O so the self-tests can reach it:
workload membership, seeded query orders, the output check, and the
reduction of one run's raw samples to the metrics it prints."""
import math
import random
import re
import statistics

# name -> unit; the order is the order they are printed in
END_TO_END = {
    "setup_s": "s",
    "warm_pass_s": "s",
    "query_geomean_s": "s",
    "peak_rss_mb": "MB",
}

KERNELS = [
    "graft_cosine", "graft_dot", "graft_hamming64", "graft_minhash",
    "graft_lsh_bands", "graft_simhash64", "graft_srp_bucket", "graft_srp_probes",
    "graft_minhash_agreement", "graft_shingle_hashes", "graft_char_shingle_hashes",
    "graft_word_shingles", "graft_word_shingles_all", "graft_text_stats",
    "graft_gopher_stats", "graft_fingerprint64", "graft_sorted_contains",
    "graft_sorted_contains_str", "graft_sorted_rank", "graft_sorted_intersect",
    "graft_window_digests", "graft_gram", "graft_bounded_topk", "graft_freq_sketch",
]

LAYER_FAMILIES = ["dedup", "similarity", "text", "multimodal", "curation"]

PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s", "session.cold_pass_s": "s",
    "entry.build_s": "s", "entry.build_jobs": "count",
    "plans.plan_s": "s", "plans.exchanges": "count", "plans.reused_exchanges": "count",
    "plans.broadcasts": "count", "plans.codegen_stages": "count",
    "plans.non_codegen_ops": "count", "plans.graft_native_ops": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.empty_task_frac": "frac", "scheduler.task_launch_s": "s",
    "scheduler.queue_wait_s": "s", "scheduler.driver_gap_s": "s",
    "scheduler.slot_util": "frac", "scheduler.task_skew": "ratio",
    "scheduler.task_failures": "count",
    "sources.scan_bytes": "bytes", "sources.scan_rows": "count", "sources.scan_s": "s",
    "exec.task_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.peak_mem_mb": "MB", "exec.spill_bytes": "bytes",
    "exchange.write_bytes": "bytes", "exchange.read_bytes": "bytes",
    "exchange.records": "count", "exchange.write_s": "s", "exchange.fetch_wait_s": "s",
    "exchange.broadcast_bytes": "bytes", "exchange.bytes_per_scan_byte": "ratio",
}
for _fam in LAYER_FAMILIES:
    PER_LAYER.update({f"{_fam}.wall_s": "s", f"{_fam}.build_s": "s",
                      f"{_fam}.task_cpu_s": "s"})
for _fn in KERNELS:
    PER_LAYER[f"expressions.{_fn}.ns_per_row"] = "ns"
PER_LAYER.update({
    "streaming.batches": "count", "streaming.batch_p50_ms": "ms",
    "streaming.input_rows": "count", "streaming.rows_per_s": "1/s",
    "streaming.state_rows": "count", "streaming.state_mem_bytes": "bytes",
    "streaming.state_commit_s": "s", "streaming.trigger_overhead_s": "s",
    "trace.overhead_frac": "frac",
})


class BenchError(Exception):
    """The benchmark itself is misdefined or could not run."""


def prefix(name):
    m = re.match(r"[a-z]+", name)
    return m.group(0) if m else ""


def membership(names, families):
    """Workload of every declared query, by its name's prefix. A name
    whose prefix belongs to no workload is an error, so no new query can
    stay outside the benchmark unnoticed."""
    out, orphans = {}, []
    for n in names:
        w = families.get(prefix(n))
        if w is None:
            orphans.append(n)
        else:
            out[n] = w
    if orphans:
        raise BenchError("declared queries with no workload: " + ", ".join(sorted(orphans)))
    return out


def check_workloads(cfg, names):
    """Each workload's timed queries are declared and belong to it."""
    fam = membership(names, cfg["families"])
    for w, spec in cfg["workloads"].items():
        for q in spec["queries"]:
            if fam.get(q) != w:
                raise BenchError(f"workload {w} times {q}, which is "
                                 f"{'not declared' if q not in fam else 'in ' + fam[q]}")
    return fam


def pass_orders(workload, seed, queries, n):
    """`n` passes over `queries`, each a permutation drawn from a
    generator seeded by the workload and the seed alone."""
    rng = random.Random(f"{workload}:{seed}")
    out = []
    for _ in range(n):
        order = list(queries)
        rng.shuffle(order)
        out.append(order)
    return out


def check_output(ex, ref, varying):
    """None when the execution's output matches its reference digest,
    else the reason. Queries in `varying` are checked on schema and row
    count only."""
    if ex.get("error"):
        return "error: " + ex["error"][:300]
    if ref is None:
        return "no reference digest"
    for key in ("schema", "rows") + (() if ex["query"] in varying else ("hash",)):
        if ex[key] != ref[key]:
            return f"{key} {ex[key]!r} != reference {ref[key]!r}"
    return None


def measured(raw, traced):
    """Numbers of the measured (not cold, not settle) passes, traced or not."""
    return [p["pass"] for p in raw["passes"][1:] if not p["settle"] and p["traced"] == traced]


def query_medians(raw):
    """Each query's median latency over the measured untraced passes."""
    keep = set(measured(raw, False))
    by_query = {}
    for e in raw["executions"]:
        if e["pass"] in keep:
            by_query.setdefault(e["query"], []).append(e["wall_s"])
    return {q: statistics.median(v) for q, v in by_query.items()}


def end_to_end(raw):
    """Set-up is the one cold set-up, from process launch. A warm pass is
    summed from per-query medians, so one slow execution (a GC pause, a
    late JIT compile) does not decide it."""
    med = query_medians(raw)
    return {
        "setup_s": raw["setup"]["start_s"] + raw["setup"]["warmup_s"],
        "warm_pass_s": sum(med.values()),
        "query_geomean_s": math.exp(statistics.fmean(math.log(v) for v in med.values())),
        "peak_rss_mb": raw["peak_rss_kib"] * 1024 / 1e6,
    }


def _pass_layers(execs, cores, layer_family):
    """Per-layer figures of one traced pass."""
    t = {}
    for e in execs:
        for k, v in e["trace"].items():
            if not isinstance(v, list):
                t[k] = max(t.get(k, 0.0), v) if k == "peak_mem_bytes" else t.get(k, 0.0) + v
    g = lambda k: t.get(k, 0.0)
    skews = [s for e in execs for s in e["trace"]["stage_skews"]]
    batch_ms = [b for e in execs for b in e["trace"]["batch_ms_list"]]
    m = {
        "entry.build_s": sum(e["build_s"] for e in execs),
        "entry.build_jobs": g("build_jobs"),
        "plans.plan_s": g("plan_ms") / 1e3,
        "plans.exchanges": g("exchanges"),
        "plans.reused_exchanges": g("reused_exchanges"),
        "plans.broadcasts": g("broadcasts"),
        "plans.codegen_stages": g("codegen_stages"),
        "plans.non_codegen_ops": g("non_codegen_ops"),
        "plans.graft_native_ops": g("graft_native_ops"),
        "scheduler.jobs": g("jobs"),
        "scheduler.stages": g("stages"),
        "scheduler.tasks": g("tasks"),
        "scheduler.empty_task_frac": g("empty_tasks") / g("tasks") if g("tasks") else 0.0,
        "scheduler.task_launch_s": g("launch_ms") / 1e3,
        "scheduler.queue_wait_s": g("queue_wait_ms") / 1e3,
        "scheduler.driver_gap_s": sum(max(0.0, e["wall_s"] - e["trace"]["job_ms"] / 1e3)
                                      for e in execs),
        "scheduler.slot_util": g("task_ms") / (cores * g("job_ms")) if g("job_ms") else 0.0,
        "scheduler.task_skew": statistics.median(skews) if skews else 1.0,
        "scheduler.task_failures": g("task_failures"),
        "sources.scan_bytes": g("scan_bytes"),
        "sources.scan_rows": g("scan_rows"),
        "sources.scan_s": g("scan_time_ms") / 1e3,
        "exec.task_s": g("run_ms") / 1e3,
        "exec.task_cpu_s": g("cpu_ns") / 1e9,
        "exec.gc_s": g("gc_ms") / 1e3,
        "exec.peak_mem_mb": g("peak_mem_bytes") / 1e6,
        "exec.spill_bytes": g("spill_bytes"),
        "exchange.write_bytes": g("shuffle_write_bytes"),
        "exchange.read_bytes": g("shuffle_read_bytes"),
        "exchange.records": g("shuffle_records"),
        "exchange.write_s": g("shuffle_write_ns") / 1e9,
        "exchange.fetch_wait_s": g("shuffle_fetch_wait_ms") / 1e3,
        "exchange.broadcast_bytes": g("broadcast_bytes"),
        "exchange.bytes_per_scan_byte":
            g("shuffle_write_bytes") / g("scan_bytes") if g("scan_bytes") else 0.0,
        "streaming.batches": g("batches"),
        "streaming.batch_p50_ms": statistics.median(batch_ms) if batch_ms else 0.0,
        "streaming.input_rows": g("input_rows"),
        "streaming.rows_per_s": g("input_rows") / (g("batch_ms") / 1e3) if g("batch_ms") else 0.0,
        "streaming.state_rows": g("state_rows"),
        "streaming.state_mem_bytes": g("state_mem_bytes"),
        "streaming.state_commit_s": g("state_commit_ms") / 1e3,
        "streaming.trigger_overhead_s": g("trigger_overhead_ms") / 1e3,
    }
    for fam in LAYER_FAMILIES:
        mine = [e for e in execs if layer_family.get(prefix(e["query"])) == fam]
        m[f"{fam}.wall_s"] = sum((e["wall_s"] for e in mine), 0.0)
        m[f"{fam}.build_s"] = sum((e["build_s"] for e in mine), 0.0)
        m[f"{fam}.task_cpu_s"] = sum(e["trace"].get("cpu_ns", 0.0) for e in mine) / 1e9
    return m


def per_layer(raw, layer_family):
    """Medians over the traced warm passes, plus set-up, kernel probe and
    tracing overhead."""
    traced, untraced = measured(raw, True), measured(raw, False)
    per_pass = [_pass_layers([e for e in raw["executions"] if e["pass"] == p],
                             raw["cores"], layer_family) for p in traced]
    out = {k: statistics.median(pp[k] for pp in per_pass) for k in per_pass[0]}
    out["session.start_s"] = raw["setup"]["start_s"]
    out["session.warmup_s"] = raw["setup"]["warmup_s"]
    out["session.cold_pass_s"] = raw["passes"][0]["wall_s"]
    for fn in KERNELS:
        out[f"expressions.{fn}.ns_per_row"] = raw["kernels"][fn]
    wall = {p["pass"]: p["wall_s"] for p in raw["passes"]}
    out["trace.overhead_frac"] = (statistics.median(wall[p] for p in traced)
                                  / statistics.median(wall[p] for p in untraced) - 1.0)
    return {k: out[k] for k in PER_LAYER}


def result_line(correct, attempted, failed, values, units):
    return {
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }

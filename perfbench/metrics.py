"""Metrics of one benchmark run, computed from the harness's run record.

End-to-end metrics come from the untraced timed passes, per-layer metrics
from the traced ones (each is the median over passes of a per-pass total).
Every percentile is reported with the number of samples behind it.
"""
import statistics

MB = 1024.0 * 1024.0

END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s"}

PER_LAYER = {
    "engine.session_s": "s", "engine.codegen_compile_s": "s", "engine.gc_s": "s",
    "entry.construct_s": "s", "entry.construct_jobs": "count", "entry.eager_gates": "count",
    "entry.plan_s": "s", "entry.exec_s": "s", "entry.exec_jobs": "count",
    "entry.stages": "count", "entry.tasks": "count", "entry.task_busy_frac": "ratio",
    "entry.scan_mb": "MB", "entry.shuffle_mb": "MB", "entry.spill_mb": "MB",
    "entry.failed_tasks": "count",
    "functions.kernel_gates": "count", "functions.kernel_exec_s": "s",
    "maplejuice.jobs": "count", "maplejuice.map_task_s": "s", "maplejuice.reduce_task_s": "s",
    "maplejuice.shuffle_mb": "MB", "maplejuice.shuffle_records": "count",
    "maplejuice.spill_mb": "MB", "maplejuice.exe_task_s": "s", "maplejuice.reduce_skew": "ratio",
    "warehouse.meta_s": "s", "warehouse.write_text_s": "s",
    "linetable.write_s": "s", "linetable.read_s": "s", "linetable.files": "count",
    "linetable.bytes_per_user_byte": "ratio",
    "streaming.batches": "count", "streaming.input_rows": "count",
    "streaming.batch_p50_ms": "ms", "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s", "streaming.commit_offsets_s": "s",
    "streaming.query_planning_s": "s", "streaming.latest_offset_s": "s",
    "streaming.state_commit_s": "s", "streaming.state_rows": "count",
    "streaming.state_mem_mb": "MB", "streaming.harness_self_s": "s",
    "trace.overhead_frac": "ratio", "trace.span_coverage": "ratio",
    "mj_wordcount_s": "s", "mj_wordcount_range_s": "s", "mj_wordcount_exe_s": "s",
    "mj_vote_s": "s", "mj_contact_s": "s", "wh_put_s": "s", "wh_get_s": "s",
    "failed_op_ratio": "ratio", "peak_rss_mb": "MB",
}

MJ_JOBS = ("mj_wordcount", "mj_wordcount_range", "mj_wordcount_exe", "mj_vote", "mj_contact")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def nearest_rank(xs, p):
    """The nearest-rank p-th percentile of xs."""
    s = sorted(xs)
    k = max(1, -(-len(s) * p // 100))  # ceil(n * p / 100)
    return s[int(k) - 1]


def tail_percentile(xs):
    """(percentile, value): the highest percentile that leaves at least 10
    samples above it, p = 100 * (n - 10) / n, i.e. the sample with exactly
    10 larger ones. Never below the median: with fewer than 20 samples it
    is the nearest-rank p50."""
    n = len(xs)
    if n < 20:
        return 50.0, nearest_rank(xs, 50.0)
    return 100.0 * (n - 10) / n, sorted(xs)[n - 11]


def children(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def subtree(span, kids):
    out, todo = [], [span]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


def total(spans, key):
    return sum(s.get(key, 0) for s in spans)


def rep_layers(rep_span, rep, kids, cores, kernel_gates):
    """Per-layer totals of one traced pass."""
    ops = kids.get(rep_span["id"], [])
    every = subtree(rep_span, kids)
    gates = [o for o in ops if o["name"] not in MJ_JOBS + ("put", "get", "meta")]
    mj = [o for o in ops if o["name"] in MJ_JOBS]
    m = {}

    def phase(op, name):
        return [s for s in kids.get(op["id"], []) if s["name"] == name]

    cons = [s for o in gates for p in phase(o, "construct") for s in subtree(p, kids)]
    plan = [p for o in gates for p in phase(o, "plan")]
    exe = [s for o in gates for p in phase(o, "exec") for s in subtree(p, kids)]
    m["entry.construct_s"] = sum(p["seconds"] for o in gates for p in phase(o, "construct"))
    m["entry.construct_jobs"] = total(cons, "jobs")
    m["entry.eager_gates"] = sum(
        1 for o in gates if total([s for p in phase(o, "construct") for s in subtree(p, kids)],
                                  "jobs") > 0)
    m["entry.plan_s"] = total(plan, "seconds")
    m["entry.exec_s"] = sum(p["seconds"] for o in gates for p in phase(o, "exec"))
    m["entry.exec_jobs"] = total(exe, "jobs")
    in_gates = [s for o in gates for s in subtree(o, kids)]
    m["entry.stages"] = total(in_gates, "stages")
    m["entry.tasks"] = total(in_gates, "tasks")
    m["entry.scan_mb"] = total(in_gates, "input_bytes") / MB
    m["entry.shuffle_mb"] = total(in_gates, "shuffle_write_bytes") / MB
    m["entry.spill_mb"] = total(in_gates, "spill_bytes") / MB
    # these two cover the whole pass, whatever the workload
    m["entry.task_busy_frac"] = total(every, "task_run_s") / (rep["wall_s"] * cores)
    m["entry.failed_tasks"] = total(every, "failed_tasks")

    kg = [o for o in gates if o["name"] in kernel_gates]
    m["functions.kernel_gates"] = len(kg)
    m["functions.kernel_exec_s"] = sum(p["seconds"] for o in kg for p in phase(o, "exec"))

    # the jobs themselves; the read-back checks after them are not counted
    mjs = [s for o in mj for p in phase(o, "job") for s in subtree(p, kids)]
    exe_job = [s for o in mj if o["name"] == "mj_wordcount_exe"
               for p in phase(o, "job") for s in subtree(p, kids)]
    m["maplejuice.jobs"] = total(mjs, "jobs")
    m["maplejuice.map_task_s"] = total(mjs, "map_task_s")
    m["maplejuice.reduce_task_s"] = total(mjs, "reduce_task_s")
    m["maplejuice.shuffle_mb"] = total(mjs, "shuffle_write_bytes") / MB
    m["maplejuice.shuffle_records"] = total(mjs, "shuffle_write_records")
    m["maplejuice.spill_mb"] = total(mjs, "spill_bytes") / MB
    m["maplejuice.exe_task_s"] = total(exe_job, "task_run_s")
    m["maplejuice.reduce_skew"] = max([s.get("reduce_skew", 0.0) for s in mjs], default=0.0)

    def kind(k):
        return sum(s["seconds"] for s in every if s["kind"] == k)

    m["warehouse.meta_s"] = kind("warehouse.meta")
    m["warehouse.write_text_s"] = kind("warehouse.write_text")
    m["linetable.write_s"] = kind("linetable.write")
    m["linetable.read_s"] = kind("linetable.read")

    streams = [o["stream"] for o in ops if "stream" in o]
    triggers = [t for s in streams for t in s["trigger_ms"]]
    m["streaming.batches"] = sum(s["batches"] for s in streams)
    m["streaming.input_rows"] = sum(s["input_rows"] for s in streams)
    m["streaming.batch_p50_ms"] = median(triggers)
    for key in ("add_batch", "wal_commit", "commit_offsets", "query_planning",
                "latest_offset", "state_commit"):
        m[f"streaming.{key}_s"] = sum(s[f"{key}_ms"] for s in streams) / 1e3
    m["streaming.state_rows"] = sum(s["state_rows"] for s in streams)
    m["streaming.state_mem_mb"] = max([s["state_mem_bytes"] for s in streams], default=0) / MB
    stream_ops = [o for o in gates if "stream" in o]
    m["streaming.harness_self_s"] = (
        sum(p["seconds"] for o in stream_ops for p in phase(o, "construct"))
        - sum(t for o in stream_ops for t in o["stream"]["trigger_ms"]) / 1e3)
    m["trace.span_coverage"] = sum(o["seconds"] for o in ops) / rep["wall_s"]
    return m


def op_latencies(reps, name):
    return [o["latency_s"] for r in reps for o in r["ops"] if o["name"] == name]


def summarize(record, oracle_failures):
    """End-to-end and per-layer metrics plus the correctness verdict."""
    reps = record["reps"]
    plain = [r for r in reps if not r["traced"]]
    traced = [r for r in reps if r["traced"]]

    failures = []
    for w in record["warmup"]:
        if not w["ok"]:
            failures.append(f"set-up {w['name']}: {w['msg']}")
        elif w["name"] in oracle_failures:
            failures.append(f"set-up {w['name']}: oracle: {oracle_failures[w['name']]}")
    for r in reps:
        for o in r["ops"]:
            if not o["ok"]:
                failures.append(f"rep {r['rep']} {o['name']}: {o['msg']}")
            elif o["name"] in oracle_failures:
                failures.append(f"rep {r['rep']} {o['name']}: output of a gate that failed the oracle")
    attempted = len(record["warmup"]) + sum(len(r["ops"]) for r in reps)

    lat = [o["latency_s"] for r in plain for o in r["ops"]]
    p_tail, v_tail = tail_percentile(lat)
    per_op = {}
    for r in plain:
        for o in r["ops"]:
            per_op.setdefault(o["name"], []).append(o["latency_s"])
    setup = record["session_s"] + median(record["generate_s"]) + record["warmup_s"]
    e2e_values = {
        "setup_s": setup,
        "wall_s": median([r["wall_s"] for r in plain]),
        "op_p50_s": median([median(v) for v in per_op.values()]),
        "op_tail_s": v_tail,
    }
    samples = {
        "setup_s": {"generate": len(record["generate_s"]), "session": 1, "warmup": 1},
        "wall_s": len(plain), "op_p50_s": {"ops": len(per_op), "passes": len(plain)},
        "op_tail_s": {"n": len(lat), "percentile": p_tail},
    }

    layers = {}
    if traced:
        spans = record["spans"]
        kids = children(spans)
        kernel_gates = set(record["workload_info"].get("kernel_gates", []))
        per_rep = []
        for r in traced:
            rs = next(s for s in spans if s["kind"] == "rep" and s["name"] == f"rep{r['rep']}")
            per = rep_layers(rs, r, kids, record["cores"], kernel_gates)
            per["engine.codegen_compile_s"] = r["codegen_compile_s"]
            per["engine.gc_s"] = r["gc_s"]
            per_rep.append(per)
        for k in per_rep[0]:
            layers[k] = median([p[k] for p in per_rep])
        layers["engine.session_s"] = record["session_s"]
        layers["trace.overhead_frac"] = (
            median([r["wall_s"] for r in traced]) / median([r["wall_s"] for r in plain]) - 1)
        meta = [o for r in plain for o in r["ops"] if o["name"] == "meta"]
        layers["linetable.files"] = median([o["linetable_files"] for o in meta])
        layers["linetable.bytes_per_user_byte"] = median(
            [o["linetable_bytes"] / o["linetable_user_bytes"] for o in meta])
        for job in MJ_JOBS:
            layers[f"{job}_s"] = median(op_latencies(plain, job))
        layers["wh_put_s"] = median(op_latencies(plain, "put"))
        layers["wh_get_s"] = median(op_latencies(plain, "get"))
        layers["failed_op_ratio"] = len(failures) / attempted
        layers["peak_rss_mb"] = median([r["peak_rss_mb"] for r in plain])
        samples["per_layer_passes"] = len(traced)

    def metric_map(values, units):
        return {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}

    return {
        "end_to_end": metric_map(e2e_values, END_TO_END),
        "per_layer": metric_map(layers, PER_LAYER) if traced else {},
        "samples": samples,
        "attempted": attempted,
        "failed": len(failures),
        "failures": failures,
    }

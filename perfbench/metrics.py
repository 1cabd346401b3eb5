"""Metrics of one run, computed from the JVM's result file after the
output checks have set each op's `ok`, `rows` and `bytes`."""
import bisect

import stats

MB = 1048576.0

# (name, unit) of the end-to-end metrics, measured with tracing off
END_TO_END = [
    ("setup_s", "s"), ("wall_s", "s"), ("cpu_s", "s"), ("op_p50_s", "s"),
    ("op_tail_s", "s"), ("rows_per_s", "rows/s"), ("out_bytes_per_row", "B"),
    ("peak_heap_mb", "MB"),
]

FS_KINDS = ["list", "status", "open", "create", "rename", "delete", "mkdirs"]
FS_META = {"list", "status", "rename", "delete", "mkdirs"}
KERNELS = [("gunzip_ns_per_row", "ns"), ("minhash_ns_per_doc", "ns"),
           ("shingle_set_ns_per_doc", "ns"), ("tokens_ns_per_doc", "ns"),
           ("sorted_intersect_ns_per_pair", "ns")]

# (name, unit) of the per-layer metrics, from the traced pass
PER_LAYER = [
    ("queries.build_s", "s"), ("queries.build_jobs", "count"),
    ("operators.export_build_s", "s"), ("operators.export_to_parquet_s", "s"),
    ("plans.analysis_s", "s"), ("plans.optimization_s", "s"), ("plans.planning_s", "s"),
    ("plans.executions", "count"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.job_busy_s", "s"), ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"),
    ("exec.task_gc_s", "s"), ("exec.task_overhead_s", "s"), ("exec.parallelism", "ratio"),
    ("exec.shuffle_write_mb", "MB"), ("exec.shuffle_read_mb", "MB"), ("exec.spill_mb", "MB"),
    ("exec.peak_exec_memory_mb", "MB"),
    ("sources.rows_read", "count"), ("sources.bytes_read_mb", "MB"),
    ("sources.rows_read_per_row_out", "ratio"),
    ("sink.rows_written", "count"), ("sink.bytes_written_mb", "MB"), ("sink.write_s", "s"),
    ("sink.commit_s", "s"), ("sink.probe_s", "s"),
] + [("functions." + k, u) for k, u in KERNELS] + [
    ("fs." + k, "count") for k in FS_KINDS] + [
    ("fs.meta_s", "s"), ("fs.bytes_read_mb", "MB"), ("fs.bytes_written_mb", "MB"),
    ("driver.residual_s", "s"), ("jvm.gc_s", "s"), ("jvm.jit_s", "s"),
    ("trace.wall_s", "s"), ("trace.overhead_s", "s"),
]


def latency(op):
    return (op["end_ms"] - op["start_ms"]) / 1e3


def by_pass(ops):
    passes = {}
    for o in ops:
        passes.setdefault(o["pass"], []).append(o)
    return [passes[p] for p in sorted(passes)]


def pass_wall(ops):
    return sum(latency(o) for o in ops)


def end_to_end(result):
    """The end-to-end metrics of an untraced run."""
    ops = result["ops"]
    passes = by_pass(ops)
    wall = stats.median([pass_wall(p) for p in passes])
    lat = [latency(o) for o in ops]
    tail = stats.tail(lat)
    rows = sum(o.get("rows", 0) for o in ops)
    return {
        "setup_s": (result["first_op_ms"] - result["setup_start_ms"]) / 1e3,
        "wall_s": wall,
        "cpu_s": stats.median([sum(o["cpu_ms"] for o in p) / 1e3 for p in passes]),
        "op_p50_s": stats.median(lat),
        "op_tail_s": tail[1],
        "rows_per_s": stats.median([sum(o.get("rows", 0) for o in p) / pass_wall(p) for p in passes]),
        "out_bytes_per_row": sum(o.get("bytes", 0) for o in ops) / max(rows, 1),
        "peak_heap_mb": result["jvm"]["peak_heap_mb"],
    }


def attach(spans, ops):
    """Gives every span without an op the op whose interval contains its
    start; spans outside every op (check steps, set-up) get op -1."""
    starts = [o["start_ms"] for o in ops]
    for s in spans:
        if s["op"] >= 0:
            continue
        i = bisect.bisect_right(starts, s["start"]) - 1
        if i >= 0 and s["start"] <= ops[i]["end_ms"]:
            s["op"] = ops[i]["id"]
    return [s for s in spans if s["op"] >= 0]


def per_layer(result):
    """The per-layer metrics of a traced run: from the spans of its traced
    pass, and its overhead against the mean of the untraced passes around
    it."""
    passes = by_pass(result["ops"])
    traced = passes[1]
    untraced_wall = (pass_wall(passes[0]) + pass_wall(passes[2])) / 2
    ids = {o["id"] for o in traced}
    spans = [s for s in attach(result["spans"], traced) if s["op"] in ids]
    kind = {}
    for s in spans:
        kind.setdefault(s["kind"], []).append(s)

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss) / 1e3

    def named(k, n):
        return [s for s in kind.get(k, []) if s["name"] == n]

    jobs = kind.get("job", [])
    jsum = lambda key: sum(j[key] for j in jobs)
    iv = lambda ss: [(s["start"], s["end"]) for s in ss]

    builds = named("queries", "build")
    build_jobs = sum(1 for j in jobs for b in builds
                     if b["op"] == j["op"] and b["start"] <= j["start"] <= b["end"])

    writes = [j for j in jobs if j["out_rows"] > 0 or j["out_bytes"] > 0]
    execs = {s["exec"]: s for s in kind.get("sql", [])}
    last_write = {}
    for j in writes:
        last_write[j["exec"]] = max(last_write.get(j["exec"], 0.0), j["end"])
    commit = sum(max(0.0, execs[e]["end"] - t) for e, t in last_write.items() if e in execs) / 1e3

    fs = kind.get("fs", [])
    meta = [s for s in fs if s["name"] in FS_META]
    run_s = jsum("run_ms") / 1e3
    busy = stats.union_length(iv(jobs)) / 1e3
    rows_out = sum(o.get("rows", 0) for o in traced)

    # an op's residual: its time outside jobs, plan phases and the
    # metadata calls of the client thread
    engine = iv(jobs) + iv(kind.get("plan", [])) + iv(s for s in meta if not s["task"])
    residual = 0.0
    for o in traced:
        span = (o["start_ms"], o["end_ms"])
        mine = [(s, e) for s, e in engine if s < span[1] and e > span[0]]
        residual += stats.self_time(span, mine) / 1e3

    m = {
        "queries.build_s": dur(builds),
        "queries.build_jobs": build_jobs,
        "operators.export_build_s": dur(named("operators", "export_build")),
        "operators.export_to_parquet_s": dur(named("operators", "export_to_parquet")),
        "plans.analysis_s": dur(named("plan", "analysis")),
        "plans.optimization_s": dur(named("plan", "optimization")),
        "plans.planning_s": dur(named("plan", "planning")),
        "plans.executions": len(kind.get("execution", [])),
        "exec.jobs": len(jobs),
        "exec.stages": jsum("stages"),
        "exec.tasks": jsum("tasks"),
        "exec.job_busy_s": busy,
        "exec.task_run_s": run_s,
        "exec.task_cpu_s": jsum("cpu_ns") / 1e9,
        "exec.task_gc_s": jsum("gc_ms") / 1e3,
        "exec.task_overhead_s": (jsum("task_ms") - jsum("run_ms")) / 1e3,
        "exec.parallelism": run_s / busy if busy else 0.0,
        "exec.shuffle_write_mb": jsum("shuffle_write_b") / MB,
        "exec.shuffle_read_mb": jsum("shuffle_read_b") / MB,
        "exec.spill_mb": jsum("spill_b") / MB,
        "exec.peak_exec_memory_mb": max((j["peak_exec_mem_b"] for j in jobs), default=0) / MB,
        "sources.rows_read": jsum("in_rows"),
        "sources.bytes_read_mb": jsum("in_bytes") / MB,
        "sources.rows_read_per_row_out": jsum("in_rows") / max(rows_out, 1),
        "sink.rows_written": jsum("out_rows"),
        "sink.bytes_written_mb": jsum("out_bytes") / MB,
        "sink.write_s": dur(writes),
        "sink.commit_s": commit,
        "sink.probe_s": dur(named("execution", "isEmpty")),
        "fs.meta_s": dur(meta),
        "fs.bytes_read_mb": result["fs_bytes"]["read"] / MB,
        "fs.bytes_written_mb": result["fs_bytes"]["written"] / MB,
        "driver.residual_s": residual,
        "jvm.gc_s": result["jvm"]["gc_s"],
        "jvm.jit_s": result["jvm"]["jit_s"],
        "trace.wall_s": pass_wall(traced),
        "trace.overhead_s": pass_wall(traced) - untraced_wall,
    }
    for k in FS_KINDS:
        m["fs." + k] = sum(1 for s in fs if s["name"] == k)
    for k, _ in KERNELS:
        m["functions." + k] = result["kernels"][k]
    return m

"""Span tree: parent links, self time, coverage, and the per-layer metrics.

Spans come from the harness as JSON lines with epoch-nanosecond `start` and
`end`. Driver-side spans (pass, op, query_build, model, model_build, commit,
txlog) carry their parent. Spark executions are parented by time
containment in the innermost driver span; jobs by their execution id;
stages by their job id.
"""
import json
from collections import defaultdict

from . import stats

DRIVER_KINDS = ("workload", "pass", "op", "query_build", "model", "model_build",
                "commit", "txlog")
# Spark's listener clock has millisecond resolution
TOLERANCE_NS = 2_000_000


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals`, each clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """Duration minus the part of the span's interval its children cover."""
    return (span["end"] - span["start"]) - union_length(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def link(spans):
    """Fill in missing parents. Returns {id: [children]}."""
    driver = [s for s in spans if s["kind"] in DRIVER_KINDS]
    execs = {s["attrs"].get("execution_id"): s for s in spans if s["kind"] == "exec"}
    jobs = {s["attrs"].get("job_id"): s for s in spans if s["kind"] == "job"}

    def innermost(s):
        best = None
        for d in driver:
            if d is s:
                continue
            if (d["start"] - TOLERANCE_NS <= s["start"]
                    and s["end"] <= d["end"] + TOLERANCE_NS):
                if best is None or d["end"] - d["start"] < best["end"] - best["start"]:
                    best = d
        return best["id"] if best else 0

    for s in spans:
        if s["parent"]:
            continue
        if s["kind"] == "job" and s["attrs"].get("execution_id") in execs:
            s["parent"] = execs[s["attrs"]["execution_id"]]["id"]
        elif s["kind"] == "stage" and s["attrs"].get("job_id") in jobs:
            s["parent"] = jobs[s["attrs"]["job_id"]]["id"]
        elif s["kind"] != "workload":
            s["parent"] = innermost(s)
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    return children


def descendants(span_id, children):
    out, todo = [], list(children.get(span_id, []))
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(children.get(s["id"], []))
    return out


def within(spans, windows):
    """Spans whose start falls inside one of the (start, end) windows."""
    return [s for s in spans if any(a - TOLERANCE_NS <= s["start"] <= b for a, b in windows)]


def layer_metrics(result, spans, cores):
    """Per-layer metrics, each per traced pass (sum over the traced passes
    divided by their number)."""
    children = link(spans)
    traced = {p["index"] for p in result["passes"] if p["traced"]}
    n = max(len(traced), 1)
    ops = [o for o in result["ops"] if o["pass"] in traced]
    windows = [(s["start"], s["end"]) for s in spans if s["kind"] == "pass"]
    in_pass = within(spans, windows)
    by_kind = defaultdict(list)
    for s in in_pass:
        by_kind[s["kind"]].append(s)

    def counter(k):
        return sum(o["counters"].get(k, 0.0) for o in ops)

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss) / 1e9

    def attr(ss, k):
        return sum(s["attrs"].get(k, 0) for s in ss)

    op_spans = by_kind["op"]
    op_wall = dur(op_spans)
    stages, jobs = by_kind["stage"], by_kind["job"]
    run_s = attr(stages, "executor_run_ms") / 1e3
    gap = sum((o["end"] - o["start"]) - union_length(
        [(j["start"], j["end"]) for j in jobs], o["start"], o["end"])
        for o in op_spans) / 1e9
    layer_kinds = ("query_build", "model_build", "exec", "commit", "txlog")
    covered = sum(union_length(
        [(d["start"], d["end"]) for d in descendants(o["id"], children)
         if d["kind"] in layer_kinds], o["start"], o["end"]) for o in op_spans) / 1e9

    txlog = defaultdict(list)
    for s in by_kind["txlog"]:
        txlog[s["name"]].append(s)

    incremental = [o for o in ops if o["kind"] in
                   ("insert_overwrite", "merge", "append", "snapshot")]
    useful = [o for o in incremental if o["counters"].get("write.rows", 0) > 0]

    def by_op_kind(k):
        return sum(o["wall_s"] for o in ops if o["kind"] == k)

    untraced = [p["wall_s"] for p in result["passes"] if not p["traced"]]
    traced_walls = [p["wall_s"] for p in result["passes"] if p["traced"]]
    overhead = (stats.median(traced_walls) / stats.median(untraced) - 1.0
                if untraced and traced_walls else 0.0)

    m = {
        "queries.build_s": sum(o["build_s"] for o in ops if o["kind"] == "query"),
        "catalyst.analysis_s": counter("catalyst.analysis_s"),
        "catalyst.optimization_s": counter("catalyst.optimization_s"),
        "catalyst.planning_s": counter("catalyst.planning_s"),
        "catalyst.executions": counter("catalyst.executions"),
        "codegen.compiles": counter("codegen.compiles"),
        "codegen.compile_s": counter("codegen.compile_s"),
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": attr(stages, "tasks"),
        "exec.stage_wall_s": dur(stages),
        "exec.executor_run_s": run_s,
        "exec.executor_cpu_s": attr(stages, "executor_cpu_ns") / 1e9,
        "exec.shuffle_write_mb": attr(stages, "shuffle_write_bytes") / 2**20,
        "exec.shuffle_read_mb": attr(stages, "shuffle_read_bytes") / 2**20,
        "exec.spill_mb": attr(stages, "spill_bytes") / 2**20,
        "exec.driver_gap_s": gap,
        "ops.reuse_blocks": counter("ops.reuse_blocks"),
        "ops.reuse_mb": counter("ops.reuse_bytes") / 2**20,
        "runtime.build_s": dur(by_kind["model_build"]),
        "runtime.insert_overwrite_s": by_op_kind("insert_overwrite"),
        "runtime.merge_s": by_op_kind("merge"),
        "runtime.snapshot_s": by_op_kind("snapshot"),
        "runtime.empty_writes": len(incremental) - len(useful),
        "commit.replaces": len(by_kind["commit"]),
        "commit.replace_s": dur(by_kind["commit"]),
        "write.job_commit_s": counter("write.job_commit_s"),
        "write.task_commit_s": counter("write.task_commit_s"),
        "write.files": counter("write.files"),
        "write.mb": counter("write.bytes") / 2**20,
        "write.rows": counter("write.rows"),
        "write.partitions": counter("write.partitions"),
        "txlog.commits": len(txlog["txlog.commit"]),
        "txlog.commit_s": dur(txlog["txlog.commit"]),
        "txlog.snapshot_s": dur(txlog["txlog.snapshot"]),
        "txlog.replay_s": dur(txlog["txlog.replayFull"]),
        "txlog.stage_s": dur(txlog["txlog.stage"]),
        "txlog.checkpoint_s": dur(txlog["txlog.checkpoint"]),
        "jvm.gc_s": counter("jvm.gc_s"),
        "jvm.gc_count": counter("jvm.gc_count"),
    }
    m = {k: v / n for k, v in m.items()}
    # full-refresh builds happen in the cold build, before the timed passes
    m["runtime.table_s"] = sum(o["wall_s"] for o in result["ops"]
                               if o["pass"] == -1 and o["kind"] == "table")
    # ratios are not per pass
    m["exec.core_util"] = run_s / (op_wall * cores) if op_wall else 0.0
    m["runtime.useful_write_ratio"] = len(useful) / len(incremental) if incremental else 0.0
    m["trace.coverage"] = covered / op_wall if op_wall else 0.0
    m["trace.overhead"] = overhead
    # self time per span kind, per pass
    for kind in ("op", "query_build", "model", "model_build", "exec", "job",
                 "stage", "commit", "txlog"):
        m[f"self.{kind}_s"] = sum(
            self_time(s, children.get(s["id"], [])) for s in by_kind[kind]) / 1e9 / n
    return m

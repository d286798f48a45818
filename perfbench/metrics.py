"""Arithmetic over the harness records: the tail rule, interval unions,
span self times, and the end-to-end and per-layer metrics.

Everything here is a pure function of the records `Harness` writes, so
`test_metrics.py` can check it without Spark.
"""
import statistics
from collections import defaultdict

TAIL_BEYOND = 10

UNITS = {
    "setup_s": "s", "pass_s": "s", "query_p50_s": "s", "query_tail_s": "s",
    "peak_rss_mb": "MB",
    "registry.resolve_cold_ms": "ms", "dimcache.computes_timed": "count",
    "queries.build_ms": "ms", "queries.build_jobs": "count",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.aqe_updates": "count", "sched.gap_ms": "ms",
    "exec.stage_wall_ms": "ms", "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms",
    "exec.gc_ms": "ms", "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.input_mb": "MB", "exec.spill_mb": "MB", "exec.task_failures": "count",
    "exec.core_util": "ratio",
    "stream.batches": "count", "stream.input_rows": "count", "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms", "stream.planning_ms": "ms", "stream.wal_commit_ms": "ms",
    "stream.state_rows": "count", "stream.state_mem_mb": "MB",
    "stream.state_commit_ms": "ms", "stream.events_per_s": "1/s",
    "jvm.gc_ms": "ms", "jvm.heap_after_gc_mb": "MB", "trace.overhead_pct": "%",
}


def tail(values, beyond=TAIL_BEYOND):
    """The highest percentile with at least `beyond` samples above it:
    the value at 1-based rank n - beyond of the sorted samples, and that
    rank as a percentile. None when there are not more than `beyond`
    samples."""
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return None, None
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    """The parts of `intervals` that fall inside [lo, hi]."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_times(spans):
    """Span id -> the span's duration not covered by any of its children
    (children clipped to the parent; overlapping children count once)."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append((s["start_us"], s["end_us"]))
    return {s["id"]: (s["end_us"] - s["start_us"])
            - union_length(clip(kids[s["id"]], s["start_us"], s["end_us"]))
            for s in spans}


# Which layer each span kind's self time belongs to. Workload and pass
# spans also cover untraced reps, so self time is taken over rep subtrees.
LAYER_OF_KIND = {
    "rep": "harness", "build": "graft.queries", "execute": "spark driver (execute)",
    "phase": "catalyst planning", "job": "spark scheduling",
    "stage": "executors", "microbatch": "graft.streaming",
}


def layer_self_ms(spans):
    """Self time per layer in milliseconds, summed over the traced reps."""
    out = defaultdict(float)
    st = self_times(spans)
    for s in spans:
        if s["kind"] in LAYER_OF_KIND:
            out[LAYER_OF_KIND[s["kind"]]] += st[s["id"]] / 1000.0
    return dict(out)


def walls_by_query(reps):
    """Query name -> list of rep walls in seconds."""
    by = defaultdict(list)
    for r in reps:
        by[r["query"]].append((r["t2_us"] - r["t0_us"]) / 1e6)
    return by


def pass_seconds(reps):
    """Sum over queries of each query's median wall."""
    return sum(statistics.median(w) for w in walls_by_query(reps).values())


def end_to_end(record, reps, setup_s):
    """The end-to-end metrics of one untraced run; walls are None when no
    rep succeeded."""
    walls = [w for ws in walls_by_query(reps).values() for w in ws]
    tail_s, tail_pct = tail(walls)
    return {
        "setup_s": setup_s,
        "pass_s": pass_seconds(reps) if walls else None,
        "query_p50_s": statistics.median(walls) if walls else None,
        "query_tail_s": tail_s,  # printed and recorded; not declared, see README
        "peak_rss_mb": record["meta"]["vm_hwm_mb"],
    }, tail_pct


def per_pass(values_by_query):
    """A per-pass figure from per-rep values: the mean of each query's
    reps, summed over queries."""
    return sum(statistics.mean(v) for v in values_by_query.values() if v)


def rep_values(spans):
    """Metric -> query -> one value per traced rep, and each rep's wall
    under `rep.wall_ms`."""
    by_id = {s["id"]: s for s in spans}
    reps = [s for s in spans if s["kind"] == "rep"]
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)

    def descendants(s):
        stack, out = list(kids[s["id"]]), []
        while stack:
            c = stack.pop()
            out.append(c)
            stack.extend(kids[c["id"]])
        return out

    def phase_root(s):
        """The build or execute span above `s`."""
        while s["kind"] not in ("build", "execute"):
            s = by_id[s["parent"]]
        return s["kind"]

    per_rep = defaultdict(lambda: defaultdict(list))  # metric -> query -> values
    for rep in reps:
        q = rep["name"]
        d = descendants(rep)
        build = next(s for s in d if s["kind"] == "build")
        exe = next(s for s in d if s["kind"] == "execute")
        stages = [s for s in d if s["kind"] == "stage"]
        jobs = [s for s in d if s["kind"] == "job"]
        phases = [s for s in d if s["kind"] == "phase"]
        batches = [s for s in d if s["kind"] == "microbatch"]
        iv = [(s["start_us"], s["end_us"]) for s in stages]
        exec_phase_us = sum(s["end_us"] - s["start_us"] for s in phases
                            if phase_root(s) == "execute")
        exec_stage_us = union_length(clip(iv, exe["start_us"], exe["end_us"]))
        sums = lambda kind_spans, k: sum(s["attrs"].get(k, 0) for s in kind_spans)
        v = {
            "queries.build_ms": (build["end_us"] - build["start_us"]) / 1000.0,
            "queries.build_jobs": sum(1 for j in jobs if phase_root(j) == "build"),
            "plan.analysis_ms": sum(s["end_us"] - s["start_us"] for s in phases
                                    if s["name"] == "analysis") / 1000.0,
            "plan.optimization_ms": sum(s["end_us"] - s["start_us"] for s in phases
                                        if s["name"] == "optimization") / 1000.0,
            "plan.planning_ms": sum(s["end_us"] - s["start_us"] for s in phases
                                    if s["name"] == "planning") / 1000.0,
            "sched.jobs": len(jobs),
            "sched.stages": len(stages),
            "sched.tasks": sums(stages, "tasks"),
            "sched.aqe_updates": rep["attrs"].get("aqe_updates", 0),
            "sched.gap_ms": (exe["end_us"] - exe["start_us"] - exec_phase_us
                             - exec_stage_us) / 1000.0,
            "exec.stage_wall_ms": union_length(iv) / 1000.0,
            "exec.task_run_ms": sums(stages, "task_run_ms"),
            "exec.task_cpu_ms": sums(stages, "task_cpu_ms"),
            "exec.gc_ms": sums(stages, "gc_ms"),
            "exec.shuffle_read_mb": sums(stages, "shuffle_read_b") / 1048576.0,
            "exec.shuffle_write_mb": sums(stages, "shuffle_write_b") / 1048576.0,
            "exec.input_mb": sums(stages, "input_b") / 1048576.0,
            "exec.spill_mb": sums(stages, "spill_b") / 1048576.0,
            "exec.task_failures": sums(stages, "task_failures"),
            "stream.batches": len(batches),
            "stream.input_rows": sums(batches, "input_rows"),
            "stream.trigger_ms": sums(batches, "trigger_ms"),
            "stream.add_batch_ms": sums(batches, "add_batch_ms"),
            "stream.planning_ms": sums(batches, "planning_ms"),
            "stream.wal_commit_ms": sums(batches, "wal_commit_ms"),
            "stream.state_rows": max([s["attrs"].get("state_rows", 0) for s in batches],
                                     default=0),
            "stream.state_mem_mb": max([s["attrs"].get("state_mem_b", 0) for s in batches],
                                       default=0) / 1048576.0,
            "stream.state_commit_ms": sums(batches, "state_commit_ms"),
            "jvm.gc_ms": rep["attrs"].get("jvm_gc_ms", 0),
            "rep.wall_ms": (rep["end_us"] - rep["start_us"]) / 1000.0,
        }
        for k, x in v.items():
            per_rep[k][q].append(x)
    return per_rep


# The parts of a rep's wall that `wall_shares` reports, and the per-rep
# values each part adds up. "cores" is task run time per wall second.
WALL_PARTS = {
    "stage": ["exec.stage_wall_ms"],
    "gap": ["sched.gap_ms"],
    "plan": ["plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms"],
    "build": ["queries.build_ms"],
    "cores": ["exec.task_run_ms"],
}


def wall_shares(per_rep):
    """Query name (and "TOTAL", a pass) -> where its traced wall goes:
    each of WALL_PARTS over the wall, from per-pass figures. Stage and
    build overlap, because a builder's eager jobs run stages."""
    queries = sorted(per_rep["rep.wall_ms"])
    out = {}
    for name, qs in [(q, [q]) for q in queries] + ([("TOTAL", queries)] if queries else []):
        def figure(k):
            return per_pass({q: per_rep[k][q] for q in qs})
        wall = figure("rep.wall_ms")
        out[name] = {part: sum(map(figure, ks)) / wall for part, ks in WALL_PARTS.items()}
    return out


def per_layer(record, spans, cores):
    """The per-layer metrics of one traced run. Counters and times are
    per pass (the mean over a query's traced reps, summed over queries);
    ratios are taken over the same per-pass sums."""
    per_rep = rep_values(spans)
    reps = [s for s in spans if s["kind"] == "rep"]
    out = {k: per_pass(by_q) for k, by_q in per_rep.items() if k != "rep.wall_ms"}
    stage_wall, trig = out.get("exec.stage_wall_ms", 0), out.get("stream.trigger_ms", 0)
    out["exec.core_util"] = out.get("exec.task_run_ms", 0) / (stage_wall * cores) if stage_wall else 0.0
    out["stream.events_per_s"] = out.get("stream.input_rows", 0) / (trig / 1000.0) if trig else 0.0
    out["jvm.heap_after_gc_mb"] = max((s["attrs"].get("heap_after_gc_mb", 0) for s in reps),
                                      default=0)
    out["registry.resolve_cold_ms"] = sum(record["resolve_ms"].values())
    out["dimcache.computes_timed"] = sum(r["dimcache_computes"] for r in record["reps"])
    traced = [r for r in record["reps"] if r["traced"]]
    untraced = [r for r in record["reps"] if not r["traced"]]
    out["trace.overhead_pct"] = (
        100.0 * (pass_seconds(traced) / pass_seconds(untraced) - 1.0)
        if untraced and {r["query"] for r in untraced} == {r["query"] for r in traced}
        else None)
    return out

#!/usr/bin/env python3
"""The repo benchmark: one closed-loop workload run, end to end or traced.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the library and
the harness with sbt (`perfbench/build.sbt`); later runs reuse the build
while no source is newer than it. A run then

1. generates the workload's tables from the seed (`gen.py`),
2. starts one JVM running `perfbench.Harness` on `local[nproc]`, which
   sets up, writes one result per query, warms up, and runs seeded
   passes over the queries for S seconds,
3. checks every result against DuckDB (`oracle.py`),
4. prints one summary line per metric and, last, one JSON object with
   `correct`, `attempted`, `failed` and `metrics`: the end-to-end
   metrics with `--trace 0`, the per-layer metrics with `--trace 1`.

The full record (provenance, machine probes, every rep, failures and,
when traced, the spans and per-layer self times) is written to
`perfbench/out/`. Any failed operation or wrong result makes the exit
code 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
import metrics  # noqa: E402  (the benchmark's own module, found via BENCH)

NDSH = [f"ndsh_q{i}" for i in range(1, 23)]
TPCH = ["lineitem", "orders", "customer", "supplier", "part", "nation", "region"]
WORKLOADS = {
    # NDS-H floor: planning and scheduling dominate at this size
    "ndsh_sf0.01": {"sf": 0.01, "tables": TPCH, "queries": NDSH},
    # 10x key-shifted copy: executor-bound kernels, shuffles, materializations.
    # graph_pagerank is left out: its cold rep alone (~11 s) is a fifth of a run.
    "amp10x": {"sf": 0.005, "amplify": 10, "tables": TPCH + ["documents", "embeddings"],
               "queries": [
        "ndsh_q9", "ndsh_q21", "join_skew_salted", "agg_weighted_median",
        "dedup_minhash_lsh", "text_bm25_topk", "retrieval_rrf_fusion",
        "sim_knn_join", "sim_pq_rerank_recall"]},
    # streaming-gate replays: state stores, offset logs, per-batch planning.
    # Not in BENCHMARK.json: its first Tables.events reference fails about one
    # run in eight (ROADMAP item 1), and the benchmark shows that failure.
    "stream_replay": {"sf": 0.01, "tables": ["events"] + TPCH + ["documents", "embeddings"],
                      "queries": [
        "stream_near_dedup", "stream_dedup_exact", "stream_join", "stream_session",
        "stream_ohlc", "stream_postings", "stream_kmv_window", "stream_cms",
        "stream_scd2", "stream_checkpoint_resume"]},
}
RUN_LIMIT_S = 170  # after the build; the run must end within 180 s
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def sources():
    for base in (ROOT / "src" / "main", BENCH / "src"):
        yield from (p for p in base.rglob("*") if p.is_file())
    yield from (BENCH / "build.sbt", BENCH / "project" / "build.properties")


def build():
    """Compile with sbt unless the classpath file is newer than every
    source; return the runtime classpath."""
    cp_file = BENCH / "target" / "classpath.txt"
    if cp_file.exists():
        built = cp_file.stat().st_mtime
        if all(p.stat().st_mtime < built for p in sources()):
            return cp_file.read_text().strip()
    log("building library and harness with sbt")
    BENCH.joinpath("target").mkdir(exist_ok=True)
    with open(BENCH / "target" / "build.log", "w") as out:
        rc = subprocess.run(["sbt", "-batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true",
                             "writeClasspath"],
                            cwd=BENCH, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    if rc != 0 or not cp_file.exists():
        tail = (BENCH / "target" / "build.log").read_text()[-3000:]
        sys.exit(f"[perfbench] build failed (sbt exit {rc}):\n{tail}")
    return cp_file.read_text().strip()


# ------------------------------------------------------------- provenance

def machine():
    cores = len(os.sched_getaffinity(0))
    mem_kb = next(int(line.split()[1]) for line in open("/proc/meminfo")
                  if line.startswith("MemTotal:"))
    heap_g = min(8, max(2, mem_kb // 2097152))  # half the RAM, 2..8 GiB
    return cores, heap_g


def fingerprint():
    h = hashlib.sha256()
    for p in sorted(sources()):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def probe():
    """A short CPU and memory-bandwidth reading, kept as run metadata."""
    import numpy as np
    buf = os.urandom(1 << 22)
    t = time.perf_counter()
    for _ in range(8):
        hashlib.sha256(buf).digest()
    cpu = 32.0 / (time.perf_counter() - t)
    a = np.ones(1 << 23)  # 64 MiB
    b = np.empty_like(a)
    best = min(_timed(lambda: np.copyto(b, a)) for _ in range(5))
    return {"sha256_mb_per_s": round(cpu, 1), "copy_gb_per_s": round(2 * a.nbytes / best / 1e9, 2)}


def _timed(f):
    t = time.perf_counter()
    f()
    return time.perf_counter() - t


# -------------------------------------------------------------------- run

def declared(workload, trace):
    """The metric names BENCHMARK.json declares for this mode, or None
    when the workload is not one of its workloads."""
    spec = ROOT / "BENCHMARK.json"
    if not spec.exists():
        return None
    spec = json.loads(spec.read_text())
    if workload not in {w["name"] for w in spec["workloads"]}:
        return None
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run_jvm(cp, cores, heap_g, work, data, wl, args, deadline):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           # a fixed heap and young generation keep peak RSS comparable across runs
           + [f"-Xmx{heap_g}g", f"-Xms{heap_g}g", "-Xmn1g", "-XX:ReservedCodeCacheSize=512m",
              "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Harness",
              "--data", str(data), "--tables", ",".join(wl["tables"]),
              "--queries", ",".join(wl["queries"]), "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores), "--out", str(work / "out"), "--tmp", str(tmp)])
    with open(work / "jvm.log", "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    return rc


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").exists():
        sys.exit(f"[perfbench] library sources not found under {ROOT / 'src'}")
    import gen
    import oracle

    cp = build()
    cores, heap_g = machine()
    probe_before = probe()
    t_setup0 = time.time()
    deadline = t_setup0 + RUN_LIMIT_S
    wl = WORKLOADS[args.workload]
    work = BENCH / ".work" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = work / "data"
        if "amplify" in wl:
            gen.generate(str(work / "base"), args.seed, wl["sf"])
            gen.amplify(str(work / "base"), str(data), args.seed, wl["amplify"])
        else:
            gen.generate(str(data), args.seed, wl["sf"])
        log(f"generated {args.workload} tables in {time.time() - t_setup0:.1f} s")
        t = time.time()
        rc = run_jvm(cp, cores, heap_g, work, data, wl, args, deadline)
        log(f"harness ran {time.time() - t:.1f} s")
        run_file = work / "out" / "run.json"
        if rc != 0 or not run_file.exists():
            log(f"harness exited with {rc}; log tail:\n"
                + (work / "jvm.log").read_text()[-4000:])
            sys.exit(4)
        record = json.loads(run_file.read_text())
        spans = []
        if args.trace:
            with open(work / "out" / "spans.jsonl") as f:
                spans = [json.loads(line) for line in f if line.strip()]
        t = time.time()
        verdicts = oracle.check(str(data), str(work / "out" / "results"), record["oracle_sql"],
                                record["result_rows"])
        log(f"checked {len(verdicts)} results in {time.time() - t:.1f} s")
    finally:
        keep_log = (work / "jvm.log").read_text() if (work / "jvm.log").exists() else ""
        shutil.rmtree(work, ignore_errors=True)

    wrong = {k: v for k, v in verdicts.items() if v is not None}
    failures = record["failures"]
    attempted = record["attempted"] + len(verdicts)
    failed = len(failures) + len(wrong)
    correct = failed == 0
    meta = record["meta"]
    setup_s = meta["setup_end_us"] / 1e6 - t_setup0
    reps = record["reps"]
    if args.trace:
        values, tail_pct = metrics.per_layer(record, spans, cores), None
    else:
        values, tail_pct = metrics.end_to_end(record, reps, setup_s)
    ops_failed_pct = 100.0 * failed / max(1, attempted)

    out_dir = BENCH / "out"
    out_dir.mkdir(exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    full = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "queries": wl["queries"],
        "provenance": {"git_commit": git_commit(), "source_sha256_16": fingerprint(),
                       "cores": cores, "local_master": f"local[{cores}]",
                       "shuffle_partitions": cores, "heap_gb": heap_g,
                       "jdk": meta["jdk"], "spark": meta["spark"],
                       "probe_before": probe_before, "probe_after": probe()},
        "passes": meta["passes"], "samples": len(reps), "tail_percentile": tail_pct,
        "attempted": attempted, "failed": failed, "ops_failed_pct": ops_failed_pct,
        "failures": failures, "wrong_results": wrong,
        "setup": {"setup_s": setup_s,
                  "jvm_start_to_session_s": (meta["session_ready_us"] - meta["jvm_start_us"]) / 1e6,
                  "session_to_first_timed_s": (meta["setup_end_us"] - meta["session_ready_us"]) / 1e6,
                  "resolve_ms": record["resolve_ms"], "check_rep_ms": record["check_ms"],
                  "dimcache_computes": record["setup_dimcache_computes"]},
        "walls_s": {q: w for q, w in metrics.walls_by_query(reps).items()},
        "metrics": values,
    }
    if args.trace:
        full["layer_self_ms"] = metrics.layer_self_ms(spans)
        full["wall_shares"] = metrics.wall_shares(metrics.rep_values(spans))
        with open(out_dir / f"{stem}.spans.jsonl", "w") as f:
            f.writelines(json.dumps(s) + "\n" for s in spans)
    if failures or wrong:
        full["jvm_log_tail"] = keep_log[-4000:]
    (out_dir / f"{stem}.json").write_text(json.dumps(full, indent=1))

    for f in failures:
        print(f"FAILED {f['query']} in {f['phase']}: {f['exception']} ({f['message']})")
    for q, why in wrong.items():
        print(f"WRONG {q}: {why}")
    print(f"workload {args.workload} seed {args.seed}: {meta['passes']} passes, {len(reps)} timed reps, "
          f"{attempted} ops, ops_failed_pct {ops_failed_pct:.2f}, "
          f"correct {correct}" + (f", tail at p{tail_pct:.1f}" if tail_pct else ""))
    if args.trace:
        print(f"tracing overhead on pass_s: {values.get('trace.overhead_pct')}")
        for layer, ms in sorted(full["layer_self_ms"].items()):
            print(f"  self {layer}: {ms:.1f} ms")
        print("where the traced wall goes (% of wall; stage and build overlap; "
              "cores = task run time / wall):")
        print(f"  {'query':24s}" + "".join(f" {p:>6s}" for p in metrics.WALL_PARTS))
        for q, sh in full["wall_shares"].items():
            print(f"  {q:24s}" + "".join(f" {100 * v:6.1f}" if p != "cores" else f" {v:6.2f}"
                                         for p, v in sh.items()))
    for k, v in values.items():
        print(f"  {k} = {v} {metrics.UNITS[k]}")
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": values.get(k), "unit": metrics.UNITS[k]}
                          for k in declared(args.workload, args.trace) or values}}
    print(json.dumps(result))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

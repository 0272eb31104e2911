#!/usr/bin/env python3
"""graft benchmark: one command, three seeded workloads, every output checked.

Usage (from the repository root):
    python3 perfbench/run.py --workload {sql_mix,llm_curation,index_rw} \\
        --seed N --seconds S --trace {0,1}

It builds the engine and the harness from source on first use (sbt,
offline), generates the fixed input tables, writes the seeded op plan, runs
one JVM with Spark local[nproc] and one closed-loop client thread, checks
every op's output, and prints a report followed by one JSON line:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics; with --trace 1 they
are the per-layer metrics of traced groups interleaved with the untraced
ones, plus the tracing overhead between the two.

The timed window is a fixed number of whole groups (a pass over the
queries, or one index cycle), set by --seconds alone (plan.timed_groups):
it never depends on how fast the ops ran.

Everything it builds or writes stays under the build directory
($CARGO_TARGET_DIR, else .bench_build) and sbt's target directories.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import pickle
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the benchmark directory free of caches

import gendata  # noqa: E402
import plan as plans  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("sql_mix", "llm_curation", "index_rw")
# the workloads BENCHMARK.json lists: a comparison's run budget leaves no
# room for llm_curation at a window long enough for its latency tail
GATED = ("sql_mix", "index_rw")
# the query workloads run on sf0.01 tables; index_rw's base table is the
# 2,000-vector sf0.1 embeddings table
QUERY_SF = "sf0.01"
DATA_SF = {"sql_mix": QUERY_SF, "llm_curation": QUERY_SF, "index_rw": "sf0.1"}
OP_TIMEOUT_MS = 60000
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

END_TO_END = [  # name, unit
    ("setup_s", "s"), ("ops_per_s", "op/s"), ("latency_p50_ms", "ms"),
    ("latency_tail_ms", "ms"), ("cpu_s_per_op", "s"), ("ok_op_ratio", "ratio"),
]
# reported, but not in the JSON line: heap_live_peak_mb for every workload
# (see README: too coarse across JVMs for a regression bound) and the
# index_rw-only metrics
REPORTED = [("heap_live_peak_mb", "MB")]
INDEX_END_TO_END = [
    ("read_p50_ms", "ms"), ("read_tail_ms", "ms"), ("commit_p50_ms", "ms"),
    ("commit_tail_ms", "ms"), ("recall_at_10", "ratio"), ("write_amp", "ratio"),
    ("space_amp", "ratio"),
]
COMMITS = ("append", "delete", "upsert", "compact", "vacuum")
READS = ("read_latest", "read_as_of", "point", "point_as_of", "topk")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(r)
            if "target" not in os.path.relpath(d, r).split(os.sep) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(build_dir):
    """Compile the engine and the harness; return the runtime classpath."""
    stamp_file = os.path.join(build_dir, "classpath.stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    log("perfbench: building engine and harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
           "--batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
           "compile", "export perfbench/Runtime/fullClasspath"]
    out = run_process(cmd, HERE, env, 840, os.path.join(build_dir, "build.log"))
    lines = [ln for ln in out.splitlines() if ln.strip() and not ln.startswith("[")]
    if not lines:
        fail("build failed; see " + os.path.join(build_dir, "build.log"))
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def run_process(cmd, cwd, env, timeout, log_path):
    """Run a child in its own process group; on timeout kill the group and
    wait for it. Returns stdout; stderr goes to `log_path`."""
    with open(log_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=err, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{cmd[0]} timed out after {timeout} s; see {log_path}")
        if p.returncode != 0:
            fail(f"{cmd[0]} exited {p.returncode}; see {log_path}")
    return out


def ensure_data(build_dir):
    stamp = hashlib.sha256(open(os.path.join(HERE, "gendata.py"), "rb").read()).hexdigest()
    data = os.path.join(build_dir, "data")
    stamp_file = os.path.join(data, "stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(data, ignore_errors=True)
        for sf in ("sf0.01", "sf0.1"):
            gendata.generate(os.path.join(data, sf), sf=float(sf[2:]))
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return data


# ------------------------------------------------------------------- plan

def load_embeddings(path):
    """Base rows: id -> vector."""
    import pyarrow.parquet as pq
    import numpy as np
    t = pq.read_table(path, columns=["vec_id", "embedding"]).to_pydict()
    return {int(i): np.asarray(v, dtype=np.float32) for i, v in zip(t["vec_id"], t["embedding"])}


def write_plan(run_dir, header, ops):
    with open(os.path.join(run_dir, "plan.tsv"), "w") as f:
        for k, v in header.items():
            f.write(f"{k}\t{v}\n")
        for g, kind, args in ops:
            f.write("\t".join(["op", str(g), kind] + args) + "\n")


def write_batches(path, batches):
    import pyarrow as pa
    import pyarrow.parquet as pq
    b, ids, vecs = [], [], []
    for bid, rows in sorted(batches.items()):
        for i, v in rows.items():
            b.append(bid); ids.append(i); vecs.append(v)
    pq.write_table(pa.table({"batch": pa.array(b, pa.int64()), "vec_id": pa.array(ids, pa.int64()),
                             "embedding": pa.array(vecs, pa.list_(pa.float32()))}), path)


# ----------------------------------------------------------------- checks

def oracle_rows(con, sql, cache_dir):
    """DuckDB's answer to an oracle query, columns sorted by name and rows
    sorted. The input tables are fixed, so answers are cached per query
    text under the data directory."""
    path = os.path.join(cache_dir, hashlib.sha256(sql.encode()).hexdigest() + ".pickle")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    want = canonical(con.execute(sql))
    with open(path, "wb") as f:
        pickle.dump(want, f)
    return want


def canonical(cursor):
    """Rows of a DuckDB result as tools/check_oracle.py --strict compares
    them: columns in name order, rows in a None-safe total order, values
    exact."""
    rows = cursor.fetchall()
    cols = [d[0] for d in cursor.description]
    order = [cols.index(c) for c in sorted(cols)]

    def key(row):
        return tuple((v is None, str(type(v)), v if v is not None else 0) for v in row)
    return sorted(cols), sorted((tuple(r[i] for i in order) for r in rows), key=key)


def oracle_connection(data_dir):
    import duckdb
    con = duckdb.connect()
    for p in sorted(os.listdir(data_dir)):
        if p.endswith(".parquet"):
            con.execute(f"CREATE VIEW {p[:-8]} AS SELECT * FROM read_parquet('{os.path.join(data_dir, p)}')")
    return con


def cache_oracle_answers(run_dir, data_dir):
    """Compute DuckDB's answers for every query of both query workloads
    once per data set. The JVM of every run writes their oracle SQL, so the
    first run in a checkout pays for all of them and no later run does."""
    oracle = json.load(open(os.path.join(run_dir, "oracle_sql.json")))
    cache_dir = os.path.join(data_dir, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    for sql in oracle.values():
        if not os.path.exists(os.path.join(cache_dir, hashlib.sha256(sql.encode()).hexdigest() + ".pickle")):
            con = con or oracle_connection(data_dir)
            oracle_rows(con, sql, cache_dir)
    return oracle


def check_queries(run_dir, data_dir, oracle, records):
    """Compare each warm-up result with DuckDB on the engine's oracle SQL,
    strictly, and each timed op's result digest with its warm-up result.
    Returns the failed op indexes and messages."""
    results = os.path.join(run_dir, "results")
    cache_dir = os.path.join(data_dir, "oracle")
    con = oracle_connection(data_dir)
    passed, msgs = set(), []
    for name in sorted(os.listdir(results)):
        try:
            got = canonical(con.execute(f"SELECT * FROM read_parquet('{results}/{name}/*.parquet')"))
            want = oracle_rows(con, oracle[name], cache_dir)
        except Exception as e:  # a failed read or oracle is a failed check
            msgs.append(f"{name}: {e}")
            continue
        if got == want:
            passed.add(name)
        else:
            msgs.append(f"{name}: {len(got[1])} rows vs oracle {len(want[1])}, columns {got[0]} vs {want[0]}")
    warm = {}  # the first warm-up result of each query, the one dumped and checked
    for r in records:
        if r["window"] == "warmup" and r["ok"]:
            warm.setdefault(r["name"], r.get("digest"))
    failed = set()
    for r in records:
        name = r["name"]
        if not r["ok"]:
            msgs.append(f"op {r['i']} {name}: {r['error']}")
            failed.add(r["i"])
        elif name not in passed:
            failed.add(r["i"])
        elif r.get("digest") != warm.get(name):
            msgs.append(f"op {r['i']} {name}: result differs from its checked warm-up result")
            failed.add(r["i"])
    return failed, msgs


def check_index(records, expect):
    """Check each op against the expected-state model. Returns the failed op
    indexes, messages, and per-topk recall."""
    failed, msgs, recall = set(), [], {}
    for r in records:
        i, e = r["i"], expect[r["i"]]
        bad = None
        if not r["ok"]:
            bad = r["error"]
        elif e["kind"] == "commit":
            if r.get("skipped"):
                bad = "commit skipped as a replay"
            elif "version" in e and r.get("version") != e["version"]:
                bad = f"committed version {r.get('version')}, expected {e['version']}"
        elif e["kind"] == "read":
            if (r.get("rows"), r.get("digest")) != (e["rows"], e["digest"]):
                bad = f"read {r.get('rows')} rows (digest {r.get('digest')}), expected {e['rows']} ({e['digest']})"
        elif e["kind"] == "topk":
            hits = r.get("hits") or []
            keys = [(-s, h) for h, s in hits]
            if len(hits) != 10:
                bad = f"top-k returned {len(hits)} rows"
            elif keys != sorted(keys):
                bad = "top-k rows not ordered by score desc, id asc"
            else:
                for h, s in hits:
                    if h not in e["visible"]:
                        bad = f"top-k returned id {h}, not visible at head"
                        break
                    if abs(s - round(e["scores"][h], 4)) > 1.5e-4:
                        bad = f"top-k score {s} for id {h}, expected {e['scores'][h]:.6f}"
                        break
            recall[i] = len({h for h, _ in hits} & set(e["exact"])) / 10.0
        if bad:
            failed.add(i)
            msgs.append(f"op {i} {r['kind']}: {bad}")
    return failed, msgs, recall


# ---------------------------------------------------------------- metrics

def end_to_end(ops, failed, summary, recall, workload):
    ms = [r["ms"] for r in ops]
    ok = [r for r in ops if r["i"] not in failed]
    p, tail = stats.tail(ms)
    m = {
        "setup_s": summary["setup_s"],
        "ops_per_s": len(ok) / (sum(ms) / 1000.0),
        "latency_p50_ms": stats.median(ms),
        "latency_tail_ms": tail,
        "cpu_s_per_op": sum(r["cpu_ms"] for r in ops) / 1000.0 / len(ops),
        "ok_op_ratio": len(ok) / len(ops),
        "heap_live_peak_mb": summary["live_heap_mb"],
    }
    notes = {"latency_tail_ms": f"p{p:.1f} of n={len(ms)}"}
    if workload == "index_rw":
        reads = [r["ms"] for r in ops if r["kind"] in READS]
        commits = [r["ms"] for r in ops if r["kind"] in COMMITS]
        rp, rt = stats.tail(reads)
        cp, ct = stats.tail(commits)
        end = summary["table"][-1]
        m.update({
            "read_p50_ms": stats.median(reads), "read_tail_ms": rt,
            "commit_p50_ms": stats.median(commits), "commit_tail_ms": ct,
            "recall_at_10": sum(recall[r["i"]] for r in ops if r["kind"] == "topk")
            / sum(1 for r in ops if r["kind"] == "topk"),
            "write_amp": stats.write_amp(sum(r["fs_bytesWritten"] for r in ops),
                                         sum(r["user_bytes"] for r in ops)),
            "space_amp": stats.space_amp(end["bytes_on_disk"], end["live_bytes"]),
        })
        notes.update({"read_tail_ms": f"p{rp:.1f} of n={len(reads)}",
                      "commit_tail_ms": f"p{cp:.1f} of n={len(commits)}"})
    return m, notes


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


PER_LAYER_OP_FIELDS = {  # metric: per-op record field, averaged over ops
    "queries.query_executions": "query_executions",
    "catalyst.analysis_ms": "analysis_ms", "catalyst.optimization_ms": "optimization_ms",
    "catalyst.planning_ms": "planning_ms", "catalyst.graft_rules_ms": "graft_rules_ms",
    "codegen.compile_ms": "compile_ms", "codegen.compiles": "compiles",
    "exec.jobs": "jobs", "exec.stages": "stages", "exec.tasks": "tasks",
    "exec.deserialize_ms": "deserialize_ms", "exec.input_bytes": "input_bytes",
    "exec.input_records": "input_records", "exec.task_run_ms": "task_run_ms",
    "exec.task_cpu_ms": "cpu_ms", "exec.task_queue_ms": "task_queue_ms",
    "exec.shuffle_write_bytes": "shuffle_write_bytes",
    "exec.shuffle_read_bytes": "shuffle_read_bytes", "exec.spill_bytes": "spill_bytes",
    "exec.result_bytes": "result_bytes", "exec.failed_tasks": "failed_tasks",
    "jvm.gc_ms": "gc_ms", "jvm.gc_count": "gc_count",
}
LAYERS = ("op", "queries", "catalyst", "exec", "jvm", "table")
TABLE_METRICS = [
    "table.append_ms", "table.upsert_ms", "table.delete_ms", "table.compact_ms",
    "table.vacuum_ms", "table.read_latest_ms", "table.read_as_of_ms", "table.point_ms",
    "table.topk_ms", "table.fs_write_ops", "table.fs_list_ops", "table.fs_read_ops",
    "table.files_per_read", "table.point_files_kept_ratio", "table.rows_scored_per_topk",
    "table.recall_at_10", "table.bytes_written", "table.write_amp", "table.bytes_on_disk",
    "table.files_on_disk", "table.versions_retained", "table.space_amp",
]
PER_LAYER = (list(PER_LAYER_OP_FIELDS) + [
    "queries.build_ms", "queries.build_jobs", "codegen.warm_compile_ms",
    "staging.persisted_mb", "staging.fixture_misses", "jvm.code_cache_mb",
    "jvm.heap_live_peak_mb"] + [f"self.{layer}_ms" for layer in LAYERS]
    + TABLE_METRICS + ["trace.overhead_pct"])


def per_layer(traced, plain, spans, summary, recall):
    m = {k: mean(r[f] for r in traced) for k, f in PER_LAYER_OP_FIELDS.items()}
    by_op = {}
    for s, t in zip(spans, stats.self_times(spans)):
        by_op.setdefault(s["op"], []).append((s, t))
    ids = {r["i"] for r in traced}
    build = [s for s in spans if s["name"] == "queries.build" and s["op"] in ids]
    jobs = [s for s in spans if s["name"] == "exec.job" and s["op"] in ids]
    m["queries.build_ms"] = sum(s["end"] - s["start"] for s in build) / len(traced)
    m["queries.build_jobs"] = sum(1 for j in jobs for b in build
                                  if b["op"] == j["op"] and b["start"] <= j["start"] <= b["end"]) / len(traced)
    first = min(r["group"] for r in traced)
    m["codegen.warm_compile_ms"] = mean(r["compile_ms"] for r in traced if r["group"] > first)
    m["staging.persisted_mb"] = max(r["persisted_mb"] for r in traced)
    m["staging.fixture_misses"] = sum(r["staging_misses"] for r in traced + plain)
    m["jvm.code_cache_mb"] = summary["code_cache_mb"]
    m["jvm.heap_live_peak_mb"] = summary["live_heap_mb"]
    for layer in LAYERS:
        m[f"self.{layer}_ms"] = sum(t for i in ids for s, t in by_op.get(i, [])
                                    if s["layer"] == layer) / len(traced)

    def kind_ms(kind):
        return mean(r["ms"] for r in traced if r["kind"] == kind)
    commits = [r for r in traced if r["kind"] in COMMITS]
    reads = [r for r in traced if r["kind"] in READS]
    full = [r for r in traced if r["kind"] in ("read_latest", "read_as_of")]
    points = [r for r in traced if r["kind"] in ("point", "point_as_of")]
    topks = [r for r in traced if r["kind"] == "topk"]
    table = summary.get("table") or [{}]
    m.update({
        "table.append_ms": kind_ms("append"), "table.upsert_ms": kind_ms("upsert"),
        "table.delete_ms": kind_ms("delete"), "table.compact_ms": kind_ms("compact"),
        "table.vacuum_ms": kind_ms("vacuum"),
        "table.read_latest_ms": kind_ms("read_latest"), "table.read_as_of_ms": kind_ms("read_as_of"),
        "table.point_ms": kind_ms("point"), "table.topk_ms": kind_ms("topk"),
        "table.fs_write_ops": mean(r["fs_writeOps"] for r in commits),
        "table.fs_list_ops": mean(r["fs_listOps"] for r in commits),
        "table.fs_read_ops": mean(r["fs_readOps"] for r in reads),
        "table.files_per_read": mean(r["files"] for r in full),
        "table.point_files_kept_ratio": (sum(r["files"] for r in points) / sum(r["files_total"] for r in points)
                                         if points else 0.0),
        "table.rows_scored_per_topk": mean(r["input_records"] for r in topks),
        "table.recall_at_10": mean(recall[r["i"]] for r in topks),
        "table.bytes_written": sum(r["fs_bytesWritten"] for r in commits),
        "table.write_amp": (stats.write_amp(sum(r["fs_bytesWritten"] for r in commits),
                                            sum(r["user_bytes"] for r in commits)) if commits else 0.0),
        "table.bytes_on_disk": table[-1].get("bytes_on_disk", 0),
        "table.files_on_disk": table[-1].get("files_on_disk", 0),
        "table.versions_retained": table[-1].get("versions_retained", 0),
        "table.space_amp": (stats.space_amp(table[-1]["bytes_on_disk"], table[-1]["live_bytes"])
                            if "live_bytes" in table[-1] else 0.0),
    })
    m["trace.overhead_pct"] = stats.overhead_pct([(r["name"], r["ms"]) for r in traced],
                                                 [(r["name"], r["ms"]) for r in plain])
    assert sorted(m) == sorted(PER_LAYER), set(m) ^ set(PER_LAYER)
    return {k: m[k] for k in PER_LAYER}


def unit_of(name):
    for part, unit in (("_ms", "ms"), ("bytes", "bytes"), ("_mb", "MB"), ("_pct", "%")):
        if part in name:
            return unit
    if name.endswith(("_amp", "_ratio", "recall_at_10")):
        return "ratio"
    return "count"


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("engine sources not found next to perfbench/; run from a full checkout")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(build_dir)
    data = ensure_data(build_dir)
    data_dir = os.path.join(data, DATA_SF[a.workload])

    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    nproc = len(os.sched_getaffinity(0))
    master = f"local[{nproc}]"
    # a traced run traces half of its groups, so it needs two
    groups = max(2 if a.trace else 1, plans.timed_groups(a.seconds))
    traced = plans.traced_groups(groups) if a.trace else []
    header = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "master": master, "cpus": nproc, "data": os.path.relpath(data_dir, ROOT),
              "timeout_ms": OP_TIMEOUT_MS, "local_dir": os.path.join(run_dir, "tmp"),
              "traced_groups": ",".join(map(str, traced)),
              "oracle_queries": ",".join(plans.SQL_MIX + plans.LLM_CURATION)}
    expect = None
    if a.workload == "index_rw":
        base = load_embeddings(os.path.join(data_dir, "embeddings.parquet"))
        ops, expect, batches = plans.index_plan(base, a.seed, groups)
        write_batches(os.path.join(run_dir, "batches.parquet"), batches)
        header.update({"index_data": data_dir, "batches": os.path.join(run_dir, "batches.parquet"),
                       "cells": plans.CELLS, "lloyd_iters": plans.LLOYD_ITERS, "nprobe": plans.NPROBE})
    else:
        names = plans.SQL_MIX if a.workload == "sql_mix" else plans.LLM_CURATION
        ops = plans.query_plan(names, a.seed, groups)
    write_plan(run_dir, header, ops)

    java = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "-Dspark.ui.enabled=false", "-cp", classpath, "graft.perfbench.Main",
        os.path.join(run_dir, "plan.tsv"), run_dir]
    t0 = time.time()
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "SPARK_EXECUTOR_DIRS")}
    run_process(java, ROOT, env, JVM_TIMEOUT_S, os.path.join(run_dir, "jvm.log"))
    log(f"perfbench: JVM finished in {time.time() - t0:.1f} s")

    summary = json.load(open(os.path.join(run_dir, "summary.json")))
    records = [json.loads(ln) for ln in open(os.path.join(run_dir, "ops.jsonl")) if ln.strip()]
    spans = []
    if a.trace:
        spans = [json.loads(ln) for ln in open(os.path.join(run_dir, "spans.jsonl")) if ln.strip()]
    recall = {}
    oracle = cache_oracle_answers(run_dir, os.path.join(data, QUERY_SF))
    if expect is not None:
        for r in records:
            r["user_bytes"] = expect[r["i"]].get("user_bytes", 0)
        failed, msgs, recall = check_index(records, expect)
    else:
        failed, msgs = check_queries(run_dir, data_dir, oracle, records)
    # a fixture staged inside a timed op puts set-up work in the window
    for r in records:
        if r["window"] != "warmup" and r["staging_misses"]:
            failed.add(r["i"])
            msgs.append(f"op {r['i']} {r['name']}: staged {r['staging_misses']} fixtures inside the timed window")
    plain = [r for r in records if r["window"] == "plain"]
    traced_ops = [r for r in records if r["window"] == "traced"]
    timed_ops = plain + traced_ops
    if not plain:
        fail("no timed op ran")
    n_failed = sum(1 for r in timed_ops if r["i"] in failed)

    e2e, notes = end_to_end(plain, failed, summary, recall, a.workload)
    print(f"workload {a.workload}  seed {a.seed}  nproc {nproc}  master {master}  "
          f"data {header['data']}  window {summary['window_s']:.2f} s ({summary['groups']} groups"
          f"{', traced window %.2f s' % summary['traced_window_s'] if a.trace else ''})")
    print(f"setup: session {summary['session_s']:.2f} s, staging {summary['stage_s']:.2f} s, "
          f"warm-up {summary['warmup_s']:.2f} s")
    units = dict(END_TO_END + REPORTED + INDEX_END_TO_END)
    better = {"ops_per_s": "higher", "ok_op_ratio": "higher", "recall_at_10": "higher"}
    for k, v in e2e.items():
        print(f"  {k:<20} {v:>14.4f} {units[k]:<6} ({better.get(k, 'lower')} is better)"
              f"{'  ' + notes[k] if k in notes else ''}")
    print(f"  failed_op_ratio      {n_failed / len(timed_ops):>14.4f} ratio  "
          f"({n_failed} of {len(timed_ops)} timed ops)")
    for m in msgs[:20]:
        print(f"  CHECK FAILED: {m}")

    if a.trace:
        layer = per_layer(traced_ops, plain, spans, summary, recall)
        for k, v in layer.items():
            print(f"  {k:<32} {v:>14.4f} {unit_of(k)}")
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layer.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}

    artifact = {"args": vars(a), "nproc": nproc, "master": master, "data": header["data"],
                "summary": summary, "end_to_end": e2e, "notes": notes, "checks": msgs,
                "ops": [{k: r.get(k) for k in ("i", "group", "window", "name", "ms", "cpu_ms", "compile_ms")}
                        for r in records],
                "metrics": metrics}
    os.makedirs(os.path.join(build_dir, "artifacts"), exist_ok=True)
    with open(os.path.join(build_dir, "artifacts", f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": not failed, "attempted": len(timed_ops),
                      "failed": n_failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

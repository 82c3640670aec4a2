#!/usr/bin/env python3
"""graft's benchmark: named workloads of graft.SparkEntry.queries.

    python3 perfbench/run.py --workload readonly_batch --seed 1 --seconds 10 --trace 0

Run from the root of a source tree. The script builds the engine with the
harness (sbt, first run only), runs the workload on the sf0.001 tables in
perfbench/data in one JVM at local[N] (N = min(4, nproc), shuffle
partitions = N), with the query order permuted by the seed, and checks
every result: each timed execution must reproduce the digest of its
warm-up result, and each warm-up result must equal its DuckDB oracle
(graft.SparkEntry.oracleSql) on the same tables.

With --trace 0 the last stdout line carries the end-to-end metrics, with
--trace 1 the per-layer ones (see BENCHMARK.json). The lines before it
print the same metrics with their units, plus failed_frac and sample
counts. The full record of a run, with per-pass context (load average,
nproc, heap setting, source commit) and, when traced, every span, is
written under .bench_build/perfbench/records/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
# the engine's sf0.001 test tables (TPC-H-like star schema, events,
# documents, embeddings), kept with the benchmark
DATA = os.path.join(HERE, "data", "sf0.001")
DEADLINE_S = 170

# Query lists per workload, each sized so that set-up plus three passes
# take about a minute on 4 cores. Every query here has a DuckDB oracle.
WORKLOADS = {
    # Read-only batch work, no store writes and no streams: the paper's
    # RTT dashboard cube (band sums, histogram quantiles, grouping sets),
    # where per-query fixed cost (planning, jobs, task launch) dominates,
    # and LLM-data work: a text kernel query and near-dup detection
    # (MinHash LSH pair joins, top-k similarity).
    "readonly_batch": [
        "q_dashboard_cube", "q_t_pii", "q_dedup_minhash", "q_sim_topk",
    ],
    # Writers and readers of persistent stores (the dedup fingerprint
    # store; a copy of the BM25 text index, retracted and served, whose
    # shared full-corpus build falls in set-up) and a stateful
    # AvailableNow micro-batch stream: the store-IO, text-index and
    # streaming layers that readonly_batch never touches.
    "store_stream": ["q_incremental_dedup", "q_text_retract",
                     "q_stream_upsert"],
}

END_TO_END = [  # name, unit
    ("setup_s", "s"), ("pass_s", "s"), ("geomean_s", "s"), ("cpu_s", "s"),
    ("driver_heap_mb", "MB"),
]

KERNELS = ["minHashSignature", "winnowFingerprints",
           "kgramHashes", "wordShingles", "normalizeText", "stopwordHits",
           "chunkText", "bpeSegment", "portableHash64", "randomProject",
           "topGramCount", "assignCell", "histogramQuantile", "bandSum",
           "heavyHitters"]
MODULES = ["queries", "dedup", "similarity", "text", "ops", "streaming",
           "stats", "functions", "multimodal", "ingest", "unattributed"]
SPAN_KINDS = ["query", "build", "action", "sql", "job", "stage", "batch"]


def per_layer_units():
    u = {"queries.build_s": "s", "queries.action_s": "s",
         "sql.actions": "count", "sql.plan_s": "s", "sql.joins": "count",
         "sql.exchanges": "count", "sql.broadcasts": "count",
         "sched.jobs": "count", "sched.stages": "count",
         "sched.stages_skipped": "count", "sched.tasks": "count",
         "sched.failed_tasks": "count", "sched.idle_frac": "ratio",
         "exec.cpu_s": "s", "exec.gc_s": "s",
         "exec.shuffle_write_bytes": "bytes",
         "exec.shuffle_read_bytes": "bytes", "exec.spill_bytes": "bytes",
         "exec.input_bytes": "bytes", "exec.result_bytes": "bytes"}
    for k in KERNELS:
        u[f"plans.ns_per_row.{k}"] = "ns"
    for m in MODULES:
        u[f"{m}.jobs"] = "count"
        u[f"{m}.job_s"] = "s"
    u.update({"ops.write_actions": "count", "ops.files_written": "count",
              "ops.bytes_written": "bytes", "ops.manifest_commits": "count",
              "ops.write_amp": "ratio",
              "streaming.batches": "count", "streaming.rows": "count",
              "streaming.batch_s": "s", "streaming.add_batch_s": "s",
              "streaming.engine_s": "s", "streaming.batch_p50_ms": "ms",
              "streaming.batch_p90_ms": "ms",
              "mem.persisted_rdds_max": "count",
              "mem.storage_bytes_max": "bytes", "mem.driver_gc_s": "s"})
    for k in SPAN_KINDS:
        u[f"self_s.{k}"] = "s"
    u["trace.overhead"] = "ratio"
    return u


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_files():
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*.scala"),
                             recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"),
                              recursive=True))
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project/build.properties")]
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        sub = shutil.which("spark-submit")
        if sub:
            home = os.path.dirname(os.path.dirname(os.path.realpath(sub)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark install found (set SPARK_HOME)")
    return os.path.join(home, "jars")


def build():
    """sbt-compile the engine and the harness once per source state;
    returns the runtime classpath."""
    os.makedirs(WORK, exist_ok=True)
    fp = fingerprint()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == fp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ, SPARK_JARS=spark_jars())
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile)")
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        die("build failed")
    cp = [ln for ln in r.stdout.splitlines()
          if "scala-2.13/classes" in ln and not ln.startswith("[")]
    if not cp:
        die("build did not report a classpath")
    with open(cp_file, "w") as fh:
        fh.write(cp[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(fp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp[-1].strip()


def source_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return None


JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "3g"


def run_jvm(cp, a, queries, run_dir, out, cores, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # C1 only: with C2 the compile backlog from Spark's generated code
    # never drains in a run this short (10-19 s of compile time per pass,
    # falling pass by pass), so wall times tracked JIT progress and spread
    # 20-30% between runs; C1 settles within the warm-up. C1 alone would
    # shrink the code cache to 48 MB, which the generated code overflows
    # into flush-and-recompile churn, so it keeps the tiered default.
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1",
           "-XX:ReservedCodeCacheSize=240m",
           f"-Djava.io.tmpdir={tmp}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness",
            "--workload", a.workload, "--queries", ",".join(queries),
            "--data", DATA, "--work", run_dir, "--seconds", str(a.seconds),
            "--seed", str(a.seed), "--trace", str(a.trace), "--out", out,
            "--cores", str(cores), "--min-passes", str(a.min_passes)]
    if a.corrupt:
        cmd += ["--corrupt", a.corrupt]
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    # fixture stores go to java.io.tmpdir (inside the checkout), not tmpfs
    env["GRAFT_TMP_ON_DISK"] = "1"
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             env=env, cwd=run_dir)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die("the workload did not finish in time")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"harness exited with {rc}")
    with open(out) as fh:
        return json.load(fh)


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def frame_digest(df):
    # the canonical form of scripts/selfcheck.py: columns by name, rows
    # sorted, default CSV rendering, MD5
    return hashlib.md5(canon(df).to_csv(index=False).encode()).hexdigest()


def oracle_check(rec):
    """Each warm-up result against its DuckDB oracle; returns
    {query: None if equal, else the reason}."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(DATA, t + '.parquet')}'")
    out = {}
    for w in rec["warmup"]:
        q = w["query"]
        if not w["ok"]:
            out[q] = f"warm-up failed: {w.get('error')}"
            continue
        sql = rec["oracle_sql"].get(q)
        if sql is None:
            out[q] = "no oracle"
            continue
        files = sorted(glob.glob(os.path.join(w["result_dir"], "*.parquet")))
        got = pd.concat([pd.read_parquet(f) for f in files])
        try:
            want = con.sql(sql).df()
        except Exception as e:  # noqa: BLE001
            out[q] = f"oracle error: {e}"
            continue
        if sorted(got.columns) != sorted(want.columns):
            out[q] = "columns differ from oracle"
        elif len(got) != len(want):
            out[q] = f"{len(got)} rows, oracle has {len(want)}"
        elif frame_digest(got) != frame_digest(want):
            out[q] = "values differ from oracle"
        else:
            out[q] = None
    return out


def end_to_end(rec, bad):
    """End-to-end metrics over the untraced passes, plus the attempted
    and failed execution counts and the latency percentiles."""
    passes = [p for p in rec["passes"] if not p["traced"]]
    execs = [e for p in passes for e in p["execs"]]
    ok = [e for e in execs if e["ok"] and e["query"] not in bad]
    by_q = {}
    for e in ok:
        by_q.setdefault(e["query"], []).append(e)
    if not by_q:
        die("no timed execution succeeded")

    def per_query(f):
        return [statistics.median(f(e) for e in es) for es in by_q.values()]
    # pass_s and cpu_s sum each query's median over the passes: a pass of
    # typical query times, which one disturbed pass does not move
    m = {
        "setup_s": rec["setup_s"],
        "pass_s": sum(per_query(lambda e: e["s"])),
        "geomean_s": statistics.geometric_mean(per_query(lambda e: e["s"])),
        "cpu_s": sum(per_query(lambda e: e["cpu_s"])),
        # the largest of the queries' post-GC heaps, each its median over
        # the passes like the times
        "driver_heap_mb": max(per_query(lambda e: e["heap_mb"])),
    }
    lat = sorted(e["s"] for e in ok)
    return m, len(execs), len(execs) - len(ok), lat


def per_layer(rec):
    traced = [p for p in rec["passes"] if p["traced"]]
    plain = [p for p in rec["passes"] if not p["traced"]]
    units = per_layer_units()
    m = {}
    for k in units:
        vals = [p["layers"].get(k, 0.0) for p in traced]
        m[k] = statistics.median(vals) if vals else 0.0
    for k in KERNELS:
        m[f"plans.ns_per_row.{k}"] = rec["kernels_ns_per_row"].get(k, 0.0)
    # bytes the file system took per byte of rows the write commands
    # produced: checksums, manifests, epoch stamps and copies on top
    out_bytes = statistics.median(
        [p["layers"].get("ops.output_bytes", 0.0) for p in traced])
    m["ops.write_amp"] = m["ops.bytes_written"] / out_bytes \
        if out_bytes else 0.0
    pt = statistics.median([sum(e["s"] for e in p["execs"]) for p in traced])
    pu = statistics.median([sum(e["s"] for e in p["execs"]) for p in plain])
    m["trace.overhead"] = pt / pu if pu else 0.0
    return m, units


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--queries", help="comma-separated subset (for tests)")
    ap.add_argument("--corrupt", help="queries whose expected digest is "
                    "deliberately corrupted (tests the check itself)")
    ap.add_argument("--min-passes", type=int, choices=[2, 3], default=3,
                    help="fewest timed passes (2 lets tests of slow queries "
                    "finish in time)")
    a = ap.parse_args()
    t0 = time.time()
    if not os.path.exists(os.path.join(ROOT, "src/main/scala/graft/"
                                             "SparkEntry.scala")):
        die("run from the root of the graft source tree "
            "(src/main/scala/graft/SparkEntry.scala not found)")
    cp = build()
    # the build of a fresh checkout does not count against the run
    deadline = time.time() + DEADLINE_S - min(time.time() - t0, 10)
    queries = a.queries.split(",") if a.queries else WORKLOADS[a.workload]
    cores = min(4, os.cpu_count() or 1)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "record.json")
    try:
        rec = run_jvm(cp, a, queries, run_dir, out, cores, deadline)
        oracle = oracle_check(rec)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    bad = {q: why for q, why in oracle.items() if why}
    e2e, attempted, failed, lat = end_to_end(rec, bad)
    ctx = {"heap": HEAP, "source_commit": source_commit(),
           "source_sha256": fingerprint()}
    rec["context"].update(ctx, data=os.path.relpath(DATA, ROOT))
    for p in rec["passes"]:  # each pass record stands on its own
        p.update(ctx)
    rec["oracle_check"] = oracle
    for q, why in sorted(bad.items()):
        print(f"FAIL {q}: {why}")
    for p in rec["passes"]:
        for e in p["execs"]:
            if not e["ok"]:
                print(f"FAIL {e['query']} (pass {p['pass']}): {e['error']}")
    print(f"workload {a.workload}  seed {a.seed}  passes "
          f"{len(rec['passes'])}  queries {len(queries)}  local[{cores}]")
    print(f"failed_frac {failed / max(attempted, 1):.4f} "
          f"({failed} of {attempted} timed executions)")
    # pooled over a few queries and passes, the percentiles jump between
    # queries from run to run and fewer than ten executions lie beyond a
    # p90: printed for reading, not reported as metrics
    if len(lat) > 1:
        deciles = statistics.quantiles(lat, n=10, method="inclusive")
        print(f"query_p50_s {statistics.median(lat):.6g} s, query_p90_s "
              f"{deciles[8]:.6g} s (n={len(lat)} executions)")
    if a.trace:
        metrics, units = per_layer(rec)
    else:
        metrics, units = e2e, dict(END_TO_END)
    for k, v in metrics.items():
        print(f"{k:36s} {v:14.6g} {units[k]}")
    rec["metrics"] = metrics
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    path = os.path.join(WORK, "records", f"{a.workload}-seed{a.seed}-"
                        f"trace{a.trace}-{int(t0)}.json")
    with open(path, "w") as fh:
        json.dump(rec, fh)
    log(f"record {path}")
    print(json.dumps({
        "correct": failed == 0 and not bad, "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()

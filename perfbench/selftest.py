#!/usr/bin/env python3
"""Tests of the benchmark itself, on its sf0.001 tables.

    python3 perfbench/selftest.py

Run from the root of the source tree. Each case runs perfbench/run.py on
one or two queries and checks what it reports: job attribution and store
counters, micro-batch counts, the columns the timed plan scans, that a
wrong expected digest is counted as a failure, and that the benchmark
refuses to run without the engine's sources. Takes about six minutes.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def bench(*args, cwd=ROOT):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--seed", "1", "--seconds", "1",
                        "--min-passes", "2", *args],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    return r


def run_ok(*args):
    r = bench(*args)
    assert r.returncode == 0, r.stderr[-3000:]
    result = json.loads(r.stdout.strip().splitlines()[-1])
    path = [ln.split("record ", 1)[1] for ln in r.stderr.splitlines()
            if "record " in ln][-1]
    with open(path) as fh:
        return result, json.load(fh)


def metric(result, name):
    return result["metrics"][name]["value"]


def test_cluster_ingest_attribution():
    res, _ = run_ok("--workload", "store_stream", "--queries",
                    "q_cluster_ingest", "--trace", "1")
    assert res["correct"], res
    assert metric(res, "dedup.jobs") > 0, res
    assert metric(res, "ops.files_written") > 0, res
    assert metric(res, "ops.manifest_commits") > 0, res


def test_stream_cluster_batches():
    res, _ = run_ok("--workload", "store_stream", "--queries",
                    "q_stream_cluster", "--trace", "1")
    assert res["correct"], res
    assert metric(res, "streaming.batches") >= 2, res


def test_pii_plan_reads_text():
    res, rec = run_ok("--workload", "readonly_batch", "--queries", "q_t_pii",
                      "--trace", "1")
    traced = [p for p in rec["passes"] if p["traced"]]
    assert traced and all("text" in p["scans"]["q_t_pii"] for p in traced), \
        [p["scans"] for p in traced]


def test_corrupted_digest_counts_as_failed():
    res, rec = run_ok("--workload", "readonly_batch", "--queries",
                      "q_t_pii,q_r1_pivot", "--trace", "0",
                      "--corrupt", "q_t_pii")
    passes = len(rec["passes"])
    assert not res["correct"], res
    assert res["attempted"] == 2 * passes, res
    assert res["failed"] == passes, res


def test_refuses_without_sources():
    bare = os.path.join(ROOT, ".bench_build", "perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    def build_output(d, names):
        return [n for n in names if n == "target" or
                (n == "project" and os.path.basename(d) == "project")]
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=build_output)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "readonly_batch", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=bare, capture_output=True,
                       text=True, timeout=120)
    shutil.rmtree(bare, ignore_errors=True)
    assert r.returncode != 0 and not r.stdout.strip(), (r.returncode, r.stdout)


if __name__ == "__main__":
    failed = 0
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            try:
                fn()
                print(f"PASS {name}", flush=True)
            except AssertionError as e:
                failed += 1
                print(f"FAIL {name}: {e}", flush=True)
    sys.exit(1 if failed else 0)

#!/usr/bin/env python3
"""Layered benchmark of the anonymization engine.

Run from the repository root:

    python3 perfbench/run.py --workload anonymize_parquet --seed 1 \
        --seconds 10 --trace 0 [--out results.jsonl]

It builds the engine and the harness from source with sbt (once per
source change), runs one workload in a fresh `local[nproc]` Spark JVM,
checks every pass's output (and, for the pipeline workload, the output
against `SparkEntry.oracleSql` through DuckDB), prints every metric by
name and unit, and prints one JSON object as its last line. With
`--trace 0` the metrics are BENCHMARK.json's `end_to_end` set, with
`--trace 1` its `per_layer` set. `--workload all` runs BENCHMARK.json's
workloads, one JVM each, and prints one result over all of them. It exits non-zero
when any check failed. `--out FILE` appends the full result as one JSON
line, the input of `perfbench/compare.py`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
# BENCHMARK.json lists the benchmark's workloads; anonymize_jdbc runs
# only when named (see NOTES.md).
WORKLOADS = ["anonymize_parquet", "anonymize_jdbc", "pipeline_linkage"]
# Seconds the JVM may take beyond --seconds: session start, input
# generation, warm-up, the last pass and shutdown.
JVM_SLACK_S = 150
BUILD_TIMEOUT_S = 840
# Spark 4 on JDK 17 needs these outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*.scala"),
                                  recursive=True))
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the engine and the harness unless the sources are unchanged
    since the last build."""
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}")
    digest = sources_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    print("perfbench: building with sbt", file=sys.stderr)
    try:
        subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false",
                        "compile"], cwd=HERE, check=True,
                       stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except (subprocess.SubprocessError, OSError) as e:
        fail(f"build failed: {e}", 3)
    with open(STAMP, "w") as fh:
        fh.write(digest)


def run_jvm(workload, seed, seconds, trace):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        fail("SPARK_HOME is not set")
    work = os.path.join(HERE, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cp = os.pathsep.join([CLASSES, os.path.join(spark_home, "jars", "*")])
    cmd = (["java"] + ADD_OPENS + [
        "-Xmx3g",
        f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
        "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", "1" if trace else "0",
        "--work", work])
    log = os.path.join(work, "jvm.log")
    try:
        with open(log, "w") as fh:
            proc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                  timeout=seconds + JVM_SLACK_S)
        ok = proc.returncode == 0
    except subprocess.TimeoutExpired:
        ok = False
    result_path = os.path.join(work, "result.json")
    if not ok or not os.path.exists(result_path):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{workload}: the benchmark JVM failed", 4)
    with open(result_path) as fh:
        result = json.load(fh)
    if workload.startswith("pipeline_"):
        result["oracle"] = oracle_check(work)
    shutil.rmtree(work, ignore_errors=True)
    return result


def oracle_check(work):
    """Compares each pipeline query's parquet snapshot with its oracle SQL
    run by DuckDB over the same inputs; returns the failures."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for p in glob.glob(os.path.join(work, "inputs", "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}/*.parquet'")
    with open(os.path.join(work, "oracle.json")) as fh:
        oracle = json.load(fh)
    failures = []
    for q, sql in sorted(oracle.items()):
        try:
            got = con.sql(
                f"SELECT * FROM '{os.path.join(work, 'out', q)}/*.parquet'"
            ).df()
            want = con.sql(sql).df()
            got = got.reindex(sorted(got.columns), axis=1)
            want = want.reindex(sorted(want.columns), axis=1)
            pd.testing.assert_frame_equal(
                got.reset_index(drop=True), want.reset_index(drop=True),
                check_dtype=False, check_exact=True)
        except Exception as e:  # any mismatch or SQL error fails the query
            failures.append(f"{q}: {str(e).strip().splitlines()[-1:]}")
    return failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", help="append each result as a JSON line")
    args = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        fail("BENCHMARK.json not found at the repository root")
    with open(bench_json) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    build()

    names = ([w["name"] for w in spec["workloads"]] if args.workload == "all"
             else [args.workload])
    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        r = run_jvm(name, args.seed, args.seconds, args.trace == 1)
        failed = r["failed"]
        if r.get("oracle"):
            # every pass hash-matched the snapshot the oracle rejected
            failed = r["attempted"]
        r["failed"] = failed
        r["correct"] = failed == 0
        print(f"{name}: seed {args.seed}, {r['cores']} cores, "
              f"{r['source_rows']} source rows in {r['input_bytes']} bytes, "
              f"peak RSS {r['peak_rss_mb']:.0f} MB, {r['attempted']} passes "
              f"({failed} failed), jobs per pass {r['jobs_per_pass']}, "
              f"set-up {r['setup']}")
        for err in r["errors"] + r.get("oracle", []):
            print(f"{name}: FAILED {err}")
        for k, m in r["metrics"].items():
            print(f"{name} {k} = {m['value']:.6g} {m['unit']}")
        if args.trace:
            self_sum = r["metrics"]["trace.self_sum_s"]["value"]
            untraced = r["metrics"]["trace.untraced_wall_s"]["value"]
            print(f"{name}: span self-times {self_sum:.4g} s account for "
                  f"{self_sum / untraced:.1%} of the untraced wall "
                  f"{untraced:.4g} s")
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(json.dumps(r) + "\n")
        missing = [m["name"] for m in wanted if m["name"] not in r["metrics"]]
        if missing:
            fail(f"{name}: metrics missing from the result: {missing}", 5)
        summary["correct"] &= r["correct"]
        summary["attempted"] += r["attempted"]
        summary["failed"] += failed
        prefix = "" if len(names) == 1 else f"{name}."
        for m in wanted:
            summary["metrics"][prefix + m["name"]] = {
                "value": r["metrics"][m["name"]]["value"], "unit": m["unit"]}
    print(json.dumps(summary))
    sys.exit(0 if summary["correct"] else 1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Benchmark launcher for the engine: the sync → upsert → query loop and the corpus pipeline.

    python3 perfbench/run.py --workload <sync_serve|corpus_batch>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline, from the local dependency cache)
into the checkout; later runs reuse the build while the sources are
unchanged. Each run gets a fresh directory under .bench_build/runs/ for
every store the program keeps, and removes it afterwards.

The last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}; the line before it
(prefixed "detail ") lists every figure with its unit and sample count.
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

import corpus_gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("sync_serve", "corpus_batch")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
# fixed heap: with an adaptive one, peak RSS follows the collector's
# sizing decisions more than the work done
HEAP = "2g"
# Spark on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked JVMs).
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]
STORE_ENV = {
    "GRAFT_API_CATALOG_DIR": "api-catalog",
    "GRAFT_DEDUP_STORE_DIR": "dedup-store",
    "GRAFT_CDC_STORE_DIR": "cdc-store",
    "GRAFT_ANN_INDEX_DIR": "ann-index",
    "GRAFT_STREAM_STORE_DIR": "stream-store",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: the engine's and the harness's
    sources and build definitions."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for dp, dns, fns in os.walk(d):
            dns.sort()
            inputs += [os.path.join(dp, f) for f in sorted(fns)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + harness unless the sources are unchanged since
    the last build; returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=log,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        log.write(r.stdout)
    cps = [l.strip() for l in r.stdout.splitlines()
           if l.startswith("/") and "perfbench" in l and ":" in l]
    if r.returncode != 0 or not cps:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"build failed (see {log_path})")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


class CorpusOracle:
    """Writes the seeded corpus for corpus_batch and, after the benchmark
    process has ended, computes the pipeline's DuckDB twin
    (`SparkEntry.oracleSql`, which that process writes to `oracle.sql`)
    on it and compares it with the first pass's output: same column
    types, same multiset of rows."""

    def __init__(self, run_dir, seed):
        self.run_dir = run_dir
        docs_dir = os.path.join(run_dir, "corpus", "documents.parquet")
        os.makedirs(docs_dir)
        corpus_gen.write(seed, os.path.join(docs_dir, "part-0.parquet"))

    def problem(self):
        try:
            import duckdb
            con = duckdb.connect()
            docs = os.path.join(self.run_dir, "corpus", "documents.parquet", "*.parquet")
            with open(os.path.join(self.run_dir, "oracle.sql")) as f:
                sql = f.read()
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
            con.execute(f"CREATE TABLE oracle_out AS SELECT * FROM ({sql})")
            out = os.path.join(self.run_dir, "corpus_out", "*.parquet")
            con.execute(f"CREATE VIEW spark_out AS SELECT * FROM read_parquet('{out}')")
        except Exception as e:  # reported as a failed check, not a crash
            return f"the DuckDB twin did not run: {type(e).__name__}: {e}"
        def types(v):
            return {r[0]: r[1] for r in con.execute(f"DESCRIBE {v}").fetchall()}
        st, ot = types("spark_out"), types("oracle_out")
        if st != ot:
            return f"column types differ: {st} vs {ot}"
        cols = ", ".join(f'"{c}"' for c in sorted(st))
        diff = con.execute(
            f"SELECT count(*) FROM ((SELECT {cols} FROM spark_out EXCEPT ALL "
            f"SELECT {cols} FROM oracle_out) UNION ALL (SELECT {cols} FROM oracle_out "
            f"EXCEPT ALL SELECT {cols} FROM spark_out))").fetchone()[0]
        n = con.execute("SELECT count(*) FROM spark_out").fetchone()[0]
        if diff or n == 0:
            return f"{diff} rows differ ({n} rows)"
        return None


def run_jvm(cp, args, run_dir):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # no hsperfdata file in the system temp dir: the run writes only here
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--workdir", run_dir]
    env = dict(os.environ)
    for k, sub in STORE_ENV.items():
        env[k] = os.path.join(run_dir, sub)
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    err_path = os.path.join(run_dir, "jvm.err")
    out_path = os.path.join(run_dir, "jvm.out")
    with open(err_path, "w") as err, open(out_path, "w") as outf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=outf,
                             stderr=err, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        deadline = time.time() + JVM_TIMEOUT_S
        try:
            while p.poll() is None:
                if time.time() > deadline:
                    fail(f"{args.workload} did not finish within {JVM_TIMEOUT_S}s")
                time.sleep(0.05)
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    with open(out_path) as f:
        out = f.read()
    if p.returncode != 0:
        with open(err_path) as f:
            tail = f.read()[-4000:]
        sys.stderr.write(tail)
        fail(f"{args.workload} exited with {p.returncode}")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine sources not found: {need} is missing under {ROOT}")

    cp = build()
    run_dir = os.path.join(BUILD, "runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        oracle = CorpusOracle(run_dir, args.seed) if args.workload == "corpus_batch" else None
        out = run_jvm(cp, args, run_dir)
        lines = [l for l in out.splitlines() if l.strip()]
        detail = [l for l in lines if l.startswith("detail ")]
        try:
            result = json.loads(lines[-1])
        except (IndexError, ValueError):
            fail("the run printed no result")
        if oracle:
            problem = oracle.problem()
            if problem:
                print(f"[check] corpus output vs DuckDB twin: {problem}", file=sys.stderr)
                result["correct"] = False
                result["failed"] = result["attempted"]
        logs = os.path.join(BUILD, "logs")
        os.makedirs(logs, exist_ok=True)
        shutil.copy(os.path.join(run_dir, "jvm.err"),
                    os.path.join(logs, f"{args.workload}-s{args.seed}-t{args.trace}.err"))
        trace = os.path.join(run_dir, "trace", "trace.json")
        if os.path.exists(trace):
            keep = os.path.join(BUILD, "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(trace, os.path.join(keep, f"{args.workload}-s{args.seed}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for l in detail:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Benchmark of the CDC stream path (cdc_small_batch, cdc_large_batch)
and the query library (query_library).

Run from the root of a checkout:

    python3 perfbench/run.py --workload cdc_small_batch --seed 1 --seconds 14 --trace 0

Builds the library (src/main/scala) and the harness (perfbench/src) with
the Scala compiler shipped in Spark's jars into .bench_build/perfbench,
reusing the build while no source changed; then runs one workload in one
JVM and prints, as its last line, one JSON object with the keys
correct, attempted, failed and metrics. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["cdc_small_batch", "cdc_large_batch", "query_library"]
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    cands = [os.path.join(home, "jars")] if home else []
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    fail("no Spark jars found (set SPARK_HOME)")


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                           recursive=True))
    own = sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "*.scala")))
    if not lib:
        fail("no library sources under src/main/scala; run from a checkout root")
    if not own:
        fail("no harness sources under perfbench/src")
    return lib + own


def build(jars):
    """Compile when the sources differ from the last build's."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "stamp")
    classes = os.path.join(BUILD, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


def run_jvm(classes, jars, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-Xmx4g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", classes + os.pathsep + os.path.join(jars, "*"),
              "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
              str(args.trace), work])
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    try:
        out, err = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.communicate()
        fail(f"{args.workload} did not finish within {JVM_TIMEOUT_S} s")
    if p.returncode != 0:
        print(err[-6000:], file=sys.stderr)
        fail(f"{args.workload} exited with {p.returncode}")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if len(lines) < 2:
        print(err[-6000:], file=sys.stderr)
        fail("no result from the JVM")
    return json.loads(lines[-2]), json.loads(lines[-1])


# ---- query_library: results against the DuckDB mirrors -------------------

def canon_rows(df):
    """Rows as sorted tuples of canonical cells, columns sorted by name
    (the comparison rule of the repo's oracle check)."""
    def cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NULL" if math.isnan(v) else repr(v)
        return str(v)
    cols = sorted(df.columns)
    rows = [tuple(cell(v) for v in r) for r in df[cols].itertuples(index=False)]
    return cols, sorted(rows)


def oracle_check(work):
    """Compare every query result the JVM wrote against its DuckDB mirror
    over the same generated tables. Returns the names that differ."""
    import duckdb
    data = os.path.join(work, "data")
    res = os.path.join(work, "results")
    with open(os.path.join(res, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in sorted(os.listdir(data)):
        con.sql(f"CREATE VIEW {t[:-len('.parquet')]} AS SELECT * FROM '{data}/{t}/*.parquet'")
    bad = []
    for name, sql in sorted(oracle.items()):
        try:
            got = canon_rows(duckdb.sql(f"SELECT * FROM '{res}/{name}/*.parquet'").df())
            want = canon_rows(con.sql(sql).df())
            if got != want:
                bad.append(name)
        except Exception as e:  # a failing mirror or result counts as a mismatch
            print(f"perfbench: oracle {name}: {e}", file=sys.stderr)
            bad.append(name)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    work = os.path.join(ROOT, ".bench_build", "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        conditions, result = run_jvm(classes, jars, args, work)
        if args.workload == "query_library":
            bad = oracle_check(work)
            conditions["conditions"]["checks"].append(
                {"name": "results_equal_duckdb_mirrors", "ok": not bad,
                 "detail": ",".join(bad)})
            if bad:
                # every pass ran each query once, and each run of a
                # mismatched query returned the wrong rows
                passes = result["attempted"] // len(json.load(
                    open(os.path.join(work, "results", "oracle_sql.json"))))
                result["correct"] = False
                result["failed"] += len(bad) * passes
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(conditions))
    print(json.dumps(result))


if __name__ == "__main__":
    main()

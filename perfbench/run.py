#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. It compiles the program and the harness
with the Scala compiler that ships in Spark's jars (once per source
state, into .bench_build/), generates the workload's inputs from the
seed, runs the workload in a fresh JVM, checks the outputs, and prints
one JSON line last: every end-to-end metric with --trace 0, every
per-layer metric with --trace 1. The JVM reports through a results
file; its stdout is never parsed.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src", "main", "scala")
JVM_TIMEOUT_S = 150
HEAP = "3g"
# Catalog tables' scale factor (lineitem = 6M * SF rows), as graft.Bench
# is timed at.
SF = 0.1
DUCKDB_MEMORY = "3GB"
# Layers only one kind of workload has; the other kind reports them as 0.
STREAM_ONLY = ("stream.", "sink.", "gen.", "exec.cpu_s.")
CATALOG_ONLY = ("queries.", "ledger.")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the program's own sbt
    build compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        m = None
        if os.path.exists(os.path.join(ROOT, "build.sbt")):
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            fail("SPARK_HOME is not set")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def sources():
    found = []
    for base in (PROGRAM_SRC, HARNESS_SRC):
        if not os.path.isdir(base):
            fail(f"missing source directory {base}")
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(jars):
    """Compiles program + harness into one class directory, reusing it
    while no source file changed."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", cp, "@" + args_file],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail("compile failed:\n" + r.stdout[-4000:])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def oracle_check(data_dir, check_dir, threads, work):
    """Compares each dumped result with its DuckDB twin under the strict
    rules of scripts/check.py (type parity, then exact VARCHAR rendering
    of every cell). Returns {query: failure message} for failures."""
    spec = importlib.util.spec_from_file_location(
        "check", os.path.join(ROOT, "scripts", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    con.execute(f"SET memory_limit='{DUCKDB_MEMORY}'")
    con.execute(f"SET temp_directory='{work}/duckdb-tmp'")
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = {}
    for name in sorted(oracle):
        files = glob.glob(os.path.join(check_dir, name, "*.parquet"))
        if not files:
            bad[name] = "no result written"
            continue
        got_sql = f"SELECT * FROM read_parquet({files!r})"
        try:
            st = check.describe_types(con, got_sql)
            ot = check.describe_types(con, f"({oracle[name]})")
            if st != ot:
                bad[name] = f"types {st} != {ot}"
                continue
            got = check.render_all_varchar(con, got_sql, st.keys())
            exp = check.render_all_varchar(con, oracle[name], ot.keys())
            if len(got) != len(exp):
                bad[name] = f"rows {len(got)} != {len(exp)}"
            elif (got != exp).any().any():
                bad[name] = f"{int((got != exp).any(axis=1).sum())} rows differ"
        except Exception as e:  # a query the oracle cannot run is a failure
            bad[name] = f"{type(e).__name__}: {e}"
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        fail("run from the repository root (BENCHMARK.json not found)")
    with open(bench_file) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload}")
    w = spec["workloads"][a.workload]
    jars = spark_jars()
    classes = build(jars)

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "runs", f"{a.workload}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    jvm_args = ["--workload", w["kind"], "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cores", str(cores), "--work", work]
    data_dir = None
    if w["kind"] == "catalog":
        sys.path.insert(0, HERE)
        import tables
        data_dir = tables.write(os.path.join(BUILD, "data", f"sf{SF}"), SF, a.seed)
        jvm_args += ["--data", data_dir, "--queries", ",".join(w["queries"])]
    # The fixed heap is touched at start, so first-touch page faults stay
    # out of the timed regions and peak RSS does not depend on how far the
    # collector has spread its allocations; it moves with off-heap use.
    cmd = (["java"] +
           [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main"] + jvm_args)
    # On SIGTERM, exit through the finally below so the JVM goes too.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep all
        # scratch inside the run directory.
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=work, env=env)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {JVM_TIMEOUT_S} s; log in {work}/jvm.log")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    result_file = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result_file):
        fail(f"JVM exited with {code}; log in {work}/jvm.log")
    with open(result_file) as f:
        res = json.load(f)

    failed = res["failed"]
    errors = list(res["errors"])
    if res["check_dir"]:
        bad = oracle_check(data_dir, res["check_dir"], cores, work)
        # A wrong result is wrong in every timed pass of that query; a run
        # that threw is not counted a second time.
        for q in bad:
            failed += res["passes"] - res["failed_by_query"].get(q, 0)
        errors += [f"{q}: {m}" for q, m in sorted(bad.items())]
    attempted = res["attempted"]
    values = dict(res["end_to_end"])
    values["ok_frac"] = 1.0 - failed / attempted
    values.update(res["per_layer"])
    kind = "end_to_end" if a.trace == 0 else "per_layer"
    na = CATALOG_ONLY if w["kind"] == "egv_stream" else STREAM_ONLY
    metrics = {}
    for m in bench[kind]:
        name = m["name"]
        if name not in values:
            if kind == "per_layer" and name.startswith(na):
                values[name] = 0.0
            else:
                fail(f"metric {name} was not measured")
        if values[name] is None:
            fail(f"metric {name} has no value")
        metrics[name] = {"value": values[name], "unit": m["unit"]}
    with open(os.path.join(work, "errors.txt"), "w") as f:
        f.write("\n".join(errors))
    for e in errors[:10]:
        print(f"perfbench: {e}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0 and not errors,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

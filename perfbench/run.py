#!/usr/bin/env python3
"""Benchmark command: builds the library and the benchmark from source, runs
one workload in one JVM and prints one JSON result line.

    python3 perfbench/run.py --workload cep --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --self-test     # the generator's own test

Run it from the repository root. Build output, logs and traces go to
.bench_build/ in that root; see perfbench/README.md.
"""
import argparse
import ast
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
MAIN_SRC = os.path.join(ROOT, "src", "main")
WORKLOADS = ("cep", "board")
JVM_TIMEOUT_S = 170

ADD_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the build's
    unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    fail("no Spark jars: set SPARK_HOME")


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(out, classpath, files, stamp):
    """Compile `files` into `out` unless `stamp` matches its last build."""
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jars = spark_jars()
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", ":".join(classpath + [os.path.join(jars, "*")])] + files
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail(f"compile failed: {out}")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def build():
    """Compile src/main (with its resources) and the benchmark sources."""
    main_files = sources(os.path.join(MAIN_SRC, "scala"))
    bench_files = sources(BENCH_SRC)
    if not main_files or not bench_files:
        fail("no sources to build: run from the repository root")
    main_out = os.path.join(BUILD, "main")
    main_stamp = digest(main_files)
    scalac(main_out, [], main_files, main_stamp)
    res = os.path.join(MAIN_SRC, "resources")
    if os.path.isdir(res):
        shutil.copytree(res, main_out, dirs_exist_ok=True)
    bench_out = os.path.join(BUILD, "bench")
    scalac(bench_out, [main_out], bench_files,
           main_stamp + digest(bench_files))
    return [bench_out, main_out, os.path.join(spark_jars(), "*")]


def java(classpath, main, args, log):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + ADD_OPENS +
           ["-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch",
            "-Xss4m", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-cp", ":".join(classpath), main] + args)
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{main} did not finish in {JVM_TIMEOUT_S} s (log: {log})")
    return p.returncode, out


def oracle_failures(board_out, tables):
    """Compare each board key's output with its DuckDB oracle, using the
    comparison function of tools/check_oracle.py (loaded on its own: that
    script runs its whole check on import). Returns messages for the keys
    that fail."""
    import duckdb
    import numpy
    import pandas
    path = os.path.join(ROOT, "tools", "check_oracle.py")
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    fn = next(n for n in tree.body
              if isinstance(n, ast.FunctionDef) and n.name == "compare")
    ns = {"glob": glob, "np": numpy, "pd": pandas, "OUT": board_out}
    exec(compile(ast.Module([fn], []), path, "exec"), ns)
    compare = ns["compare"]
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{tables}/events.parquet/*.parquet')")
    with open(os.path.join(board_out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = []
    for key in sorted(os.listdir(board_out)):
        path = os.path.join(board_out, key)
        if not os.path.isdir(path):
            continue
        if key in oracle:
            res = compare(key, oracle[key], con)
            if not res.startswith("PASS"):
                bad.append(res)
        else:  # rows-only: the output exists and is not empty
            n = con.execute("SELECT count(*) FROM "
                            f"read_parquet('{path}/*.parquet')").fetchone()[0]
            if n == 0:
                bad.append(f"FAIL {key}: no rows")
    con.close()
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(MAIN_SRC):
        fail("src/main not found: run from the repository root")
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    cp = build()
    if a.self_test:
        code, out = java(cp, "perfbench.GenCheck", [],
                         os.path.join(BUILD, "logs", "selftest.log"))
        print(out, end="")
        sys.exit(code)
    if a.workload is None:
        fail("--workload is required")

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, f"run-{tag}-{os.getpid()}")
    try:
        code, out = java(cp, "perfbench.Main",
                         ["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--work", work],
                         os.path.join(BUILD, "logs", f"{tag}.log"))
        line = next((l for l in out.splitlines()
                     if l.startswith("PERFBENCH_RESULT ")), None)
        if code != 0 or line is None:
            fail(f"run failed (exit {code}); see .bench_build/logs/{tag}.log")
        r = json.loads(line[len("PERFBENCH_RESULT "):])
        messages = list(r["messages"])
        failed = r["failed"]
        if r["board_out"]:
            bad = oracle_failures(r["board_out"], os.path.join(work, "tables"))
            messages += bad
            failed += len(bad)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for m in messages:
        print(f"perfbench: check failed: {m}", file=sys.stderr)
    print(f"perfbench: {tag}: {r['samples']} latency samples, "
          f"host canary {r['canary_ms']} ms"
          + (f", trace {os.path.relpath(r['trace_file'], ROOT)}"
             if r["trace_file"] else ""))
    result = json.dumps({"correct": failed == 0, "attempted": r["attempted"],
                         "failed": failed, "metrics": r["metrics"]})
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", f"{tag}.json"), "w") as f:
        f.write(result + "\n")
    print(result)


if __name__ == "__main__":
    main()

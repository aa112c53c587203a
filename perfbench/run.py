#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Workloads, metrics and what each
per-layer metric should move are described in perfbench/METRICS.md.

The last line of standard output is
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). A traced run also keeps its span file under .bench_work/spans/.
Progress and engine logs go to standard error.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sentiflow", "analytics_mix")
# the JVM gets this long before it is stopped; a run must end within 180 s
JVM_TIMEOUT_S = 165
# analytics tables are the same for every seed (the seed orders the queries)
TABLES_SEED = 0
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_files():
    """Every file the build reads from the checkout, sorted."""
    out = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    out += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(out)


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    key = hashlib.sha256()
    for f in source_files():
        key.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            key.update(hashlib.sha256(fh.read()).digest())
    key = key.hexdigest()
    stamp = os.path.join(HERE, "target", "perfbench-build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            st = json.load(fh)
        if st.get("key") == key:
            return st["classpath"]
    log("building with sbt (first run in this checkout)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):  # the offline repositories, before any caller flags
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g " + env.get("SBT_OPTS", ""))
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    sys.stderr.write(p.stdout[-4000:])
    cps = [ln for ln in p.stdout.splitlines() if ln.startswith("/") and ".jar" in ln]
    if p.returncode != 0 or not cps:
        fail("build failed")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"key": key, "classpath": cps[-1]}, fh)
    return cps[-1]


def rows_of(con, sql):
    """Rows of a relation with columns sorted by name, each value rendered
    exactly (floats by repr), as a sorted list: an order-free multiset."""
    rel = con.sql(sql)
    cols = sorted(rel.columns)
    quoted = ", ".join('"' + c + '"' for c in cols)
    rows = con.sql(f"SELECT {quoted} FROM rel").fetchall()

    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        return str(v)
    return cols, sorted(tuple(norm(v) for v in r) for r in rows)


def check_mix(tables, out_dir):
    """Each warm-pass result against its DuckDB oracle (every mix query has
    one). Returns the failing query names."""
    import duckdb
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    con = duckdb.connect()
    for t in sorted(f[:-8] for f in os.listdir(tables) if f.endswith(".parquet")):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    bad = []
    for q in sorted(d for d in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, d))):
        try:
            ok = (rows_of(con, f"SELECT * FROM '{out_dir}/{q}/*.parquet'") ==
                  rows_of(con, oracles[q]))
        except Exception as e:  # a result that cannot be read is a failure
            log(f"{q}: {type(e).__name__}: {e}")
            ok = False
        if not ok:
            bad.append(q)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala; run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed")
    classpath = build()

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        extra_setup = 0.0
        jvm_args = []
        if a.workload == "analytics_mix":
            sys.path.insert(0, HERE)
            import tables as gen
            tables = os.path.join(work, "tables")
            times = []
            for _ in range(3):
                t0 = time.perf_counter()
                gen.write(tables, TABLES_SEED)
                times.append(time.perf_counter() - t0)
            extra_setup = statistics.median(times)
            jvm_args = ["--tables", tables]
        cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               ["-Xmx2g", f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
                "-cp", classpath, "perfbench.Main", "--workload", a.workload,
                "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work] + jvm_args)
        jvm = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
        try:
            rc = jvm.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
            fail(f"the run did not end within {JVM_TIMEOUT_S} s")
        if rc != 0:
            fail(f"the run exited with code {rc}")
        with open(os.path.join(work, "result.json")) as fh:
            res = json.load(fh)
        metrics = res["metrics"]
        failed = res["failed"]
        if a.workload == "analytics_mix":
            bad = check_mix(tables, os.path.join(work, "mix-out"))
            if bad:
                log(f"output check failed: {bad}")
            failed += len(bad)
        if a.trace:
            for v in metrics.values():
                if v["value"] is None:
                    v["value"] = 0
            spans = os.path.join(ROOT, ".bench_work", "spans", f"{a.workload}-seed{a.seed}.jsonl")
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            shutil.copyfile(os.path.join(work, "spans.jsonl"), spans)
            log(f"spans: {spans}")
        else:
            metrics["setup_s"]["value"] += extra_setup
            empty = [k for k, v in metrics.items() if not v["value"]]
            if empty:
                fail(f"no measurement for {empty}")
        print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

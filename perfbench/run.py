#!/usr/bin/env python3
"""Benchmark entry point. Run from the repo root:

    python3 perfbench/run.py --workload <stedi_stream|iterative>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark program (perfbench/build.py), makes
the workload's fixture with tools/gen_sf.py, runs the program in one JVM,
checks every batch result against DuckDB running the query's oracle SQL
on the same fixture, and prints the metrics. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (and the spans go to <build dir>/traces/). See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

# workload -> tools/gen_sf.py scale (1 = the sf0.1 fixture's size)
SCALES = {"stedi_stream": 1, "iterative": 0.1}
E2E = {"setup_s": "s", "wall_s": "s", "latency_p50_ms": "ms",
       "latency_tail_ms": "ms", "sustained_rows_per_s": "rows/s",
       "cpu_s": "s", "peak_rss_mb": "MB"}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# the --add-opens list build.sbt passes to forked JVMs (Spark 4 on JDK 17)
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
HEAP = "2g"


def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v  # user nice system idle iowait irq softirq steal ...


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def fixture(root, scale):
    """tools/gen_sf.py output for `scale`, made once per generator version."""
    with open(os.path.join(root, "tools/gen_sf.py"), "rb") as f:
        key = hashlib.sha256(f.read() + str(scale).encode()).hexdigest()[:16]
    d = os.path.join(HERE, ".cache", f"sf_x{scale}_{key}")
    if not os.path.exists(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(root, "tools/gen_sf.py"),
                        str(scale), d], check=True, stdout=sys.stderr)
        open(os.path.join(d, "_done"), "w").close()
    return d, key


def canon(name, typ):
    """Column expression whose hash is equal exactly when check_oracle.py's
    comparison would call the values equal: numbers compare by value
    across types (and -0.0 == 0.0), other values by their text."""
    c = '"' + name.replace('"', '""') + '"'
    t = typ.upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT", "FLOAT", "DOUBLE") \
            or t.startswith("DECIMAL"):
        return f"CAST({c} AS DOUBLE) + 0.0"
    if t == "BOOLEAN":
        return f"CAST(CAST({c} AS INTEGER) AS DOUBLE)"
    if t == "TIMESTAMP WITH TIME ZONE":
        return f"CAST(CAST({c} AS TIMESTAMP) AS VARCHAR)"
    if t in ("VARCHAR", "BLOB"):
        return c
    return f"CAST({c} AS VARCHAR)"


def fingerprint(con, sql):
    """Order-insensitive (rows, sorted columns, hash sum) of a relation."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE fp AS {sql}")
    cols = sorted((r[0], r[1]) for r in con.execute("DESCRIBE fp").fetchall())
    exprs = ", ".join(canon(n, t) for n, t in cols)
    n, h = con.execute(
        f"SELECT count(*), CAST(sum(hash({exprs})) AS VARCHAR) FROM fp").fetchone()
    return {"rows": n, "cols": [n for n, _ in cols], "hash": h or "0"}


def check_batch(checks, data, fixture_key):
    """Compares each check-pass result with its DuckDB golden (cached in
    .cache/goldens.json per fixture and SQL text). Returns
    ({query: problem}, total result rows)."""
    import duckdb
    gpath = os.path.join(HERE, ".cache", "goldens.json")
    goldens = json.load(open(gpath)) if os.path.exists(gpath) else {}
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")
    bad, rows = {}, 0
    for c in checks:
        if not c["ok"]:
            continue
        if not c["sql"]:
            bad[c["name"]] = "no oracle SQL"
            continue
        key = hashlib.sha256((fixture_key + c["sql"]).encode()).hexdigest()
        if key not in goldens:
            goldens[key] = fingerprint(con, c["sql"])
        got = fingerprint(con, f"SELECT * FROM read_parquet('{c['dir']}/*.parquet')")
        rows += got["rows"]
        if got != goldens[key]:
            want = goldens[key]
            bad[c["name"]] = (f"rows {got['rows']} vs oracle {want['rows']}"
                              if got["rows"] != want["rows"] else
                              f"cols {got['cols']} vs oracle {want['cols']}"
                              if got["cols"] != want["cols"] else "values differ")
    con.close()
    tmp = gpath + ".tmp"
    with open(tmp, "w") as f:
        json.dump(goldens, f)
    os.replace(tmp, gpath)
    return bad, rows


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.path.dirname(HERE)
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/gen_sf.py"):
        if not os.path.exists(os.path.join(root, need)):
            sys.exit(f"perfbench: {need} not found; run from a full checkout of the repo")

    build_dir = os.path.abspath(os.path.join(
        root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench"))
    cp, built = build.ensure(root, build_dir)
    data, fixture_key = fixture(root, SCALES[a.workload])
    # a run that had to build or generate may take longer (first run only)
    deadline = t_start + (850 if built else 170)

    out = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    stat0, load0 = cpu_times(), loadavg()
    # a fixed, pre-touched heap: VmHWM then measures the footprint beyond
    # it instead of how far G1 happened to grow the heap in this run
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Xss16m",
            f"-Djava.io.tmpdir={out}/tmp", "-Dspark.ui.enabled=false"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.PerfBench", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--data", data, "--out", out])
    log = os.path.join(out, "jvm.log")
    with open(log, "w") as lf:
        try:
            rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                timeout=max(10, deadline - 10 - time.time())).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    stat1, load1 = cpu_times(), loadavg()
    res_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        sys.stderr.write(open(log).read()[-4000:])
        sys.exit(f"perfbench: program exited with {rc}")
    res = json.load(open(res_path))

    errors = dict(res["errors"])
    failed, attempted = res["failed"], res["attempted"]
    metrics = dict(res["metrics"])
    if res["checks"]:
        bad, rows = check_batch(res["checks"], data, fixture_key)
        for q, why in bad.items():
            errors[q] = f"wrong result: {why}"
        failed += len(bad)
        metrics["sustained_rows_per_s"] = rows / metrics["wall_s"]

    d = [b - a_ for a_, b in zip(stat0, stat1)]
    total = sum(d) or 1
    try:
        # the ceiling keeps git from looking for a repository above the checkout
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True,
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(root)},
        ).stdout.strip() or "none"
    except OSError:
        commit = "none"
    info = res["info"]
    machine = {"nproc": os.cpu_count(), "loadavg_start": load0, "loadavg_end": load1,
               "iowait_pct": round(100 * d[4] / total, 2),
               "steal_pct": round(100 * d[7] / total, 2) if len(d) > 7 else 0.0,
               "java": info.pop("java_version"), "spark": info.pop("spark_version"),
               "git_commit": commit, "source_digest": open(
                   os.path.join(build_dir, "classes.stamp")).read()[:16],
               "seed": a.seed, "fixture_scale": SCALES[a.workload],
               "run_s": round(time.time() - t_start, 1)}
    print("machine " + json.dumps(machine))
    print(f"workload {a.workload}: " + json.dumps(info))
    for k, unit in E2E.items():
        if k in metrics:
            print(f"  {k:22s} {metrics[k]:14.4f} {unit}")
    print(f"  {'error_rate':22s} {failed / max(1, attempted):14.4f} "
          f"({failed} of {attempted} operations)")
    for q, why in errors.items():
        print(f"  FAILED {q}: {why}")

    if a.trace:
        traces = os.path.join(build_dir, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(out, "trace.json"),
                    os.path.join(traces, f"{a.workload}-{a.seed}.json"))
        for k, v in sorted(res["layers"].items()):
            print(f"  {k:34s} {v:16.4f}")
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        # a layer the workload does not use reads 0 (e.g. streaming.* on iterative)
        shown = {k: {"value": res["layers"].get(k, 0.0), "unit": u} for k, u in units.items()}
    else:
        shown = {k: {"value": metrics[k], "unit": u} for k, u in E2E.items()}
    shutil.rmtree(out, ignore_errors=True)
    print(json.dumps({"correct": failed == 0 and not errors, "attempted": attempted,
                      "failed": failed, "metrics": shown}))


if __name__ == "__main__":
    main()

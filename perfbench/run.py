#!/usr/bin/env python3
"""Workload benchmark of the document service.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the benchmark client
(perfbench/build.sbt) once per source state, generates the inputs from
--seed (perfbench/gen.py), runs one workload in one JVM, checks the
outputs, and prints a summary followed by one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 its
per-layer metrics (from a traced run).

Workloads: search_serve, batch_pipeline (see README.md).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "3g"
DEADLINE_S = 174          # the client's share of a run, build excluded
BUILD_DEADLINE_S = 700    # a first run builds, then runs: within 900 s
WORKLOADS = ("search_serve", "batch_pipeline")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile the engine and the client unless this source state is
    already built; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("perfbench: building engine and client (sbt)")
    t0 = time.time()
    with open(os.path.join(BUILD, "sbt.log"), "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                         HERE, env, out, BUILD_DEADLINE_S)
    if rc != 0:
        sys.exit(f"perfbench: build failed (rc={rc}); see {BUILD}/sbt.log")
    shutil.copy(os.path.join(HERE, "target", "runtime-classpath.txt"), cp_file)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"perfbench: built in {time.time() - t0:.1f} s")
    return open(cp_file).read().strip()


def run_bounded(cmd, cwd, env, out, limit):
    """Run `cmd` in its own process group; kill the group past `limit` s
    and wait until it has ended."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# ------------------------------------------------------------ correctness

def norm(v):
    if v is None:
        return (0,)
    if isinstance(v, float):
        return (1, round(v, 9))
    if isinstance(v, list):
        return (1, tuple(norm(x) for x in v))
    if isinstance(v, dict):
        return (1, tuple(sorted((k, norm(x)) for k, x in v.items())))
    return (1, v)


def digest(table):
    """Hash of a result: columns sorted by name, rows sorted."""
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    rows = sorted(tuple(norm(v) for v in row) for row in zip(*data))
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest(), len(rows)


def oracle_check(data, results):
    """Compare each registry entry's first response with its DuckDB oracle
    on the same generated inputs. Returns {entry: error} for mismatches."""
    import duckdb
    import pyarrow.parquet as pq
    oracle = json.load(open(os.path.join(results, "oracle.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = {}
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(results, name, "*.parquet"))
        try:
            spark = pq.read_table(files[0]) if len(files) == 1 else \
                pq.ParquetDataset(os.path.join(results, name)).read()
            duck = con.execute(sql).arrow()
        except Exception as e:  # an oracle that cannot run is a failure too
            bad[name] = f"oracle error: {e}"[:200]
            continue
        (hs, ns), (hd, nd) = digest(spark), digest(duck)
        if hs != hd:
            bad[name] = f"differs from oracle: spark {ns} rows, duckdb {nd} rows"
    return bad, len(oracle)


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    a = ap.parse_args()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.exists(os.path.join(ROOT, "build.sbt")) or not os.path.exists(spec_file):
        sys.exit("perfbench: run from the repository root (engine sources not found)")
    spec = json.load(open(spec_file))
    cp = build()

    t_start = time.time()
    work = os.path.join(ROOT, ".bench_build", "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    gen.gen(a.seed, data, pipeline=a.workload == "batch_pipeline")

    out = os.path.join(work, "report.json")
    cmd = ["java", f"-Xmx{HEAP}", *ADD_OPENS,
           f"-Dlog4j2.configurationFile=file:{os.path.join(HERE, 'log4j2.properties')}",
           f"-Dperfbench.log={os.path.join(work, 'spark.log')}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--data", data, "--work", work, "--out", out]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as fh:
        rc = run_bounded(cmd, ROOT, env, fh, DEADLINE_S - (time.time() - t_start))
    if rc != 0 or not os.path.exists(out):
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        sys.exit(f"perfbench: client failed (rc={rc})\n{tail}")
    rep = json.load(open(out))

    bad, n_oracle = oracle_check(data, os.path.join(work, "results"))
    failed = rep["failed"]
    calls = rep.get("entry_calls", {})
    for name, why in bad.items():
        failed += calls.get(name, 1)
        log(f"FAILED {name}: {why}")
    for op, why in rep["failures"].items():
        log(f"FAILED {op}: {why}")
    attempted = rep["attempted"]

    if a.trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        values = rep["layers"]
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        values = rep["e2e"]
        missing = [n for n, _ in names if n not in values]
        if missing:
            sys.exit(f"perfbench: end-to-end metrics not measured: {missing}")
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names}

    hdr = rep["header"]
    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"{hdr['master']} heap={hdr['max_heap_mb']}MB sf={gen.SF} "
          f"calib cpu={hdr['calib']['cpu']:.3f}s shuffle={hdr['calib']['shuffle']:.3f}s")
    print(f"oracle: {n_oracle - len(bad)}/{n_oracle} entries match DuckDB; "
          f"error_rate={failed / max(1, attempted):.4f} ({failed}/{attempted})")
    for n, m in metrics.items():
        print(f"  {n:36s} {m['value']:14.4f} {m['unit']}")
    if a.trace:
        extra = {k: v for k, v in rep["layers"].items() if k not in metrics}
        for k, v in sorted(extra.items()):
            print(f"  {k:36s} {v:14.4f} (extra)")
    if not a.keep:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run the benchmark: one workload (or `all`) of one seed.

    python3 perfbench/run.py --workload ingest|views|all \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
benchmark from source into `.bench_build/` (plain scalac from the Spark
distribution's jars, found through SPARK_HOME or `spark-submit` on PATH);
later runs reuse the build while the sources are unchanged. Inputs are
generated from the seed (gen.py), the JVM side (perfbench/scala) runs the
workload and the output checks, and the query-side results are checked here
against the program's own oracle SQL run by DuckDB. Every metric is printed
as one bare JSON line (name, unit, value, sample count, workload), then the
host record, and last the result line the benchmark contract asks for.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ["ingest", "views"]
BACKFILL_BLOCKS = 400
LIVE_RATE = 2.0           # blocks per second, open loop
VIEWS_ROWS = 1_000        # the sf0.001 `events` row count
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die("no Spark distribution with a Scala compiler found (set SPARK_HOME)")
    return jars


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not prog:
        die("program sources (src/main/scala) not found: run from the repository root")
    return prog + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def resources(root):
    return os.path.join(root, "src", "main", "resources")


def build(root, jars):
    """Compile program + benchmark once per source state; returns the
    classes directory."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs + sorted(glob.glob(os.path.join(resources(root), "**", "*"), recursive=True)):
        if os.path.isdir(s):
            continue
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(root, ".bench_build", "perfbench")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-Ybackend-parallelism", "4", "-d", tmp, "-classpath", os.path.join(jars, "*")] + srcs
    print(f"perfbench: building {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        die("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def timed_median(fn, reps=3):
    ts = []
    for r in range(1, reps + 1):
        t0 = time.perf_counter()
        fn(r)
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def make_inputs(workload, seed, seconds, trace, inputs):
    """Generate the seeded inputs; returns the median generation time of
    three generations of what the untraced run uses (part of set-up)."""
    os.makedirs(inputs, exist_ok=True)
    if workload == "ingest":
        blocks = max(20, int(round(seconds * LIVE_RATE)))

        def g(_):
            gen.write_script(gen.backfill_script(seed, BACKFILL_BLOCKS), os.path.join(inputs, "backfill.jsonl"))
            gen.write_script(gen.live_script(seed, blocks, LIVE_RATE), os.path.join(inputs, "live.jsonl"))
        gs = timed_median(g)
        if trace:
            import pyarrow.parquet as pq
            pq.write_table(gen.decode_table(seed, BACKFILL_BLOCKS), os.path.join(inputs, "decode.parquet"))
            gen.write_corpus(seed, VIEWS_ROWS, os.path.join(inputs, "corpus"))  # for the loops
        return gs
    return timed_median(lambda r: gen.write_corpus(seed, VIEWS_ROWS, os.path.join(inputs, f"corpus{r}")))


def run_jvm(root, classes, jars, args, log):
    # C1 only: a run is too short for C2 to finish, and its compiler threads
    # would compete with the workload for the host's few cores; with C1 the
    # JIT settles within set-up, so the passes measure the program rather
    # than how far compilation has got
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:TieredStopAtLevel=1"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cp = [classes, resources(root), os.path.join(jars, "*")]
    cmd += ["-Dspark.ui.enabled=false", "-cp", os.pathsep.join(cp),
            "graft.perfbench.Main"] + args
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=root, stdout=lf, stderr=subprocess.STDOUT, start_new_session=True)

        def stop(*_):
            # the JVM and its process group; run_one stops PostgreSQL
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
            sys.exit(3)
        old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -9
        finally:
            for s, h in old.items():
                signal.signal(s, h)


def oracle_check(out_dir):
    """The query side's results against `SparkEntry.oracleSql` run by
    DuckDB over the same generated corpus: row counts, then EXCEPT ALL
    both ways. Returns (checks, failures)."""
    import duckdb
    path = os.path.join(out_dir, "oracle_sql.json")
    if not os.path.exists(path):
        return 0, 1
    oracle = json.load(open(path))
    sfdir = oracle.pop("_sfdir")
    con = duckdb.connect()
    for t in glob.glob(os.path.join(sfdir, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    failures = 0
    for name, sql in sorted(oracle.items()):
        spark_rel = f"read_parquet('{out_dir}/{name}/*.parquet')"
        try:
            con.sql(f"CREATE OR REPLACE VIEW _oracle AS {sql}")
            ocols = sorted(d[0] for d in con.sql("SELECT * FROM _oracle LIMIT 0").description)
            scols = sorted(d[0] for d in con.sql(f"SELECT * FROM {spark_rel} LIMIT 0").description)
            if ocols != scols:
                raise AssertionError(f"columns {scols} vs oracle {ocols}")
            cols = ", ".join(f'"{c}"' for c in ocols)
            ns = con.sql(f"SELECT count(*) FROM {spark_rel}").fetchone()[0]
            no = con.sql("SELECT count(*) FROM _oracle").fetchone()[0]
            if ns != no:
                raise AssertionError(f"{ns} rows vs oracle {no}")
            diff = con.sql(f"SELECT count(*) FROM ((SELECT {cols} FROM {spark_rel} EXCEPT ALL "
                           f"SELECT {cols} FROM _oracle) UNION ALL (SELECT {cols} FROM _oracle "
                           f"EXCEPT ALL SELECT {cols} FROM {spark_rel}))").fetchone()[0]
            if diff:
                raise AssertionError(f"{diff} rows differ")
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            print(f"perfbench: oracle check failed: {name}: {e}", file=sys.stderr)
            failures += 1
    return len(oracle), failures


def declared(kind):
    spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    return {m["name"]: m["unit"] for m in spec[kind]}


def loadavg():
    try:
        return open("/proc/loadavg").read().split()[:3]
    except OSError:
        return []


def pg_scratch():
    """The directory the ingest workload's PostgreSQL clusters live in.
    It is in /tmp, not in the checkout: run as root, `PgServer` starts the
    server as `nobody`, which must be able to reach its data directory."""
    d = tempfile.mkdtemp(prefix="perfbench-pg-", dir="/tmp")
    os.chmod(d, 0o755)
    return d


def stop_pg(pg_dir):
    """Stop any server still running under `pg_dir` (the JVM stops its
    own; this covers a JVM that was killed), then remove the directory."""
    for pidfile in glob.glob(os.path.join(pg_dir, "*", "data", "postmaster.pid")):
        try:
            pid = int(open(pidfile).readline())
            os.kill(pid, signal.SIGQUIT)  # immediate shutdown, children included
            for _ in range(100):
                os.kill(pid, 0)
                time.sleep(0.1)
            os.kill(pid, signal.SIGKILL)
        except (OSError, ValueError):
            pass
    shutil.rmtree(pg_dir, ignore_errors=True)


def run_one(root, classes, jars, workload, seed, seconds, trace):
    host = {"nproc": os.cpu_count(), "loadavg_start": loadavg()}
    work = os.path.join(root, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    pg_dir = pg_scratch() if workload == "ingest" else None
    try:
        gen_s = make_inputs(workload, seed, seconds, trace, inputs)
        out = os.path.join(work, "result.json")
        log = os.path.join(work, "jvm.log")
        args = ["--workload", workload, "--seed", str(seed), "--trace", "1" if trace else "0",
                "--inputs", inputs, "--work", work, "--out", out, "--gen-s", repr(gen_s)]
        if pg_dir:
            args += ["--pg-dir", pg_dir]
        code = run_jvm(root, classes, jars, args, log)
        if code != 0 or not os.path.exists(out):
            sys.stderr.write(open(log).read()[-6000:])
            die(f"{workload}: JVM exited with {code}")
        r = json.load(open(out))
        metrics = r["metrics"]
        attempted, failed = r["attempted"], r["failed"]
        bad_checks = [c for c in r["checks"] if not c["ok"]]
        for c in bad_checks:
            print(f"perfbench: check failed: {c['name']}: {c['detail']}", file=sys.stderr)
        left = metrics.get("live.pending_rows_left", {}).get("value", 0)
        if left:
            print(f"perfbench: known defect: {left:.0f} rows left in the pending store", file=sys.stderr)
        if workload == "views" or trace:  # views, and the loops of a traced ingest run
            n, f = oracle_check(os.path.join(work, "out"))
            attempted += n
            failed += f
            if f:
                bad_checks.append({"name": "oracle"})
        metrics["corpus.generate_s"] = {"value": gen_s, "unit": "s", "n": 3}
        spans = out + ".spans.jsonl"
        if os.path.exists(spans):
            os.makedirs(os.path.join(root, ".bench_out"), exist_ok=True)
            shutil.copy(spans, os.path.join(root, ".bench_out", f"spans-{workload}-{seed}.jsonl"))
        host.update(r.get("host", {}), loadavg_end=loadavg())
    finally:
        if pg_dir:
            stop_pg(pg_dir)
        shutil.rmtree(work, ignore_errors=True)

    want = declared("per_layer" if trace else "end_to_end")
    missing = [m for m in declared("end_to_end") if m not in metrics] if not trace else []
    for name, m in sorted(metrics.items()):
        print(json.dumps({"workload": workload, "name": name, "unit": m["unit"],
                          "value": m["value"], "n": m.get("n", 1)}))
    print(json.dumps({"host": host, "workload": workload, "seed": seed}))
    out_metrics = {k: {"value": metrics[k]["value"] if k in metrics else 0.0, "unit": u}
                   for k, u in want.items()}
    correct = not bad_checks and failed == 0 and not missing
    return {"correct": correct, "attempted": max(1, attempted), "failed": failed, "metrics": out_metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.exists(os.path.join(root, "BENCHMARK.json")):
        die("BENCHMARK.json not found: run from the repository root")
    jars = spark_jars()
    classes = build(root, jars)
    for w in (WORKLOADS if a.workload == "all" else [a.workload]):
        print(json.dumps(run_one(root, classes, jars, w, a.seed, a.seconds, bool(a.trace))), flush=True)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""CDC apply-and-serve benchmark of record.

    python3 cdcbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (sbt, offline) on first
use, runs one workload in one JVM, checks its outputs, and prints one JSON
line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1 the
per-layer metrics of a traced run. The full record of each run (latency
summaries, host cleanliness, diagnostics, per-layer metrics) is appended
to cdcbench/out/runs.jsonl; --trace-out writes a traced run's spans.
Exit code 0 only when every operation and correctness check passed.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ["trickle", "serve_mixed", "maintained_drain"]

# End-to-end metrics (printed with --trace 0) and their units.
E2E = {
    "setup_s": "s",
    "apply_events_per_cpu_s": "events/cpu_s",
    "write_cpu_ms_p50": "ms",
}


def layer_unit(name):
    last = name.split(".")[-1]
    if last == "ms" or last.endswith("_ms"):
        return "ms"
    if "bytes" in last:
        return "bytes"
    if last.endswith(("share", "ratio", "_per_event")):
        return "ratio"
    return "count"


JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"cdcbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every input of the build: engine and benchmark sources."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "cdc",
                                       "StateStore.scala")):
        die(f"engine sources not found under {ENGINE_SRC}")
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp = os.path.join(target, "classpath.stamp")
    digest = source_digest()
    if os.path.isfile(cp_file) and os.path.isfile(stamp) and \
            open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" +
                       os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g -XX:-UsePerfData")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "writeClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if p.returncode != 0 or not os.path.isfile(cp_file):
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    print(f"cdcbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return open(cp_file).read().strip()


def norm(v):
    if hasattr(v, "as_tuple"):  # Decimal
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return v


def oracle_check(sf_dir, served_dir, name):
    """Served rows of a maintained family against its DuckDB oracle:
    columns by name, rows in order, floats to 9 places."""
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{path}')")
    sql = open(os.path.join(served_dir, f"{name}.sql")).read()

    def fetch(q):
        tbl = con.execute(q).arrow()
        if hasattr(tbl, "read_all"):
            tbl = tbl.read_all()
        cols = tbl.column_names
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        data = [tbl.column(i).to_pylist() for i in order]
        return [cols[i] for i in order], [tuple(norm(x) for x in r)
                                          for r in zip(*data)]

    o_cols, o_rows = fetch(sql)
    g_cols, g_rows = fetch("SELECT * FROM read_parquet('" +
                           os.path.join(served_dir, name, "*.parquet") + "')")
    if o_cols != g_cols:
        return f"{name}: columns differ oracle={o_cols} served={g_cols}"
    if o_rows != g_rows:
        return (f"{name}: rows differ (oracle {len(o_rows)}, "
                f"served {len(g_rows)})")
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=0,
                    help="local[n] cores; default min(4, nproc)")
    ap.add_argument("--trace-out", default=None,
                    help="file for a traced run's spans")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                                   "/root/testdata/sf0.1"))
    a = ap.parse_args()
    if not os.path.isdir(a.sf):
        die(f"fixture directory {a.sf} not found")

    cp = build()
    cores = a.cores or min(4, os.cpu_count() or 1)
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = tmp
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData",
           "-XX:-UseDynamicNumberOfCompilerThreads"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "cdcbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--cores", str(cores), "--sf", a.sf]
    if a.trace_out:
        cmd += ["--trace-out", os.path.abspath(a.trace_out)]
    log_path = os.path.join(work, "jvm.log")
    rec = None
    jvm = []

    def on_term(signum, _frame):
        # Killed from outside: stop the JVM and remove the work dir first.
        for p in jvm:
            p.kill()
            p.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=env,
                                    stdout=subprocess.PIPE, stderr=log,
                                    text=True)
            jvm.append(proc)
            try:
                out, _ = proc.communicate(timeout=170)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                die("benchmark JVM timed out")
        for line in out.splitlines():
            if line.startswith("BENCH_RESULT "):
                rec = json.loads(line[len("BENCH_RESULT "):])
        if rec is None:
            sys.stderr.write(open(log_path).read()[-4000:])
            die(f"benchmark JVM exited {proc.returncode} without a result")
        for name in rec["diag"].get("oracle_checks", []):
            rec["attempted"] += 1
            err = oracle_check(a.sf, os.path.join(work, "served"), name)
            if err:
                rec["failed"] += 1
                rec["errors"].append(err)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", "runs.jsonl"), "a") as f:
        f.write(json.dumps(rec, sort_keys=True) + "\n")
    for e in rec["errors"]:
        print(f"cdcbench: {e}", file=sys.stderr)
    correct = rec["failed"] == 0 and rec["attempted"] > 0
    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in sorted(rec["layers"].items())}
    else:
        metrics = {k: {"value": rec["e2e"].get(k), "unit": u}
                   for k, u in E2E.items()}
    if any(m["value"] is None for m in metrics.values()):
        correct = False
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

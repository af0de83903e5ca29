#!/usr/bin/env python3
"""Benchmark of the graft Spark engine.

    python3 perfbench/run.py --workload spine|enrich_http|queries --seed N \
        --seconds S --trace 0|1 [--out FILE] [--tables DIR]

Run from the root of a source tree. The first run compiles the program
(src/main/scala) together with the harness (perfbench/src) with scalac
against the Spark jars ($SPARK_HOME/jars, or those of the spark-submit on
PATH) into perfbench/.build; later runs reuse it while the sources are
unchanged.

Each run starts one JVM (`local[nproc]`, the session graft.Bench runs its
queries in), generates its inputs from the seed, warms up, measures,
then checks the outputs outside the timed region. The full record (every
metric, the checks, set-up breakdown and provenance) is appended to
--out (default perfbench/results/runs.jsonl); with --trace 1 the spans go
to perfbench/results/spans-<workload>-<seed>.jsonl. The last stdout line
is {"correct", "attempted", "failed", "metrics"} with the end-to-end
metrics of BENCHMARK.json (--trace 0) or its per-layer metrics (--trace 1).

--tables DIR runs the queries workload on the parquet tables in DIR (for
example the sf0.001 testdata) instead of generated ones, to compare the
generated workload with them.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, "results")
WORKLOADS = ("spine", "enrich_http", "queries")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        fail("no Spark jars found; set SPARK_HOME")
    return jars


def sources():
    program = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(program):
        fail(f"program sources not found at {program}; run from the root of the source tree")
    files = []
    for top in (program, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(jars):
    """Compile the program and the harness once per source state."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(BUILD, "stamp")
        if os.path.isdir(classes) and os.path.exists(stamp_file):
            with open(stamp_file) as fh:
                if fh.read() == stamp:
                    return stamp
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files) + "\n")
        cp = os.path.join(jars, "*")
        t0 = time.time()
        # -XX:-UsePerfData: no JVM statistics file outside the tree
        r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
                            "scala.tools.nsc.Main",
                            "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
                           stdout=sys.stderr, stderr=sys.stderr, timeout=800)
        if r.returncode != 0:
            fail("compilation failed")
        os.rename(tmp, classes)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        print(f"[perfbench] compiled {len(files)} sources in {time.time() - t0:.1f}s",
              file=sys.stderr)
        return stamp


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(args, jars, work, spans, gen_only=False):
    """Run one workload in a fresh JVM; with gen_only, only make its inputs."""
    out = os.path.join(work, "result.json")
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dderby.system.home={work}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", os.path.join(BUILD, "classes") + os.pathsep + os.path.join(jars, "*"),
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
        "--out", out, "--spans", spans, "--launched-ms", str(time.time() * 1000.0)] \
        + (["--gen-only", "1"] if gen_only else []) \
        + (["--tables", os.path.abspath(args.tables)] if getattr(args, "tables", None) else [])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{args.workload} did not finish within {JVM_TIMEOUT_S}s")
    if code != 0 or not os.path.exists(out):
        fail(f"{args.workload} JVM exited with code {code}")
    with open(out) as fh:
        return json.load(fh)


def frame_norm(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def frames_equal(a, b):
    """Exact comparison of two result frames, by the rule of dev/check.py:
    same columns, same rows, floats equal or both null."""
    if sorted(a.columns) != sorted(b.columns):
        return f"columns {sorted(a.columns)} vs {sorted(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows vs {len(b)}"
    a, b = frame_norm(a), frame_norm(b)
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            ok = ((x.isna() & y.isna()) | (x == y)).all()
        else:
            ok = x.fillna("\0").astype(str).equals(y.fillna("\0").astype(str))
        if not ok:
            return f"values differ in column {c}"
    return None


def frame_hash(df):
    df = frame_norm(df)
    h = hashlib.sha256("|".join(df.columns).encode())
    for row in df.itertuples(index=False):
        h.update(repr(tuple(row)).encode())
    return h.hexdigest()[:16]


def oracle_checks(jvm):
    """Each query's result against its DuckDB oracle over the same tables."""
    import duckdb
    import pandas as pd
    import pyarrow.parquet as pq
    con = duckdb.connect()
    sf = jvm["extra"]["sf_dir"]
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        path = f"{sf}/{t}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    checks, hashes = [], {}
    for name, o in sorted(jvm["extra"]["oracle"].items()):
        files = glob.glob(os.path.join(o["result"], "*.parquet"))
        if not files or not o["sql"]:
            checks.append({"name": f"oracle_{name}", "ok": False,
                           "detail": "no result" if not files else "no oracle"})
            continue
        spark_df = pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)
        try:
            err = frames_equal(spark_df, con.sql(o["sql"]).df())
        except Exception as e:  # an oracle that cannot run is a failed check
            err = f"oracle error: {str(e)[:200]}"
        hashes[name] = frame_hash(spark_df)
        checks.append({"name": f"oracle_{name}", "ok": err is None, "detail": err or ""})
    return checks, hashes


def measure(args, jars, stamp):
    """One run of the workload in its own JVM, checked; returns its record."""
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spans = os.path.join(RESULTS, f"spans-{args.workload}-{args.seed}.jsonl")
    try:
        jvm = run_jvm(args, jars, work, spans)
        checks, attempted, failed = jvm["checks"], jvm["attempted"], jvm["failed"]
        hashes = {}
        if args.workload == "queries":
            oc, hashes = oracle_checks(jvm)
            checks = checks + oc
            attempted += len(oc)
            failed += sum(1 for c in oc if not c["ok"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    setup = jvm["setup"]
    setup_s = setup["session_s"] + setup["gen_s"] + setup.get("warm_s", 0.0) \
        + setup.get("stub_s", 0.0)
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "tables": getattr(args, "tables", None),
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "correct": failed == 0 and all(c["ok"] for c in checks),
        "attempted": attempted, "failed": failed,
        "metrics": dict(jvm["metrics"], setup_s=setup_s,
                        failed_ratio=failed / attempted if attempted else 1.0),
        "layers": jvm["layers"], "setup": setup, "inputs": jvm["inputs"],
        "checks": checks, "result_hashes": hashes,
        "extra": {k: v for k, v in jvm["extra"].items() if k not in ("oracle", "sf_dir")},
        "provenance": dict(jvm["provenance"], python_nproc=os.cpu_count(),
                           git_commit=git_commit(), source_sha256=stamp),
    }


def append(path, record):
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "a") as fh:
        fh.write(json.dumps(record, sort_keys=True) + "\n")


def untraced_measured_s(args, jars, stamp):
    """Measured seconds of untraced runs of the same workload, seed and
    sources from --out; runs one when there is none, so the traced run
    has its base for trace.overhead_ratio."""
    base = []
    if os.path.exists(args.out):
        with open(args.out) as fh:
            for line in fh:
                r = json.loads(line)
                if (r["workload"], r["seed"], r["trace"], r["provenance"]["source_sha256"],
                        r.get("tables")) \
                        == (args.workload, args.seed, 0, stamp, args.tables) and r["correct"]:
                    base.append(r["metrics"]["measured_s"])
    if not base:
        r = measure(argparse.Namespace(**dict(vars(args), trace=0)), jars, stamp)
        append(args.out, r)
        base.append(r["metrics"]["measured_s"])
    return statistics.median(base)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--out", default=os.path.join(RESULTS, "runs.jsonl"))
    ap.add_argument("--tables")
    args = ap.parse_args()
    if args.tables and args.workload != "queries":
        fail("--tables applies to the queries workload only")
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        fail("BENCHMARK.json not found at the root of the tree")
    with open(bench_file) as fh:
        bench = json.load(fh)

    jars = spark_jars()
    stamp = build(jars)
    base_s = untraced_measured_s(args, jars, stamp) if args.trace else None
    record = measure(args, jars, stamp)
    if args.trace:
        record["layers"]["trace.overhead_ratio"] = record["metrics"]["measured_s"] / base_s - 1
    append(args.out, record)
    for c in record["checks"]:
        if not c["ok"]:
            print(f"[perfbench] check {c['name']} failed: {c['detail']}", file=sys.stderr)
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    values = record["layers"] if args.trace else record["metrics"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": record["correct"], "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()

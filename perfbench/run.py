#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its metrics.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from this checkout's sources together with the harness
(perfbench/build.sbt, output under .bench_build/), starts one JVM at
local[nproc], runs the workload's set-up three times, measures a closed
loop for --seconds, checks every output, and prints one metric per line
followed by a last line of JSON:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 runs a traced
measurement (first half untraced, second half traced) and reports the
per-layer metrics. Exits non-zero if any output check fails, and without a
result if the engine sources are not present.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
CORES = len(os.sched_getaffinity(0))
WORKLOADS = ["gexp_pipeline", "lakehouse"]
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 880
HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    files = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names]
    files += [os.path.join(d, "build.sbt") for d in (ROOT, HERE)]
    files += [os.path.join(d, "project", "build.properties") for d in (ROOT, HERE)]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def jvm(cp, work, *extra):
    """The benchmark JVM's command line: heap, UTC, JDK 17 module opens,
    and every Spark/engine scratch directory inside `work`."""
    return (["java", f"-Xmx{HEAP}", "-Xshare:auto", "-Duser.timezone=UTC",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Dspark.local.dir={work}/spark-local",
             f"-Dspark.sql.warehouse.dir={work}/warehouse",
             f"-Djava.io.tmpdir={work}/tmp", f"-Dgraft.oracle.dir={work}/oracle"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + list(extra) + ["-cp", cp, "perfbench.Main"])


def fresh_work(work):
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse", "oracle"):
        os.makedirs(os.path.join(work, d))


def build():
    """Compile engine + harness once per source tree, jar the classes and
    archive the classes a run loads (class-data sharing, which needs jars
    on the classpath). Returns the classpath."""
    stamp = os.path.join(BUILD, "stamp.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            s = json.load(fh)
        if s["hash"] == digest:
            return s["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    for f in (stamp, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config=" +
        os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g"))
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    lines = [ln.strip() for ln in p.stdout.splitlines() if ln.strip().endswith(".jar") and ":" in ln]
    if not lines:
        die("build printed no classpath")
    entries = lines[-1].split(":")
    jar = os.path.join(BUILD, "perfbench.jar")
    with zipfile.ZipFile(jar, "w") as z:
        for e in entries:
            if os.path.isdir(e):
                for dirpath, _, names in os.walk(e):
                    for n in names:
                        f = os.path.join(dirpath, n)
                        z.write(f, os.path.relpath(f, e))
    cp = ":".join([jar] + [e for e in entries if not os.path.isdir(e)])
    work = os.path.join(BUILD, "work", "train")
    fresh_work(work)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        subprocess.run(jvm(cp, work, f"-XX:ArchiveClassesAtExit={ARCHIVE}")
                       + ["--workload", "train", "--work", work, "--cores", str(CORES)],
                       cwd=work, stdout=log, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    with open(stamp, "w") as fh:
        json.dump({"hash": digest, "classpath": cp}, fh)
    return cp


def duckdb_check(results):
    """Each query's Spark result against its oracle SQL in DuckDB, under
    tools/check.py's rules: columns sorted by name, rows sorted, exact
    values (NaN/NULL equal). Returns (queries checked, failures)."""
    import duckdb
    with open(os.path.join(results, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    with open(os.path.join(results, "corpus_dir")) as fh:
        corpus = fh.read()
    con = duckdb.connect()
    for t in glob.glob(os.path.join(corpus, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}/*.parquet')")
    fails = []
    for name, sql in sorted(oracle.items()):
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{results}/{name}/*.parquet')").df()
            exp = con.sql(sql).df()
        except Exception as e:  # a query error is a failed check
            fails.append(f"{name}: {e}")
            continue
        got = got.reindex(sorted(got.columns), axis=1)
        exp = exp.reindex(sorted(exp.columns), axis=1)
        if list(got.columns) != list(exp.columns) or len(got) != len(exp):
            fails.append(f"{name}: shape {list(got.columns)}x{len(got)} vs {list(exp.columns)}x{len(exp)}")
            continue
        gs = got.sort_values(by=list(got.columns), kind="mergesort").reset_index(drop=True)
        es = exp.sort_values(by=list(exp.columns), kind="mergesort").reset_index(drop=True)
        for c in gs.columns:
            a, b = gs[c], es[c]
            try:
                eq = (a == b) | (a.isna() & b.isna())
            except Exception:
                eq = a.astype(str) == b.astype(str)
            if not eq.all():
                i = (~eq).idxmax()
                fails.append(f"{name}: col {c} row {i}: {a[i]!r} vs {b[i]!r}")
                break
    return len(oracle), fails


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        die(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    cp = build()
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-t{args.trace}")
    fresh_work(work)
    out = os.path.join(work, "result.json")
    share = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    cmd = jvm(cp, work, *share) + [
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", work, "--out", out, "--cores", str(CORES)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                           timeout=JVM_TIMEOUT_S)
    if p.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        die(f"benchmark JVM exited with {p.returncode}")
    with open(out) as fh:
        r = json.load(fh)
    with open(os.path.join(work, "jvm.log")) as fh:
        for line in fh:
            if line.startswith("[perfbench]"):
                print(line.rstrip())

    unmeasured = [n for g in ("end_to_end", "per_layer") for n, m in r[g].items() if m["value"] is None]
    if unmeasured:
        die(f"metrics without a value: {unmeasured}")
    correct, attempted, failed = r["correct"], r["attempted"], r["failed"]
    results = os.path.join(work, "setup2", "results")
    if os.path.exists(results):
        checked, fails = duckdb_check(results)
        for f in fails:
            print(f"check FAIL {f}")
        if fails:  # every pass produced these results
            correct, failed = False, attempted
        print(f"check: {len(fails)} of {checked} query results differ from DuckDB")

    print(f"{args.workload} seed={args.seed}: {attempted} ops, {failed} failed, "
          f"{r['latency_samples']} {r['latency_unit']} samples, set-ups {r['setup_runs_s']}")
    for group in ("end_to_end", "named", "per_layer"):
        for name, m in r[group].items():
            print(f"{name} = {m['value']:.6g} {m['unit']}")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = r["per_layer"] if args.trace else r["end_to_end"]
    if set(metrics) != {m["name"] for m in wanted}:
        die(f"metric names differ from BENCHMARK.json: {sorted(set(metrics) ^ {m['name'] for m in wanted})}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

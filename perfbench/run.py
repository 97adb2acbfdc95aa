#!/usr/bin/env python3
"""The engine's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <batch_suite|stream_windowed|state_lookups>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (offline) into the checkout; later runs reuse that build
until a source file changes. Each run then starts one JVM on local[nproc]
with a fixed heap and collector, measures for --seconds (and at least a
fixed number of operations), checks the outputs against computations made
apart from the engine, removes its scratch directory and prints one JSON
line last:

    {"correct": true, "attempted": n, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones; a layer the workload does not run reads 0. See README.md.

Extra modes, outside measured runs:
    --small          sf0.001 and a few chunks/lookups, for the self-test
    --break-check    plant a wrong expected value; the run must report failure
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, ".build")
WORKLOADS = ("batch_suite", "stream_windowed", "state_lookups")
HEAP = "3g"
RUN_LIMIT_S = 170  # the whole run, build excluded, must end within this

# tier-1 sbt settings: offline, the image's repository config
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
            "-Dsbt.offline=true -Xmx4g" % os.path.expanduser("~/.sbt/repositories"))

# what SparkSession needs on JDK 17 outside spark-submit (the same list as
# the root build's forked runs)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_digest():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness unless the last build matches the sources;
    returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("no engine sources at %s/src/main/scala: run from a full checkout" % ROOT)
    digest = source_digest()
    stamp, cp_file = os.path.join(BUILD_DIR, "digest"), os.path.join(BUILD_DIR, "classpath")
    os.makedirs(BUILD_DIR, exist_ok=True)
    # one build at a time per checkout: a second run waits for the first
    with open(os.path.join(BUILD_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not (os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest):
            sbt_build(cp_file, stamp, digest)
        return open(cp_file).read()


def sbt_build(cp_file, stamp, digest):
    log("building engine and harness with sbt (offline)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "perfbench/compile", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("sbt build failed (exit %d)" % p.returncode)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)


def run_jvm(cp, args, work, deadline):
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseSerialGC", "-XX:-UsePerfData"] + ADD_OPENS +
           ["-Dspark.ui.enabled=false", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", cp, "perfbench.Main"] + args)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if rc != 0:
        raise SystemExit("benchmark JVM %s" % ("timed out" if rc is None else "exited %d" % rc))


def normalize(df):
    """Column order by name, rows sorted, numeric types widened: the
    comparison rule of the repository's oracle gate."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].apply(lambda v: float(v) if hasattr(v, "as_tuple") else v)
        elif str(df[c].dtype) in ("int32", "int64", "uint32", "uint64"):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype) in ("float32", "float64"):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)


def check_batch(data, out, break_check):
    """Each query's parquet result against its oracle SQL run in DuckDB over
    the same tables. Returns [(name, ok, detail)]."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        con.sql("CREATE VIEW %s AS SELECT * FROM '%s'" % (os.path.basename(f)[:-8], f))
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    checks = []
    for i, (name, sql) in enumerate(sorted(oracle.items())):
        try:
            files = glob.glob(os.path.join(out, name, "*.parquet"))
            got = normalize(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
            want = con.sql(sql).df()
            if break_check and i == 0:
                want = want.iloc[1:] if len(want) > 1 else want.iloc[0:0]
            want = normalize(want)
            if list(got.columns) != list(want.columns):
                raise AssertionError("columns %s vs oracle %s" % (list(got.columns), list(want.columns)))
            if len(got) != len(want):
                raise AssertionError("%d rows vs oracle %d" % (len(got), len(want)))
            pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
            checks.append(("oracle:" + name, True, ""))
        except Exception as e:  # a failed comparison is a failed check, reported by name
            checks.append(("oracle:" + name, False, ("%s: %s" % (type(e).__name__, e))[:500]))
    return checks


def main():
    # a terminated run still stops its JVM and removes its scratch (the
    # finally blocks below run on SystemExit)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true")
    ap.add_argument("--break-check", action="store_true")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    t_build = time.time()
    cp = build()
    build_s = time.time() - t_build
    deadline = time.time() + RUN_LIMIT_S

    cores = len(os.sched_getaffinity(0))
    data = os.path.join(HERE, "data", "sf0.001" if a.small else "sf0.01")
    work = os.path.join(HERE, ".run", "%d-%d" % (os.getpid(), int(T_START * 1000)))
    os.makedirs(os.path.join(work, "tmp"))
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", data, "--work", work, "--cores", str(cores)]
        args += [f for f, on in (("--small", a.small), ("--break-check", a.break_check)) if on]
        run_jvm(cp, args, work, deadline)
        r = json.load(open(os.path.join(work, "result.json")))
        checks = [(c["name"], c["ok"], c["detail"]) for c in r["checks"]]
        if a.workload == "batch_suite":
            checks += check_batch(data, os.path.join(work, "batch_out"), a.break_check)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, ".run"))
        except OSError:
            pass

    bad = [c for c in checks if not c[1]]
    for name, _, detail in bad:
        log("CHECK FAILED %s: %s" % (name, detail))
    log("%d checks, %d failed" % (len(checks), len(bad)))

    e2e = dict(r["e2e"])
    e2e["setup_s"] = r["first_op_epoch_ms"] / 1000.0 - T_START - build_s
    print(json.dumps({"workload": a.workload, "trace": a.trace, "summary": r["summary"], "layers": r["layers"],
                      "e2e": e2e, "threads_after_stop": r["threads_after_stop"]}))
    if a.trace:
        # a layer the workload does not run reads 0 (so does a median of
        # no samples, which the JVM writes as null)
        metrics = {m["name"]: {"value": r["layers"].get(m["name"]) or 0, "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    # a failed operation leaves the timed figures without it, so it fails
    # the run: no workload here has an operation that may fail
    print(json.dumps({"correct": not bad and len(checks) > 0 and r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the harness from source
(once per checkout), generates the workload's inputs from the seed, runs the
harness JVM at local[nproc], checks every verified answer against the DuckDB
oracle, and prints one JSON line last: `correct`, `attempted`, `failed` and
the end-to-end metrics (or, with --trace 1, the per-layer metrics). The full
result, the span file and the per-layer self-time table are written under
perfbench/.work/results/.
"""
import argparse
import datetime as dt
import decimal
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
WORK = os.path.join(HERE, ".work")
WORKLOADS = ["interactive_http", "analytics_batch"]
# A run must end within 180 s; a run that first builds the engine may take
# longer, so the clock starts once the build is done.
DEADLINE_S = 170
HEAP = "3g"
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def sources_digest():
    h = hashlib.sha256()
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
                os.path.join(ROOT, "project", "build.properties"),
                os.path.join(HERE, "project", "build.properties")]:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness; return the runtime classpath."""
    for need in ["build.sbt", os.path.join("src", "main", "scala")]:
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"engine sources not found ({need} missing next to perfbench/)")
    stamp = os.path.join(HERE, "target", "build.stamp")
    cpfile = os.path.join(HERE, "target", "classpath.txt")
    digest = sources_digest()
    if os.path.isfile(stamp) and os.path.isfile(cpfile) and \
            open(stamp).read() == digest:
        return open(cpfile).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL).returncode
    if rc != 0 or not os.path.isfile(cpfile):
        sys.stderr.write(open(log).read()[-4000:])
        die(f"build failed (exit {rc}); log in {log}")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return open(cpfile).read().strip()


def inputs(workload, seed):
    """Generate (or reuse) the seeded inputs of one workload."""
    sys.path.insert(0, HERE)
    sys.dont_write_bytecode = True
    import gen
    root = os.path.join(WORK, "data")
    with open(gen.__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    data = os.path.join(root, f"{workload}-{seed}-{version}")
    done = os.path.join(data, "_generated")
    if not os.path.isfile(done):
        shutil.rmtree(data, ignore_errors=True)
        gen.generate(workload, seed, data)
        open(done, "w").close()
    # keep a bounded number of input sets
    sets = sorted((os.path.getmtime(os.path.join(root, d)), d)
                  for d in os.listdir(root))
    for _, d in sets[:-6]:
        if d != os.path.basename(data):
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    os.utime(data)
    return data


def run_jvm(cp, workload, seed, seconds, trace, data, out, started):
    cpus = os.cpu_count() or 1
    tmp = os.path.join(out, "work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"] +
           [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main", workload, str(seed), str(seconds),
            "1" if trace else "0", data, out, str(cpus)])
    log = open(os.path.join(out, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        rc = proc.wait(timeout=max(5, DEADLINE_S - (time.monotonic() - started)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"harness timed out; log in {log.name}")
    finally:
        log.close()
    if rc != 0:
        sys.stderr.write(open(log.name).read()[-4000:])
        die(f"harness exited {rc}; log in {log.name}")


def views(con, data):
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            p = os.path.join(data, f)
            src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet({src})")


def norm(v):
    """One canonical form for a value from either side: the harness's
    JSON (tagged dates, timestamps, decimals) or DuckDB's Python values."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v if not math.isinf(v) else ("Infinity" if v > 0 else "-Infinity")
    if isinstance(v, decimal.Decimal):
        return ("decimal", str(v.normalize()))
    if isinstance(v, dt.datetime):
        return ("ts", v.strftime("%Y-%m-%d %H:%M:%S.%f"))
    if isinstance(v, dt.date):
        return ("date", v.isoformat())
    if isinstance(v, (bytes, bytearray)):
        return ("bytes", v.hex())
    if isinstance(v, dict):
        if len(v) == 1 and next(iter(v)) in ("decimal", "date", "ts", "bytes"):
            tag, x = next(iter(v.items()))
            return ("decimal", str(decimal.Decimal(x).normalize())) \
                if tag == "decimal" else (tag, x)
        return tuple(norm(x) for x in v.values())
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return str(v)


def sort_key(v):
    if v is None:
        return (0,)
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return (1, v)
    if isinstance(v, tuple):
        return (3, tuple(sort_key(x) for x in v))
    return (2, str(v))


def canon(cols, rows):
    """Columns ordered by name, rows in canonical order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (sorted(cols), sorted((tuple(norm(r[i]) for i in order)
                                  for r in rows), key=sort_key))


def oracle_check(data, oracle):
    """Compare each verified answer with DuckDB on the same inputs (rows in
    any order, columns matched by name); returns the names that differ."""
    import duckdb
    con = duckdb.connect()
    views(con, data)
    bad = []
    for name, o in oracle.items():
        try:
            with open(o["rows"]) as fh:
                lines = [json.loads(line) for line in fh]
            got = canon(lines[0], lines[1:])
            cur = con.execute(o["sql"])
            want = canon([d[0] for d in cur.description], cur.fetchall())
            ok = got == want
        except Exception as e:  # an oracle that cannot run is a failure
            print(f"[perfbench] oracle error {name}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            print(f"[perfbench] oracle mismatch: {name}", file=sys.stderr)
            bad.append(name)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build()
    started = time.monotonic()
    data = inputs(a.workload, a.seed)
    results = os.path.join(WORK, "results")
    out = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    # keep the most recent results only
    old = sorted((os.path.getmtime(os.path.join(results, d)), d)
                 for d in os.listdir(results))
    for _, d in old[:-24]:
        shutil.rmtree(os.path.join(results, d), ignore_errors=True)
    run_jvm(cp, a.workload, a.seed, a.seconds, a.trace == 1, data, out, started)
    with open(os.path.join(out, "result.json")) as fh:
        res = json.load(fh)
    bad = oracle_check(data, res["oracle"])
    shutil.rmtree(os.path.join(out, "verify"), ignore_errors=True)
    shutil.rmtree(os.path.join(out, "work"), ignore_errors=True)
    res["oracle_checked"] = len(res["oracle"])
    res["oracle_mismatches"] = bad
    with open(os.path.join(out, "result.json"), "w") as fh:
        json.dump(res, fh, indent=1)
    failed = res["failed"] + len(bad)
    for c in res["checks"]:
        print(f"[perfbench] {c}")
    print(f"[perfbench] detail: {json.dumps(res['detail'])}")
    print(f"[perfbench] result: {out}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": res["per_layer"] if a.trace else res["metrics"]}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""End-to-end benchmark of the nightly sync job and of DML on one versioned
table (workloads, metrics and the layer map: pipebench/LAYERS.md).

usage (from the repository root):
    python3 pipebench/run.py --workload nightly_batch --seed 1 --seconds 1 --trace 0

Builds the engine and the benchmark from source with sbt when the sources
changed since the last build, runs one JVM (pipebench.Main) for the run,
checks the final V5 of nightly_batch against the DuckDB oracle, and prints
the environment stamp and then, as the last line, the result JSON:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The full record (stamp, result, spans) is also written to
pipebench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("nightly_batch", "table_log_dml")
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "pipebench.classpath")
DEADLINE_S = 170
BUILD_TIMEOUT_S = 840
HEAP = ["-Xms3g", "-Xmx3g"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[pipebench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    files = []
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark not found: set SPARK_HOME or put spark-submit on the PATH")
    return home


def build(src_hash, started):
    """Returns (runtime classpath, whether it compiled): compiles only if the
    sources changed since the last build."""
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as fh:
            stamp = json.load(fh)
        if stamp.get("source_hash") == src_hash:
            return stamp["classpath"], False
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + " -Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
    log = os.path.join(BUILD_DIR, "build.log")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                           text=True, timeout=max(60, BUILD_TIMEOUT_S - (time.time() - started)))
        out.write(p.stdout)
    if p.returncode != 0:
        fail(f"build failed (exit {p.returncode}); see {log}")
    cp = [l for l in p.stdout.splitlines() if "scala-2.13" in l and os.pathsep in l]
    if not cp:
        fail(f"build printed no classpath; see {log}")
    with open(CLASSPATH_FILE, "w") as fh:
        json.dump({"source_hash": src_hash, "classpath": cp[-1].strip()}, fh)
    return cp[-1].strip(), True


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(args, classpath, work, deadline):
    cmd = ["java", *HEAP, "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "pipebench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
    env = dict(os.environ, GRAFT_FIXTURES_DIR=os.path.join(work, "oracle_fixtures"))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"benchmark JVM ran past its deadline; see {log}")
    if p.returncode != 0:
        with open(log) as fh:
            tail = fh.read()[-3000:]
        fail(f"benchmark JVM exited {p.returncode}; log tail:\n{tail}")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        fail("benchmark JVM printed no result")
    return json.loads(lines[-1])


def v5_matches_oracle(work):
    """The final V5 frame equals DomainOracles.v5 run in DuckDB over the dump
    of the same synced tables (as multisets; doubles to 6 places)."""
    import duckdb
    check = os.path.join(work, "check")
    with open(os.path.join(check, "v5_oracle.sql")) as fh:
        oracle_sql = fh.read()
    with open(os.path.join(check, "v5_spark.path")) as fh:
        spark_dir = fh.read().strip()
    con = duckdb.connect()
    con.execute(f"CREATE TABLE o AS {oracle_sql}")
    con.execute(f"CREATE TABLE s AS SELECT * FROM read_parquet('{spark_dir}/*.parquet')")

    def cols(t):
        return {r[0]: r[1] for r in con.execute(f"DESCRIBE {t}").fetchall()}

    oc, sc = cols("o"), cols("s")
    if set(oc) != set(sc):
        print(f"[pipebench] V5 columns differ: {sorted(set(oc) ^ set(sc))}", file=sys.stderr)
        return False

    def canon(t, types):
        out = []
        for c in sorted(types):
            ty = types[c].upper()
            q = f'"{c}"'
            if ty in ("DOUBLE", "FLOAT", "REAL") or ty.startswith("DECIMAL"):
                out.append(f"ROUND(CAST({q} AS DOUBLE), 6) AS {q}")
            else:
                out.append(f"CAST({q} AS VARCHAR) AS {q}")
        return f"SELECT {', '.join(out)} FROM {t}"

    n_o = con.execute("SELECT count(*) FROM o").fetchone()[0]
    n_s = con.execute("SELECT count(*) FROM s").fetchone()[0]
    diff = con.execute(f"SELECT count(*) FROM (({canon('o', oc)}) EXCEPT ALL ({canon('s', sc)}))").fetchone()[0]
    diff += con.execute(f"SELECT count(*) FROM (({canon('s', sc)}) EXCEPT ALL ({canon('o', oc)}))").fetchone()[0]
    if n_o != n_s or diff or n_o == 0:
        print(f"[pipebench] V5 differs from the oracle: {n_s} vs {n_o} rows, {diff} unmatched", file=sys.stderr)
        return False
    return True


def main():
    started = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to the benchmark")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")

    src_hash = source_hash()
    classpath, built = build(src_hash, started)
    # a run that had to build gets its whole run budget after the build
    deadline = (time.time() if built else started) + DEADLINE_S

    work = os.path.join(HERE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    rec = run_jvm(args, classpath, work, deadline)
    result = rec["result"]
    if args.workload == "nightly_batch" and not v5_matches_oracle(work):
        result["correct"] = False
        result["failed"] = min(result["attempted"], result["failed"] + 1)

    stamp = rec["stamp"]
    stamp["git_commit"] = git_commit()
    stamp["source_hash"] = src_hash
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump({"stamp": stamp, "result": result, "spans": rec["spans"]}, fh)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()

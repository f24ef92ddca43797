#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run in a checkout builds the
engine and the harness with sbt (perfbench/build.sbt); later runs reuse
the build while the sources are unchanged. Everything the run writes
stays under perfbench/: the build under .build/, scratch corpora and
indexes under .work/ (removed when the run ends), and result artifacts,
spans and cross-run stamps under .out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
OUT = os.path.join(HERE, ".out")
FIXTURES = os.path.join(HERE, "fixtures", "sf0.001")
# a run (not counting the first run's build) must end within 180 s; the
# JVM gets this long, the output checks after it a few seconds
DEADLINE_S = 165
BUILD_DEADLINE_S = 850

# Spark on JDK 17 outside spark-submit needs these (the engine's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_OPTS = ["-XX:+UseParallelGC", "-Xmx3g", "-Xmn1g",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    """sha256 over every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "project"), os.path.join(HERE, "src")):
        for d, subdirs, files in os.walk(top):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("no engine sources next to perfbench/ (run from a repository checkout)")
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"], digest
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as lf:
        try:
            r = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
                stdin=subprocess.DEVNULL, timeout=BUILD_DEADLINE_S, text=True)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
        lf.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if not l.startswith("[") and "classes" in l]
    if r.returncode != 0 or not lines:
        fail(f"build failed; see {log}")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp, digest


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def oracle_check(out_dir):
    """Compare each query output under `out_dir` with its oracle SQL run in
    DuckDB over the fixture tables; return (checked, failed) names."""
    import glob
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(FIXTURES, "*.parquet"))):
        t = os.path.basename(f)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failed = []
    for name, sql in sorted(oracle.items()):
        try:
            parts = glob.glob(os.path.join(out_dir, name, "*.parquet"))
            s = pd.concat([pd.read_parquet(p) for p in parts]) if parts else pd.DataFrame()
            d = con.sql(sql).df()
            cols = sorted(d.columns)
            ok = sorted(s.columns) == cols and len(s) == len(d)
            if ok and len(d):
                s = s[cols].sort_values(cols).reset_index(drop=True)
                d = d[cols].sort_values(cols).reset_index(drop=True)
                ok = bool((s.astype(str).values == d.astype(str).values).all())
        except Exception as e:  # a query that did not run, or bad SQL
            print(f"perfbench: oracle check {name}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            failed.append(name)
    con.close()
    if failed:
        print(f"perfbench: outputs differ from the oracle: {failed}", file=sys.stderr)
    return len(oracle), failed


def metric_table(key):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp, digest = build()
    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")] + JVM_OPTS + [
        f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--state", OUT,
        "--fixtures", FIXTURES, "--source", digest]
    log_path = os.path.join(OUT, f"jvm-{a.workload}-seed{a.seed}-trace{a.trace}.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                             stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        # a watchdog kills the whole process group at the deadline, so a
        # hung run still ends (and ends its children) in time
        timer = threading.Timer(DEADLINE_S, lambda: os.killpg(p.pid, signal.SIGKILL))
        timer.start()
        try:
            out = p.stdout.read()
            _, status, usage = os.wait4(p.pid, 0)
            timer.cancel()
            rc = os.waitstatus_to_exitcode(status)
            res = None
            for line in out.splitlines():
                if line.startswith("PERFBENCH_RESULT "):
                    res = json.loads(line[len("PERFBENCH_RESULT "):])
            if rc != 0 or res is None:
                fail(f"workload run failed (exit {rc}); see {log_path}")
            # untimed output gates of the analytics sweep, each query one op
            for d in res["oracle_checks"]:
                checked, failed = oracle_check(d)
                res["attempted"] += checked
                res["failed"] += len(failed)
        finally:
            timer.cancel()
            shutil.rmtree(work, ignore_errors=True)

    values = dict(res["metrics"])
    if a.trace == 0:
        values["peak_rss_mb"] = usage.ru_maxrss / 1024.0  # ru_maxrss is KiB on Linux
    units = metric_table("per_layer" if a.trace else "end_to_end")
    missing = [n for n in units if values.get(n) is None]
    if missing:
        fail(f"workload produced no value for {missing}")
    metrics = {n: {"value": values[n], "unit": u} for n, u in units.items()}

    config = res["config"]
    config["git_commit"] = git_commit()
    config["source_sha256"] = digest
    config["jvm_opts"] = JVM_OPTS
    artifact = {"metrics": metrics, "named": res["named"], "prepare_s": res["prepare_s"],
                "setup_samples_s": res["setup_samples_s"],
                "warmup_s": res["warmup_s"], "control_s": res["control_s"], "config": config,
                "attempted": res["attempted"], "failed": res["failed"]}
    with open(os.path.join(OUT, f"result-{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    # diagnostics first (not gated); the result is the last line
    print(json.dumps({"named": {m["name"]: {"value": m["value"], "unit": m["unit"]} for m in res["named"]},
                      "prepare_s": res["prepare_s"], "setup_samples_s": res["setup_samples_s"],
                      "warmup_s": res["warmup_s"],
                      "control_s": res["control_s"], "config": config}))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()

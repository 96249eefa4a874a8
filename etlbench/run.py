#!/usr/bin/env python3
"""Runs one workload of the engine benchmark and prints one JSON result line.

Usage, from the repository root:
  python3 etlbench/run.py --workload refresh|star_queries \
      --seed N --seconds S --trace 0|1 [--selftest 1] [--keep 1]

It builds the engine and the harness from source with sbt (offline, when
sources changed since the last build), starts the JVM harness, checks the
outputs (the generator's ground truth for refresh, the DuckDB oracle
`tools/check.py` for star_queries) and prints, as its last stdout line,
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer ones with --trace 1. The harness runs one pass of
fixed work; when its scaled run_s exceeds --seconds the run fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import pyarrow.parquet as pq

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
DATA = BENCH / "data"
CLASSES = BENCH / "target" / "scala-2.13" / "classes"
STAMP = BENCH / "target" / "etlbench.stamp"
DEADLINE_S = 175
# C1 only: in a fresh process the C2 compiler's threads spent more CPU than
# the timed work itself and competed with the four task threads, and C2's
# late recompiles made pass times drift. The serial collector keeps the
# heap's growth, and so the peak resident set, the same from run to run.
JVM_FLAGS = ["-Xmx3g", "-XX:+UseSerialGC", "-XX:TieredStopAtLevel=1"]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    return [p for d in (REPO / "src" / "main" / "scala", BENCH / "src")
            for p in d.rglob("*.scala")] + [BENCH / "build.sbt"]


def build():
    """Compiles the engine and the harness unless nothing changed."""
    newest = max(p.stat().st_mtime for p in sources())
    if STAMP.exists() and STAMP.stat().st_mtime >= newest and CLASSES.is_dir():
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log = BENCH / "target" / "build.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as f:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.server.autostart=false",
             "-Dsbt.log.noformat=true", "compile"],
            cwd=BENCH, env=env, stdout=f, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    if rc != 0:
        fail(f"build failed (rc {rc}); see {log}", 3)
    STAMP.touch()


def java_cmd(args, work):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        fail("SPARK_HOME must point at a Spark 4 install")
    java_home = os.environ.get("JAVA_HOME")
    java = str(Path(java_home) / "bin" / "java") if java_home else "java"
    return [java, *ADD_OPENS, *JVM_FLAGS, "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
            "-cp", f"{CLASSES}:{spark_home}/jars/*", "etlbench.Main", *args]


def run_jvm(cmd, log, timeout):
    """Runs the harness JVM in its own process group; returns its stdout.
    The JVM is killed, and waited for, if this process is stopped."""
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True,
                             start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)
        for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(s, stop)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"harness timed out; see {log}", 4)
    if p.returncode != 0:
        fail(f"harness exited with {p.returncode}; see {log}", 4)
    return out


def oracle_check(data, out, timeout=120):
    """Compares every query result under `out` with DuckDB running the
    query's oracle SQL over the parquet tables in `data` (tools/check.py,
    unchanged). A result with no rows fails too: the oracle would pass it
    trivially. Returns (ok, summary line, detail)."""
    try:
        chk = subprocess.run([sys.executable, str(REPO / "tools" / "check.py"),
                              str(data), str(out)],
                             capture_output=True, text=True, timeout=max(10, timeout))
    except subprocess.TimeoutExpired:
        # check.py's diff preview of a failing large result is quadratic
        return False, "oracle check timed out", "oracle check timed out"
    summary = (chk.stdout.strip().splitlines()[-1:] or ["no output"])[0]
    empty = [q.name for q in Path(out).iterdir()
             if q.is_dir() and pq.read_table(str(q)).num_rows == 0]
    detail = chk.stdout[-3000:] + (f"\nempty results: {empty}" if empty else "")
    return chk.returncode == 0 and not empty, summary, detail


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["refresh", "star_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (REPO / "src" / "main" / "scala" / "graft").is_dir() or \
            not (REPO / "tools" / "check.py").is_file():
        fail("the engine's sources (src/, tools/check.py) are not next to this directory")
    if not DATA.is_dir():
        fail(f"the benchmark's tables ({DATA}) are missing")
    spec = json.loads((REPO / "BENCHMARK.json").read_text())

    build()
    start = time.time()
    work = BENCH / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (work / "out").mkdir()
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", str(work), "--data", str(DATA),
                "--start-ms", str(int(start * 1000)), "--selftest", str(a.selftest)]
        out = run_jvm(java_cmd(args, work), work / "harness.log",
                      DEADLINE_S - (time.time() - start))
        lines = [l for l in out.splitlines() if l.startswith("ETLBENCH ")]
        if not lines:
            fail(f"harness printed no result; see {work / 'harness.log'}", 4)
        r = json.loads(lines[-1][len("ETLBENCH "):])
        if a.trace:
            (BENCH / "work" / "traces" / f"{a.workload}-seed{a.seed}-result.json") \
                .write_text(json.dumps(r, indent=1, sort_keys=True))
        correct = r["correct"]
        if a.workload != "refresh":
            for scale in sorted(p.name for p in (work / "out").iterdir()):
                ok, summary, detail = oracle_check(DATA / scale, work / "out" / scale,
                                                   DEADLINE_S - (time.time() - start))
                print(f"# oracle {scale}: {summary}")
                if not ok:
                    correct = False
                    print(detail, file=sys.stderr)
    finally:
        if a.keep:
            print(f"# work: {work}")
        else:
            shutil.rmtree(work, ignore_errors=True)

    print(f"# attempted={r['attempted']} failed={r['failed']} "
          + " ".join(f"{k}={v:.3f}" for k, v in sorted(r["diag"].items())))
    if r["over_budget"]:
        fail(f"the pass's scaled run_s, {r['end_to_end']['run_s']:.1f} s, "
             f"exceeds --seconds {a.seconds:g}", 5)
    if a.trace:
        wanted, got = spec["per_layer"], r["per_layer"]
    else:
        wanted, got = spec["end_to_end"], r["end_to_end"]
    metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": bool(correct), "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""The benchmark's own tests: each correctness check must pass on the
program's outputs and fail on a deliberately altered copy of them.

Usage, from the repository root:
  python3 etlbench/selftest.py

- refresh: the harness checks the read-back tables against the generator's
  ground truth, then checks six altered copies (a stale fact row, a
  duplicated fact row, a lost topic row, a duplicated image row, a gap in
  the category ids, a wrong report figure); each must be caught. The same
  run shows that an op which only allocates, or only leaves compile work,
  does not move the speed probe once the JVM has settled.
- star_queries: for every query, one value of its result is altered, and
  then its rows are dropped; tools/check.py and the empty-result guard must
  fail on each. For a result of more than 5,000 rows the first alteration
  changes a column's type instead of a value: check.py's report of a failing
  row compare rebuilds a set per row, so on 19,891 rows it took about 100 s,
  and on larger results longer still.
Exits 0 when every check behaves.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
sys.path.insert(0, str(BENCH))
from run import DATA, oracle_check  # noqa: E402

SECONDS = str(json.loads((REPO / "BENCHMARK.json").read_text())["run_seconds"])


def run(workload, seed, *extra):
    p = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", SECONDS, "--trace", "0",
                        "--keep", "1", *extra], cwd=REPO, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0:
        sys.exit(f"{workload} run failed: {p.stderr[-2000:]}")
    work = Path(next(l for l in lines if l.startswith("# work: "))[len("# work: "):])
    return json.loads(lines[-1]), work


def altered(tbl):
    """The table with one value of its first alterable column changed, or,
    for a large table, that column's type changed."""
    if tbl.num_rows > 5000:
        i = next(i for i, f in enumerate(tbl.schema)
                 if pa.types.is_integer(f.type) or pa.types.is_floating(f.type))
        return tbl.set_column(i, tbl.schema.field(i).name,
                              tbl.column(i).cast(pa.string())), "one column's type altered"
    for i, f in enumerate(tbl.schema):
        col = tbl.column(i).combine_chunks()
        if pa.types.is_integer(f.type) or pa.types.is_floating(f.type):
            v = col.to_pylist()
            v[0] = (v[0] or 0) + 1
        elif pa.types.is_string(f.type) or pa.types.is_large_string(f.type):
            v = col.to_pylist()
            v[0] = (v[0] or "") + "~"
        else:
            continue
        return tbl.set_column(i, f, pa.array(v, f.type)), "one value altered"
    raise ValueError("no column to alter")


def check_queries(workload, seed):
    failures = []
    r, work = run(workload, seed)
    try:
        if not r["correct"]:
            failures.append(f"{workload}: the unaltered outputs fail the oracle")
        for scale in sorted(p.name for p in (work / "out").iterdir()):
            failures += check_scale(workload, DATA / scale, work / "out" / scale, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return failures


def check_scale(workload, data, out, work):
    failures = []
    ok, summary, _ = oracle_check(data, out)
    print(f"{workload} {data.name}: unaltered outputs -> {summary}")
    if not ok:
        failures.append(f"{workload}/{data.name}: the unaltered outputs fail the oracle")
    for q in sorted(q.name for q in out.iterdir() if q.is_dir()):
        tbl = pq.read_table(str(out / q))
        bad_value, what_value = altered(tbl)
        for what, bad in ((what_value, bad_value), ("no rows", tbl.slice(0, 0))):
            alt = work / "altered"
            shutil.rmtree(alt, ignore_errors=True)
            alt.mkdir()
            shutil.copy(out / "oracle_sql.json", alt)
            (alt / q).mkdir()
            pq.write_table(bad, str(alt / q / "part-0.parquet"))
            ok, summary, _ = oracle_check(data, alt, timeout=900)
            print(f"  {q}, {what}: {'caught' if not ok else 'NOT CAUGHT'} ({summary})")
            if ok:
                failures.append(f"{workload}/{q}: {what} went unnoticed")
    return failures


def check_refresh(seed):
    r, work = run("refresh", seed, "--selftest", "1")
    try:
        log = (work / "harness.log").read_text()
        for line in log.splitlines():
            if "[etlbench]" in line:
                print("  " + line.split("[etlbench] ", 1)[1])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"refresh: correct={r['correct']} (unaltered outputs pass and every alteration is caught)")
    return [] if r["correct"] else ["refresh: a check passed an altered output, or failed the real one"]


def main():
    failures = check_refresh(5) + check_queries("star_queries", 5)
    for f in failures:
        print("FAIL", f)
    print("selftest passed" if not failures else "selftest FAILED")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one graftbench workload for one seed and print its metrics.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark (see build.py); later runs reuse the classes while the sources
are unchanged. Each run starts a fresh JVM, checks every operation's output
(DuckDB re-evaluates the SQL workloads), and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. See graftbench/README.md.
"""
import argparse
import datetime
import decimal
import json
import math
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
from build import BUILD, HERE, build, log, spark_jars  # noqa: E402

WORKLOADS = ["lang_interactive", "olap_scan", "keyed_lifecycle", "corpus_ingest"]
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_jvm(jars, classes, args, work, out, extra):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # the JIT runs as in the engine's own runs (C2, a 1 GB code cache);
    # the untimed warm-up and the fixed operation count keep runs
    # comparable. A fixed heap, young generation and marking threshold
    # keep GC timing, and so heap_peak_mb, from adapting to the host's speed.
    cmd += ["-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseG1GC", "-XX:-G1UseAdaptiveIHOP",
            "-XX:ReservedCodeCacheSize=1g",
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-cp", f"{classes}:{jars}/*", "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--out", str(out)] + extra
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("graftbench: the engine run timed out")
    if code != 0 or not out.is_file():
        sys.exit(f"graftbench: the engine run failed (exit {code})")
    return json.loads(out.read_text())


def norm(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return float(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [norm(x) for x in v]
    return str(v)


def same_value(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def same_rows(got, want, ordered):
    got = [[norm(x) for x in r] for r in got]
    want = [[norm(x) for x in r] for r in want]
    if len(got) != len(want):
        return False
    if not ordered:
        key = lambda r: [str(x) for x in r]
        got, want = sorted(got, key=key), sorted(want, key=key)
    return all(len(g) == len(w) and all(same_value(x, y) for x, y in zip(g, w))
               for g, w in zip(got, want))


def sql_failures(result, corrupt):
    """Re-evaluates every SQL check in DuckDB; returns failed op ids."""
    checks = result["sql_checks"]
    if not checks:
        return set(), []
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    tables = Path(result["tables_dir"])
    for t in sorted(p.name[:-len(".parquet")] for p in tables.glob("*.parquet")):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet/*.parquet')")
    failed, notes = set(), []
    for i, c in enumerate(checks):
        want = con.execute(c["sql"]).fetchall()
        if corrupt and i == 0:
            want = want[1:] if want else [[-1]]
        if not same_rows(c["rows"], want, c["ordered"]):
            failed.add(c["op"])
            if len(notes) < 5:
                notes.append(f"op {c['op']}: sql: engine {c['rows'][:3]} vs duckdb {[list(r) for r in want[:3]]} for {c['sql']}")
    return failed, notes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="sf0.001 inputs and one set-up, for the self-test")
    ap.add_argument("--corrupt", action="store_true",
                    help="feed every checker a wrong expected value (self-test)")
    args = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    work = BUILD / "work" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        extra = []
        if args.tiny:
            extra += ["--tiny", "1"]
        if args.corrupt:
            extra += ["--corrupt", "1"]
        res = run_jvm(jars, classes, args, work, work / "result.json", extra)
        sql_failed, notes = sql_failures(res, args.corrupt)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed_ops = set(res["failed_ops"]) | sql_failed
    attempted = res["attempted"]
    for e in res["errors"] + notes:
        log(f"FAILED {e}")
    summary = dict(res["summary"])
    summary["failed_frac"] = len(failed_ops) / attempted
    log("summary " + json.dumps(summary))
    metrics = {k: {"value": v["value"], "unit": v["unit"]}
               for k, v in sorted(res["metrics"].items())}
    print(json.dumps({"correct": not failed_ops, "attempted": attempted,
                      "failed": len(failed_ops), "metrics": metrics}))


if __name__ == "__main__":
    main()

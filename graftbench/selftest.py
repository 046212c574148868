#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny size (sf0.001, one short cycle).

    python3 graftbench/selftest.py [workload ...]

For each workload it asserts that
  * an untraced run prints every end_to_end metric of BENCHMARK.json with
    its unit, and a traced run every per_layer metric;
  * both runs pass their output checks;
  * a run whose checkers are fed a deliberately wrong expected value
    (--corrupt) reports a failure from every checker of the workload
    (matched by the check's tag in the "FAILED op <id>: <tag>: ..." lines
    run.py logs), which proves each checker can fail on its own.
Exits non-zero on the first violation.
"""
import json
import re
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ALL = ["lang_interactive", "olap_scan", "keyed_lifecycle", "corpus_ingest"]
# the tags of each workload's checkers
CHECKS = {
    "lang_interactive": {"sql"},
    "olap_scan": {"sql"},
    "keyed_lifecycle": {"lookup", "read_where", "mv_route", "final_read"},
    "corpus_ingest": {"dedup_exact", "dedup_near", "search", "recall"},
}


def run(workload, trace, corrupt=False):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"]
    if corrupt:
        cmd.append("--corrupt")
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True, timeout=900)
    if out.returncode != 0:
        sys.exit(f"FAIL {workload} trace={trace}: exit {out.returncode}")
    failed = re.findall(r"^\[graftbench\] FAILED op -?\d+: (.*)$", out.stderr, re.M)
    return json.loads(out.stdout.strip().splitlines()[-1]), failed


def expect(cond, msg):
    if not cond:
        sys.exit(f"FAIL {msg}")
    print(f"ok   {msg}", flush=True)


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = sys.argv[1:] or ALL
    for w in workloads:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res, _ = run(w, trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{w} trace={trace}: emits exactly the {key} metrics with their units")
            expect(res["correct"] and res["failed"] == 0,
                   f"{w} trace={trace}: all {res['attempted']} operations pass their checks")
            if trace == 0:
                expect(all(v["value"] > 0 for v in res["metrics"].values()),
                       f"{w}: every end-to-end metric is nonzero")
        res, failed = run(w, 0, corrupt=True)
        expect(not res["correct"] and res["failed"] > 0,
               f"{w}: a wrong expected value fails operations ({res['failed']} failed)")
        expect(not any(" threw " in f.split(":")[0] for f in failed),
               f"{w}: the corrupted run fails by its checks, not by errors")
        tags = {m.group(1) for f in failed for m in [re.match(r"(\w+): ", f)] if m}
        for check in sorted(CHECKS[w]):
            expect(check in tags, f"{w}: the {check} check fails on a wrong expected value")


if __name__ == "__main__":
    main()

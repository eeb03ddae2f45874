#!/usr/bin/env python3
"""Self-check of the benchmark at tiny sizes (about ten minutes in all).

For every workload it asserts that
  - an untraced and a traced run exit 0, report "correct": true, and print
    every end-to-end (resp. per-layer) metric of BENCHMARK.json with its unit;
  - a run over a deliberately corrupted tier (--corrupt-tier events) reports
    "correct": false and exits non-zero;
that a traced run over a corrupted document tier (--corrupt-tier documents)
fails the same way, on the curation check; and that the command fails,
without printing a result, in a directory that holds only BENCHMARK.json
and perfbench/. A run never prints a metric it could not measure: it exits
non-zero instead, so every metric printed was measured.

Usage (from the repository root): python3 perfbench/selfcheck.py
"""

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, corrupt=None, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--size", "tiny"]
    if corrupt:
        cmd += ["--corrupt-tier", corrupt]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    return p, result


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    for w in (x["name"] for x in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p, r = run(w, trace)
            expect(p.returncode == 0 and r is not None and r["correct"] and r["failed"] == 0,
                   f"{w} trace={trace}: exit 0 and correct")
            if r is None:
                sys.stderr.write(p.stderr[-2000:])
                continue
            for m in spec[key]:
                got = r["metrics"].get(m["name"])
                expect(got is not None and got["unit"] == m["unit"]
                       and isinstance(got["value"], (int, float)) and math.isfinite(got["value"])
                       and (trace == 1 or got["value"] > 0),
                       f"{w} trace={trace}: {m['name']} printed in {m['unit']}")
        p, r = run(w, 0, corrupt="events")
        expect(p.returncode != 0 and r is not None and r["correct"] is False,
               f"{w}: corrupted tier fails the checks")

    p, r = run(spec["workloads"][0]["name"], 1, corrupt="documents")
    expect(p.returncode != 0 and r is not None and r["correct"] is False
           and any(l.startswith("perfbench: check failed:") and "document tier" in l for l in p.stdout.splitlines()),
           "corrupted document tier fails the curation check")

    bare = os.path.join(ROOT, ".perfbench", "selfcheck-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("target"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p, r = run(spec["workloads"][0]["name"], 0, cwd=bare)
    expect(p.returncode != 0 and r is None, "without the engine sources: non-zero exit, no result")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(problems)} problem(s)")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()

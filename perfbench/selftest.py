#!/usr/bin/env python3
"""Self-test of the benchmark's output contract.

Runs one tiny reference_etl run (``run.py --small``) with both Python and
the JVM in a comma-decimal locale (German), then parses the last 2,000
characters of its standard output, as a caller that keeps only that
window would. The last line must be the JSON summary, the correctness
checks must pass, and every end-to-end metric of BENCHMARK.json must be
present with its unit.

    python3 perfbench/selftest.py      # exit code 0 on success
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    env = dict(os.environ, LC_ALL="de_DE.UTF-8", LANG="de_DE.UTF-8",
               JAVA_TOOL_OPTIONS="-Duser.language=de -Duser.country=DE")
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         "reference_etl", "--seed", "11", "--seconds", "1", "--trace", "0",
         "--small"],
        cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, timeout=900)
    tail = p.stdout[-2000:]
    if p.returncode != 0:
        print(f"FAIL: run.py exited {p.returncode}\n{p.stderr[-1500:]}")
        return 1
    summary = json.loads(tail.strip().splitlines()[-1])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        want = {m["name"]: m["unit"] for m in json.load(f)["end_to_end"]}
    problems = []
    if set(summary) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"keys {sorted(summary)}")
    if not summary.get("correct") or summary.get("failed") != 0:
        problems.append("correctness checks failed")
    got = {k: m.get("unit") for k, m in summary.get("metrics", {}).items()}
    if got != want:
        problems.append(f"metrics {got} != {want}")
    bad = [k for k, m in summary.get("metrics", {}).items()
           if not isinstance(m.get("value"), (int, float))]
    if bad:
        problems.append(f"non-numeric values: {bad}")
    for msg in problems:
        print(f"FAIL: {msg}")
    if not problems:
        print(f"OK: {len(tail)} chars parsed under a comma-decimal locale")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

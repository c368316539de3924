#!/usr/bin/env python3
"""Self-checks of the benchmark itself. Run from the root of a checkout:

    python3 perfbench/selfcheck.py

1. The same seed generates identical inputs (SHA-256 per table), and a
   different seed generates different ones, for every workload.
2. A call that fails (a merge into a missing table) is counted as failed
   and the run still ends with a result.
3. In a directory that holds only BENCHMARK.json and perfbench/, the
   command exits non-zero without printing a result.
"""

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import run  # noqa: E402

problems = []


def expect(ok, what):
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        problems.append(what)


def main():
    classpath = run.build()

    for w in run.WORKLOADS:
        a, b = run.input_hashes(classpath, w, 1), run.input_hashes(classpath, w, 1)
        c = run.input_hashes(classpath, w, 2)
        expect(a == b, f"{w}: seed 1 twice gives the same {len(a)} input hashes")
        expect(all(a[t] != c[t] for t in a), f"{w}: seed 2 changes every input table")

    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                        "lakehouse", "--seed", "3", "--seconds", "1", "--trace", "0",
                        "--inject-failure"], capture_output=True, text=True)
    last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
    res = json.loads(last)
    expect(r.returncode == 0 and res.get("failed") == 1 and res.get("attempted", 0) > 1
           and res.get("correct") is True,
           f"injected failure counted: failed={res.get('failed')} "
           f"attempted={res.get('attempted')} correct={res.get('correct')}")

    bare = os.path.join(run.BUILD, "selfcheck-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "lakehouse",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=bare, capture_output=True, text=True, timeout=180)
    expect(r.returncode != 0 and '"metrics"' not in r.stdout,
           f"without the sources: exit {r.returncode}, no result")
    shutil.rmtree(bare, ignore_errors=True)

    print("selfcheck: " + ("all passed" if not problems else f"{len(problems)} failed"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()

"""Self-test of the benchmark's correctness checks.

    python3 perfbench/selftest.py            # quick checks only
    python3 perfbench/selftest.py --full     # also one planted-fault run per workload

The quick checks exercise the catalog comparison and the ELT golden-lake
rules in plain Python. ``--full`` runs every workload of BENCHMARK.json
with ``--plant-fault``, which corrupts one expected answer (a catalog
row's result loses a row; one upserted ``deals`` row is dropped from the
golden lake), and requires each run to report ``correct: false``.
Run it from the checkout root. Exit code 0 means every check caught what
it should.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def quick() -> list[str]:
    import pandas as pd

    from catalog import frames_match
    from elt import Generator

    bad = []
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.1, 0.2, 0.3]})
    if frames_match(a, a.iloc[::-1].copy()) is not None:
        bad.append("reordered rows were reported as a mismatch")
    if frames_match(a.assign(v=a.v * (1 + 1e-12)), a) is not None:
        bad.append("float noise within tolerance was reported as a mismatch")
    if frames_match(a.iloc[1:], a) is None:
        bad.append("a missing row was not caught")
    if frames_match(a.assign(v=[0.1, 0.2, 0.31]), a) is None:
        bad.append("a wrong value was not caught")
    if frames_match(a.rename(columns={"v": "w"}), a) is None:
        bad.append("a wrong column was not caught")

    sizes = {"tasks": 50, "deals": 40, "invoices": 40,
             "tasks_batch": 20, "deals_batch": 16, "invoices_batch": 16}
    gen = Generator(3, sizes)
    gen.cycle(bootstrap=True)
    for _ in range(5):
        gen.cycle(bootstrap=False)
    for key, row in gen.golden["tasks"].items():
        newest = max(v["updatedDate"] for v in gen.versions["tasks"][key])
        if row["updatedDate"] != newest:
            bad.append(f"golden task {key} is not the newest version")
            break
    if not all(q for _, q in (e.get("tasks", (0, 0)) for e in gen.expect[1:])):
        bad.append("a cycle planted no quarantined task row")
    return bad


def full() -> list[str]:
    from run import BENCHMARK

    with open(BENCHMARK) as fh:
        workloads = [w["name"] for w in json.load(fh)["workloads"]]
    bad = []
    for w in workloads:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", "1",
             "--seconds", "1", "--trace", "0", "--plant-fault"],
            capture_output=True, text=True, timeout=600,
        )
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        if result is None or result["correct"] or result["failed"] < 1:
            bad.append(f"{w}: planted fault not caught (exit {proc.returncode}, result {result})")
    return bad


if __name__ == "__main__":
    problems = quick() + (full() if "--full" in sys.argv else [])
    for p in problems:
        print("FAIL", p)
    print("selftest:", "ok" if not problems else f"{len(problems)} failure(s)")
    sys.exit(1 if problems else 0)

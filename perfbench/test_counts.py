"""Exact job, stage and task counts must repeat between traced runs.

    python3 -m pytest perfbench/test_counts.py -q         # every workload
    python3 perfbench/test_counts.py [--write] [workload ...]

Each workload runs twice with ``--trace 1`` and the same seed. For every
step of every warm pass the run records how many jobs were launched
while the plan was built and how many jobs, stages and tasks the step
ran in all. All those tables, across passes and across the two runs,
must be equal.

A count that is known not to repeat is listed in ``counts.json`` under
``nonrepeating`` with the values seen; it is reported, not failed.
``--write`` rewrites ``counts.json`` from the two runs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNTS = os.path.join(HERE, "counts.json")
SEED = 1
SECONDS = 6
KEYS = ("build_jobs", "jobs", "stages", "tasks")


def traced_run(workload: str) -> list[dict]:
    """Run one traced run; return its warm passes' count tables."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", str(SECONDS), "--trace", "1"]
    subprocess.run(cmd, cwd=ROOT, check=True, stdout=subprocess.DEVNULL, timeout=300)
    with open(os.path.join(ROOT, ".perfbench", "out", f"{workload}-s{SEED}-t1.json")) as f:
        record = json.load(f)
    return record["counts"][1:]


def differing(tables: list[dict]) -> dict[tuple[str, str], list[int]]:
    """(step, count) -> values, for every count that is not the same in
    all tables."""
    out = {}
    for step in tables[0]:
        for key in KEYS:
            values = [t.get(step, {}).get(key) for t in tables]
            if len(set(values)) > 1:
                out[(step, key)] = values
    return out


def compare(workload: str, listed: set) -> tuple[dict, list[str], list[str]]:
    tables = traced_run(workload) + traced_run(workload)
    diffs = differing(tables)
    failures, reported = [], []
    for (step, key), values in sorted(diffs.items()):
        line = f"{workload} {step} {key}: {values}"
        (reported if (workload, step, key) in listed else failures).append(line)
    return tables, failures, reported


def load_listed() -> set:
    if not os.path.exists(COUNTS):
        return set()
    with open(COUNTS) as f:
        return {(e["workload"], e["step"], e["count"]) for e in json.load(f)["nonrepeating"]}


def workloads() -> list[str]:
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    return sorted(WORKLOADS)


def test_counts_repeat() -> None:
    listed = load_listed()
    failures = []
    for w in workloads():
        _, fails, reported = compare(w, listed)
        failures += fails
        for line in reported:
            print(f"listed as non-repeating: {line}")
    assert not failures, "counts differ between traced runs:\n" + "\n".join(failures)


def main(argv: list[str]) -> int:
    write = "--write" in argv
    names = [a for a in argv if a != "--write"] or workloads()
    listed = set() if write else load_listed()
    table, nonrepeating, failed = {}, [], False
    for w in names:
        tables, fails, reported = compare(w, listed)
        table[w] = tables[0]
        for line in reported:
            print(f"listed as non-repeating: {line}")
        for line in fails:
            print(f"DIFFERS: {line}")
        failed |= bool(fails)
        for (step, key), values in sorted(differing(tables).items()):
            nonrepeating.append({"workload": w, "step": step, "count": key, "values": values})
    if write:
        with open(COUNTS, "w") as f:
            json.dump({"seed": SEED, "counts": table, "nonrepeating": nonrepeating}, f, indent=1, sort_keys=True)
            f.write("\n")
        return 0
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

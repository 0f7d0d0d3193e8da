#!/usr/bin/env python3
"""Cross-check the recorded answer digests against the DuckDB oracle.

    python3 perfbench/oracle_check.py [workload ...]

For each workload (default: all), runs the read set once on the unmutated
inputs and dumps every answer as parquet, together with the engine's oracle
SQL (graft.tools.DumpOracle), in the layout the repo's oracle check reads.
Then:
  * tools/check.py compares each answer with its oracle in DuckDB
    (restricted to the workload's read set through GRAFT_CHECK_ONLY);
  * each answer's digest is compared with perfbench/digests.json.
A recorded digest is cross-checked when both hold. Exit code 0 means every
query of every checked workload has an oracle and passed both checks.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

CHECK = os.path.join(run.ROOT, "tools", "check.py")


def main():
    workloads = sys.argv[1:] or list(run.WORKLOADS)
    cp = run.build()
    work = os.path.join(run.BUILD_DIR, "oracle")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    recorded = run.recorded_digests()
    bad = 0
    try:
        for w in workloads:
            wdir = os.path.join(work, w)
            dump = os.path.join(wdir, "answers")
            os.makedirs(dump)
            oracle_json = os.path.join(dump, "oracle_sql.json")
            subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "graft.tools.DumpOracle",
                            oracle_json], check=True, capture_output=True)
            res = run.run_harness(cp, w, 0, 0, False, wdir, record=True, dump=dump)
            names = [op["name"] for op in res["ops"]]
            with open(oracle_json) as f:
                oracle = json.load(f)
            no_oracle = [n for n in names if n not in oracle]
            for n in no_oracle:
                print(f"FAIL {w} {n}: no oracle")
            bad += len(no_oracle)
            checked = subprocess.run(
                [sys.executable, CHECK, os.path.join(wdir, "data"), dump],
                env=dict(os.environ, GRAFT_CHECK_ONLY=",".join(names)))
            bad += checked.returncode != 0
            for op in res["ops"]:
                ok = recorded.get(w, {}).get(op["name"]) == op["digest"]
                bad += not ok
                print(f"{'PASS' if ok else 'FAIL'} {w} {op['name']}: digest "
                      f"{'matches' if ok else 'DIFFERS from'} the recorded one")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"== {bad} failing ==")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

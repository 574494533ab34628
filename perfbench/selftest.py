#!/usr/bin/env python3
"""Checker self-tests for perfbench. Run from the repository root:

    python3 perfbench/selftest.py

Runs small versions of the workloads, one timed pass each. A clean run must
report no failed operation and `correct: true`. Each injected fault must
report `correct: false` and one failed operation in every checked pass it
touches (etl_bulk checks its warm passes and its timed pass; catalog_mix's
timed pass repeats the checked result):
  wrong_value   the endpoint alters one delivered indicator value, each pass
  drop_record   the endpoint drops one delivered record, each pass
  dup_record    the endpoint receives one record twice, each pass
  reject_count  the input holds one malformed row the checker was not told of
  catalog_row   one row of a catalog result is changed before the oracle compare
Exits non-zero if any case reports otherwise.
"""
import json
import pathlib
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
RUN = HERE / "run.py"
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
from run import WARM_PASSES  # noqa: E402

# checked passes with --seconds 0: the warm passes and one timed pass
PASSES = {"etl_bulk": WARM_PASSES + 1, "catalog_mix": 1}
SMALL = {"etl_bulk": ["--devices", "20000"], "catalog_mix": ["--queries", "q01"]}
CASES = [("etl_bulk", None), ("catalog_mix", None),
         ("etl_bulk", "wrong_value"), ("etl_bulk", "drop_record"), ("etl_bulk", "dup_record"),
         ("etl_bulk", "reject_count"), ("catalog_mix", "catalog_row")]


def main():
    bad = 0
    for workload, fault in CASES:
        cmd = [sys.executable, str(RUN), "--workload", workload, "--seed", "7", "--seconds", "0",
               "--trace", "0"] + SMALL[workload] + (["--fault", fault] if fault else [])
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        try:
            res = json.loads(r.stdout.strip().splitlines()[-1])
            failed, correct = res["failed"], res["correct"]
        except (IndexError, ValueError, KeyError):
            sys.stderr.write(r.stderr[-3000:])
            failed = correct = None
        want = PASSES[workload] if fault else 0
        ok = failed == want and correct is (fault is None)
        bad += not ok
        print(f"{'PASS' if ok else 'FAIL'} {workload} fault={fault}: failed={failed} correct={correct}, "
              f"expected {want} {fault is None}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

"""Rewrite PLANS.json, the plan-shape ledger: one sorted JSON line per
registered check, holding ``plan_shape`` of the check's DataFrame as
built at sf0.001 (operator node-name counts plus ``pushed_scans``).

Usage (from the repo root, so Python workers import this tree):
    python tools/plan_ledger.py [name ...]

With no names every entry is rewritten; with names only theirs are.
Each check is built after ``reset_run_cache`` in a local[8] session, as
``tests/test_parity.py`` builds it, and is never executed by this tool
(checks that run their pipeline while building still do).  Review a
plan change with ``git diff PLANS.json``.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

LEDGER = os.path.join(ROOT, "PLANS.json")
SF_DIR = "/root/testdata/sf0.001"


def main() -> None:
    from dronedb_spark.plans.inspect import plan_shape
    from dronedb_spark.session import get_spark
    from dronedb_spark.suite import load_all
    from dronedb_spark.tables import reset_run_cache

    registry = load_all()
    names = sys.argv[1:]
    ledger = {}
    if names:
        with open(LEDGER) as fh:
            ledger = {n: s for n, s in json.load(fh).items() if n in registry}
    spark = get_spark("plan_ledger", cpus=8)
    for name in names or registry:
        reset_run_cache(spark)
        ledger[name] = plan_shape(registry[name].spark_fn(spark, SF_DIR))
        print(f"shaped {name}", file=sys.stderr)
    spark.stop()
    lines = [f"{json.dumps(n)}: {json.dumps(ledger[n], sort_keys=True)}" for n in sorted(ledger)]
    with open(LEDGER, "w") as fh:
        fh.write("{\n" + ",\n".join(lines) + "\n}\n")


if __name__ == "__main__":
    main()

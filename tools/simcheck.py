"""Focused driver-gate sim: run named checks' Spark query AND DuckDB
oracle on the same parquet and compare them with
``dronedb_spark.suite.compare_rows`` (the tests/test_parity.py
comparison, runnable per-name at any SF).

Usage: python tools/simcheck.py [--sf /root/testdata/sf0.01] name [name ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import duckdb

    from dronedb_spark.session import get_spark
    from dronedb_spark.suite import compare_rows, load_all
    from dronedb_spark.tables import TABLE_NAMES

    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.001"
    if args and args[0] == "--sf":
        sf_dir = args[1]
        args = args[2:]
    names = args

    registry = load_all()
    spark = get_spark("simcheck", cpus=8)
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{sf_dir}/{t}.parquet')"
        )

    failed = []
    for name in names:
        chk = registry[name]
        try:
            sdf = chk.spark_fn(spark, sf_dir)
            s_cols = [c.lower() for c in sdf.columns]
            s_rows = [tuple(r) for r in sdf.collect()]
            if chk.oracle is None:
                print(f"PASS {name} (rows-only, {len(s_rows)} rows)")
                continue
            res = con.execute(chk.oracle)
            d_cols = [d[0].lower() for d in res.description]
            d_rows = res.fetchall()
            compare_rows(s_cols, s_rows, d_cols, d_rows)
            print(f"PASS {name} ({len(s_rows)} rows)")
        except Exception as e:
            print(f"FAIL {name}: {e}")
            failed.append(name)
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()

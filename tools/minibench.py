"""Time named checks with the bench methodology (``bench.time_row``:
warm + best-of-3, noop sink / collect for small results) without
running the full pass.

Usage: python tools/minibench.py name [name ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
(default: the host's core count).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))

    from bench import time_row
    from dronedb_spark.session import get_spark
    from dronedb_spark.suite import load_all
    from dronedb_spark.tables import reset_run_cache

    spark = get_spark("minibench", cpus=cpus)
    registry = load_all()
    spark.range(1000).count()
    reset_run_cache(spark)

    for name in names:
        print(f"{name}: {time_row(spark, registry[name], sf_dir):.3f}s", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()

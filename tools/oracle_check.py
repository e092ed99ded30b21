"""Oracle-check NAMED queries at a given SF dir, driver-strength
(row count + column-name-sorted schema + exact value comparison via
driver_model.check_registered).

Usage: python tools/oracle_check.py <query> [<query> ...] [--sf DIR]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

import duckdb  # noqa: E402

from cdc_2025_spark.queries import ORACLES  # noqa: E402
from cdc_2025_spark.queries.driver_model import (  # noqa: E402
    check_registered,
)
from cdc_2025_spark.schemas import TABLE_NAMES  # noqa: E402
from cdc_2025_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if "--sf" in args:
        i = args.index("--sf")
        sf_dir = args[i + 1]
        del args[i : i + 2]
    names = args
    spark = get_spark(app_name="oracle-check", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    n_fail = 0
    for name in names:
        if name not in ORACLES:
            print(f"SKIP {name}: no oracle")
            continue
        t0 = time.perf_counter()
        msg = check_registered(spark, con, name, sf_dir)
        dt = time.perf_counter() - t0
        if msg is None:
            print(f"PASS {name} ({dt:.1f}s)")
        else:
            print(f"FAIL {name}: {msg}")
            n_fail += 1
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()

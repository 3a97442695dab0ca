#!/usr/bin/env python
"""Driver simulation: run the __spark_entry__ contract the way the
external driver does — its OWN SparkSession with a HOSTILE (non-UTC)
timezone — and diff every declared query against its DuckDB oracle.

Catches UTC-dependence that tools/check_oracle.py (UTC session) cannot:
any builder touching timestamps must call session.ensure_utc itself.

Usage: python tools/driver_sim.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb
    from pyspark.sql import SparkSession

    from tools.check_oracle import canon, compare

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    df = entry.entry(spark)
    n = len(df.collect())
    assert n > 0, "entry() returned no rows"
    print(f"entry(): {n} rows, schema {df.schema.simpleString()}")

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, osql = entry.queries(), entry.oracle_sql()
    n_pass = n_fail = 0
    for name, build in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sp = build(spark, sf_dir).toPandas()
            if name not in osql:
                print(f"  rows-only {name}: {len(sp)} rows")
                n_pass += 1
                continue
            err = compare(sp, con.execute(osql[name]).df())
        except Exception as e:  # noqa: BLE001
            err = f"{type(e).__name__}: {e}"
        dt = time.time() - t0
        if err is None:
            n_pass += 1
            print(f"  PASS {name}  ({dt:.1f}s)")
        else:
            n_fail += 1
            print(f"  FAIL {name}: {err}")
    print(f"\n{n_pass} pass, {n_fail} fail @ {sf_dir} (TZ America/New_York)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())

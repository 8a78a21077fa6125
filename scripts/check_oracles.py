#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB over the same
parquet tables, compare row count + column names + order-insensitive
values.  Fails before starting Spark unless queries() and oracle_sql()
name the same entries.
Usage: python3 scripts/check_oracles.py [sf_dir] [name...]"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # driver-style: stable string at 6 significant decimals
        return f"{v:.6f}".rstrip("0").rstrip(".") or "0"
    if isinstance(v, int):
        return str(v)
    return str(v)


def frame_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    names = [cols[i] for i in order]
    body = sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)
    return names, body


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from datapatterns_spark.session import get_spark
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    no_oracle = sorted(set(qs) - set(oracles))
    no_query = sorted(set(oracles) - set(qs))
    if no_oracle or no_query:
        print(f"FAIL registry: queries without an oracle {no_oracle}; "
              f"oracles without a query {no_query}")
        return 1

    spark = get_spark(
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        sn, sb = frame_key(scols, [tuple(r) for r in srows])
        on, ob = frame_key(ocols, orows)
        if sn != on:
            print(f"FAIL {name}: columns {sn} != {on}")
            failures += 1
        elif len(sb) != len(ob):
            print(f"FAIL {name}: rowcount spark={len(sb)} duckdb={len(ob)}")
            failures += 1
        elif sb != ob:
            diff_a = [r for r in sb if r not in set(map(tuple, ob))][:3]
            diff_b = [r for r in ob if r not in set(map(tuple, sb))][:3]
            print(f"FAIL {name}: value mismatch; spark-only={diff_a} duckdb-only={diff_b}")
            failures += 1
        else:
            print(f"ok   {name}: {len(sb)} rows match")
    print(f"{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

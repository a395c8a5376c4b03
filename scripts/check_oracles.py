"""Local replica of the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB at the given
scale factor, compare row count, column names, and order-insensitive
values.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def normalize(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in sorted(cols):
            v = row[c]
            if isinstance(v, float):
                v = round(v, 6)
                if math.isnan(v):
                    v = "NaN"
            vals.append(str(v))
        out.append("|".join(vals))
    return sorted(out)


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from go_htmldate_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark(app_name="oracle-check", master="local[8]")
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = [r.asDict() for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS {name}: {len(srows)} rows (rows-only, no oracle)")
            continue
        try:
            ddf = con.sql(oracles[name])
            dcols = [d[0] for d in ddf.description]
            drows = [dict(zip(dcols, row)) for row in ddf.fetchall()]
        except Exception as e:
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
            failures += 1
            continue

        scols = sdf.columns
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: columns spark={sorted(scols)} duck={sorted(dcols)}")
            failures += 1
            continue
        if len(srows) != len(drows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}")
            failures += 1
            continue
        sn = normalize(srows, scols)
        dn = normalize(drows, dcols)
        if sn != dn:
            diffs = [(a, b) for a, b in zip(sn, dn) if a != b][:5]
            print(f"FAIL {name}: value mismatch ({len([1 for a,b in zip(sn,dn) if a!=b])} rows); first diffs:")
            for a, b in diffs:
                print(f"   spark: {a}\n   duck : {b}")
            failures += 1
            continue
        print(f"OK   {name}: {len(srows)} rows match")

    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

#!/usr/bin/env python
"""Local mimic of the driver's correctness gate: run every queries() entry
at sf0.01 and compare against oracle_sql() in DuckDB — row count, column
names, and order-insensitive value multiset.

Usage: python tools/check_entry.py [name ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    try:  # Decimal and friends
        import decimal
        if isinstance(v, decimal.Decimal):
            return f"{float(v):.6f}"
    except Exception:
        pass
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def main():
    import __spark_entry__ as E
    from pdx_spark.config import get_spark

    only = set(sys.argv[1:])
    cores = os.environ.get("PDX_TEST_CORES")
    spark = get_spark(cores=int(cores) if cores else None, app="check_entry")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, oracles = E.queries(), E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            failures.append((name, f"SPARK ERROR: {ex}"))
            print(f"[FAIL-spark] {name}: {str(ex)[:300]}")
            continue
        if name not in oracles:
            print(f"[rows-only ] {name}: {len(srows)} rows, cols={scols}")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols, orows = rel.columns, rel.fetchall()
        except Exception as ex:
            failures.append((name, f"DUCKDB ERROR: {ex}"))
            print(f"[FAIL-duck ] {name}: {str(ex)[:300]}")
            continue
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in ocols):
            failures.append((name, f"schema {scols} vs {ocols}"))
            print(f"[FAIL-schema] {name}: spark={scols} duck={ocols}")
            continue
        a = norm_rows([c.lower() for c in scols], srows)
        b = norm_rows([c.lower() for c in ocols], orows)
        if len(a) != len(b):
            failures.append((name, f"rowcount {len(a)} vs {len(b)}"))
            print(f"[FAIL-count] {name}: {len(a)} vs {len(b)}")
            da = [r for r in a if r not in set(b)][:3]
            db = [r for r in b if r not in set(a)][:3]
            print(f"   spark-only={da}\n   duck-only={db}")
        elif a != b:
            failures.append((name, "value mismatch"))
            bad = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"[FAIL-vals ] {name}: first diffs={bad}")
        else:
            print(f"[OK        ] {name}: {len(a)} rows")
    spark.stop()
    print(f"\n{len(failures)} failures" + (f": {[f[0] for f in failures]}"
                                           if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

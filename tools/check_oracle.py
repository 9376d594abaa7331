"""Local twin of the driver's correctness harness.

Runs each ``queries()`` entry against its ``oracle_sql()`` DuckDB twin
on the same parquet tables; compares row count, column names, and an
order-insensitive canonicalized value multiset (floats rounded to 6,
timestamps ISO-formatted). Usage::

    python tools/check_oracle.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon_val(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if v != v:  # NaN
            return "NaN"
        return round(v, 6) + 0.0  # +0.0 folds -0.0 into 0.0
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon_val(x) for x in v)
    return v


def _sort_key_val(x):
    # total order across None/number/everything-else WITHOUT changing
    # how values compare within a type: None first, then numbers
    # numerically (str() would put -0.0 and 0.0, or 2 and 10, in
    # different orders on the two sides), then the rest by str
    if x is None:
        return (0, 0, "")
    if isinstance(x, (int, float)) and not isinstance(x, bool):
        return (1, x, "")
    return (2, 0, str(x))


def canon_rows(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(canon_val(r[i]) for i in order) for r in rows),
        key=lambda t: tuple(_sort_key_val(x) for x in t),
    )


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from rehiver_spark.session import get_spark

    spark = get_spark(app_name="oracle-check")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, osql = E.queries(), E.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            scols = df.columns
            srows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        if name not in osql:
            print(f"rows  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rowsonly += 1
            continue
        try:
            rel = con.sql(osql[name])
            ocols = rel.columns
            orows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            n_fail += 1
            continue
        problems = []
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in ocols):
            problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not problems:
            cs = canon_rows(srows, [c.lower() for c in scols])
            co = canon_rows(orows, [c.lower() for c in ocols])
            if cs != co:
                diff = [(a, b) for a, b in zip(cs, co) if a != b][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())

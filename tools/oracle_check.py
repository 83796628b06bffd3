"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB at the given sf, compares row count,
column names, and an order-insensitive value multiset (rows sorted,
columns sorted by name, floats rounded to 9 significant places).

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

# check this checkout, in the driver and in the Python workers (which
# import the package by PYTHONPATH, read when the session starts)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _norm_cell(v):
    if v is None:
        return "␀"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, bytes):
        return v.hex()
    try:  # Decimal
        import decimal

        if isinstance(v, decimal.Decimal):
            return f"{float(v):.9g}"
    except Exception:
        pass
    return str(v)


def _normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(
        tuple(_norm_cell(r[i]) for i in order) for r in rows
    )
    return [cols[i] for i in order], out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as e
    from docling_plus_spark.plans import build_session

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    spark = build_session("local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    qs, os_ = e.queries(), e.oracle_sql()
    failures = 0
    passes = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error {ex!r}"[:300])
            failures += 1
            continue
        if name not in os_:
            print(f"ok?  {name}: rows-only check, {len(srows)} rows")
            continue
        try:
            res = con.execute(os_[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {ex!r}"[:300])
            failures += 1
            continue
        sc, sn = _normalize(scols, srows)
        oc, on = _normalize(ocols, orows)
        if sc != oc:
            print(f"FAIL {name}: columns {sc} vs {oc}")
            failures += 1
        elif len(sn) != len(on):
            print(f"FAIL {name}: rows {len(sn)} vs {len(on)}")
            failures += 1
        elif sn != on:
            diff = [(a, b) for a, b in zip(sn, on) if a != b][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {diff}")
            failures += 1
        else:
            passes += 1
            print(f"PASS {name}: {len(sn)} rows")
    print(f"SUMMARY: {passes} pass, {failures} fail, {passes + failures} checked")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

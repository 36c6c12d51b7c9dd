"""Replicates the driver's correctness gate locally: run every queries()
entry in Spark AND its oracle_sql() in DuckDB over the same sf dir, compare
row count + order-insensitive values. Usage:

    python scripts/check_oracles.py [sf_dir] [query_prefix ...]

With prefixes, only the queries whose names start with one of them run
(e.g. ``<sf_dir> q23 q41 q47``). Spark runs on
``local[session.default_cpus()]``.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


class DriverUnhashable(Exception):
    """A column the driver's canonicalizer cannot sort/factorize (round-1
    q15/q24 crash class: array-typed output columns)."""


def normalize(df):
    """pandas DataFrame -> sorted list of row tuples with canonical scalars.

    Mirrors the DRIVER's canonicalizer semantics (learned from round 1):
      * array/list/dict-valued cells crash its sort_values+factorize —
        flagged here as DriverUnhashable instead of silently tolerated;
      * its value-hash is dtype-SENSITIVE: DuckDB sum(int)->HUGEINT lands
        in pandas as float64 0.0 which hashes differently from Spark's
        int64 0 — so canon() tags the type kind and int-vs-float is a
        mismatch here too (fix the oracle with CAST(... AS BIGINT)).
    """
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False):
        vals = []
        for col, v in zip(cols, row):
            if isinstance(v, (list, tuple, dict)) or str(type(v)).endswith("ndarray'>"):
                raise DriverUnhashable(
                    f"column {col!r} holds {type(v).__name__} values — the "
                    f"driver canonicalizer crashes on these; serialize to "
                    f"string (concat_ws/to_json) in the driver-facing select"
                )
            vals.append(canon(v))
        out.append(tuple(vals))
    out.sort(key=repr)
    return cols, out


def canon(v):
    """Canonical (kind, value) pair — kind-tagged so an int64 0 and a
    float64 0.0 do NOT compare equal (the driver's hash distinguishes
    them; see round-1 q09/q13)."""
    import decimal

    import numpy as np

    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return None
        return ("f", round(float(v), 9))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, decimal.Decimal):
        # DuckDB DECIMAL materializes as object dtype; the driver's pandas
        # frame would carry it as object too — treat as float-kind but
        # flag-worthy; prefer casting to DOUBLE/BIGINT in the oracle SQL
        return ("f", round(float(v), 9))
    return v


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    prefixes = tuple(sys.argv[2:])

    import __spark_entry__ as E
    from document_ai_spark.session import default_cpus, get_spark, stop_spark

    spark = get_spark(app_name="oracle_check", master=f"local[{default_cpus()}]")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, osql = E.queries(), E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if prefixes and not name.startswith(prefixes):
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            failures.append((name, f"SPARK ERROR: {exc}"))
            print(f"{name:28s} SPARK ERROR: {str(exc)[:200]}")
            continue
        if name not in osql:
            # the driver still canonicalizes rows-only results (round-1
            # q24 crashed there) — so arrays must not appear here either
            try:
                normalize(sdf)
            except DriverUnhashable as exc:
                failures.append((name, f"UNHASHABLE: {exc}"))
                print(f"{name:28s} UNHASHABLE: {exc}")
                continue
            print(f"{name:28s} rows-only: {len(sdf)} rows")
            continue
        try:
            ddf = con.sql(osql[name]).df()
        except Exception as exc:
            failures.append((name, f"DUCKDB ERROR: {exc}"))
            print(f"{name:28s} DUCKDB ERROR: {str(exc)[:200]}")
            continue
        try:
            scols, srows = normalize(sdf)
            dcols, drows = normalize(ddf)
        except DriverUnhashable as exc:
            failures.append((name, f"UNHASHABLE: {exc}"))
            print(f"{name:28s} UNHASHABLE: {exc}")
            continue
        if scols != dcols:
            failures.append((name, f"columns differ: spark={scols} duck={dcols}"))
            print(f"{name:28s} COLS MISMATCH {scols} vs {dcols}")
            continue
        if len(srows) != len(drows):
            failures.append((name, f"rowcount {len(srows)} vs {len(drows)}"))
            print(f"{name:28s} ROWS {len(srows)} vs {len(drows)}")
            continue
        bad = None
        for i, (a, b) in enumerate(zip(srows, drows)):
            if a != b:
                bad = (i, a, b)
                break
        if bad:
            failures.append((name, f"value mismatch at {bad[0]}"))
            print(f"{name:28s} VALUE MISMATCH row {bad[0]}:\n  spark={bad[1]}\n  duck ={bad[2]}")
        else:
            print(f"{name:28s} OK ({len(srows)} rows)")
    stop_spark(spark)
    print(f"\n{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

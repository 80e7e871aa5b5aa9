"""Local mirror of the driver's correctness gate.

Runs every queries() entry at a given sf_dir AND its oracle_sql()
through DuckDB, compares row count, column names, and an
order-insensitive value hash (rows sorted, columns sorted by name,
values stringified with float rounding).

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon_value(v) -> str:
    """Type-tagged, full-precision canonicalization.

    Stricter than the driver's: ints and floats hash differently
    (``i:3`` vs ``f:3.0``), Decimals (DuckDB HUGEINT via Arrow) are
    their own tag, and floats use full repr — so cross-engine type
    drift (e.g. an uncast integer ``sum()`` going HUGEINT) fails HERE
    before it fails in the driver."""
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return f"b:{int(v)}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        if v == int(v) and abs(v) < 1e15:
            return f"f:{int(v)}.0"
        return f"f:{v!r}"
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    if isinstance(v, datetime.datetime):
        return f"ts:{v.isoformat()}"
    if isinstance(v, datetime.date):
        return f"d:{v.isoformat()}"
    if isinstance(v, bytes):
        return f"x:{v.hex()}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):  # Arrow renders Spark Rows/structs as dicts
        return "{" + ",".join(f"{k}={canon_value(v[k])}" for k in sorted(v)) + "}"
    return f"s:{v}"


def canon_rows(cols: list[str], rows: list[tuple]) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = ["|".join(canon_value(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    filters = sys.argv[2:]

    from ursa_major_choir_etl_spark.caching import release_all
    from ursa_major_choir_etl_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark(app_name="check-oracles")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    # PREFIX-match filters ("q259" selects q259_image_dhash), and FAIL
    # LOUD on a filter that selects nothing: exact-only matching once
    # made every short-name invocation a vacuous "all queries match" —
    # the worst possible failure mode for a correctness gate.
    only: set[str] = set()
    for f in filters:
        hits = {n for n in qs if n == f or n.startswith(f)}
        if not hits:
            print(f"no registry query matches filter {f!r}")
            sys.exit(2)
        only |= hits

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        df = fn(spark, sf_dir)
        spark_cols = df.columns
        spark_rows = [tuple(r) for r in df.collect()]
        t_spark = time.time() - t0
        # Bounded memory across the all-registry sweep: operators
        # register staging persists (caching.stage) and the iterative
        # ones localCheckpoint RDDs, and this session runs every query
        # — release per query, same as bench.py.
        try:
            release_all(spark)
        except Exception:
            pass

        if name not in oracles:
            print(f"{name:32s} rows={len(spark_rows):7d} [rows-only] {t_spark:5.1f}s")
            if len(spark_rows) == 0:
                failures.append((name, "rows-only query returned 0 rows"))
            continue

        t0 = time.time()
        res = con.execute(oracles[name])
        duck_cols = [d[0] for d in res.description]
        # Fetch through Arrow (not fetchall) so DuckDB types surface the
        # way a driver-side Arrow/pandas reader sees them — notably
        # HUGEINT -> Decimal instead of silently becoming Python int.
        atbl = res.fetch_arrow_table()
        duck_rows = [
            tuple(d[c] for c in duck_cols) for d in atbl.to_pylist()
        ]
        t_duck = time.time() - t0

        problems = []
        if sorted(spark_cols) != sorted(duck_cols):
            problems.append(f"schema: spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
        if len(spark_rows) != len(duck_rows):
            problems.append(f"rowcount: spark={len(spark_rows)} duck={len(duck_rows)}")
        if not problems:
            a = canon_rows(spark_cols, spark_rows)
            b = canon_rows(duck_cols, duck_rows)
            if a != b:
                diffs = [
                    (x, y) for x, y in zip(a, b) if x != y
                ][:3]
                sa, sb = set(a), set(b)
                problems.append(
                    f"values: {len(sa - sb)} spark-only / {len(sb - sa)} duck-only;"
                    f" first diffs {diffs}"
                )
        status = "OK " if not problems else "FAIL"
        print(
            f"{name:32s} rows={len(spark_rows):7d} [{status}]"
            f" spark={t_spark:5.1f}s duck={t_duck:5.1f}s"
        )
        for p in problems:
            print(f"    !! {p}")
            failures.append((name, p))

    print()
    if failures:
        print(f"{len(failures)} FAILURES")
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()

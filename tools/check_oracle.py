#!/usr/bin/env python3
"""Spark-vs-DuckDB oracle gate for the query registry.

Runs each queries() entry on Spark AND its oracle_sql() on DuckDB over the
same parquet tables, comparing row count + column names + an
order-insensitive value hash (columns sorted by name, rows sorted, values
stringified).  ``compare`` and ``duck_views`` are the one implementation
of that check: tests/test_queries.py runs it for every registry entry at
sf0.001 and sf0.01, and tests/test_differential_random.py on a seeded
random table set.  Usage:

    python tools/check_oracle.py [query ...] [--sf /root/testdata/sf0.01]
"""
import argparse
import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    """Type-faithful cell rendering.

    The driver's hash is representation-sensitive (round 1 lesson: DuckDB
    SUM(BIGINT) -> HUGEINT -> Decimal hashed differently from Spark's int64
    even when values were equal), so each value is tagged with its Python
    type family: int vs Decimal vs float differ; naive vs tz-aware datetimes
    differ (isoformat carries the offset).  Rows must be fetched through
    Arrow (to_pylist) for DuckDB HUGEINT to surface as Decimal at all —
    fetchall() collapses it to int and masks the mismatch.
    """
    import datetime
    import decimal
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return f"bool:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "float:NaN"
        return f"float:{round(v, 6)!r}"
    if isinstance(v, int):
        return f"int:{v}"
    if isinstance(v, decimal.Decimal):
        return f"decimal:{v}"
    if isinstance(v, datetime.datetime):
        return f"ts:{v.isoformat()}"
    if isinstance(v, (bytes, bytearray)):
        return f"bytes:{bytes(v).hex()}"
    if isinstance(v, str):
        return f"str:{v}"
    return f"{type(v).__name__}:{v}"


def frame_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode("utf-8", "surrogateescape"))
        h.update(b"\n")
    return h.hexdigest()


def duck_views(sf_dir):
    """DuckDB connection with one view per input table present in
    ``sf_dir`` — the oracle side of every Spark-vs-DuckDB comparison."""
    import duckdb

    con = duckdb.connect()
    for tbl in TABLES:
        path = f"{sf_dir}/{tbl}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM read_parquet('{path}')")
    return con


def _arrow_rows(tab):
    cols = tab.column_names
    return cols, [tuple(d[c] for c in cols) for d in tab.to_pylist()]


def compare(spark, con, name, sf_dir):
    """Run REGISTRY[name] on Spark and its oracle on DuckDB (``con``, see
    duck_views) over the tables in ``sf_dir``.

    Returns ``(n_rows, problems)``; ``problems`` is empty when both sides
    agree on column names, row count and frame_hash, and the Spark output
    has only scalar columns (a list/map/struct cell is unhashable in the
    driver's canonicalizing sort).  Both sides are fetched through Arrow:
    the hash is type-sensitive and fetchall() collapses DuckDB HUGEINT to
    int, masking exactly the mismatch the hash exists to catch.  Engine
    errors propagate."""
    import pyarrow as pa

    from htmpark.queries import REGISTRY, resolve_sql

    fn, sql = REGISTRY[name]
    stab = fn(spark, sf_dir).toArrow()
    problems = [f"non-scalar column {f.name}: {f.type}"
                for f in stab.schema if pa.types.is_nested(f.type)]
    scols, srows = _arrow_rows(stab)
    dcols, drows = _arrow_rows(con.execute(resolve_sql(sql, sf_dir)).arrow())
    if sorted(scols) != sorted(dcols):
        problems.append(f"schema {scols} vs {dcols}")
    elif len(srows) != len(drows):
        problems.append(f"rows {len(srows)} vs {len(drows)}")
    elif frame_hash(scols, srows) != frame_hash(dcols, drows):
        sset = {tuple(norm_cell(v) for v in r) for r in srows}
        dset = {tuple(norm_cell(v) for v in r) for r in drows}
        problems.append(f"value-hash mismatch: spark-only="
                        f"{list(sset - dset)[:2]} duck-only="
                        f"{list(dset - sset)[:2]}")
    return len(srows), problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    args = ap.parse_args()

    from htmpark.job import build_session
    from htmpark.queries import REGISTRY

    con = duck_views(args.sf)
    spark = build_session("local[8]", shuffle_partitions=8, app_name="oracle-check")
    spark.sparkContext.setLogLevel("ERROR")

    failures = 0
    for name in args.queries or list(REGISTRY):
        try:
            n_rows, problems = compare(spark, con, name, args.sf)
        except Exception as e:
            n_rows, problems = None, [f"error: {e}"]
        if problems:
            print(f"FAIL  {name:32s} " + "; ".join(problems))
            failures += 1
        else:
            print(f"OK    {name:32s} rows={n_rows}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

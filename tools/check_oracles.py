"""Driver-mimicking correctness harness: run every queries() entry on
Spark and its oracle_sql() twin on DuckDB over the same sf dir, then
compare row count, column names and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df, cols):
    """pandas frame -> sorted list of row tuples over name-sorted cols."""
    df = df[cols]
    rows = [tuple(r) for r in df.itertuples(index=False, name=None)]
    return sorted(rows, key=lambda t: tuple((v is None, str(v)) for v in t))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    import __spark_entry__ as ent
    from linkgraph.session import get_spark

    spark = get_spark(app_name="check-oracles", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    # oracle_sql() derives the ANN auto-geometry from the gate corpus's
    # parquet footer; point it at the sf we are checking
    qs, osql = ent.queries(), ent.oracle_sql(sf_dir)
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        t_spark = time.time() - t0
        if name not in osql:
            print(f"SKIP {name}: no oracle (rows={len(sdf)}, {t_spark:.1f}s)")
            continue
        t0 = time.time()
        try:
            ddf = con.execute(osql[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        t_duck = time.time() - t0
        scols, dcols = sorted(sdf.columns), sorted(ddf.columns)
        if scols != dcols:
            print(f"FAIL {name}: schema {scols} vs {dcols}")
            failures += 1
            continue
        if len(sdf) != len(ddf):
            print(f"FAIL {name}: rows {len(sdf)} vs {len(ddf)}")
            failures += 1
            continue
        a, b = normalize(sdf, scols), normalize(ddf, scols)
        if a != b:
            bad = [(x, y) for x, y in zip(a, b) if x != y][:5]
            print(f"FAIL {name}: {sum(1 for x, y in zip(a, b) if x != y)} mismatched rows; first: {bad}")
            failures += 1
            continue
        print(f"OK   {name}: rows={len(sdf)} spark={t_spark:.1f}s duckdb={t_duck:.1f}s")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

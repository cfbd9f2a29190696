"""Local stand-in for the driver's correctness gate: runs every
queries() entry on Spark and its oracle_sql() on DuckDB at sf0.01,
compares row count, schema-width and order-insensitive values."""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from icdar_2019_rrc_sroie_spark.operators.indexes import (  # noqa: E402
    release_indexes,
)
from icdar_2019_rrc_sroie_spark.session import get_spark  # noqa: E402

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    # Mimic the driver: list/array-typed output columns are NOT
    # canonicalizable (pandas sort_values throws on unhashable lists).
    # Queries must serialize arrays (to_json) before returning.
    for c in df.columns:
        if df[c].map(lambda v: isinstance(v, (list, tuple))).any() or (
            df[c].dtype == object
            and df[c].map(lambda v: hasattr(v, "__array__")).any()
        ):
            raise TypeError(
                f"column {c!r} holds list/array values — driver "
                "canonicalizer would throw; serialize with to_json"
            )
    df = df.reindex(sorted(df.columns), axis=1)
    out = df.copy()
    for c in out.columns:
        # Spark yields Python None for NULLs while DuckDB→pandas yields
        # NaN/NaT; map(str) would stringify them differently ('None' vs
        # 'nan') and report false diffs on every NULL of a non-string
        # column (round-5 judge repro: 1600 phantom diffs on
        # similarity_topk.keep). Canonicalize all missing values to one
        # sentinel BEFORE stringify, like the driver does.
        out[c] = out[c].map(
            lambda v: "<null>" if v is None or pd.isna(v) else str(v))
    return out.sort_values(list(out.columns)).reset_index(drop=True)


def main(sf_dir: str = "/root/testdata/sf0.01", only: str | None = None):
    import __spark_entry__ as entry_mod

    spark = get_spark("oracle-check", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and only not in name:
            continue
        # operators persist index tables (LSH bands, simhash words,
        # LSH buckets) with no unpersist hook; release at the TOP of
        # each iteration so rows-only and failed queries (which
        # `continue` before the end of the loop body) don't leak
        # cache across the 60+ query battery; release_indexes also
        # sweeps tracked scratch dirs (oracle band/IVF indexes in the
        # temp root) once the prior query has been collected
        spark.catalog.clearCache()
        release_indexes()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error {str(e)[:300]}")
            continue
        if name not in oracles:
            try:
                normalize(spark_pdf)  # driver hashes rows-only outputs too
            except TypeError as e:
                failures.append((name, str(e)))
                print(f"FAIL {name}: {e}")
                continue
            print(f"ok?  {name}: rows-only ({len(spark_pdf)} rows)")
            continue
        try:
            duck_pdf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL {name}: duckdb error {str(e)[:300]}")
            continue
        a, b = normalize(spark_pdf), normalize(duck_pdf)
        if len(a) != len(b):
            failures.append((name, f"rows {len(a)} vs {len(b)}"))
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}")
        elif list(a.columns) != list(b.columns):
            failures.append((name, f"cols {list(a.columns)} vs {list(b.columns)}"))
            print(f"FAIL {name}: cols {list(a.columns)} vs {list(b.columns)}")
        elif not a.equals(b):
            neq = (a != b).any(axis=1)
            idx = a.index[neq][:3]
            failures.append((name, "values"))
            print(f"FAIL {name}: {int(neq.sum())} rows differ; e.g.")
            for i in idx:
                print("  spark:", a.loc[i].to_dict())
                print("  duck :", b.loc[i].to_dict())
        else:
            print(f"PASS {name} ({len(a)} rows)")
    release_indexes()  # final sweep: last query's scratch dirs
    print(f"\n{len(qs) - len(failures)}/{len(qs)} ok")
    return 1 if failures else 0


if __name__ == "__main__":
    # usage: check_oracles.py [name-substring] [--sf-dir PATH]
    args = sys.argv[1:]
    kw = {}
    if "--sf-dir" in args:
        i = args.index("--sf-dir")
        kw["sf_dir"] = args[i + 1]
        args = args[:i] + args[i + 2:]
    if args:
        kw["only"] = args[0]
    sys.exit(main(**kw))

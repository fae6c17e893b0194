"""Local stand-in for the driver's correctness gate: run every queries()
entry at sf0.01 on Spark AND its oracle_sql() on DuckDB, compare row count,
schema width, and order-insensitive values (columns sorted by name)."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from pdf_parser_spark.corpus import ensure_corpus  # noqa: E402
from pdf_parser_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, tuple)) else v
            )
        try:
            if df[c].dtype.kind == "f":
                df[c] = df[c].round(6)
        except Exception:
            pass
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _kinds(df: pd.DataFrame) -> dict:
    return {c: "i" if df[c].dtype.kind == "u" else df[c].dtype.kind
            for c in df.columns}


def compare(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> str | None:
    """The one cross-engine value comparison: None when the two results
    are equal after canon(), else the reason they differ.

    Same column names, row count and dtype kind per column (a kind
    mismatch, HUGEINT -> float64 against int64, changes a value hash even
    when the values compare equal), then order-insensitive
    values: floats within 1e-9 after 6-place rounding, NULL == NULL and
    NaN == NaN, anything else by its string form.
    """
    a, b = canon(spark_df), canon(oracle_df)
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return (f"spark {len(a)}x{list(a.columns)} vs "
                f"oracle {len(b)}x{list(b.columns)}")
    if _kinds(a) != _kinds(b):
        return f"dtype kinds {_kinds(a)} vs {_kinds(b)}"
    for c in a.columns:
        for i, (x, y) in enumerate(zip(a[c].tolist(), b[c].tolist())):
            if x is None and y is None:
                continue
            if isinstance(x, float) or isinstance(y, float):
                xf = float("nan") if x is None else float(x)
                yf = float("nan") if y is None else float(y)
                if (math.isnan(xf) and math.isnan(yf)) or abs(xf - yf) <= 1e-9:
                    continue
            elif str(x) == str(y):
                continue
            return f"col {c} row {i}: {x!r} vs {y!r}"
    return None


def main(only: str | None = None) -> int:
    ensure_corpus(SF_DIR)
    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and only not in name:
            continue
        if name not in oracles:
            print(f"FAIL {name}: no oracle")
            failures += 1
            continue
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            failures += 1
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            failures += 1
            continue
        reason = compare(sdf, ddf)
        if reason is None:
            print(f"OK   {name}: {len(sdf)} rows")
        else:
            failures += 1
            print(f"FAIL {name}: {reason}")
    spark.stop()
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else None))

"""Replicates the driver's correctness gate locally: runs every
queries() entry on Spark at sf0.01 and compares row count, column
names, per-column dtype kinds and order-insensitive values against
oracle_sql() in DuckDB (``compare_frames``).

    python tools/check_contract.py [SF_DIR] [NAME,NAME,...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            # Mirror the driver canonicalizer: it sorts RAW object
            # columns, so list/array values crash it.  Fail loudly here
            # instead of silently str-casting past the problem (that
            # masking is exactly how media_features went red in r2).
            head = df[c].dropna().head(50)
            if any(isinstance(v, (list, np.ndarray)) for v in head):
                raise TypeError(
                    f"column {c!r} carries list/array values — not "
                    "driver-canonicalizable; emit scalars (explode or "
                    "serialize) instead"
                )
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> tuple[str, str]:
    """The gate's one frame comparison: (status, detail), status one of
    OK, MISMATCH or CANON-ERROR.  OK needs equal row counts, equal
    column names, equal dtype kinds per column (numpy ``dtype.kind``:
    an int64 column against a float64 one is a MISMATCH, as it is for
    the driver's value hash) and bit-equal values after ``norm``."""
    try:
        g, w = norm(got), norm(want)
    except TypeError as ex:
        return "CANON-ERROR", str(ex)
    if len(g) != len(w) or list(g.columns) != list(w.columns):
        return "MISMATCH", (f"rows {len(g)}/{len(w)} "
                            f"cols {list(g.columns)}/{list(w.columns)}")
    bad = {c: (g[c].dtype.kind, w[c].dtype.kind) for c in g.columns
           if g[c].dtype.kind != w[c].dtype.kind}
    if bad:
        return "MISMATCH", f"dtype kinds (got, want) {bad}"
    try:
        # check_exact: the driver hashes VALUES — a float that differs
        # in the last ulp is a red row there, so the local gate must be
        # bit-strict too (a tolerant compare hid exactly such a drift in
        # two geo queries once)
        pd.testing.assert_frame_equal(g, w, check_dtype=False,
                                      check_exact=True)
    except AssertionError as ex:
        return "MISMATCH", str(ex)[:500]
    return "OK", f"{len(g)} rows"


def main(sf_dir: str = "/root/testdata/sf0.01", only: str | None = None) -> int:
    import __spark_entry__ as e
    from s2_geometry_rust_spark.session import get_spark

    spark = get_spark("contract-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    if only is None:
        print("== entry smoke ==")
        df = e.entry(spark)
        n = df.count()
        print(f"entry rows: {n}  schema: {df.schema.simpleString()}")
        assert n >= 0

    qs, oracles = e.queries(), e.oracle_sql()
    if only is not None:
        names = [s.strip() for s in only.split(",")]
        qs = {k: v for k, v in qs.items() if k in names}
    failures = 0
    for name, fn in qs.items():
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            failures += 1
            print(f"{name:28s} SPARK-ERROR {str(ex)[:200]}")
            continue
        if name not in oracles:
            print(f"{name:28s} rows-only: {len(got)} rows")
            continue
        try:
            want = con.execute(oracles[name]).fetchdf()
        except Exception as ex:
            failures += 1
            print(f"{name:28s} ORACLE-ERROR {str(ex)[:200]}")
            continue
        status, detail = compare_frames(got, want)
        if status != "OK":
            failures += 1
            print(f"{name:28s} {status} {detail}")
        else:
            print(f"{name:28s} OK ({detail})")
    spark.stop()
    return failures


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))

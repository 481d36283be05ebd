"""Expected registry-query results from DuckDB, never from Spark.

``expected(sf_dir, names)`` runs each query's ``__spark_entry__.oracle_sql()``
text on DuckDB over the Parquet tables in ``sf_dir``; ``compare`` checks a
Spark result against it the way ``scripts/oracle_check.py`` does: row
count, column set, dtype kind, then exact values regardless of row order.

Run as a script to rebuild the expected results, either of one seed's
generated tables or of an existing table directory; they are written as
``<out>/<query>.parquet``:

    python3 sitebench/oracle.py --seed 7 --out /tmp/sf [query ...]
    python3 sitebench/oracle.py --sf-dir /data/sf0.1 --out /tmp/expected [query ...]
"""

from __future__ import annotations

import argparse
import datetime as _dt
import os
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))


def expected(sf_dir: str, names: list[str]) -> dict[str, pd.DataFrame]:
    import duckdb

    # oracle texts that depend on corpus size read it from $SF_DIR
    os.environ["SF_DIR"] = sf_dir
    import __spark_entry__ as entry

    sqls = entry.oracle_sql()
    missing = [n for n in names if n not in sqls]
    if missing:
        raise KeyError(f"no oracle for {missing}")
    con = duckdb.connect()
    try:
        con.sql("SET threads TO 2")
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(sf_dir, f)
                con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
        return {n: con.sql(sqls[n]).df() for n in names}
    finally:
        con.close()


def _kind(s: pd.Series) -> str:
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    if s.dtype == object:
        vals = s.dropna().head(50)
        if len(vals) and all(isinstance(v, (_dt.date, _dt.datetime)) for v in vals):
            return "datetime"
        return "object"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    return "object"


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif s.dtype == object:
            df[c] = s.astype(str)
        else:
            df[c] = s.astype("float64")
    df = df.sort_values(by=list(df.columns), na_position="last", kind="mergesort")
    return df.reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Problems found comparing a Spark result with its oracle ([] = equal)."""
    problems = []
    if len(got) != len(want):
        problems.append(f"rowcount spark={len(got)} oracle={len(want)}")
    if sorted(got.columns) != sorted(want.columns):
        return problems + [f"columns spark={sorted(got.columns)} oracle={sorted(want.columns)}"]
    for c in got.columns:
        ks, ko = _kind(got[c]), _kind(want[c])
        if ks != ko and got[c].notna().any() and want[c].notna().any():
            problems.append(f"col {c}: dtype kind spark={ks} oracle={ko}")
    if problems:
        return problems
    a_all, b_all = _normalize(got), _normalize(want)
    for c in a_all.columns:
        a, b = a_all[c], b_all[c]
        if pd.api.types.is_float_dtype(a) and pd.api.types.is_float_dtype(b):
            eq = (a.isna() & b.isna()) | (a == b)
        else:
            eq = (a.isna() & b.isna()) | (a.astype(str) == b.astype(str))
        if not bool(eq.all()):
            problems.append(f"col {c}: {int((~eq).sum())} mismatches")
    return problems


def main() -> None:
    sys.path.insert(0, os.path.dirname(HERE))
    sys.path.insert(0, HERE)
    import tables

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--seed", type=int, help="generate the tables from this seed")
    src.add_argument("--sf-dir", help="use the Parquet tables already in this directory")
    ap.add_argument("--out", required=True)
    ap.add_argument("queries", nargs="*")
    a = ap.parse_args()
    from run import CURATION, TABLE_SCALE, TIMESERIES

    names = a.queries or TIMESERIES + CURATION
    if a.sf_dir:
        sf_dir, out = a.sf_dir, a.out
    else:
        sf_dir, out = tables.write_tables(a.seed, TABLE_SCALE, a.out), os.path.join(a.out, "expected")
    os.makedirs(out, exist_ok=True)
    for name, df in expected(sf_dir, names).items():
        df.to_parquet(os.path.join(out, f"{name}.parquet"))
        print(f"{name}: {len(df)} rows")


if __name__ == "__main__":
    main()

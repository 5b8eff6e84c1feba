"""Local stand-in for the driver's correctness gate: run a queries() entry
and its oracle_sql() twin at a given sf dir, compare rows / schema / dtype
kinds / values (columns sorted by name, rows sorted by all columns, so
row order does not matter).  Usage:

    python tools/compare_oracle.py sf_dir q1 [q2 ...]
    python tools/compare_oracle.py sf_dir all

Dtypes are compared by kind, the rule perfbench's oracle check uses:
integer widths may differ (DuckDB types ``generate_series`` BIGINT where
the engine emits INT), but an integer read back as a float (an uncast
DuckDB ``SUM``, typed HUGEINT) is a different kind and fails.  A name
that is not a gate fails before Spark starts.  The exit status is non-zero
on any FAIL.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def first_difference(s: pd.DataFrame, o: pd.DataFrame) -> str | None:
    """None when every column of the canonical frames agrees in dtype kind
    and value, else the first column that does not, with both dtypes."""
    for c in s.columns:
        if s[c].dtype.kind != o[c].dtype.kind:
            return f"column {c}: dtype {s[c].dtype}, oracle {o[c].dtype}"
        try:
            pd.testing.assert_series_equal(
                s[c], o[c], check_dtype=False, check_exact=True
            )
        except AssertionError as ex:
            detail = "\n    ".join(str(ex).splitlines()[:6])
            return (
                f"column {c}: values differ (dtype {s[c].dtype}, oracle "
                f"{o[c].dtype})\n    {detail}"
            )
    return None


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]

    import __spark_entry__ as E
    import vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark as vm

    oracles = E.oracle_sql()
    if names == ["all"]:
        names = list(E.QUERIES)
    unknown = [n for n in names if n not in oracles]
    if unknown:
        for name in unknown:
            print(f"{name}: FAIL not a gate")
        sys.exit(1)

    spark = vm.get_spark(app_name="cmp", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in E.DRIVER_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = E.queries()
    failed = []
    for name in names:
        s = canon(qs[name](spark, sf_dir).toPandas())
        o = canon(con.execute(oracles[name]).df())
        ok_rows = len(s) == len(o)
        ok_schema = list(s.columns) == list(o.columns)
        diff = first_difference(s, o) if ok_rows and ok_schema else None
        status = "PASS" if ok_rows and ok_schema and diff is None else "FAIL"
        print(
            f"{name}: {status} rows={len(s)}/{len(o)} "
            f"schema={'ok' if ok_schema else f'{list(s.columns)} vs {list(o.columns)}'}"
        )
        if status == "FAIL":
            failed.append(name)
            if diff is not None:
                print(f"  {diff}")
            elif not ok_rows:
                print(f"  spark-only sample:\n{s.head(3)}\n  oracle sample:\n{o.head(3)}")
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()

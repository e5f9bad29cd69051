"""Local replica of the driver's correctness gate.

Runs each ``__spark_entry__.queries()[name]`` on Spark and the matching
``oracle_sql()[name]`` on DuckDB (views = parquet files in the sf dir),
then compares row counts, column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_localize(None)
            df[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = np.round(s.astype("float64"), 6)
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("boolean")
        elif s.dtype == object:
            df[c] = s.where(pd.notna(s), None)
        else:
            try:
                df[c] = s.astype("Int64")
            except (TypeError, ValueError):
                pass
    return df.sort_values(list(df.columns), na_position="last").reset_index(drop=True)


def arrow_type_key(t) -> str:
    """Canonical serialized-type key used to replicate the driver's hash
    sensitivity.

    The driver hashes values at their serialized (arrow) types, so an
    int64 Spark column vs a DuckDB HUGEINT/decimal128 column mismatches
    even when every value is equal (the doc_length_histogram r4 bug) —
    and pandas-level comparison can't see it because ``.df()``/
    ``toPandas()`` both collapse to float64/object. Compare the raw
    arrow schema instead: nullable ints stay int64 in arrow (no float
    promotion false-positive) while HUGEINT stays decimal128.

    Strictness is calibrated to driver EVIDENCE, not guesswork: in r4
    the driver hashed `quality_filtered` green with Spark int32 vs
    DuckDB int64 (so integer/float WIDTHS fold — the hash is over
    pandas-level values), while `doc_length_histogram` hashed red with
    Spark int64 vs DuckDB decimal128 of identical values (so decimal,
    which converts to float/Decimal objects, must NOT fold into int).
    Representation-identical spellings fold too (string/large_string,
    tz on timestamps — the dialect rules forbid surfacing raw
    timestamps anyway).
    """
    import pyarrow as pa

    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_timestamp(t):
        return f"timestamp[{t.unit}]"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{arrow_type_key(t.value_type)}>"
    return str(t)


def compare_arrow_schemas(s_tbl, d_tbl) -> str | None:
    """Assert per-column serialized-type agreement before the tolerant
    value compare (returns a message for the first divergent column)."""
    d_types = {f.name: f.type for f in d_tbl.schema}
    for f in s_tbl.schema:
        if f.name not in d_types:
            continue  # column-name mismatch reported by compare_frames
        ks, kd = arrow_type_key(f.type), arrow_type_key(d_types[f.name])
        if ks != kd:
            return (
                f"column {f.name} serialized type differs: spark={ks} "
                f"duck={kd} — driver hash would mismatch"
            )
    return None


def compare_frames(sdf: pd.DataFrame, ddf: pd.DataFrame) -> str | None:
    """Driver-style compare (order-insensitive, 1e-9 float tolerance).

    Returns None when the frames match, else a short mismatch message.
    """
    if sorted(sdf.columns) != sorted(ddf.columns):
        return f"columns {sorted(sdf.columns)} vs {sorted(ddf.columns)}"
    # align ddf to sdf's column order before normalize so both frames
    # sort rows on identical keys (normalize sorts columns by name, but
    # belt-and-braces: a same-named differently-ordered frame must never
    # report a spurious row-order mismatch)
    ddf = ddf[list(sdf.columns)]
    s, d = normalize(sdf), normalize(ddf)
    if len(s) != len(d):
        return f"rows {len(s)} vs {len(d)}"
    for c in s.columns:
        a, b = s[c], d[c]
        if pd.api.types.is_float_dtype(a):
            eq = (a.fillna(1e301) - b.fillna(1e301)).abs() < 1e-9
        else:
            eq = a.fillna("~N~") == b.fillna("~N~") if a.dtype == object else (
                a.astype("object").where(a.notna(), "~N~")
                == b.astype("object").where(b.notna(), "~N~")
            )
        if not bool(eq.all()):
            return (
                f"column {c} differs, e.g. spark={list(s[c][~eq].head(3))} "
                f"duck={list(d[c][~eq].head(3))}"
            )
    return None


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from ml4logs_spark.session import get_spark

    qs, oracles = entry.queries(), entry.oracle_sql()
    # a misspelled name would otherwise run nothing and report 0 failures
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown query names: {unknown}", file=sys.stderr)
        return 2

    # no console progress bar: its carriage returns splice into the
    # OK/FAIL lines and break line-oriented consumers (grep/awk)
    spark = get_spark(
        cores=8, extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    con = duckdb.connect()
    for p in sorted(Path(sf_dir).glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")

    from ml4logs_spark import cache

    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            s_tbl = fn(spark, sf_dir).toArrow()
            sdf = s_tbl.to_pandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failed.append(name)
            cache.release_all()
            continue
        # the result is already collected — release the operators'
        # tracked diamond-node persists so a 70-query sweep doesn't
        # accumulate cached blocks across queries
        cache.release_all()
        sql = oracles.get(name)
        if sql is None:
            print(f"SKIP {name}: no oracle (rows-only, {len(sdf)} rows)")
            continue
        try:
            d_tbl = con.execute(sql).arrow()
            ddf = d_tbl.to_pandas()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            failed.append(name)
            continue
        err = compare_arrow_schemas(s_tbl, d_tbl) or compare_frames(sdf, ddf)
        if err:
            print(f"FAIL {name}: {err}")
            failed.append(name)
        else:
            print(f"OK   {name}: {len(sdf)} rows")
    spark.stop()
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())

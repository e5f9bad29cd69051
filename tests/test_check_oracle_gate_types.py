"""Regression tests for the local gate's driver-faithfulness on types.

Round-4 shipped a red driver row (`doc_length_histogram`) because DuckDB
`sum(BIGINT)` returns HUGEINT (serialized as decimal128) while Spark
emits int64 — identical VALUES, divergent serialized types, so the
driver's value-hash differed while the old pandas-level local compare
normalized both sides to Int64 and passed. These tests pin the arrow-
level schema check that now catches that class locally (VERDICT r4 #2).
"""

import sys
from pathlib import Path

import duckdb
import pyarrow as pa

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from check_oracle import arrow_type_key, compare_arrow_schemas, compare_frames


def test_uncast_duckdb_sum_fails_schema_check():
    con = duckdb.connect()
    # spark-side stand-in: what F.sum(long) serializes as
    s_tbl = pa.table({"k": ["a", "b"], "total": pa.array([3, 7], pa.int64())})
    # uncast DuckDB sum(BIGINT) -> HUGEINT -> decimal128
    d_tbl = con.execute(
        "SELECT k, sum(v) AS total FROM (VALUES ('a', 1), ('a', 2), "
        "('b', 7)) t(k, v) GROUP BY k"
    ).arrow()
    err = compare_arrow_schemas(s_tbl, d_tbl)
    assert err is not None and "total" in err, (
        "uncast DuckDB sum() must fail the serialized-type check "
        f"(got types {d_tbl.schema})"
    )
    # and the tolerant value compare alone would have (wrongly) passed —
    # documenting WHY the schema check is load-bearing
    assert compare_frames(s_tbl.to_pandas(), d_tbl.to_pandas()) is None

    # the repo's dialect rule fixes it
    d_ok = con.execute(
        "SELECT k, CAST(sum(v) AS BIGINT) AS total FROM (VALUES ('a', 1), "
        "('a', 2), ('b', 7)) t(k, v) GROUP BY k"
    ).arrow()
    assert compare_arrow_schemas(s_tbl, d_ok) is None


def test_int_width_divergence_is_forgiven():
    # driver evidence (r4): quality_filtered hashed GREEN with Spark
    # int32 n_tokens vs DuckDB int64 — the driver hashes pandas-level
    # values, so integer width folds; being stricter than the driver
    # would flag working queries
    s_tbl = pa.table({"r": pa.array([1, 2], pa.int32())})
    d_tbl = pa.table({"r": pa.array([1, 2], pa.int64())})
    assert compare_arrow_schemas(s_tbl, d_tbl) is None
    # ...but int vs float must NOT fold (repr '3' vs '3.0')
    f_tbl = pa.table({"r": pa.array([1.0, 2.0], pa.float64())})
    assert compare_arrow_schemas(s_tbl, f_tbl) is not None


def test_representation_identical_spellings_fold():
    assert arrow_type_key(pa.string()) == arrow_type_key(pa.large_string())
    assert arrow_type_key(pa.list_(pa.string())) == arrow_type_key(
        pa.large_list(pa.large_string())
    )
    assert arrow_type_key(pa.timestamp("us", tz="UTC")) == arrow_type_key(
        pa.timestamp("us")
    )
    assert arrow_type_key(pa.int64()) != arrow_type_key(pa.decimal128(38, 0))


def test_nullable_int_stays_int_in_arrow():
    # nulls must NOT trip the check: arrow keeps int64 (no float promotion)
    s_tbl = pa.table({"v": pa.array([1, None], pa.int64())})
    d_tbl = duckdb.connect().execute(
        "SELECT CAST(v AS BIGINT) AS v FROM (VALUES (1), (NULL)) t(v)"
    ).arrow()
    assert compare_arrow_schemas(s_tbl, d_tbl) is None


def test_unknown_query_name_fails_before_spark_starts(tmp_path):
    # a misspelled name used to run nothing and print "0 failures"
    import subprocess

    tool = Path(__file__).resolve().parent.parent / "tools" / "check_oracle.py"
    r = subprocess.run(
        [sys.executable, str(tool), str(tmp_path), "near_dups", "near_dupz"],
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode != 0
    assert "near_dupz" in r.stderr and "'near_dups'" not in r.stderr
    assert "failures" not in r.stdout

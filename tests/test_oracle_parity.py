"""Mirror of the driver's correctness gate: run each registered query
in Spark and its oracle SQL in DuckDB on the same parquet, compare
row multisets (columns sorted by name, cells normalized)."""

from __future__ import annotations

import datetime as dt
import math

import duckdb
import pytest

from kgflow.analytics.registry import ORACLE_SQL, QUERIES
from kgflow.analytics.tables import TABLES

SF_DIR = "/root/testdata/sf0.001"


def _norm_cell(v):
    import decimal

    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def _spark_rows(spark, name, sf_dir=SF_DIR):
    df = QUERIES[name](spark, sf_dir)
    cols = sorted(df.columns)
    return sorted(
        tuple(_norm_cell(r[c]) for c in cols) for r in df.collect()
    ), cols


def _duck_rows(name, sf_dir=SF_DIR, tables=TABLES):
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    res = con.execute(ORACLE_SQL[name])
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(_norm_cell(r[i]) for i in order) for r in rows
    ), sorted(cols)


@pytest.mark.parametrize("name", sorted(ORACLE_SQL))
def test_oracle_parity(spark, name):
    got, got_cols = _spark_rows(spark, name)
    want, want_cols = _duck_rows(name)
    assert got_cols == want_cols, f"{name}: column mismatch {got_cols} vs {want_cols}"
    assert len(got) == len(want), f"{name}: {len(got)} rows vs oracle {len(want)}"
    if got != want:
        diff_a = [r for r in got if r not in set(want)][:3]
        diff_b = [r for r in want if r not in set(got)][:3]
        raise AssertionError(f"{name}: value mismatch.\n spark-only={diff_a}\n duck-only={diff_b}")


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLE_SQL)))
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0
    assert df.columns


def test_supplier_risk_keeps_supplier_with_only_null_types(spark, tmp_path):
    """A supplier whose parts all have a NULL p_type still has products:
    it must report product_count > 0 and category_count 0, as the
    oracle's count(DISTINCT p_type) does, not drop to (0, 0)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tables = ("supplier", "part", "lineitem")
    for t in ("supplier", "lineitem"):
        pq.write_table(pq.read_table(f"{SF_DIR}/{t}.parquet"), tmp_path / f"{t}.parquet")
    li = pq.read_table(f"{SF_DIR}/lineitem.parquet", columns=["l_suppkey", "l_partkey"])
    victim = li["l_suppkey"][0].as_py()
    parts = pc.filter(li["l_partkey"], pc.equal(li["l_suppkey"], victim))
    part = pq.read_table(f"{SF_DIR}/part.parquet")
    nulled = pc.if_else(
        pc.is_in(part["p_partkey"], value_set=pc.unique(parts)),
        pa.scalar(None, pa.string()),
        part["p_type"],
    )
    part = part.set_column(part.schema.get_field_index("p_type"), "p_type", nulled)
    pq.write_table(part, tmp_path / "part.parquet")

    got, cols = _spark_rows(spark, "supplier_risk", str(tmp_path))
    want, want_cols = _duck_rows("supplier_risk", str(tmp_path), tables)
    assert cols == want_cols
    assert got == want
    row = dict(zip(cols, next(r for r in got if r[cols.index("s_suppkey")] == victim)))
    assert row["product_count"] > 0 and row["category_count"] == 0

"""Local mirror of the driver's correctness gate: run every queries() entry
at sf0.001 and compare against its oracle_sql() via DuckDB —
order-insensitive, column-name-sorted, exact values."""

from __future__ import annotations

import ast
import decimal
import math
from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


def _canon_value(v):
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_canon_value(x) for x in v)
    return v


def _canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon_value(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


def _duck_run(sql: str):
    con = duckdb.connect()
    for t in entry_mod.TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    rel = con.sql(sql)
    return rel.columns, rel.fetchall()


ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    s_cols, s_rows = _canon_rows(df.columns, [tuple(r) for r in df.collect()])
    d_cols_raw, d_rows_raw = _duck_run(ORACLES[name])
    d_cols, d_rows = _canon_rows(d_cols_raw, d_rows_raw)
    assert s_cols == d_cols, f"{name}: column mismatch {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    )
    mismatches = [
        (a, b) for a, b in zip(s_rows, d_rows) if a != b
    ]
    assert not mismatches, f"{name}: {len(mismatches)} row diffs, first: {mismatches[0]}"


def test_every_query_has_oracle_or_reason():
    # every queries() entry now carries a DuckDB oracle: kg_pipeline_edges
    # via golden VALUES from the sequential reference oracle, ann_ivf_topk
    # via full-probe (== exact brute force) SQL
    assert set(QUERIES) - set(ORACLES) == set()


def test_queries_dict_literals_repeat_no_key():
    """A repeated key in a dict literal silently keeps only its last value,
    so ``queries()`` would hide one registration behind another."""
    tree = ast.parse(Path(entry_mod.__file__).read_text())
    fn = next(
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "queries"
    )
    for node in ast.walk(fn):
        if isinstance(node, ast.Dict):
            keys = [ast.unparse(k) for k in node.keys if k is not None]
            repeated = sorted({k for k in keys if keys.count(k) > 1})
            assert not repeated, f"line {node.lineno}: repeated keys {repeated}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["query_id", "vec_id", "rank", "cosine_bp"]


def test_kg_pipeline_edges_rowsonly(spark):
    df = QUERIES["kg_pipeline_edges"](spark, SF_DIR)
    rows = df.collect()
    assert len(rows) > 0
    assert {r["pred"] for r in rows} <= {"maps-to", "maps-to-value"}

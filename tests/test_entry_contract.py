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


def test_vector_operators_share_one_top_k_and_one_rank_merge():
    """In similarity.py and pq.py, ``np.lexsort`` and ``row_number`` are
    called only by the shared helpers ``pinned_topk``/``rank_top_k``, the
    IVF probe order ``_probe_lists`` and the sequential reference twins the
    oracles use; anywhere else they would be a hand-rolled copy of the
    pinned tie rule."""
    allowed = {"pinned_topk", "rank_top_k", "_probe_lists"}
    ops = Path(entry_mod.__file__).parent / "omop_concept_automapper_spark/operators"
    for mod in ("similarity.py", "pq.py"):
        for node in ast.parse((ops / mod).read_text()).body:
            name = getattr(node, "name", "")
            if name in allowed or name.lstrip("_").startswith("sequential_"):
                continue
            for call in ast.walk(node):
                if not isinstance(call, ast.Call):
                    continue
                f = call.func
                callee = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
                assert callee not in ("lexsort", "row_number"), (
                    f"{mod}:{call.lineno}: {name or 'module level'} calls {callee}"
                )


def test_streaming_wiring_lives_in_the_fold_driver():
    """Only streaming/fold.py wires Structured Streaming queries and reads
    the exactly-once markers; any other streaming module that touches
    them carries its own copy of the drain, the sink or the replay
    check."""
    wiring = {
        "readStream",
        "writeStream",
        "foreachBatch",
        "awaitTermination",
        "applied_stream_batch_ids",
    }
    pkg = Path(entry_mod.__file__).parent / "omop_concept_automapper_spark/streaming"
    for path in sorted(pkg.glob("*.py")):
        if path.name == "fold.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            name = getattr(node, "attr", None) or getattr(node, "id", None)
            assert name not in wiring, f"{path.name}:{node.lineno} uses {name}"


def test_one_function_drives_the_linker():
    """Exactly one function of the package calls ``link_batch`` and runs
    the ``mapInPandas`` that yields ``LINK_RESULT_SCHEMA`` rows — the link
    driver.  A second caller would be a second linker, with its own spread,
    index loading and plan to keep in step."""
    pkg = Path(entry_mod.__file__).parent / "omop_concept_automapper_spark"
    callers: dict[str, set[str]] = {"link_batch": set(), "mapInPandas": set()}
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        tops = [n for n in tree.body if isinstance(n, ast.FunctionDef)] + [
            m for c in tree.body if isinstance(c, ast.ClassDef)
            for m in c.body if isinstance(m, ast.FunctionDef)
        ]
        for top in tops:
            for call in ast.walk(top):
                if not isinstance(call, ast.Call):
                    continue
                f = call.func
                callee = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
                args = call.args + [kw.value for kw in call.keywords]
                if callee == "link_batch" or (
                    callee == "mapInPandas"
                    and any(getattr(a, "id", "") == "LINK_RESULT_SCHEMA" for a in args)
                ):
                    callers[callee].add(f"{path.relative_to(pkg)}::{top.name}")
    assert len(callers["link_batch"]) == 1, callers
    assert callers["mapInPandas"] == callers["link_batch"], callers


def test_benchmark_patch_targets_exist():
    """``perfbench/workloads.py::pipeline_patches`` wraps runner globals,
    ``Pipeline`` stages and catalog methods by name; a name the program no
    longer defines would crash every traced benchmark run."""
    from omop_concept_automapper_spark import catalog
    from omop_concept_automapper_spark.plans import runner

    src = (Path(entry_mod.__file__).parent / "perfbench/workloads.py").read_text()
    fn = next(
        n for n in ast.walk(ast.parse(src))
        if isinstance(n, ast.FunctionDef) and n.name == "pipeline_patches"
    )
    owners = {"catalog.Table": catalog.Table, "catalog.Warehouse": catalog.Warehouse}
    looked_up = {"runner": [], "runner.Pipeline": [], **{k: [] for k in owners}}
    for node in ast.walk(fn):
        if isinstance(node, ast.Assign) and isinstance(node.value, ast.Dict):
            # layer_fns: runner global name -> span prefix
            looked_up["runner"] += [k.value for k in node.value.keys]
        elif isinstance(node, ast.For) and isinstance(node.iter, ast.List):
            elts = node.iter.elts
            if all(isinstance(e, ast.Constant) for e in elts):
                looked_up["runner.Pipeline"] += [e.value for e in elts]
            for e in elts:
                if isinstance(e, ast.Tuple):
                    owner = ast.unparse(e.elts[0])
                    looked_up[owner].append(e.elts[1].value)
    homes = {"runner": runner, "runner.Pipeline": runner.Pipeline, **owners}
    for owner, names in looked_up.items():
        assert names, f"no {owner} lookups found: pipeline_patches changed shape"
        missing = [n for n in names if n not in vars(homes[owner])]
        assert not missing, f"{owner} lacks {missing}"


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

"""The shared top-k kernel of the vector operators: ``pinned_topk`` against
a ``sorted()`` reference row by row (pure numpy), and the partial-then-merge
plans built on it returning the same rows whatever the partitioning of
their input."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from omop_concept_automapper_spark.operators.similarity import pinned_topk

_VALUES = [-np.inf, np.nan, -1.0, 0.0, 0.25, 0.25, 1.0]  # few values: many ties


def _reference(scores: np.ndarray, ids: np.ndarray, k: int) -> list[list[int]]:
    return [
        [j for _, _, j in sorted(
            (-s, int(ids[j]), j) for j, s in enumerate(row) if s > -np.inf
        )[:k]]
        for row in scores
    ]


@st.composite
def _cases(draw):
    n = draw(st.integers(1, 5))
    m = draw(st.integers(0, 12))
    scores = np.array(
        draw(st.lists(st.sampled_from(_VALUES), min_size=n * m, max_size=n * m)),
        dtype=np.float64,
    ).reshape(n, m)
    ids = np.array(draw(st.permutations(range(100, 100 + 3 * m)))[:m], dtype=np.int64)
    return scores, ids, draw(st.integers(0, 15))


@given(_cases())
@example((np.array([[0.5, 1.0, 0.5, 0.5, 0.2]]), np.array([9, 4, 7, 3, 1]), 2))
@example((np.array([[-np.inf, -np.inf, -np.inf]]), np.array([1, 2, 3]), 2))
@example((np.array([[0.3, -np.inf, 0.3]]), np.array([5, 6, 2]), 10))
@example((np.empty((1, 0)), np.empty(0, dtype=np.int64), 3))
@settings(max_examples=300, deadline=None, derandomize=True)
def test_pinned_topk_matches_sorted_reference(case):
    scores, ids, k = case
    rows, cols = pinned_topk(scores, ids, k)
    assert np.all(np.diff(rows) >= 0)
    got = [cols[rows == r].tolist() for r in range(scores.shape[0])]
    assert got == _reference(scores, ids, k)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def tied(spark):
    """300 vectors of dim 16 with exactly four ones.  Every cosine is a
    multiple of 1/4 and every ADC distance an integer, exact under any
    summation order or batch shape, so exact ties are everywhere and only
    the vec_id rule can order them.  Rows arrive in shuffled id order, so
    no position in a batch stands in for the id."""
    rng = np.random.default_rng(7)
    vecs = np.zeros((300, 16))  # row i is the vector of vec_id i
    for v in vecs:
        v[rng.choice(16, 4, replace=False)] = 1.0
    df = spark.createDataFrame(
        [(int(i), vecs[i].tolist()) for i in rng.permutation(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    return vecs, df


def _queries(vecs, ids):
    return pd.DataFrame({"query_id": ids, "vector": [vecs[i].tolist() for i in ids]})


def test_knn_join_rows_independent_of_partitioning(spark, tied):
    from omop_concept_automapper_spark.operators.similarity import knn_join

    vecs, df = tied
    qids = list(range(6))
    one, seven = (
        _rows(knn_join(spark, _queries(vecs, qids), df.repartition(n), k=5))
        for n in (1, 7)
    )
    assert one == seven
    shared = vecs[qids] @ vecs.T  # 4 * cosine, exact
    want = [
        (q, j, rank, int(shared[q, j]) * 2500)
        for q in qids
        for rank, (_, j) in enumerate(
            sorted((-shared[q, j], j) for j in range(len(vecs)))[:5], start=1
        )
    ]
    assert one == sorted(want)


def test_ivf_search_rows_independent_of_partitioning(spark, tied, tmp_path):
    from omop_concept_automapper_spark.operators.similarity import (
        ivf_build_index,
        ivf_search,
    )

    vecs, df = tied
    path = str(tmp_path / "ivf")
    cent = ivf_build_index(spark, df, path, n_centroids=8, fit_sample_rows=100)
    index = spark.read.parquet(path)
    queries = _queries(vecs, list(range(6)))
    one, seven = (
        _rows(ivf_search(spark, index.repartition(n), cent, queries, k=5, n_probe=3))
        for n in (1, 7)
    )
    assert one == seven
    assert len(one) == 6 * 5


def test_pq_adc_topk_rows_independent_of_partitioning(spark, tied):
    from omop_concept_automapper_spark.operators.pq import pq_adc_topk

    _, df = tied
    one, seven = (
        _rows(pq_adc_topk(spark, df.repartition(n), list(range(6)), k=5))
        for n in (1, 7)
    )
    assert one == seven
    assert len(one) == 6 * 5

"""Property-based tests for the blocked top-k kernel (pure numpy — no
Spark session needed): any blocking must produce exactly the brute-force
(-score, concept_id) ranking, any batching of the mentions the same link
rows, interactive search the linker's ranking, and the kernel's memory
stays bounded by its query chunk."""

from __future__ import annotations

import tracemalloc

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from omop_concept_automapper_spark.functions.embedder import embed_texts
from omop_concept_automapper_spark.operators.knn import (
    _blocked_topk,
    _decode_idx,
    _order_keys,
    build_vocab_index,
    link_batch,
)
from omop_concept_automapper_spark.plans.search import search_similar_concepts


def _brute_topk(q, matrix, k, mask):
    """Reference ranking: every concept scored on its own in float64 and
    rounded to float32, like the kernel's per-pair score (the products are
    exact; only the float64 summation order may differ, far below a float32
    rounding step at dimension 8), sorted by (-score, index)."""
    out = []
    for qi in range(q.shape[0]):
        scores = (matrix.astype(np.float64) @ q[qi].astype(np.float64)).astype(
            np.float32
        )
        if mask is not None:
            scores = np.where(mask, scores, -np.inf)
        order = np.lexsort((np.arange(len(scores)), -scores))
        out.append([int(i) for i in order[:k] if scores[i] > -np.inf])
    return out


@given(
    n_vocab=st.integers(3, 60),
    k=st.integers(1, 12),
    block_rows=st.integers(1, 16),
    seed=st.integers(0, 10_000),
    mask_frac=st.floats(0.0, 0.9),
)
@settings(max_examples=60, deadline=None, derandomize=True)
def test_blocked_topk_equals_bruteforce(n_vocab, k, block_rows, seed, mask_frac):
    rng = np.random.default_rng(seed)
    dim = 8
    matrix = rng.standard_normal((n_vocab, dim)).astype(np.float32)
    # inject exact duplicate rows to force score ties, and a row one ulp
    # away to force near ties that a gemm may order either way
    if n_vocab >= 6:
        matrix[1] = matrix[0]
        matrix[5] = matrix[0]
        matrix[3] = np.nextafter(matrix[0], np.float32(np.inf))
    q = rng.standard_normal((3, dim)).astype(np.float32)
    mask = rng.random(n_vocab) >= mask_frac
    if not mask.any():
        mask[0] = True

    keys, counts = _blocked_topk(q, matrix, k, mask, block_rows)
    neg_inf_key = _order_keys(
        np.float32(-np.inf).reshape(1, 1), np.zeros(1, np.int64)
    )[0, 0]
    wants = _brute_topk(q, matrix, k, mask)
    for qi in range(q.shape[0]):
        got_keys = keys[qi][keys[qi] > neg_inf_key][:k]
        got = [int(i) for i in _decode_idx(got_keys)]
        assert got == wants[qi], (got, wants[qi])
        assert counts[qi] == min(k, int(mask.sum()))


def _near_tie_vocab(n_concepts: int, seed: int) -> pd.DataFrame:
    """Synthetic concept names built from a few shared syllables: their
    character-n-gram embeddings are small integer count vectors, so many
    mention/concept scores are equal in exact arithmetic and differ only by
    float32 rounding — the near ties at the top-k boundary that a gemm
    rounds differently from one call shape to the next."""
    rng = np.random.default_rng(seed)
    syllables = ["ba", "bo", "ka", "ki", "lo", "ma", "mi", "no", "ra", "ri", "ta", "tu"]
    names: set[str] = set()
    while len(names) < n_concepts:
        words = [
            "".join(rng.choice(syllables, size=rng.integers(2, 4)))
            for _ in range(rng.integers(1, 3))
        ]
        names.add(" ".join(words))
    names_l = sorted(names)
    return pd.DataFrame(
        {
            "concept_id": np.arange(1, len(names_l) + 1, dtype=np.int64),
            "concept_name": names_l,
            "domain_id": ["Condition"] * len(names_l),
            "atc7_codes": [[] for _ in names_l],
            "vector": list(embed_texts(names_l)),
        }
    )


def _near_tie_mentions(vocab: pd.DataFrame) -> pd.DataFrame:
    """600 non-drug mentions drawn from the vocabulary's names."""
    rng = np.random.default_rng(11)
    texts = list(rng.choice(vocab["concept_name"].to_numpy(), size=600, replace=False))
    # typos (a dropped character) keep exact matches from deciding every row
    texts = [t[:-1] if i % 3 == 0 else t for i, t in enumerate(texts)]
    return pd.DataFrame(
        {
            "mention_id": np.arange(len(texts), dtype=np.int64),
            "mention_text": texts,
            "is_drug": [False] * len(texts),
            "atc7": [""] * len(texts),
        }
    )


def test_link_batch_is_batch_independent():
    """A mention's candidates, chosen concept and score are a function of
    the mention alone: linking in one batch, in four slices and one row at
    a time gives identical rows.  The parallel link split changes which
    mentions share a batch, so this is what keeps that split exact."""
    vocab = _near_tie_vocab(2000, seed=7)
    index = build_vocab_index(vocab)
    mentions = _near_tie_mentions(vocab)
    cols = ["mention_id", "concept_id", "score", "candidate_ids"]

    def linked(parts):
        out = pd.concat([link_batch(p, index)[cols] for p in parts])
        return out.sort_values("mention_id").reset_index(drop=True)

    whole = linked([mentions])
    assert whole["candidate_ids"].map(len).eq(15).all()
    for parts in (
        [mentions.iloc[ix] for ix in np.array_split(np.arange(len(mentions)), 4)],
        [mentions.iloc[[i]] for i in range(len(mentions))],
    ):
        got = linked(parts)
        assert got["concept_id"].tolist() == whole["concept_id"].tolist()
        assert got["score"].tolist() == whole["score"].tolist()
        assert got["candidate_ids"].map(list).tolist() == (
            whole["candidate_ids"].map(list).tolist()
        )


def test_search_ranks_like_the_linker():
    """Interactive search returns, for every mention text, the linker's
    candidates in the linker's order, and the linker's score at the
    concept it chose — on a vocabulary full of float32 near ties, where a
    gemm ranking disagrees with the per-pair one."""
    vocab = _near_tie_vocab(2000, seed=7)
    index = build_vocab_index(vocab)
    mentions = _near_tie_mentions(vocab)
    links = link_batch(mentions, index)
    for text, cands, chosen, score in zip(
        links["mention_text"], links["candidate_ids"], links["concept_id"],
        links["score"],
    ):
        hits = search_similar_concepts(index, text, k=15)
        assert [h["concept_id"] for h in hits] == list(cands), text
        assert {h["concept_id"]: h["score"] for h in hits}[chosen] == score, text


def test_blocked_topk_memory_is_bounded_by_the_query_chunk():
    """2048 queries x 8192 unit vectors: scoring a chunk of queries at a
    time keeps the traced peak a few chunk x block working sets — a single
    2048 x 8192 int64 array is already 134 MB."""
    rng = np.random.default_rng(5)

    def unit(n):
        v = rng.standard_normal((n, 64)).astype(np.float32)
        return v / np.linalg.norm(v, axis=1, keepdims=True)

    q, matrix = unit(2048), unit(8192)
    tracemalloc.start()
    try:
        keys, counts = _blocked_topk(q, matrix, 30, None, 65536)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert keys.shape == (2048, 30) and (counts == 30).all()
    assert peak < 48 * 2**20, peak / 2**20

"""Distributed BPE merge learning (operators/bpe.py): equality with the
sequential twin on randomized corpora, non-overlapping merge semantics,
the min_count early stop, tie determinism, and layout invariance."""

from __future__ import annotations

import random

import pytest

from omop_concept_automapper_spark.operators import bpe as bpe_mod
from omop_concept_automapper_spark.operators.bpe import (
    learn_bpe_merges,
    sequential_bpe_merges,
)


def _df(spark, texts, parts=None):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    return df.repartition(parts) if parts else df


def test_nonoverlapping_merge_semantics(spark):
    # "aaaa" + (a,a) must become (aa, aa), then (aaaa) — never (aa)x3
    texts = ["aaaa aaaa baaa"]
    got = learn_bpe_merges(_df(spark, texts), 3, min_count=1, local_threshold_symbols=0)
    want = sequential_bpe_merges(texts, 3, min_count=1)
    assert got == want
    assert got[0][1] == "a" and got[0][2] == "a"


def test_min_count_early_stop(spark):
    texts = ["ab cd ef"]  # every pair occurs once
    assert learn_bpe_merges(_df(spark, texts), 5, local_threshold_symbols=0) == []
    assert learn_bpe_merges(_df(spark, texts), 5, min_count=1, local_threshold_symbols=0) != []


def test_tie_breaks_lexicographically(spark):
    # "xy" and "ab" both occur twice: (a,b) < (x,y) wins rank 1
    texts = ["xy xy ab ab"]
    got = learn_bpe_merges(_df(spark, texts), 2, local_threshold_symbols=0)
    assert got[0][1:3] == ("a", "b")
    assert got[1][1:3] == ("x", "y")


@pytest.mark.parametrize("seed", [1, 8])
def test_against_sequential_fuzz(spark, seed):
    rng = random.Random(seed)
    alphabet = "abcdef"
    texts = [
        " ".join(
            "".join(
                rng.choice(alphabet) for _ in range(rng.randrange(1, 7))
            )
            for _ in range(rng.randrange(3, 15))
        )
        for _ in range(25)
    ]
    got = learn_bpe_merges(_df(spark, texts), 12, local_threshold_symbols=0)
    want = sequential_bpe_merges(texts, 12)
    assert got == want and len(got) > 3


def test_layout_invariance_and_null_text(spark):
    texts = ["the cat sat", "the cat ran", "the bat sat", None]
    a = learn_bpe_merges(_df(spark, texts), 6, local_threshold_symbols=0)
    b = learn_bpe_merges(_df(spark, texts, parts=7), 6, local_threshold_symbols=0)
    assert a == b == sequential_bpe_merges(texts, 6)


def test_validation(spark):
    df = _df(spark, ["x"])
    with pytest.raises(ValueError):
        learn_bpe_merges(df, 0)
    with pytest.raises(ValueError):
        learn_bpe_merges(df, 3, min_count=0)


@pytest.mark.parametrize("seed", [3, 11])
def test_local_fast_path_equals_distributed_loop(spark, seed):
    # r7: below the symbol-count threshold the merge loop runs on the
    # driver over the Spark-computed word table; force each path
    # explicitly and require identical merge tables (and both equal to
    # the sequential twin).
    rng = random.Random(seed)
    alphabet = "abcdefgh"
    texts = [
        " ".join(
            "".join(
                rng.choice(alphabet) for _ in range(rng.randrange(1, 8))
            )
            for _ in range(rng.randrange(2, 12))
        )
        for _ in range(30)
    ]
    local = learn_bpe_merges(
        _df(spark, texts), 10, local_threshold_symbols=10**9
    )
    dist = learn_bpe_merges(_df(spark, texts), 10, local_threshold_symbols=0)
    assert local == dist == sequential_bpe_merges(texts, 10)
    assert len(local) > 2


def test_malformed_local_symbols_setting_falls_back_to_default(spark, monkeypatch):
    """A malformed threshold warns and keeps the 2^20-symbol default, so a
    tiny corpus still takes the local loop."""
    texts = ["pack my box", "pack my bag"]
    want = sequential_bpe_merges(texts, 4)
    calls = []
    real = bpe_mod._merge_loop_local

    def spy(*args):
        calls.append(args)
        return real(*args)

    monkeypatch.setattr(bpe_mod, "_merge_loop_local", spy)
    monkeypatch.setenv("SPARK_GRAFT_BPE_LOCAL_SYMBOLS", "1e6")
    with pytest.warns(UserWarning, match="SPARK_GRAFT_BPE_LOCAL_SYMBOLS='1e6'"):
        got = learn_bpe_merges(_df(spark, texts), 4)
    assert got == want
    assert len(calls) == 1  # the local loop ran: the default held


def test_local_fast_path_default_threshold_and_empty(spark, monkeypatch):
    # the env-default threshold routes a tiny corpus through the local
    # loop (same answer), and an all-null corpus yields no merges
    monkeypatch.delenv("SPARK_GRAFT_BPE_LOCAL_SYMBOLS", raising=False)
    texts = ["pack my box", "pack my bag"]
    assert learn_bpe_merges(_df(spark, texts), 4) == sequential_bpe_merges(
        texts, 4
    )
    assert learn_bpe_merges(_df(spark, [None]), 3) == []

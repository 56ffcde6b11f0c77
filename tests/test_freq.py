"""Frequency operators: two-phase exact-verified heavy hitters and
deterministic sampling (operators/freq.py) — checked against pure-Python
exact references, plus the properties that matter at scale: partition-
layout independence of the final output, the Misra–Gries superset
guarantee of phase 1, the no-shuffle plan of the hash sampler, and
by-key atomicity of the Bernoulli sample."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from omop_concept_automapper_spark.operators.freq import (
    _mg_trim,
    heavy_hitters,
    sample_by_hash,
    stratified_sample,
)


def _zipfish_rows(seed: int, n: int) -> list[tuple[str, str]]:
    """(group, value) rows with a skewed value distribution — a few very
    hot values over a long uniform tail."""
    rng = random.Random(seed)
    rows = []
    for _ in range(n):
        g = rng.choice(["en", "de"])
        if rng.random() < 0.4:
            v = rng.choice(["hot_a", "hot_b", "hot_c"])
        else:
            v = f"tail_{rng.randrange(500)}"
        rows.append((g, v))
    return rows


def _exact_hh(rows, num, den, grouped):
    from collections import Counter

    out = {}
    if grouped:
        by_g: dict[str, Counter] = {}
        for g, v in rows:
            by_g.setdefault(g, Counter())[v] += 1
        for g, c in by_g.items():
            total = sum(c.values())
            for v, f in c.items():
                if f * den >= num * total:
                    out[(g, v)] = (f, total)
    else:
        c = Counter(v for _, v in rows)
        total = sum(c.values())
        for v, f in c.items():
            if f * den >= num * total:
                out[(v,)] = (f, total)
    return out


@pytest.mark.parametrize("grouped", [False, True])
def test_heavy_hitters_match_exact_counts(spark, grouped):
    rows = _zipfish_rows(11, 4000)
    df = spark.createDataFrame(rows, "grp string, val string")
    groups = ["grp"] if grouped else None
    got = heavy_hitters(
        df, "val", threshold_num=1, threshold_den=50, group_cols=groups
    ).collect()
    want = _exact_hh(rows, 1, 50, grouped)
    got_map = {
        ((r["grp"], r["val"]) if grouped else (r["val"],)): (
            r["freq"],
            r["total"],
        )
        for r in got
    }
    assert got_map == want
    assert want, "fixture must actually produce heavy hitters"


def test_heavy_hitters_independent_of_partition_layout(spark):
    rows = _zipfish_rows(12, 3000)
    df = spark.createDataFrame(rows, "grp string, val string")

    def run(d):
        return sorted(
            (r["val"], r["freq"], r["total"])
            for r in heavy_hitters(d, "val", 1, 40).collect()
        )

    assert run(df.repartition(1)) == run(df.repartition(13, "val")) == run(
        df.repartition(7)
    )


def test_heavy_hitters_drops_null_values_and_groups(spark):
    df = spark.createDataFrame(
        [("en", "x"), ("en", None), (None, "x"), ("en", "x")],
        "grp string, val string",
    )
    rows = heavy_hitters(df, "val", 1, 2, group_cols=["grp"]).collect()
    # only the two non-null ("en", "x") rows count: freq 2 of total 2
    assert [(r["grp"], r["val"], r["freq"], r["total"]) for r in rows] == [
        ("en", "x", 2, 2)
    ]


def test_mg_trim_keeps_superset_of_heavy_items():
    """The module-level guarantee on the exact structure phase 1 uses:
    after any stream is folded through batch-count + _mg_trim, every item
    with true frequency >= n/(cap) survives (cap = ceil(den/num) makes
    the undercount bound n/(cap+1) strictly smaller)."""
    rng = random.Random(99)
    stream = [rng.choice("abc") for _ in range(900)] + [
        f"t{rng.randrange(1000)}" for _ in range(2000)
    ]
    rng.shuffle(stream)
    cap = 20  # threshold 1/20
    counters: dict[str, int] = {}
    for i in range(0, len(stream), 128):  # batched merge, like mapInPandas
        from collections import Counter

        for v, c in Counter(stream[i : i + 128]).items():
            counters[v] = counters.get(v, 0) + c
            _mg_trim(counters, cap)
    from collections import Counter

    true = Counter(stream)
    n = len(stream)
    heavy = {v for v, f in true.items() if f * 20 >= n}
    assert heavy, "fixture must contain heavy items"
    assert heavy <= set(counters), "MG summary lost a heavy item"
    assert len(counters) <= cap


def test_sample_by_hash_is_by_key_and_deterministic(spark):
    rows = [(i % 200, i) for i in range(2000)]
    df = spark.createDataFrame(rows, "key long, payload long")
    s1 = sample_by_hash(df, "key", 10, 100).collect()
    s2 = sample_by_hash(df.repartition(9), "key", 10, 100).collect()
    assert sorted((r["key"], r["payload"]) for r in s1) == sorted(
        (r["key"], r["payload"]) for r in s2
    )
    # by-key atomicity: every sampled key keeps ALL its 10 payload rows
    from collections import Counter

    per_key = Counter(r["key"] for r in s1)
    assert per_key and all(c == 10 for c in per_key.values())
    # rate sanity: 10% of 200 keys, binomially spread
    assert 5 <= len(per_key) <= 40


def test_sample_by_hash_plan_has_no_shuffle(spark):
    df = spark.range(1000).select(F.col("id").alias("key"))
    plan = sample_by_hash(df, "key", 1, 10)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_stratified_sample_sizes_and_determinism(spark):
    rows = [(f"s{i % 3}", i) for i in range(900)] + [("rare", 1_000_000)]
    df = spark.createDataFrame(rows, "stratum string, key long")
    out1 = stratified_sample(df, ["stratum"], "key", 7).collect()
    out2 = stratified_sample(
        df.repartition(11, "key"), ["stratum"], "key", 7
    ).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    from collections import Counter

    sizes = Counter(r["stratum"] for r in out1)
    assert sizes == {"s0": 7, "s1": 7, "s2": 7, "rare": 1}
    ranks = sorted(r["sample_rank"] for r in out1 if r["stratum"] == "s0")
    assert ranks == [1, 2, 3, 4, 5, 6, 7]


def test_heavy_hitters_rejects_bad_threshold(spark):
    df = spark.createDataFrame([("x",)], "val string")
    with pytest.raises(ValueError):
        heavy_hitters(df, "val", 0, 10)
    with pytest.raises(ValueError):
        sample_by_hash(df, "val", 0, 10)
    with pytest.raises(ValueError):
        stratified_sample(df, ["val"], "val", 0)


# ---------------------------------------------------------------- quantiles


def _py_percentile_disc(vals, q_bp):
    """Smallest v with count(<= v) * 10000 >= q_bp * n — i.e. the value at
    1-based sorted index ceil(q_bp * n / 10000)."""
    s = sorted(vals)
    idx = -(-q_bp * len(s) // 10000)  # ceil
    return s[idx - 1]


@pytest.mark.parametrize("grouped", [False, True])
def test_exact_quantiles_match_python_reference(spark, grouped):
    from omop_concept_automapper_spark.operators.freq import exact_quantiles

    rng = random.Random(7)
    rows = [
        (rng.choice(["a", "b"]), rng.choice([-5, 0, 3, 3, 3, 7, 11, 40]))
        for _ in range(1500)
    ]
    df = spark.createDataFrame(rows, "grp string, n int")
    qs = [1, 2500, 5000, 9000, 10000]
    got = exact_quantiles(
        df, "n", qs, group_cols=["grp"] if grouped else None
    ).collect()
    if grouped:
        by_g: dict[str, list[int]] = {}
        for g, v in rows:
            by_g.setdefault(g, []).append(v)
        want = {
            (g, q): _py_percentile_disc(vs, q)
            for g, vs in by_g.items()
            for q in qs
        }
        assert {(r["grp"], r["q_bp"]): r["n"] for r in got} == want
    else:
        vals = [v for _, v in rows]
        assert {r["q_bp"]: r["n"] for r in got} == {
            q: _py_percentile_disc(vals, q) for q in qs
        }
    # n_le / n_total carry the evidence for each pick
    for r in got:
        assert r["n_le"] * 10000 >= r["q_bp"] * r["n_total"]


def test_exact_quantiles_layout_independent_and_null_safe(spark):
    from omop_concept_automapper_spark.operators.freq import exact_quantiles

    rows = [(None if i % 7 == 0 else f"g{i % 2}", i % 13) for i in range(400)]
    df = spark.createDataFrame(rows, "grp string, n int")

    def run(d):
        return sorted(
            (
                (r["grp"], r["q_bp"], r["n"], r["n_le"], r["n_total"])
                for r in exact_quantiles(
                    d, "n", [5000, 10000], group_cols=["grp"]
                ).collect()
            ),
            key=lambda t: (t[0] is None, t),
        )

    out = run(df.repartition(1))
    assert out == run(df.repartition(17))
    # the NULL group is a group: it has its own median + max rows
    assert {g for g, *_ in out} == {None, "g0", "g1"}


def test_exact_quantiles_excludes_null_values_and_validates(spark):
    from omop_concept_automapper_spark.operators.freq import exact_quantiles

    df = spark.createDataFrame(
        [(1,), (None,), (3,), (None,), (5,)], "n int"
    )
    got = {r["q_bp"]: (r["n"], r["n_total"]) for r in
           exact_quantiles(df, "n", [5000, 10000]).collect()}
    assert got == {5000: (3, 3), 10000: (5, 3)}
    with pytest.raises(ValueError):
        exact_quantiles(df, "n", [])
    with pytest.raises(ValueError):
        exact_quantiles(df, "n", [0])
    with pytest.raises(ValueError):
        exact_quantiles(df, "n", [10001])
    with pytest.raises(TypeError):
        exact_quantiles(
            spark.createDataFrame([(1.5,)], "n double"), "n", [5000]
        )


def test_exact_quantiles_plan_never_collapses_to_one_task(spark):
    """Grouped plan: NO SinglePartition anywhere — the cumulative count
    rides the two-phase running total, not a global-order window.  (The
    ungrouped variant legitimately has ONE SinglePartition: the final
    1-row grand-total aggregate, whose input is the already-aggregated
    O(partitions) partials — not a data collapse.)"""
    from omop_concept_automapper_spark.operators.freq import exact_quantiles

    df = spark.range(5000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 97).cast("int").alias("n"),
    )
    plan = (
        exact_quantiles(df, "n", [5000], group_cols=["g"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange SinglePartition" not in plan


# ------------------------------------------------------------------ tf-idf


def test_tfidf_top_terms_matches_python_reference(spark):
    from collections import Counter

    from omop_concept_automapper_spark.operators.freq import tfidf_top_terms

    docs = [
        (1, "apple banana apple cherry"),
        (2, "banana banana durian"),
        (3, "apple cherry cherry cherry"),
        (4, None),
        (5, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["term"], r["tf"], r["df"], r["score"], r["term_rank"])
        for r in tfidf_top_terms(
            df, "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+"), k=2
        ).collect()
    )

    # python reference with the same rational scoring
    tf: dict[tuple, int] = {}
    for d, text in docs:
        if text is None:
            continue
        for t in text.strip().lower().split():
            tf[(d, t)] = tf.get((d, t), 0) + 1
    # empty text tokenizes to [''] in both engines — mirror that
    if ("" in [t for _, t in docs if t == ""]):
        tf[(5, "")] = 1
    dfreq = Counter(t for _, t in tf)
    want = []
    for d in {d for d, _ in tf}:
        scored = sorted(
            (
                (-(tf[(dd, t)] * 1_000_000 // dfreq[t])), t
            )
            for (dd, t) in tf
            if dd == d
        )
        for rank, (negscore, t) in enumerate(scored[:2], start=1):
            want.append((d, t, tf[(d, t)], dfreq[t], -negscore, rank))
    assert got == sorted(want)


def test_tfidf_rare_terms_outrank_common_at_equal_tf(spark):
    from omop_concept_automapper_spark.operators.freq import tfidf_top_terms

    # 'common' appears in every doc, 'rare' in one: at tf=1 each,
    # rare must rank first
    docs = [(i, "common rare" if i == 0 else "common filler") for i in range(6)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    top = {
        r["doc_id"]: r["term"]
        for r in tfidf_top_terms(
            df, "doc_id", F.split(F.col("text"), " "), k=1
        ).collect()
    }
    assert top[0] == "rare"


def test_tfidf_validation(spark):
    from omop_concept_automapper_spark.operators.freq import tfidf_top_terms

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        tfidf_top_terms(df, "doc_id", F.split(F.col("text"), " "), k=0)
    with pytest.raises(ValueError):
        tfidf_top_terms(df, "doc_id", F.split(F.col("text"), " "), k=1, scale=0)


def test_winsorize_matches_exact_reference(spark):
    from omop_concept_automapper_spark.operators.freq import winsorize

    rng = random.Random(5)
    rows = [("g" + str(i % 2), rng.randrange(0, 1000)) for i in range(400)]
    rows += [("g0", 10**6), ("g1", -(10**6))]  # extreme outliers
    df = spark.createDataFrame(rows, "g string, v long")
    out = winsorize(df, "v", 500, 9500, group_cols=["g"]).collect()

    import math

    def disc(vals, bp):
        s = sorted(vals)
        n = len(s)
        # smallest v with count(<= v) * 10000 >= bp * n
        return s[math.ceil(bp * n / 10000) - 1]

    by_g = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    bounds = {
        g: (disc(vs, 500), disc(vs, 9500)) for g, vs in by_g.items()
    }
    for r in out:
        lo, hi = bounds[r["g"]]
        want = min(max(r["v"], lo), hi)
        assert r["v_wins"] == want
        assert r["_clipped"] == (-1 if r["v"] < lo else 1 if r["v"] > hi else 0)
    # the extremes really got clipped
    clipped = [r for r in out if r["_clipped"] != 0]
    assert len(clipped) >= 2


def test_winsorize_null_passthrough_and_validation(spark):
    from omop_concept_automapper_spark.operators.freq import winsorize

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("a", None)], "g string, v long"
    )
    out = {
        (r["g"], r["v"]): (r["v_wins"], r["_clipped"])
        for r in winsorize(df, "v", 2500, 7500, ["g"]).collect()
    }
    assert out[("a", None)] == (None, 0)
    with pytest.raises(ValueError):
        winsorize(df, "v", 0, 9000)
    with pytest.raises(ValueError):
        winsorize(df, "v", 9000, 100)


def test_winsorize_clips_null_group_to_its_own_bounds(spark):
    from omop_concept_automapper_spark.operators.freq import winsorize

    # every fourth row has a NULL group; the NULL group gets its own
    # bounds from the groupBy, so its rows must come out clipped, not lost
    rows = [(i, None if i % 4 == 0 else f"g{i % 2}", (i * 37) % 101)
            for i in range(40)]
    rows[0] = (0, None, 10**6)  # an outlier only the NULL group's hi clips
    df = spark.createDataFrame(rows, "id long, grp string, v long")
    out = winsorize(df, "v", 1000, 9000, group_cols=["grp"]).collect()
    assert sorted(r["id"] for r in out) == list(range(40))

    null_vals = sorted(v for _, g, v in rows if g is None)
    lo, hi = null_vals[0], null_vals[8]  # 10th / 90th pct of 10 values
    for r in out:
        if r["grp"] is None:
            assert r["v_wins"] == min(max(r["v"], lo), hi)
    assert {r["id"]: r["_clipped"] for r in out}[0] == 1


def test_winsorize_keeps_all_null_group_rows_unclipped(spark):
    from omop_concept_automapper_spark.operators.freq import winsorize

    # group b has only NULL values, so exact_quantiles gives it no bounds
    # row; its rows must still pass through, unclipped like any NULL value
    df = spark.createDataFrame(
        [("a", 1), ("a", 5), ("b", None), ("b", None)], "g string, v long"
    )
    out = sorted(
        (r["g"], r["v"], r["v_wins"], r["_clipped"])
        for r in winsorize(df, "v", 100, 9900, ["g"]).collect()
    )
    assert out == [
        ("a", 1, 1, 0),
        ("a", 5, 5, 0),
        ("b", None, None, 0),
        ("b", None, None, 0),
    ]

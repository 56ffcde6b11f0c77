"""Operator-level tests: ATC7 derivation, salted agg, connected components,
knn filter semantics (MatchAny-on-array = any-overlap, domain filter,
zero-hit behavior)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from omop_concept_automapper_spark.fixtures.vocabulary import vocab_dataframes
from omop_concept_automapper_spark.functions.text import atc7_extract
from omop_concept_automapper_spark.operators.connected_components import (
    connected_components,
)
from omop_concept_automapper_spark.operators.knn import build_vocab_index, link_batch
from omop_concept_automapper_spark.operators.salted_agg import salted_agg
from omop_concept_automapper_spark.plans.oracle import oracle_atc7
from omop_concept_automapper_spark.plans.vocab_prep import derive_atc7
from omop_concept_automapper_spark.fixtures.vocabulary import build_mini_vocab


def test_atc7_derivation_matches_oracle(spark):
    concept, rel, anc = vocab_dataframes(spark)
    got = {
        r["concept_id"]: list(r["atc7_codes"])
        for r in derive_atc7(concept, rel, anc).collect()
    }
    expected = oracle_atc7(build_mini_vocab(42))
    assert got == expected
    assert len(got) > 0


def test_atc7_extract_column(spark):
    df = spark.createDataFrame(
        [(" a10ba02 metformin",), ("A10BA02-METF-500",), ("metformin",), ("A10B",)],
        "v string",
    )
    out = [r[0] for r in df.select(atc7_extract("v")).collect()]
    assert out == ["A10BA02", "A10BA02", "", ""]


def test_salted_agg_matches_plain_groupby(spark):
    df = spark.range(0, 10000).select(
        (F.col("id") % 7).cast("string").alias("k"),
        (F.col("id") % 13).alias("v"),
        F.col("id").alias("salt_src"),
    )
    got = {
        (r["k"]): (r["cnt"], r["total"], r["mn"], r["mx"], sorted(r["vals"]))
        for r in salted_agg(
            df,
            keys=["k"],
            aggs=[("v", "count", "cnt"), ("v", "sum", "total"),
                  ("v", "min", "mn"), ("v", "max", "mx"),
                  ("v", "collect_set", "vals")],
            salt_cols=["salt_src"],
        ).collect()
    }
    exp = {
        (r["k"]): (r["cnt"], r["total"], r["mn"], r["mx"], sorted(r["vals"]))
        for r in df.groupBy("k")
        .agg(
            F.count("v").alias("cnt"), F.sum("v").alias("total"),
            F.min("v").alias("mn"), F.max("v").alias("mx"),
            F.collect_set("v").alias("vals"),
        )
        .collect()
    }
    assert got == exp


def test_connected_components_basic(spark):
    # two components: {1,2,3,4} (chain) and {10,11}; singleton via self edge
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)], "src long, dst long"
    )
    labels = {
        r["node"]: r["component"] for r in connected_components(edges).collect()
    }
    assert labels[1] == labels[2] == labels[3] == labels[4] == 1
    assert labels[10] == labels[11] == 10
    assert labels[20] == 20


def test_connected_components_canonical_fast_path(spark):
    """r7: an input that is already a canonical star forest (members point
    at their component minimum, out-degree 1, roots never a src) must be
    detected by the O(E) fixpoint pre-check — zero contraction rounds —
    and still label every node exactly like the general path."""
    edges = spark.createDataFrame(
        [(2, 1), (3, 1), (7, 5), (9, 5)], "src long, dst long"
    )
    stats = {}
    labels = {
        r["node"]: r["component"]
        for r in connected_components(edges, stats=stats).collect()
    }
    assert stats["rounds"] == 0 and stats["canonical"] is True
    assert labels == {1: 1, 2: 1, 3: 1, 5: 5, 7: 5, 9: 5}

    # same forest plus a self-loop-only node: the probe must reject the
    # distinct(dst) shortcut and fall back to the exact all-nodes path
    edges2 = spark.createDataFrame(
        [(2, 1), (3, 1), (42, 42)], "src long, dst long"
    )
    labels2 = {
        r["node"]: r["component"]
        for r in connected_components(edges2).collect()
    }
    assert labels2 == {1: 1, 2: 1, 3: 1, 42: 42}

    # near-canonical but NOT canonical (an edge pointing up): pre-check
    # must refuse and contraction must still run to the right answer
    edges3 = spark.createDataFrame([(1, 2), (3, 2)], "src long, dst long")
    stats3 = {}
    labels3 = {
        r["node"]: r["component"]
        for r in connected_components(edges3, stats=stats3).collect()
    }
    assert stats3["rounds"] >= 1
    assert labels3 == {1: 1, 2: 1, 3: 1}


def test_connected_components_star_and_chain(spark):
    # star around 100 plus a long chain to force multiple iterations
    rows = [(100, i) for i in range(101, 120)] + [
        (i, i + 1) for i in range(200, 230)
    ]
    edges = spark.createDataFrame(rows, "src long, dst long")
    labels = {
        r["node"]: r["component"] for r in connected_components(edges).collect()
    }
    assert all(labels[i] == 100 for i in range(100, 120))
    assert all(labels[i] == 200 for i in range(200, 231))


def _tiny_index():
    vocab_pdf = pd.DataFrame(
        {
            "concept_id": [1, 2, 3],
            "concept_name": ["acute bronchitis", "chronic sinusitis",
                             "metformin 500 mg oral tablet"],
            "domain_id": ["Condition", "Condition", "Drug"],
            "atc7_codes": [[], [], ["A10BA02"]],
            "vector": list(
                __import__(
                    "omop_concept_automapper_spark.functions.embedder",
                    fromlist=["embed_texts"],
                ).embed_texts(
                    ["acute bronchitis", "chronic sinusitis",
                     "metformin 500 mg oral tablet"]
                )
            ),
        }
    )
    return build_vocab_index(vocab_pdf)


def test_knn_atc7_matchany_restricts_candidates():
    index = _tiny_index()
    pdf = pd.DataFrame(
        {
            "mention_id": [1],
            "mention_text": ["A10BA02 metformin 500 mg oral tablet"],
            "is_drug": [True],
            "atc7": ["A10BA02"],
        }
    )
    out = link_batch(pdf, index)
    assert out.iloc[0]["candidate_ids"] == [3]
    assert out.iloc[0]["concept_id"] == 3


def test_knn_zero_hits_emits_no_row():
    index = _tiny_index()
    pdf = pd.DataFrame(
        {
            "mention_id": [1],
            "mention_text": ["whatever"],
            "is_drug": [True],
            "atc7": ["Z99ZZ99"],  # no concept carries this code
        }
    )
    out = link_batch(pdf, index)
    assert len(out) == 0  # reference auto_mapper.py:76-77


def test_knn_domain_filter():
    index = _tiny_index()
    pdf = pd.DataFrame(
        {
            "mention_id": [1],
            "mention_text": ["metformin 500 mg oral tablet"],
            "is_drug": [False],
            "atc7": [""],
        }
    )
    out = link_batch(pdf, index, target_domains=["Condition"])
    assert set(out.iloc[0]["candidate_ids"]) == {1, 2}


def test_knn_topk_truncates_and_orders():
    index = _tiny_index()
    pdf = pd.DataFrame(
        {
            "mention_id": [1],
            "mention_text": ["acute bronchitis"],
            "is_drug": [False],
            "atc7": [""],
        }
    )
    out = link_batch(pdf, index, k_standard=2)
    cands = out.iloc[0]["candidate_ids"]
    assert len(cands) == 2 and cands[0] == 1  # best first
    assert out.iloc[0]["confidence"] == 10


def test_file_index_exact_equality(spark, tmp_path):
    """The file-backed index (executor-side loading, no driver-resident
    matrix) must produce EXACTLY the in-memory single-broadcast results,
    whether it reads a written index copy or a vocab table whose rows are
    split over several data dirs: the loader builds the index with the
    broadcast path's own ``build_vocab_index``."""
    from omop_concept_automapper_spark.catalog import Table
    from omop_concept_automapper_spark.fixtures.transcripts import (
        transcripts_dataframe,
    )
    from omop_concept_automapper_spark.fixtures.vocabulary import (
        build_lexicon,
        vocab_dataframes,
    )
    from omop_concept_automapper_spark.operators.knn import (
        build_vocab_index_files,
        link_mentions,
        link_mentions_file_index,
    )
    from omop_concept_automapper_spark.plans.mentions import (
        build_mention_table,
        extract_mention_occurrences,
    )
    from omop_concept_automapper_spark.plans.vocab_prep import (
        build_vocab_embeddings,
    )

    lexicon = build_lexicon()
    vocab = build_vocab_embeddings(*vocab_dataframes(spark)).select(
        "concept_id", "concept_name", "domain_id", "atc7_codes", "vector"
    )
    t = transcripts_dataframe(spark, n_conversations=30)
    occ = extract_mention_occurrences(t, [e["mention_text"] for e in lexicon])
    mentions = build_mention_table(spark, occ, lexicon)

    def canon(df):
        return {
            (r["mention_id"], r["concept_id"], r["confidence"],
             tuple(r["candidate_ids"] or []))
            for r in df.select(
                "mention_id", "concept_id", "confidence", "candidate_ids"
            ).collect()
        }

    vocab_pdf = vocab.toPandas()
    base = canon(link_mentions(spark, mentions, vocab_pdf, block_rows=32))
    assert base

    dirs = build_vocab_index_files(vocab, str(tmp_path / "vocab_index"))
    got = canon(link_mentions_file_index(spark, mentions, dirs, block_rows=32))
    assert got == base

    # a vocab table appended in two halves: two data dirs, interleaved ids
    tbl = Table(spark, str(tmp_path / "vocab_embeddings"))
    tbl.append(vocab.where("concept_id % 2 = 0"))
    tbl.append(vocab.where("concept_id % 2 = 1"))
    live = tbl.snapshot().live_dirs
    assert len(live) == 2
    got = canon(link_mentions_file_index(spark, mentions, live, block_rows=32))
    assert got == base


def test_file_index_cache_keys_on_content_not_mtime(spark, tmp_path):
    """Object-store safety: the per-process index cache keys on the data
    file names, never on mtimes — touching every file is a cache hit, and
    a rewrite (Spark names its files afresh) reloads the new content."""
    import glob
    import os

    from omop_concept_automapper_spark.fixtures.vocabulary import (
        vocab_dataframes,
    )
    from omop_concept_automapper_spark.operators.knn import (
        build_vocab_index_files,
        load_vocab_index_files,
    )
    from omop_concept_automapper_spark.plans.vocab_prep import (
        build_vocab_embeddings,
    )

    vocab = build_vocab_embeddings(*vocab_dataframes(spark)).select(
        "concept_id", "concept_name", "domain_id", "atc7_codes", "vector"
    )
    idx_path = str(tmp_path / "vocab_index")
    dirs = build_vocab_index_files(vocab, idx_path)
    idx1 = load_vocab_index_files(dirs)
    n = idx1["concept_id"].size
    assert n == vocab.count()

    # mtime-only change -> cache hit
    for f in glob.glob(os.path.join(idx_path, "*.parquet")):
        st = os.stat(f)
        os.utime(f, (st.st_atime + 100, st.st_mtime + 100))
    assert load_vocab_index_files(dirs) is idx1

    # a rewrite over different rows at the same path -> reload, new content
    build_vocab_index_files(vocab.where("concept_id % 2 = 0"), idx_path)
    idx2 = load_vocab_index_files(dirs)
    assert idx2 is not idx1
    assert 0 < idx2["concept_id"].size < n
    assert load_vocab_index_files(dirs) is idx2


def test_stage_links_never_collects_vocab_to_driver(spark, tmp_path, monkeypatch):
    """Scale pin: the links stage must not materialize the vocab embedding
    table in driver pandas (at full OMOP that is ~16 GB). toPandas is
    poisoned for the duration; the file-backed index path must still work."""
    import pyspark.sql

    from omop_concept_automapper_spark.catalog import Warehouse
    from omop_concept_automapper_spark.fixtures.transcripts import (
        transcripts_dataframe,
    )
    from omop_concept_automapper_spark.fixtures.vocabulary import (
        build_lexicon,
        vocab_dataframes,
    )
    from omop_concept_automapper_spark.plans.runner import Pipeline

    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = Pipeline(spark, wh)
    lexicon = build_lexicon()
    concept, rel, anc = vocab_dataframes(spark)
    vocab = pipe.stage_vocab_embeddings(concept, rel, anc)
    mentions = pipe.stage_mentions(
        transcripts_dataframe(spark, n_conversations=20), lexicon
    )

    def boom(self, *a, **k):
        raise AssertionError("driver-side toPandas in links stage")

    monkeypatch.setattr(pyspark.sql.DataFrame, "toPandas", boom)
    links = pipe.stage_links(mentions, vocab)
    assert links.where("error is null").count() > 0


def test_drug_vs_concept_reranker_seam(spark):
    """Pin the drug/concept path divergence exactly as the reference
    prescribes (auto_mapper.py:61-81, 142-161):
      * drug WITH ATC7  -> k=30, candidates restricted to concepts carrying
        that code (MatchAny over the array payload), method auto_drug,
        pred maps-to-value;
      * drug WITHOUT ATC7 -> k=30 but UNFILTERED search (hard part (c)),
        method auto_drug, pred maps-to;
      * non-drug -> k=15, unfiltered, method auto_standard, pred maps-to.
    If a real model UDF ever replaces the deterministic scorer, this seam
    (k_used + candidate pool per mapping_method) must keep diverging."""
    from omop_concept_automapper_spark.fixtures.vocabulary import vocab_dataframes
    from omop_concept_automapper_spark.operators.knn import (
        build_vocab_index,
        link_batch,
    )
    from omop_concept_automapper_spark.plans.graph import build_edges
    from omop_concept_automapper_spark.plans.vocab_prep import (
        build_vocab_embeddings,
    )

    vocab_pdf = (
        build_vocab_embeddings(*vocab_dataframes(spark))
        .select("concept_id", "concept_name", "domain_id", "atc7_codes", "vector")
        .toPandas()
    )
    index = build_vocab_index(vocab_pdf)
    n_vocab = len(vocab_pdf)
    code = "A10BA02"  # metformin
    allowed_ids = {
        int(vocab_pdf.iloc[i]["concept_id"])
        for i in index["atc7_inverted"][code]
    }

    pdf = pd.DataFrame(
        {
            "mention_id": [1, 2, 3],
            "mention_text": [
                f"{code} metformin 500 mg oral tablet",  # drug + ATC7
                "sertraline 20 mg oral capsule",          # drug, no ATC7
                "acute bronchitis",                        # standard concept
            ],
            "is_drug": [True, True, False],
            "atc7": [code, "", ""],
        }
    )
    out = link_batch(pdf, index).set_index("mention_id")

    with_code = out.loc[1]
    assert with_code["mapping_method"] == "auto_drug"
    assert with_code["k_used"] == 30
    cands = set(int(c) for c in with_code["candidate_ids"])
    assert cands and cands <= allowed_ids  # ATC7 MatchAny filter applied
    assert with_code["n_candidates"] == min(30, len(allowed_ids))

    no_code = out.loc[2]
    assert no_code["mapping_method"] == "auto_drug"
    assert no_code["k_used"] == 30
    assert no_code["n_candidates"] == min(30, n_vocab)  # UNFILTERED pool
    assert not set(int(c) for c in no_code["candidate_ids"]) <= allowed_ids

    std = out.loc[3]
    assert std["mapping_method"] == "auto_standard"
    assert std["k_used"] == 15
    assert std["n_candidates"] == min(15, n_vocab)

    # pred seam on the emitted triples
    links_df = spark.createDataFrame(out.reset_index())
    preds = {
        r["mention_id"]: r["pred"]
        for r in build_edges(
            links_df.where("confidence >= 8"), None
        ).join(
            links_df.select("mention_id", "mention_text"), "mention_text"
        ).collect()
    }
    assert preds[1] == "maps-to-value"
    assert preds[2] == "maps-to"
    assert preds[3] == "maps-to"


def test_cc_million_edges_skewed_hub(spark):
    """CC at realistic scale: 10^6 edges including a 200k-degree hub.
    The hub is a star and must contract immediately; total rounds stay
    O(log n) (the claimed scale behavior, SCALE.md)."""
    from pyspark.sql import functions as F

    from omop_concept_automapper_spark.operators.connected_components import (
        connected_components,
    )

    n_hub, n = 200_000, 1_000_000
    hub = spark.range(1, n_hub).select(
        F.col("id").alias("src"), F.lit(0).cast("long").alias("dst")
    )
    rest = spark.range(n_hub, n).select(
        F.col("id").alias("src"),
        (F.col("id") - F.col("id") % 50).cast("long").alias("dst"),
    )
    # materialize the synthetic edge table first (mirrors reading edges
    # from storage; also sidesteps a Catalyst constraint-propagation bug on
    # unioned range plans under ANSI mode)
    edges = hub.union(rest).localCheckpoint(eager=True)
    stats = {}
    labels = connected_components(edges, stats=stats)
    assert stats["rounds"] <= 6  # star-heavy graph converges in few rounds
    assert (
        labels.where((F.col("node") < n_hub) & (F.col("component") != 0)).count()
        == 0
    )
    n_components = labels.select("component").distinct().count()
    assert n_components == 1 + (n - n_hub) // 50


def test_connected_components_window_impl_equivalent(spark):
    """The join-free window star implementation must produce identical
    labels to the default join implementation (including struct nodes)."""
    rows = [(100, i) for i in range(101, 120)] + [
        (i, i + 1) for i in range(200, 230)
    ] + [(1, 2), (2, 3), (50, 50)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    want = {
        r["node"]: r["component"] for r in connected_components(edges).collect()
    }
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, star_impl="window").collect()
    }
    assert got == want

    # struct node encoding (the 128-bit mention key path)
    sedges = edges.selectExpr(
        "named_struct('n1', src, 'n2', src * 7) as src",
        "named_struct('n1', dst, 'n2', dst * 7) as dst",
    )
    sw = {
        (r["node"]["n1"], r["component"]["n1"])
        for r in connected_components(sedges, star_impl="window").collect()
    }
    sj = {
        (r["node"]["n1"], r["component"]["n1"])
        for r in connected_components(sedges).collect()
    }
    assert sw == sj

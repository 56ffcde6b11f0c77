"""Physical-plan quality gates (SURVEY.md §4): these assert the *shape* of
the plans Catalyst produces — pushdown reaching the scan, broadcast joins
for dims, partial aggregation, map-only extraction — so a regression that
silently introduces an extra shuffle or full-width scan fails CI."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


def plan_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_scan_pushdown_and_pruning(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = docs.where(F.col("doc_id") < 10).select("doc_id", "text")
    plan = plan_str(q)
    assert "PushedFilters" in plan and "LessThan(doc_id,10)" in plan
    # column pruning: lang/source/n_chars must not be read
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "text" in read_schema and "lang" not in read_schema


def test_dimension_joins_broadcast(spark):
    q = entry_mod.queries()["j2_nation_revenue"](spark, SF_DIR)
    plan = plan_str(q)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_partial_aggregation_mapside(spark):
    q = entry_mod.queries()["q1_pricing_summary"](spark, SF_DIR)
    simple = plan_str(q, mode="simple")
    # two-phase hash agg: partial before the exchange, final after
    assert simple.count("HashAggregate") >= 2
    assert "partial_sum" in simple or "partial" in simple.lower()
    assert "WholeStageCodegen" in plan_str(q, mode="codegen")


def test_mention_extraction_is_map_only(spark):
    from omop_concept_automapper_spark.fixtures.transcripts import (
        transcripts_dataframe,
    )
    from omop_concept_automapper_spark.fixtures.vocabulary import build_lexicon
    from omop_concept_automapper_spark.plans.mentions import (
        extract_mention_occurrences,
    )

    t = transcripts_dataframe(spark, n_conversations=5)
    occ = extract_mention_occurrences(
        t, [e["mention_text"] for e in build_lexicon()]
    )
    simple = plan_str(occ, mode="simple")
    assert "Exchange" not in simple  # detection pipelines with the scan


def test_anti_join_is_broadcast_or_hash(spark):
    q = entry_mod.queries()["j1_customers_without_orders"](spark, SF_DIR)
    plan = plan_str(q, mode="simple")
    assert "LeftAnti" in plan


def test_topn_uses_take_ordered(spark):
    q = entry_mod.queries()["o3_top20_orders"](spark, SF_DIR)
    plan = plan_str(q, mode="simple")
    # global sort+limit must compile to TakeOrderedAndProject, not full sort
    assert "TakeOrderedAndProject" in plan


def test_minhash_partial_min_mapside(spark):
    from omop_concept_automapper_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    simple = plan_str(minhash_signatures(docs), mode="simple")
    # the min-hash aggregate must combine map-side: shuffle carries
    # docs x n_hashes partial minima, not exploded shingles
    assert "partial_min" in simple
    assert simple.index("partial_min") > simple.index("Exchange")  # partial below exchange


def test_bucketed_join_is_colocated(spark, tmp_path):
    """Bucketing both sides on the join key removes ALL exchanges — the
    co-located edges/mentions merge strategy SCALE.md prescribes for the
    graph tables at 100 TB (bucket(subj))."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bkt LOCATION '{tmp_path}/bkt'")
    e = spark.range(0, 5000).selectExpr("id as subj", "id % 7 as obj")
    m = spark.range(0, 5000).selectExpr("id as subj", "concat('t', id) as txt")
    e.write.bucketBy(8, "subj").sortBy("subj").mode("overwrite").saveAsTable(
        "bkt.edges_b"
    )
    m.write.bucketBy(8, "subj").sortBy("subj").mode("overwrite").saveAsTable(
        "bkt.mentions_b"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("bkt.edges_b").join(spark.table("bkt.mentions_b"), "subj")
        plan = plan_str(j, mode="simple")
        assert plan.count("Exchange") == 0
        assert "SortMergeJoin" in plan
        # baseline without bucketing shuffles both sides
        base = e.join(m, "subj")
        assert plan_str(base, mode="simple").count("Exchange") == 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_adaptive_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def _assert_linker_plans(spark, mentions, tmp_path):
    """Both linker entry points (broadcast and file-backed index) over
    `mentions`: exactly one MapInPandas, one RoundRobinPartitioning over at
    least defaultParallelism partitions directly under it, and no exchange
    beyond the input plan's own plus that spread — retrieval and rerank
    fuse in one task."""
    import re

    from omop_concept_automapper_spark.fixtures.vocabulary import vocab_dataframes
    from omop_concept_automapper_spark.operators.knn import (
        build_vocab_index_files,
        link_mentions,
        link_mentions_file_index,
    )
    from omop_concept_automapper_spark.plans.vocab_prep import (
        build_vocab_embeddings,
    )

    vocab = build_vocab_embeddings(*vocab_dataframes(spark)).select(
        "concept_id", "concept_name", "domain_id", "atc7_codes", "vector"
    )
    vocab_pdf = vocab.toPandas()
    idx_dirs = build_vocab_index_files(vocab, str(tmp_path / "vocab_index"))
    n_input = plan_str(mentions, mode="simple").count("Exchange")
    for links in (
        link_mentions(spark, mentions, vocab_pdf),
        link_mentions_file_index(spark, mentions, idx_dirs),
    ):
        simple = plan_str(links, mode="simple")
        lines = simple.splitlines()
        assert sum("MapInPandas" in line for line in lines) == 1, simple
        rr = [i for i, ln in enumerate(lines) if "RoundRobinPartitioning" in ln]
        assert len(rr) == 1, simple
        assert "MapInPandas" in lines[rr[0] - 1], simple
        n = int(re.search(r"RoundRobinPartitioning\((\d+)\)", lines[rr[0]])[1])
        assert n >= spark.sparkContext.defaultParallelism
        assert simple.count("Exchange") <= n_input + 1, simple


def test_linker_single_pass_no_extra_shuffle(spark, tmp_path):
    """Over a built mention table (which has exchanges of its own) neither
    linker adds a shuffle beyond its one spread under the MapInPandas."""
    from omop_concept_automapper_spark.fixtures.transcripts import (
        transcripts_dataframe,
    )
    from omop_concept_automapper_spark.fixtures.vocabulary import build_lexicon
    from omop_concept_automapper_spark.plans.mentions import (
        build_mention_table,
        extract_mention_occurrences,
    )

    lexicon = build_lexicon()
    t = transcripts_dataframe(spark, n_conversations=5)
    occ = extract_mention_occurrences(t, [e["mention_text"] for e in lexicon])
    _assert_linker_plans(spark, build_mention_table(spark, occ, lexicon), tmp_path)


def test_file_index_linker_spreads_over_every_core(spark, tmp_path):
    """A one-file mention table is round-robined over at least
    defaultParallelism partitions by both linkers, so it no longer links
    in a single task."""
    spark.createDataFrame(
        [(i, 0, f"mention {i}", False, "") for i in range(40)],
        "mention_id long, mention_id2 long, mention_text string, "
        "is_drug boolean, atc7 string",
    ).coalesce(1).write.parquet(str(tmp_path / "mentions"))
    one_file = spark.read.parquet(str(tmp_path / "mentions"))
    assert one_file.rdd.getNumPartitions() == 1
    _assert_linker_plans(spark, one_file, tmp_path)


def test_resume_noop_fold_runs_no_link_job(spark, tmp_path, monkeypatch):
    """A fold whose mentions are all linked already skips the linker: no
    link job is even planned, and the stage records the no-op."""
    import datetime

    from omop_concept_automapper_spark.catalog import Warehouse
    from omop_concept_automapper_spark.plans.runner import Pipeline, PipelineConfig

    concept = spark.createDataFrame(
        [(9001, "zymotrex", "Condition", "SNOMED", "Clinical Finding", "S", "Z1")],
        "concept_id int, concept_name string, domain_id string, "
        "vocabulary_id string, concept_class_id string, "
        "standard_concept string, concept_code string",
    )
    rel = spark.createDataFrame(
        [],
        "concept_id_1 int, concept_id_2 int, relationship_id string, "
        "invalid_reason string",
    )
    anc = spark.createDataFrame([], "ancestor_concept_id int, descendant_concept_id int")
    lexicon = [{"mention_text": "zymotrex", "is_drug": False}]

    def turns(conv):
        return spark.createDataFrame(
            [(conv, 0, "doctor", "patient shows zymotrex today", None,
              datetime.datetime(2026, 1, 1))],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )

    pipe = Pipeline(spark, Warehouse(spark, str(tmp_path / "wh")), PipelineConfig())
    pipe.run(turns("c1"), concept, rel, anc, lexicon)

    def no_link(*args, **kwargs):
        raise AssertionError("a resume-no-op fold must not link")

    monkeypatch.setattr(
        "omop_concept_automapper_spark.plans.runner.link_mentions_file_index",
        no_link,
    )
    out = pipe.run_incremental(turns("c2"), concept, rel, anc, lexicon)
    assert pipe.wh.stage_metrics("links")["metrics"]["resume_noop"] is True
    assert [r["obj"] for r in out["edges"].collect()] == [9001]


def test_occurrence_write_is_range_partitioned_on_conv(spark):
    """North rule: explicit range partitioning on conv_id — the runner's
    occurrence stage repartitions by (conv_id, turn_idx) range before the
    write so occurrence rows land conv-contiguous."""
    from omop_concept_automapper_spark.fixtures.transcripts import (
        transcripts_dataframe,
    )
    from omop_concept_automapper_spark.fixtures.vocabulary import build_lexicon
    from omop_concept_automapper_spark.plans.mentions import (
        extract_mention_occurrences,
    )

    t = transcripts_dataframe(spark, n_conversations=5)
    occ = extract_mention_occurrences(
        t, [e["mention_text"] for e in build_lexicon()]
    ).repartitionByRange("conv_id", "turn_idx")
    simple = plan_str(occ, mode="simple")
    assert "rangepartitioning(conv_id" in simple.lower(), simple


def test_cc_star_round_plan_shape(spark):
    """One CC star phase must keep its mins aggregation map-side-partial
    (a hot hub compresses per map partition before the shuffle) and ship
    the window variant with strictly fewer exchanges than the join variant
    — the measured per-round shuffle inventory SCALE.md documents."""
    import re

    from omop_concept_automapper_spark.operators.connected_components import (
        _large_star,
        _large_star_window,
    )

    edges = spark.range(0, 1000).selectExpr("id as src", "id % 37 + 5000 as dst")
    join_plan = _large_star(edges)._jdf.queryExecution().executedPlan().toString()
    win_plan = (
        _large_star_window(edges)._jdf.queryExecution().executedPlan().toString()
    )
    assert "partial_min" in join_plan  # map-side combine before the shuffle

    def n_exchanges(plan):
        return len(re.findall(r"Exchange hashpartitioning", plan))

    # r7: neither large-star variant carries a trailing distinct anymore
    # (src > dst always holds and the consuming small star deduplicates) —
    # the window variant is exactly ONE exchange (the window shuffle), and
    # the join variant at most the mins-agg exchange beyond it
    assert n_exchanges(win_plan) == 1, win_plan
    assert "HashAggregate" not in win_plan  # no distinct after the window
    assert "SortMergeJoin" not in win_plan and "BroadcastHashJoin" not in win_plan


def test_knn_join_shuffled_plan_shape(spark):
    """Both-sides-large kNN join: the index side must shuffle exactly once
    (its hash-shard exchange) and never be broadcast or collected; the
    final merge is a window over the partial top-k, not a re-join."""
    import re

    from omop_concept_automapper_spark.operators.similarity import (
        knn_join_shuffled,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where("vec_id < 8").selectExpr(
        "vec_id as query_id", "embedding as vector"
    )
    out = knn_join_shuffled(spark, q, emb.where("vec_id >= 8"), k=3, n_shards=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan or "CoGroup" in plan
    assert "BroadcastExchange" not in plan
    # exchanges: queries-by-shard, index-by-shard, window-by-query_id = 3
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 3


def test_star_canonicalization_plan_shape(spark):
    """The star fast path must stay non-iterative: its plan is one
    hash-aggregate on concept_id feeding one join — no CC loop artifacts,
    no driver-side iteration, and a bounded exchange count (the checkpoint
    of the per-concept aggregate plus the mention-side join)."""
    import re

    from omop_concept_automapper_spark.plans.graph import _build_nodes_star

    acc = spark.range(200).selectExpr(
        "id as mention_id",
        "id + 7 as mention_id2",
        "concat('t', id % 13) as mention_text",
        "cast(id % 13 as int) as concept_id",
    )
    out = _build_nodes_star(acc)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # non-iterative: the mention branch is agg -> join -> project; allow
    # the union's second branch its own exchange but nothing beyond
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 3
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or (
        "ShuffledHashJoin" in plan
    )


def test_r6b_gates_plan_shapes(spark):
    """The r6b operator gates keep their designed shuffle budgets at
    sf0.001: SFT pairs and SCD2 are ONE conversation/entity-keyed
    exchange; duplicate-span detection never collapses to a single
    partition; nothing plans a nested-loop join."""
    import re

    sf = "/root/testdata/sf0.001"
    budgets = {
        "kg_sft_pairs": 1,
        "w7_scd2_snapshot": 1,
        "dedup_dup_spans": 3,
        "j11_interval_join": 3,
    }
    for name, max_hash_exchanges in budgets.items():
        df = entry_mod.queries()[name](spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        n = len(re.findall(r"Exchange hashpartitioning", plan))
        assert n <= max_hash_exchanges, (name, n, max_hash_exchanges)
        assert "Exchange SinglePartition" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name

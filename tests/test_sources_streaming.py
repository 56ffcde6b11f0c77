"""Tests for source operators (S1/S2/S3/S6/S7) and streaming ingestion (ST1
streaming variant)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from omop_concept_automapper_spark.catalog import Warehouse
from omop_concept_automapper_spark.fixtures.transcripts import (
    transcripts_dataframe,
)
from omop_concept_automapper_spark.fixtures.vocabulary import vocab_dataframes
from omop_concept_automapper_spark.sources.imports import (
    delete_vocabulary,
    export_mapped_csv,
    parse_premapped_concept_ids,
    read_source_concepts_csv,
    replace_table,
    upsert_concepts,
)


@pytest.fixture()
def source_csv(tmp_path):
    p = tmp_path / "src.csv"
    p.write_text(
        "source_value,source_concept_name,freq,concept_id\n"
        "A10BA02-METF-500,metformin 500 mg tablet,12,1030;1031\n"
        "HTN-01,essential hypertension,,1103\n"
        "XXX-02,unknown thing,3,999999\n"  # invalid pre-map id
        "YYY-03,no premap,2,\n"
    )
    return str(p)


def test_s1_csv_import(spark, source_csv):
    df = read_source_concepts_csv(spark, source_csv, source_vocabulary_id=7)
    rows = {r["source_value"]: r for r in df.collect()}
    assert rows["HTN-01"]["freq"] == 1  # NaN -> 1 (imports.py:18-19)
    assert rows["A10BA02-METF-500"]["freq"] == 12
    assert all(r["source_vocabulary_id"] == 7 for r in rows.values())
    # deterministic ids: re-read produces identical ids
    df2 = read_source_concepts_csv(spark, source_csv, source_vocabulary_id=7)
    assert {r["source_id"] for r in df2.collect()} == {
        r["source_id"] for r in rows.values()
    }


def test_s1_missing_column_raises(spark, tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text("source_value,wrong\nx,y\n")
    with pytest.raises(ValueError, match="missing required"):
        read_source_concepts_csv(spark, str(p), 1)


def test_premapped_semijoin_validation(spark, source_csv):
    concept, _, _ = vocab_dataframes(spark)
    src = read_source_concepts_csv(spark, source_csv, 7)
    pre = parse_premapped_concept_ids(src, concept)
    got = {(r["source_id"], r["concept_id"]) for r in pre.collect()}
    # 999999 dropped (semi-join), 1030/1031/1103 kept
    cids = {c for _, c in got}
    assert cids == {1030, 1031, 1103}


def test_s2_s3_s7_vocab_write_modes(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    concept, rel, _ = vocab_dataframes(spark)
    tbl = wh.table("concept")
    upsert_concepts(tbl, concept.limit(100))
    assert tbl.read().count() == 100
    # upsert with overlap + a changed row
    changed = concept.limit(120).withColumn(
        "concept_name", F.concat(F.col("concept_name"), F.lit(" v2"))
    )
    upsert_concepts(tbl, changed)
    out = tbl.read()
    assert out.count() == 120
    assert out.where(~F.col("concept_name").endswith("v2")).count() == 0
    # S3 full replace
    rel_tbl = wh.table("concept_relationship")
    replace_table(rel_tbl, rel)
    replace_table(rel_tbl, rel.limit(10))
    assert rel_tbl.read().count() == 10
    # S7 vocabulary delete
    src_tbl = wh.table("source_concepts")
    src_tbl.overwrite(
        spark.createDataFrame(
            [(1, 7), (2, 7), (3, 8)], "source_id int, source_vocabulary_id int"
        )
    )
    delete_vocabulary(src_tbl, 7)
    assert [r["source_id"] for r in src_tbl.read().collect()] == [3]


def test_s6_export_csv(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, name string")
    out = str(tmp_path / "export")
    export_mapped_csv(df, out)
    back = spark.read.option("header", True).csv(out)
    assert back.count() == 2


def test_streaming_available_now_ingest(spark, tmp_path):
    from omop_concept_automapper_spark.streaming.ingest import (
        ingest_available_now,
    )

    landing = str(tmp_path / "landing")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    t1 = transcripts_dataframe(spark, n_conversations=10)
    t1.write.mode("overwrite").parquet(landing)
    ingest_available_now(spark, landing, target, ckpt)
    n1 = spark.read.parquet(target).count()
    assert n1 == t1.count()
    # drain again with no new files: nothing re-ingested (exactly-once)
    ingest_available_now(spark, landing, target, ckpt)
    assert spark.read.parquet(target).count() == n1
    # new file arrives (flat in the landing dir) -> only the delta ingested
    import glob
    import shutil

    staging = str(tmp_path / "staging")
    transcripts_dataframe(spark, n_conversations=3).withColumn(
        "conv_id", F.concat(F.lit("new-"), F.col("conv_id"))
    ).coalesce(1).write.mode("overwrite").parquet(staging)
    for i, f in enumerate(glob.glob(os.path.join(staging, "part-*.parquet"))):
        shutil.copy(f, os.path.join(landing, f"delta-{i}.parquet"))
    ingest_available_now(spark, landing, target, ckpt)
    n2 = spark.read.parquet(target).count()
    assert n2 > n1


def test_stream_into_kg_equals_from_scratch(spark, tmp_path):
    """foreachBatch incremental KG folding: streaming two landed transcript
    files in (then re-triggering with nothing new) must converge to exactly
    the from-scratch pipeline result over the union."""
    from omop_concept_automapper_spark.fixtures.transcripts import (
        transcripts_dataframe,
    )
    from omop_concept_automapper_spark.fixtures.vocabulary import build_lexicon
    from omop_concept_automapper_spark.plans.runner import (
        Pipeline,
        PipelineConfig,
    )
    from omop_concept_automapper_spark.streaming.ingest import stream_into_kg

    lexicon = build_lexicon()
    all_convs = transcripts_dataframe(spark, n_conversations=30)
    landing = str(tmp_path / "landing")
    all_convs.where(F.col("conv_id") < "conv-000015").coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    all_convs.where(F.col("conv_id") >= "conv-000015").coalesce(1).write.mode(
        "append"
    ).parquet(landing)

    wh = Warehouse(spark, str(tmp_path / "wh_stream"))
    pipe = Pipeline(spark, wh, PipelineConfig())
    args = (spark, landing, str(tmp_path / "ckpt"), pipe, *vocab_dataframes(spark), lexicon)
    stream_into_kg(*args)

    full = Pipeline(
        spark, Warehouse(spark, str(tmp_path / "wh_full")), PipelineConfig()
    ).run(all_convs, *vocab_dataframes(spark), lexicon)

    def edge_set(df):
        return {
            (r["subj"], r["pred"], r["obj"], str(r["confidence"]))
            for r in df.collect()
        }

    streamed_edges = wh.table("edges").read()
    assert edge_set(streamed_edges) == edge_set(full["edges"])

    # re-trigger with no new files: occurrences unchanged (exactly-once)
    occ_before = wh.table("mention_occurrences").read().count()
    stream_into_kg(*args)
    assert wh.table("mention_occurrences").read().count() == occ_before
    assert edge_set(wh.table("edges").read()) == edge_set(full["edges"])


def test_run_incremental_batch_id_replay_is_exactly_once(spark, tmp_path):
    """A replayed microbatch (same batch_id) must not double-append
    occurrences — the foreachBatch at-least-once contract made idempotent."""
    from omop_concept_automapper_spark.fixtures.transcripts import (
        transcripts_dataframe,
    )
    from omop_concept_automapper_spark.fixtures.vocabulary import build_lexicon
    from omop_concept_automapper_spark.plans.runner import (
        Pipeline,
        PipelineConfig,
    )

    lexicon = build_lexicon()
    batch = transcripts_dataframe(spark, n_conversations=8)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = Pipeline(spark, wh, PipelineConfig())
    pipe.run_incremental(batch, *vocab_dataframes(spark), lexicon, batch_id=0)
    n1 = wh.table("mention_occurrences").read().count()
    freqs1 = {
        r["mention_text"]: r["freq"]
        for r in wh.table("mentions").read().collect()
    }
    pipe.run_incremental(batch, *vocab_dataframes(spark), lexicon, batch_id=0)
    assert wh.table("mention_occurrences").read().count() == n1
    freqs2 = {
        r["mention_text"]: r["freq"]
        for r in wh.table("mentions").read().collect()
    }
    assert freqs2 == freqs1


def test_stream_into_kg_auto_compacts_occurrences(spark, tmp_path):
    """r3 verdict ask #7: the streaming fold must keep the append-heavy
    occurrences table's file count bounded — every ``compact_every``
    applied microbatches it is compacted and old snapshots expired, with
    content identical and the exactly-once replay guard surviving."""
    from omop_concept_automapper_spark.fixtures.transcripts import (
        transcripts_dataframe,
    )
    from omop_concept_automapper_spark.fixtures.vocabulary import build_lexicon
    from omop_concept_automapper_spark.plans.runner import (
        Pipeline,
        PipelineConfig,
    )
    from omop_concept_automapper_spark.streaming.ingest import stream_into_kg

    lexicon = build_lexicon()
    all_convs = transcripts_dataframe(spark, n_conversations=24)
    landing = str(tmp_path / "landing")
    wh = Warehouse(spark, str(tmp_path / "wh_stream"))
    pipe = Pipeline(spark, wh, PipelineConfig())
    bounds = ["conv-000000", "conv-000006", "conv-000012", "conv-000018", None]
    for i in range(4):  # 4 microbatches = 2 x compact_every
        sel = F.col("conv_id") >= bounds[i]
        if bounds[i + 1] is not None:
            sel = sel & (F.col("conv_id") < bounds[i + 1])
        all_convs.where(sel).coalesce(1).write.mode("append").parquet(landing)
        stream_into_kg(
            spark, landing, str(tmp_path / "ckpt"), pipe,
            *vocab_dataframes(spark), lexicon, compact_every=2,
        )
    occ_tbl = wh.table("mention_occurrences")
    # bounded: the 4th batch triggered the second compaction+expire, so the
    # live snapshot is a single compacted data dir, not one per microbatch
    assert len(occ_tbl.snapshot().live_dirs) == 1
    assert occ_tbl.applied_stream_batch_ids() == {0, 1, 2, 3}

    full = Pipeline(
        spark, Warehouse(spark, str(tmp_path / "wh_full")), PipelineConfig()
    ).run(all_convs, *vocab_dataframes(spark), lexicon)
    occ = {
        (r["conv_id"], r["turn_idx"], r["mention_text"])
        for r in occ_tbl.read().collect()
    }
    occ_full = {
        (r["conv_id"], r["turn_idx"], r["mention_text"])
        for r in Warehouse(spark, str(tmp_path / "wh_full"))
        .table("mention_occurrences").read().collect()
    }
    assert occ == occ_full
    edge_set = lambda df: {
        (r["subj"], r["pred"], r["obj"]) for r in df.collect()
    }
    assert edge_set(wh.table("edges").read()) == edge_set(full["edges"])


def test_replay_after_maintenance_is_exactly_once(spark, tmp_path):
    """A foreachBatch replay AFTER compact+expire_snapshots must still skip
    the already-applied append (r3 advice: maintenance used to erase the
    stream_batch_id markers and let the replay double-append)."""
    from omop_concept_automapper_spark.fixtures.transcripts import (
        transcripts_dataframe,
    )
    from omop_concept_automapper_spark.fixtures.vocabulary import build_lexicon
    from omop_concept_automapper_spark.plans.runner import (
        Pipeline,
        PipelineConfig,
    )

    lexicon = build_lexicon()
    batch = transcripts_dataframe(spark, n_conversations=8)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = Pipeline(spark, wh, PipelineConfig())
    pipe.run_incremental(batch, *vocab_dataframes(spark), lexicon, batch_id=0)
    occ_tbl = wh.table("mention_occurrences")
    n1 = occ_tbl.read().count()
    occ_tbl.compact()
    occ_tbl.expire_snapshots(keep_last=1)
    pipe.run_incremental(batch, *vocab_dataframes(spark), lexicon, batch_id=0)
    assert occ_tbl.read().count() == n1


def test_replayed_batch_does_not_recompact(spark, tmp_path):
    """r4 advice: the compaction trigger must count batches since the last
    compaction, not len(applied) % compact_every — a replayed microbatch
    arriving while the count sits at a multiple used to re-fire a full
    table rewrite on every replay."""
    from omop_concept_automapper_spark.fixtures.transcripts import (
        transcripts_dataframe,
    )
    from omop_concept_automapper_spark.fixtures.vocabulary import build_lexicon
    from omop_concept_automapper_spark.plans.runner import (
        Pipeline,
        PipelineConfig,
    )
    from omop_concept_automapper_spark.streaming.ingest import stream_into_kg

    lexicon = build_lexicon()
    all_convs = transcripts_dataframe(spark, n_conversations=12)
    landing = str(tmp_path / "landing")
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = Pipeline(spark, wh, PipelineConfig())
    bounds = ["conv-000000", "conv-000006", None]
    for i in range(2):  # exactly compact_every applied batches
        sel = F.col("conv_id") >= bounds[i]
        if bounds[i + 1] is not None:
            sel = sel & (F.col("conv_id") < bounds[i + 1])
        all_convs.where(sel).coalesce(1).write.mode("append").parquet(landing)
        stream_into_kg(
            spark, landing, str(tmp_path / "ckpt"), pipe,
            *vocab_dataframes(spark), lexicon, compact_every=2,
        )
    occ_tbl = wh.table("mention_occurrences")

    def n_compacts():
        return sum(
            1
            for s in occ_tbl.history()
            if (s.metrics or {}).get("compacted_through")
        )

    assert n_compacts() == 1  # batch 2 of 2 triggered the one compaction

    # replay: a FRESH checkpoint redelivers the landed files as batch 0,
    # which is already applied — the fold must neither re-append nor
    # re-compact while the applied count sits at a multiple
    n_rows = occ_tbl.read().count()
    stream_into_kg(
        spark, landing, str(tmp_path / "ckpt-replay"), pipe,
        *vocab_dataframes(spark), lexicon, compact_every=2,
    )
    assert occ_tbl.read().count() == n_rows
    assert n_compacts() == 1

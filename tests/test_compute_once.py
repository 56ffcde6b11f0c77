"""Each intermediate of a build and a fold is computed once: the mention
detector runs once per turn, a bucketed merge evaluates its delta once
(and probes nothing on a first write) and writes only the buckets it
touches, the vocabulary is hashed once per vocab snapshot and is never
copied into a second index layout, and every job a fold starts carries a
description."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from omop_concept_automapper_spark.catalog import Table, Warehouse
from omop_concept_automapper_spark.fixtures.transcripts import transcripts_dataframe
from omop_concept_automapper_spark.fixtures.vocabulary import (
    build_lexicon,
    vocab_dataframes,
)
from omop_concept_automapper_spark.functions.mentions import (
    compile_lexicon,
    detect_mentions_py,
)
from omop_concept_automapper_spark.plans.mentions import build_mention_table
from omop_concept_automapper_spark.plans.runner import Pipeline, PipelineConfig

from test_catalog_metadata import _jobs_in_group


def test_stage_mentions_runs_the_detector_once_per_turn(spark, tmp_path, monkeypatch):
    seen = spark.sparkContext.accumulator(0)

    def counting_detector(surface_forms):
        pattern, canon = compile_lexicon(list(surface_forms))

        @F.pandas_udf(ArrayType(StringType()))
        def detect(texts: pd.Series) -> pd.Series:
            seen.add(len(texts))
            return texts.map(lambda t: detect_mentions_py(t, pattern, canon))

        return detect

    monkeypatch.setattr(
        "omop_concept_automapper_spark.plans.mentions.make_mention_detector",
        counting_detector,
    )
    turns = transcripts_dataframe(spark, n_conversations=12)
    n_turns = turns.count()
    pipe = Pipeline(spark, Warehouse(spark, str(tmp_path / "wh")), PipelineConfig())
    pipe.stage_mentions(turns, build_lexicon())
    assert seen.value == n_turns
    # the occurrences still land range-partitioned and complete
    occ = pipe.wh.table("mention_occurrences").read()
    assert occ.count() > 0


def _bucket_ids(df, column: str, n_buckets: int) -> set[str]:
    b = F.pmod(F.xxhash64(F.col(column).cast("string")), F.lit(n_buckets))
    return {str(r[0]) for r in df.select(b).distinct().collect()}


def test_bucketed_merge_into_a_new_table_runs_only_its_write(spark, tmp_path):
    tbl = Table(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(300)], "k long, v string"
    )
    tbl_ref = Table(spark, str(tmp_path / "ref"))
    tbl_ref.overwrite(df)  # warm the write path outside the listed group
    descs = _jobs_in_group(
        spark,
        "merge-new-table",
        lambda: tbl.merge_upsert(df, ["k"], bucket_by=("k", 8)),
    )
    assert descs and all(d.startswith("table-write") for d in descs), descs
    snap = tbl.snapshot()
    want = _bucket_ids(df, "k", 8)
    assert set(snap.buckets) == want
    data_dir = os.path.join(tbl.path, "data", snap.snapshot_id)
    assert snap.buckets == {
        b: [os.path.join(data_dir, f"__bucket={b}")] for b in want
    }
    assert snap.metrics["buckets_rewritten"] == len(want)
    assert sorted(snap.live_dirs) == sorted(d for v in snap.buckets.values() for d in v)
    assert sorted(map(tuple, tbl.read().collect())) == sorted(map(tuple, df.collect()))


def test_bucketed_merge_evaluates_its_delta_once(spark, tmp_path):
    tbl = Table(spark, str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(200)], "k long, v string"
    )
    tbl.merge_upsert(base, ["k"], bucket_by=("k", 8))
    before = tbl.snapshot()
    seen = spark.sparkContext.accumulator(0)

    # the merge key itself comes out of the UDF, so learning the delta's
    # buckets and writing it both need the UDF's output
    @F.pandas_udf("long")
    def key(raw: pd.Series) -> pd.Series:
        seen.add(len(raw))
        return raw

    keys = [3, 4, 500, 501]
    delta = spark.createDataFrame(
        [(k, f"w{k}") for k in keys], "raw long, v string"
    ).select(key("raw").alias("k"), "v")
    descs = _jobs_in_group(
        spark, "merge-prior-buckets", lambda: tbl.merge_upsert(delta, ["k"])
    )
    assert seen.value == len(keys)
    assert descs and all(
        d.startswith(("merge-pin", "table-write")) for d in descs
    ), descs
    snap = tbl.snapshot()
    touched = _bucket_ids(spark.createDataFrame([(k,) for k in keys], "k long"), "k", 8)
    assert snap.metrics["buckets_rewritten"] == len(touched)
    for b, dirs in snap.buckets.items():
        assert (dirs == before.buckets[b]) == (b not in touched)
    got = {r["k"]: r["v"] for r in tbl.read().collect()}
    assert len(got) == 202
    assert got[3] == "w3" and got[501] == "w501" and got[7] == "v7"


def _write_stage_tasks(spark, group: str) -> list[int]:
    """Tasks of the final (result) stage of each job in ``group``."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    out = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        if not store.job(jid).description().get().startswith("table-write"):
            continue
        last = max(conv.asJava(store.job(jid).stageIds()))
        out.append(store.lastStageAttempt(last).numTasks())
    return out


def test_bucketed_merge_writes_one_file_per_touched_bucket(spark, tmp_path):
    """A delta touching k of n buckets writes k files, one per bucket, and
    its write stage runs fewer than n tasks: the bucket shuffle has no
    fixed partition count, so AQE coalesces the empty partitions."""
    import glob

    n = 16
    tbl = Table(spark, str(tmp_path / "t"))
    base = spark.createDataFrame([(i, f"v{i}") for i in range(400)], "k long, v string")
    tbl.merge_upsert(base, ["k"], bucket_by=("k", n))
    delta = spark.createDataFrame([(3, "w3"), (401, "w401")], "k long, v string")
    touched = _bucket_ids(delta, "k", n)
    assert len(touched) < n
    _jobs_in_group(spark, "merge-k-buckets", lambda: tbl.merge_upsert(delta, ["k"]))
    snap = tbl.snapshot()
    data_dir = os.path.join(tbl.path, "data", snap.snapshot_id)
    files = glob.glob(os.path.join(data_dir, "__bucket=*", "*.parquet"))
    assert sorted(os.path.basename(os.path.dirname(f)) for f in files) == sorted(
        f"__bucket={b}" for b in touched
    )
    tasks = _write_stage_tasks(spark, "merge-k-buckets")
    assert tasks and all(t < n for t in tasks), tasks
    got = {r["k"]: r["v"] for r in tbl.read().collect()}
    assert len(got) == 401 and got[3] == "w3" and got[401] == "w401"


def test_links_read_the_vocab_table_without_an_index_copy(spark, tmp_path):
    """A build links straight from the vocab_embeddings snapshot's data
    dirs: no ``links: vocab index`` job, no ``vocab_index`` dir.  A vocab
    frame that is not the one the vocab stage returned is written out in
    exactly one job, and links the same rows."""
    lexicon = build_lexicon()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = Pipeline(spark, wh, PipelineConfig())
    convs = transcripts_dataframe(spark, n_conversations=20)
    build = _jobs_in_group(
        spark, "no-index-build", lambda: pipe.run(convs, *vocab_dataframes(spark), lexicon)
    )
    assert "links: vocab digest" in build
    assert "links: vocab index" not in build, build
    assert not os.path.exists(os.path.join(wh.root, "vocab_index"))
    links = sorted(map(tuple, wh.table("links").read().collect()))
    assert links

    wh.reset_stage("links")
    wh.table("links").drop()
    foreign = wh.table("vocab_embeddings").read()
    descs = _jobs_in_group(
        spark,
        "foreign-vocab-links",
        lambda: pipe.stage_links(wh.table("mentions").read(), foreign),
    )
    assert descs.count("links: vocab index") == 1, descs
    assert os.path.isdir(os.path.join(wh.root, "vocab_index"))
    assert sorted(map(tuple, wh.table("links").read().collect())) == links


def test_repeated_lexicon_form_gives_one_mention_row(spark):
    occ = spark.createDataFrame(
        [("c1", 0, "aspirin"), ("c1", 1, "aspirin"), ("c2", 0, "headache")],
        "conv_id string, turn_idx int, mention_text string",
    )
    lexicon = [
        {"mention_text": "aspirin", "is_drug": True},
        {"mention_text": "aspirin", "is_drug": False},
        {"mention_text": "aspirin", "is_drug": True},
        {"mention_text": "headache", "is_drug": False},
    ]
    got = build_mention_table(spark, occ, lexicon).collect()
    assert len(got) == 2
    rows = {r["mention_text"]: r for r in got}
    # a form is a drug if any of its entries says so
    assert rows["aspirin"]["is_drug"] is True and rows["aspirin"]["freq"] == 2
    assert rows["headache"]["is_drug"] is False and rows["headache"]["freq"] == 1


def test_fold_jobs_are_described_and_the_vocab_is_hashed_once(spark, tmp_path):
    lexicon = build_lexicon()
    vocab = vocab_dataframes(spark)
    convs = transcripts_dataframe(spark, n_conversations=40)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = Pipeline(spark, wh, PipelineConfig())
    build = _jobs_in_group(
        spark,
        "described-build",
        lambda: pipe.run(convs.where(F.col("conv_id") < "conv-000030"), *vocab, lexicon),
    )
    assert "links: vocab digest" in build
    cuts = [("conv-000030", "conv-000035"), ("conv-000035", "conv-999999")]
    for i, (lo, hi) in enumerate(cuts):
        batch = convs.where((F.col("conv_id") >= lo) & (F.col("conv_id") < hi))
        descs = _jobs_in_group(
            spark,
            f"described-fold-{i}",
            lambda: pipe.run_incremental(batch, *vocab, lexicon),
        )
        assert descs and all(descs), descs
        # the vocab snapshot is unchanged since the build hashed it
        assert "links: vocab digest" not in descs, descs
        if i == 0:
            # this fold links new mentions, so the graph delta merge ran
            assert wh.table("edges").snapshot().metrics.get("delta_scoped")
            assert any(d.startswith("merge-pin") for d in descs), descs
    # a new vocab snapshot (same rows) is hashed again, and the links
    # stage still reads as fresh under the same fingerprint
    wh.table("vocab_embeddings").append(wh.table("vocab_embeddings").read().limit(0))
    links_sid = wh.table("links").current_snapshot_id()
    descs = _jobs_in_group(
        spark,
        "described-fold-new-vocab-snapshot",
        lambda: pipe.run_incremental(convs.limit(0), *vocab, lexicon),
    )
    assert "links: vocab digest" in descs
    assert all(descs), descs
    assert wh.table("links").current_snapshot_id() == links_sid

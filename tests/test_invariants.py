"""Invariant tests (SURVEY.md §5.2.3): per-turn text byte-equality under
stable (conv_id, turn_idx) ordering; resume idempotence; remap
last-write-wins; catalog snapshot atomicity."""

from __future__ import annotations

from pyspark.sql import functions as F

from omop_concept_automapper_spark.catalog import Warehouse
from omop_concept_automapper_spark.fixtures.transcripts import (
    generate_transcript_rows,
    transcripts_dataframe,
)
from omop_concept_automapper_spark.fixtures.vocabulary import (
    build_lexicon,
    vocab_dataframes,
)
from omop_concept_automapper_spark.plans.runner import Pipeline, PipelineConfig

N_CONV = 40


def test_per_turn_text_byte_equality(spark, tmp_path):
    """Round-trip through the table layer preserves text byte-for-byte in
    stable (conv_id, turn_idx) order (BASELINE.json input_hint)."""
    df = transcripts_dataframe(spark, n_conversations=N_CONV)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    tbl = wh.table("transcripts")
    tbl.overwrite(df, partition_by=None)
    back = (
        tbl.read()
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text")
        .collect()
    )
    expected = sorted(
        ((r[0], r[1], r[3]) for r in generate_transcript_rows(N_CONV)),
        key=lambda t: (t[0], t[1]),
    )
    got = [(r["conv_id"], r["turn_idx"], r["text"]) for r in back]
    assert got == expected


def _run(spark, wh_path, n_conv=N_CONV):
    wh = Warehouse(spark, wh_path)
    pipe = Pipeline(spark, wh, PipelineConfig())
    out = pipe.run(
        transcripts_dataframe(spark, n_conversations=n_conv),
        *vocab_dataframes(spark),
        build_lexicon(),
    )
    return wh, out


def _edge_set(edges_df):
    return {
        (r["subj"], r["pred"], r["obj"], str(r["confidence"]))
        for r in edges_df.collect()
    }


def test_resume_skips_completed_stages_and_is_idempotent(spark, tmp_path):
    wh_path = str(tmp_path / "wh")
    wh, out = _run(spark, wh_path)
    first = _edge_set(out["edges"])
    snap_before = wh.table("edges").current_snapshot_id()

    # simulate a kill after the links stage: graph manifest lost
    wh.reset_stage("graph")
    wh2, out2 = _run(spark, wh_path)
    assert _edge_set(out2["edges"]) == first  # merge-upsert is idempotent

    # full rerun with all stages complete: nothing recomputed
    wh3, out3 = _run(spark, wh_path)
    assert wh3.table("edges").current_snapshot_id() == wh2.table(
        "edges"
    ).current_snapshot_id()
    assert _edge_set(out3["edges"]) == first
    assert snap_before is not None


def test_links_stage_resumes_row_level(spark, tmp_path):
    """J1 work-queue resume inside the links stage: a committed-but-
    unmarked links snapshot is extended (anti-join on mention_id), never
    recomputed, and the final output equals a from-scratch run."""
    wh_path = str(tmp_path / "wh")
    wh, out = _run(spark, wh_path)
    first = _edge_set(out["edges"])
    links_tbl = wh.table("links")
    full_links = links_tbl.read()
    n_full = full_links.count()

    # simulate a crash AFTER a partial links commit but BEFORE the stage
    # marker: keep only half the linked mentions, drop the marker and all
    # downstream state
    keep = full_links.orderBy("mention_id").limit(n_full // 2)
    kept_ids = {r["mention_id"] for r in keep.select("mention_id").collect()}
    # a real partial commit from stage_links records the run's config
    # fingerprint; resume only extends snapshots whose fingerprint matches
    fp = links_tbl.snapshot().metrics.get("link_config")
    assert fp is not None
    links_tbl.overwrite(
        keep.localCheckpoint(eager=True), metrics={"link_config": fp}
    )
    wh.reset_stage("links")
    wh.reset_stage("graph")
    wh.table("edges").drop()
    wh.table("nodes").drop()

    wh2, out2 = _run(spark, wh_path)
    assert _edge_set(out2["edges"]) == first
    relinked = wh2.table("links").read()
    assert relinked.count() == n_full
    # the kept half must have survived untouched (appended-to, not rebuilt):
    # every kept mention_id appears exactly once
    from collections import Counter

    counts = Counter(
        r["mention_id"] for r in relinked.select("mention_id").collect()
    )
    assert all(c == 1 for c in counts.values())
    assert kept_ids <= set(counts)
    # and the resumed commit history shows an append, not an overwrite
    ops = [s.operation for s in wh2.table("links").history()]
    assert ops[-1] == "append"


def test_mention_ids_are_128_bit_everywhere(spark, tmp_path):
    """Pin the id-width decision (round-2 verdict): a single xxhash64 has
    ~2.7% birthday-collision probability at 10^9 distinct mentions, and a
    collision silently merges two entities.  The two-column key must flow
    through mentions -> links -> edge subj -> node ids."""
    from omop_concept_automapper_spark.plans.mentions import (
        build_mention_table,
        extract_mention_occurrences,
    )

    lexicon = build_lexicon()
    t = transcripts_dataframe(spark, n_conversations=10)
    occ = extract_mention_occurrences(t, [e["mention_text"] for e in lexicon])
    mentions = build_mention_table(spark, occ, lexicon)
    assert {"mention_id", "mention_id2"} <= set(mentions.columns)
    rows = mentions.select("mention_id", "mention_id2", "mention_text").collect()
    # the two halves are independent hashes of the text (seed-varied), and
    # the pair is unique per distinct text on the fixture
    assert len({(r["mention_id"], r["mention_id2"]) for r in rows}) == len(rows)
    assert any(r["mention_id"] != r["mention_id2"] for r in rows)

    wh_path = str(tmp_path / "wh")
    wh, out = _run(spark, wh_path, n_conv=10)
    assert {"mention_id", "mention_id2"} <= set(out["links"].columns)
    # subj embeds BOTH halves: m:<id>:<id2>
    subj = out["edges"].select("subj").first()["subj"]
    tag, h1, h2 = subj.split(":")
    assert tag == "m" and int(h1) != 0 and int(h2) != 0


def test_colliding_mention_id_halves_stay_distinct(spark):
    """Two different mentions sharing the same 64-bit mention_id (a forced
    collision) must yield distinct edge subjects and distinct,
    un-fused canonical nodes."""
    from omop_concept_automapper_spark.plans.graph import (
        build_edges,
        build_nodes,
    )

    # same mention_id, different mention_id2 / text, mapped to DIFFERENT
    # concepts: a 64-bit encoding would fuse them into one subject
    links = spark.createDataFrame(
        [
            (7, 100, "term alpha", False, "", 1001, "a", 0.9, 10, 15, 2,
             "auto_standard", [1001], None),
            (7, 200, "term beta", False, "", 1002, "b", 0.9, 10, 15, 2,
             "auto_standard", [1002], None),
        ],
        "mention_id long, mention_id2 long, mention_text string, "
        "is_drug boolean, atc7 string, concept_id int, concept_name string, "
        "score double, confidence int, k_used int, n_candidates int, "
        "mapping_method string, candidate_ids array<int>, error string",
    )
    edges = build_edges(links, None)
    subjects = {r["subj"] for r in edges.collect()}
    assert subjects == {"m:7:100", "m:7:200"}

    nodes = build_nodes(links).collect()
    mention_nodes = [n for n in nodes if n["node_type"] == "mention_entity"]
    assert {n["node_id"] for n in mention_nodes} == {"m:7:100", "m:7:200"}
    # different concepts -> different components -> different canonicals
    canon = {n["node_id"]: n["canonical_id"] for n in mention_nodes}
    assert canon["m:7:100"] != canon["m:7:200"]


def test_links_config_change_forces_recompute(spark, tmp_path):
    """ADVICE (round 2): reset_stage('links') with a CHANGED linking config
    must recompute links, not silently keep the stale snapshot."""
    wh_path = str(tmp_path / "wh")
    wh, out = _run(spark, wh_path)
    stale = {r["mention_id"] for r in out["links"].select("mention_id").collect()}
    assert stale

    wh.reset_stage("links")
    wh.reset_stage("graph")
    wh.table("edges").drop()
    wh.table("nodes").drop()
    # rerun with a domain filter: every mention must be re-scored under it
    pipe = Pipeline(
        spark, Warehouse(spark, wh_path),
        PipelineConfig(target_domains=["Condition"]),
    )
    out2 = pipe.run(
        transcripts_dataframe(spark, n_conversations=N_CONV),
        *vocab_dataframes(spark),
        build_lexicon(),
    )
    links2 = out2["links"]
    # recompute happened: the last links commit is an overwrite...
    ops = [s.operation for s in wh.table("links").history()]
    assert ops[-1] == "overwrite"

    # ...and the result equals a FROM-SCRATCH run under the new config
    # (stale-resume would have kept the unfiltered mappings instead)
    def link_set(df):
        return {
            (r["mention_id"], r["concept_id"], r["confidence"])
            for r in df.where(F.col("error").isNull()).collect()
        }

    fresh = Pipeline(
        spark, Warehouse(spark, str(tmp_path / "wh_fresh")),
        PipelineConfig(target_domains=["Condition"]),
    ).run(
        transcripts_dataframe(spark, n_conversations=N_CONV),
        *vocab_dataframes(spark),
        build_lexicon(),
    )
    assert link_set(links2) == link_set(fresh["links"])
    assert link_set(links2) != link_set(out["links"])


def test_quarantined_rows_are_rescored_on_resume(spark, tmp_path):
    """ADVICE (round 2): resume must NOT anti-join away quarantined rows —
    a transient failure (e.g. executor OOM) gets retried, and the stale
    error row is replaced, not duplicated."""
    wh_path = str(tmp_path / "wh")
    wh, out = _run(spark, wh_path)
    links_tbl = wh.table("links")
    full = links_tbl.read()
    fp = links_tbl.snapshot().metrics.get("link_config")

    # simulate a crash that left one mention quarantined by a transient error
    victim = full.orderBy("mention_id").first()
    poisoned = full.withColumn(
        "error",
        F.when(
            F.col("mention_id") == victim["mention_id"],
            F.lit("OutOfMemoryError: transient"),
        ).otherwise(F.col("error")),
    ).withColumn(
        "concept_id",
        F.when(
            F.col("mention_id") == victim["mention_id"], F.lit(None)
        ).otherwise(F.col("concept_id")),
    )
    links_tbl.overwrite(
        poisoned.localCheckpoint(eager=True), metrics={"link_config": fp}
    )
    wh.reset_stage("links")
    wh.reset_stage("graph")
    wh.table("edges").drop()
    wh.table("nodes").drop()

    wh2, out2 = _run(spark, wh_path)
    relinked = wh2.table("links").read()
    rows = relinked.where(
        F.col("mention_id") == victim["mention_id"]
    ).collect()
    # exactly one row for the victim, re-scored successfully (deterministic
    # stand-ins can't fail), no stale error copy left behind
    assert len(rows) == 1
    assert rows[0]["error"] is None
    assert rows[0]["concept_id"] == victim["concept_id"]
    # and the quarantine table no longer lists it
    q = wh2.table("quarantine").read()
    assert q.where(F.col("mention_id") == victim["mention_id"]).isEmpty()


def test_remap_last_write_wins(spark, tmp_path):
    """ST2: re-mapping a subject replaces its previous edges
    (reference mapping.py:112-132 delete+insert)."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    tbl = wh.table("edges")
    first = spark.createDataFrame(
        [("m:1", "maps-to", 100), ("m:2", "maps-to", 200)],
        "subj string, pred string, obj int",
    )
    tbl.merge_upsert(first, keys=["subj"])
    remap = spark.createDataFrame(
        [("m:1", "maps-to", 999)], "subj string, pred string, obj int"
    )
    tbl.merge_upsert(remap, keys=["subj"])
    rows = {(r["subj"], r["obj"]) for r in tbl.read().collect()}
    assert rows == {("m:1", 999), ("m:2", 200)}


def test_snapshot_history_and_lineage(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    tbl = wh.table("t")
    df = spark.range(5).select(F.col("id"))
    tbl.overwrite(df, metrics={"stage": "s1"})
    tbl.append(spark.range(5, 8).select(F.col("id")))
    hist = tbl.history()
    assert [s.operation for s in hist] == ["overwrite", "append"]
    assert tbl.read().count() == 8
    assert hist[0].metrics["stage"] == "s1"
    assert hist[1].rows_written == 3
    # per-partition lineage recorded on every commit (north_rule)
    lineage = hist[1].metrics["lineage"]
    assert lineage["n_files"] >= 1
    assert sum(lineage["rows_per_partition"].values()) == 3
    assert list(lineage["rows_per_partition"]) == [""]  # unpartitioned root

    # partitioned write: lineage keyed by partition value directory
    tbl2 = wh.table("t2")
    df2 = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], ["id", "grp"]
    )
    tbl2.overwrite(df2, partition_by=["grp"])
    lin2 = tbl2.history()[0].metrics["lineage"]
    assert lin2["rows_per_partition"] == {"grp=a": 2, "grp=b": 1}
    assert lin2["n_partitions"] == 2


def test_crash_mid_write_leaves_previous_snapshot(spark, tmp_path):
    """A data dir without a committed manifest (crash between write and
    pointer flip) must be invisible to readers."""
    import os

    wh = Warehouse(spark, str(tmp_path / "wh"))
    tbl = wh.table("t")
    tbl.overwrite(spark.range(5))
    # simulate a crashed writer: orphan data dir, no manifest, no pointer flip
    orphan = os.path.join(tbl.path, "data", "9999999999999-deadbeef")
    spark.range(100).write.parquet(orphan)
    assert tbl.read().count() == 5
    snap = tbl.snapshot()
    assert all("deadbeef" not in d for d in snap.live_dirs)


def test_delete_where(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    tbl = wh.table("t")
    tbl.overwrite(spark.range(10))
    tbl.delete_where(F.col("id") >= 5)
    assert sorted(r["id"] for r in tbl.read().collect()) == [0, 1, 2, 3, 4]


def test_incremental_vocab_embedding_resume(spark, tmp_path):
    """J4 semantics: a second embedding pass only appends missing concepts."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    concept, rel, anc = vocab_dataframes(spark)
    pipe = Pipeline(spark, wh, PipelineConfig())
    half = concept.limit(150)
    pipe.stage_vocab_embeddings(half, rel, anc)
    n1 = wh.table("vocab_embeddings").read().count()
    # new concepts arrive; stage must re-run incrementally
    wh.reset_stage("vocab_embeddings")
    pipe.stage_vocab_embeddings(concept, rel, anc)
    full = wh.table("vocab_embeddings").read()
    n2 = full.count()
    assert n2 > n1
    # no duplicates: incremental append embedded each concept exactly once
    assert full.select("concept_id").distinct().count() == n2


def _spy_link_index_dirs(monkeypatch) -> list[list[str]]:
    """Record the index dirs of every ``link_mentions_file_index`` call the
    runner makes; the calls still link."""
    from omop_concept_automapper_spark.plans import runner

    calls: list[list[str]] = []
    real = runner.link_mentions_file_index

    def spy(spark, mentions, index_dirs, **kwargs):
        calls.append(list(index_dirs))
        return real(spark, mentions, index_dirs, **kwargs)

    monkeypatch.setattr(runner, "link_mentions_file_index", spy)
    return calls


def test_embedder_version_bump_reembeds_and_rebuilds_index(spark, tmp_path, monkeypatch):
    """A bumped EMBEDDER_VERSION must (a) bypass the stage-complete
    short-circuit and the already-embedded resume, re-embedding EVERY
    concept via an overwrite, and (b) relink against the NEW snapshot's
    data dirs, none of which held old-version vectors (r5 self-review
    finding #1)."""
    import os as _os

    calls = _spy_link_index_dirs(monkeypatch)
    wh_path = str(tmp_path / "wh")
    wh, _ = _run(spark, wh_path)
    tbl = wh.table("vocab_embeddings")
    n1 = tbl.read().count()
    assert Pipeline._recorded_embedder_version(tbl) is not None
    dirs1 = tbl.snapshot().live_dirs
    assert calls == [dirs1]

    monkeypatch.setattr(
        "omop_concept_automapper_spark.plans.runner.EMBEDDER_VERSION", 999
    )
    wh2, _ = _run(spark, wh_path)  # same warehouse, new embedder version
    tbl2 = wh2.table("vocab_embeddings")
    assert Pipeline._recorded_embedder_version(tbl2) == 999
    # full re-embed replaced the table: overwrite, same concepts, no dups
    assert tbl2.history()[-1].operation == "overwrite"
    assert tbl2.read().count() == n1
    assert tbl2.read().select("concept_id").distinct().count() == n1
    # the relink loaded the new snapshot's dirs, disjoint from the old ones
    dirs2 = tbl2.snapshot().live_dirs
    assert calls[1:] == [dirs2]
    assert not set(dirs2) & set(dirs1)
    assert not _os.path.exists(_os.path.join(wh_path, "vocab_index"))


def test_stale_links_recompute_resets_marker_before_compute(
    spark, tmp_path, monkeypatch
):
    """When a COMPLETED links stage is found stale (fingerprint changed),
    the marker must be dropped before recomputing: the relink's overwrite
    records the NEW fingerprint, so a crash between that commit and the
    quarantine rewrite would otherwise leave a marker that reads as fresh
    on the rerun and short-circuits past the quarantine table forever."""
    wh, _ = _run(spark, wh_path=str(tmp_path / "wh"))
    pipe = Pipeline(spark, wh, PipelineConfig())
    assert wh.stage_complete("links")
    monkeypatch.setattr(
        "omop_concept_automapper_spark.plans.runner.EMBEDDER_VERSION", 999
    )

    import pytest

    def boom(*a, **k):
        raise RuntimeError("simulated mid-relink crash")

    monkeypatch.setattr(
        "omop_concept_automapper_spark.plans.runner.link_mentions_file_index",
        boom,
    )
    mentions = wh.table("mentions").read()
    vocab = wh.table("vocab_embeddings").read()
    with pytest.raises(RuntimeError, match="simulated"):
        pipe.stage_links(mentions, vocab)
    # the marker fell with the stale detection, so the rerun takes the
    # ordinary incomplete-stage path (quarantine rewrite included)
    assert not wh.stage_complete("links")


def test_bucketed_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """Partition-scoped MERGE: untouched buckets' data dirs must be REUSED
    (same paths) in the new snapshot manifest — merge cost O(touched
    partitions), the Iceberg copy-on-write granularity."""
    from omop_concept_automapper_spark.catalog import Table

    tbl = Table(spark, str(tmp_path / "edges"))
    base = spark.createDataFrame(
        [(f"m:{i}", 1000 + i, 1) for i in range(200)], "subj string, obj int, ver int"
    )
    tbl.merge_upsert(base, keys=["subj"], bucket_by=("subj", 8))
    snap1 = tbl.snapshot()
    assert snap1.buckets and len(snap1.buckets) == 8

    # delta touches exactly one subject -> exactly one bucket
    delta = spark.createDataFrame([("m:7", 9999, 2)], "subj string, obj int, ver int")
    tbl.merge_upsert(delta, keys=["subj"])
    snap2 = tbl.snapshot()
    assert snap2.metrics["buckets_rewritten"] == 1
    reused = [
        b for b in snap2.buckets
        if snap2.buckets[b] == snap1.buckets.get(b)
    ]
    assert len(reused) == 7  # all untouched buckets carried over verbatim

    rows = {r["subj"]: (r["obj"], r["ver"]) for r in tbl.read().collect()}
    assert len(rows) == 200
    assert rows["m:7"] == (9999, 2)          # last write wins
    assert rows["m:8"] == (1008, 1)          # untouched row intact


def test_bucketed_merge_last_write_wins_and_inserts(spark, tmp_path):
    from omop_concept_automapper_spark.catalog import Table

    tbl = Table(spark, str(tmp_path / "t"))
    tbl.merge_upsert(
        spark.createDataFrame([("a", 1), ("b", 1)], "subj string, v int"),
        keys=["subj"], bucket_by=("subj", 4),
    )
    tbl.merge_upsert(
        spark.createDataFrame([("b", 2), ("c", 2)], "subj string, v int"),
        keys=["subj"],
    )
    rows = {r["subj"]: r["v"] for r in tbl.read().collect()}
    assert rows == {"a": 1, "b": 2, "c": 2}


def test_bucketing_conversion_survives_crash_after_spec_write(spark, tmp_path):
    """Crash-window hazard (r4 advice): the bucket spec lands on disk but
    the conversion fold never commits.  The next merge_upsert must take the
    full-fold conversion path (prior snapshot has no bucket map), NOT the
    scoped path with an empty bucket map — which silently dropped every
    pre-existing row."""
    from omop_concept_automapper_spark.catalog import Table

    tbl = Table(spark, str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(f"m:{i}", i) for i in range(50)], "subj string, v int"
    )
    tbl.overwrite(base)  # born non-bucketed
    # simulate the crash: spec persisted, conversion commit never happened
    tbl._set_bucket_spec("subj", 4)
    delta = spark.createDataFrame([("m:7", 999), ("m:99", 1)], "subj string, v int")
    tbl.merge_upsert(delta, keys=["subj"])
    rows = {r["subj"]: r["v"] for r in tbl.read().collect()}
    assert len(rows) == 51                      # every pre-existing row kept
    assert rows["m:7"] == 999 and rows["m:99"] == 1
    assert tbl.snapshot().buckets               # and the table is now bucketed
    # a later merge is scoped again
    tbl.merge_upsert(
        spark.createDataFrame([("m:8", 888)], "subj string, v int"), keys=["subj"]
    )
    assert tbl.snapshot().metrics["buckets_rewritten"] == 1


def test_bucketing_conversion_rejects_schema_mismatch(spark, tmp_path):
    """The conversion fold must not silently project away delta columns the
    table lacks (r4 advice: df.select(*current.columns) dropped them)."""
    import pytest

    from omop_concept_automapper_spark.catalog import Table

    tbl = Table(spark, str(tmp_path / "t"))
    tbl.overwrite(spark.createDataFrame([("a", 1)], "subj string, v int"))
    widened = spark.createDataFrame(
        [("b", 2, "extra")], "subj string, v int, note string"
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        tbl.merge_upsert(widened, keys=["subj"], bucket_by=("subj", 4))


def test_incremental_run_equals_from_scratch(spark, tmp_path):
    """run_incremental over new conversations must converge to exactly the
    from-scratch result on the union: same mention freqs, same links, same
    edges, same canonical node grouping — with linking compute O(new
    distinct mentions) (the anti-join skips already-linked ones)."""
    lexicon = build_lexicon()
    batch1 = transcripts_dataframe(spark, n_conversations=25)
    all_convs = transcripts_dataframe(spark, n_conversations=N_CONV)
    batch2 = all_convs.where(F.col("conv_id") >= "conv-000025")

    # incremental: 25 convs, then fold in the remaining 15
    wh_inc = Warehouse(spark, str(tmp_path / "wh_inc"))
    pipe = Pipeline(spark, wh_inc, PipelineConfig())
    pipe.run(batch1, *vocab_dataframes(spark), lexicon)
    n_links_before = wh_inc.table("links").read().count()
    out_inc = pipe.run_incremental(batch2, *vocab_dataframes(spark), lexicon)

    # from-scratch over the union
    wh_full, out_full = _run(spark, str(tmp_path / "wh_full"))

    assert _edge_set(out_inc["edges"]) == _edge_set(out_full["edges"])

    def freqs(df):
        return {
            r["mention_text"]: r["freq"]
            for r in df.select("mention_text", "freq").collect()
        }

    assert freqs(out_inc["mentions"]) == freqs(out_full["mentions"])

    def link_set(df):
        return {
            (r["mention_id"], r["mention_id2"], r["concept_id"], r["confidence"])
            for r in df.where(F.col("error").isNull()).collect()
        }

    assert link_set(out_inc["links"]) == link_set(out_full["links"])

    def canonical_groups(nodes_df):
        groups: dict[str, set] = {}
        for n in nodes_df.collect():
            if n["node_type"] == "mention_entity":
                groups.setdefault(n["canonical_id"], set()).add(n["label"])
        return {frozenset(v) for v in groups.values()}

    assert canonical_groups(out_inc["nodes"]) == canonical_groups(out_full["nodes"])

    # linking was actually incremental: batch-1 mentions kept their rows
    # (appended-to, not rebuilt) unless a quarantine retry forced a rewrite
    n_new = out_inc["links"].count() - n_links_before
    assert 0 < n_new < out_full["links"].count()
    ops = [s.operation for s in wh_inc.table("links").history()]
    assert ops[-1] == "append"


def test_compact_folds_appends_without_changing_content(spark, tmp_path):
    """Iceberg-maintenance parity: compaction folds N append snapshots'
    data dirs into one, content byte-identical, history preserved."""
    tbl = Warehouse(spark, str(tmp_path / "wh")).table("t")
    for i in range(4):
        tbl.append(spark.range(i * 10, (i + 1) * 10).selectExpr("id as v"))
    before = sorted(r["v"] for r in tbl.read().collect())
    assert len(tbl.snapshot().live_dirs) == 4
    snap = tbl.compact()
    assert snap.operation == "compact"
    assert len(tbl.snapshot().live_dirs) == 1
    assert sorted(r["v"] for r in tbl.read().collect()) == before
    assert [s.operation for s in tbl.history()].count("append") == 4


def test_expire_snapshots_deletes_only_unreferenced_dirs(spark, tmp_path):
    """expire_snapshots drops old manifests and their now-orphaned data
    dirs while every dir the retained snapshots reference survives —
    time travel to retained snapshots keeps working."""
    import os

    tbl = Warehouse(spark, str(tmp_path / "wh")).table("t")
    for i in range(3):
        tbl.append(spark.range(i * 5, (i + 1) * 5).selectExpr("id as v"))
    tbl.compact()  # old append dirs now referenced ONLY by old manifests
    live_dirs = set(tbl.snapshot().live_dirs)
    stats = tbl.expire_snapshots(keep_last=1)
    assert stats["expired"] == 3
    assert stats["deleted_dirs"] == 3
    # current snapshot intact and readable
    assert sorted(r["v"] for r in tbl.read().collect()) == list(range(15))
    for d in live_dirs:
        assert os.path.exists(d)
    # expired data dirs actually gone
    data_root = os.path.join(tbl.path, "data")
    assert set(
        os.path.join(data_root, n) for n in os.listdir(data_root)
    ) == live_dirs


def test_expire_keeps_shared_dirs_referenced_by_retained_snapshots(spark, tmp_path):
    """An append chain shares data dirs across snapshots: expiring old
    manifests must NOT delete dirs the newest snapshot still references."""
    tbl = Warehouse(spark, str(tmp_path / "wh")).table("t")
    for i in range(3):
        tbl.append(spark.range(i * 5, (i + 1) * 5).selectExpr("id as v"))
    stats = tbl.expire_snapshots(keep_last=1)
    assert stats["expired"] == 2
    assert stats["deleted_dirs"] == 0  # all dirs live in the kept snapshot
    assert sorted(r["v"] for r in tbl.read().collect()) == list(range(15))


def test_stream_batch_markers_survive_compact_and_expire(spark, tmp_path):
    """Maintenance must not erase the streaming exactly-once replay guard
    (r3 advice): compact folds applied stream_batch_id markers into the
    surviving snapshot, and expire_snapshots folds any marker recorded only
    in expired manifests forward before deleting them."""
    tbl = Warehouse(spark, str(tmp_path / "wh")).table("t")
    for i in range(3):
        tbl.append(
            spark.range(5).selectExpr("id as v"),
            metrics={"stream_batch_id": i},
        )
    assert tbl.applied_stream_batch_ids() == {0, 1, 2}
    tbl.compact()
    tbl.expire_snapshots(keep_last=1)
    assert tbl.applied_stream_batch_ids() == {0, 1, 2}
    # expire WITHOUT a prior compact: markers live only in expired
    # manifests and must be folded into the current one
    tbl.append(
        spark.range(5).selectExpr("id as v"), metrics={"stream_batch_id": 7}
    )
    tbl.append(spark.range(5).selectExpr("id as v"))
    tbl.expire_snapshots(keep_last=1)
    assert tbl.applied_stream_batch_ids() == {0, 1, 2, 7}


def test_table_level_metrics_survive_compact_and_expire(spark, tmp_path):
    """Maintenance must also carry TABLE-LEVEL metric keys (newest-wins
    watermarks/fingerprints like tokens_through, link_config) forward —
    not just the batch markers — or a compact+expire cycle silently resets
    streaming offsets / triggers spurious full recomputes.  Per-commit
    bookkeeping keys (lineage, compacted) are NOT carried."""

    def last(tbl, key):
        for s in reversed(tbl.history()):
            if key in (s.metrics or {}):
                return s.metrics[key]
        return None

    tbl = Warehouse(spark, str(tmp_path / "wh")).table("t")
    tbl.append(
        spark.range(5).selectExpr("id as v"),
        metrics={"tokens_through": 100, "link_config": "fp-a",
                 "delta_scoped": True},
    )
    tbl.append(
        spark.range(5).selectExpr("id as v"), metrics={"tokens_through": 250}
    )
    # compact folds newest-wins values into its own snapshot
    tbl.compact()
    tbl.expire_snapshots(keep_last=1)
    assert len(tbl.history()) == 1
    assert last(tbl, "tokens_through") == 250
    assert last(tbl, "link_config") == "fp-a"
    # the compact snapshot's own lineage is its own, not a stale carry,
    # and per-commit keys (whitelist polarity) are NOT smeared onto it:
    # a compact wearing a merge's delta_scoped=True would misdescribe a
    # full rewrite as a delta-scoped commit
    assert tbl.snapshot().metrics["lineage"]["n_partitions"] == 1
    assert "delta_scoped" not in tbl.snapshot().metrics

    # expire WITHOUT a prior compact: keys recorded only in older
    # manifests fold into the current one, newest value winning
    tbl.append(
        spark.range(5).selectExpr("id as v"), metrics={"tokens_through": 400}
    )
    tbl.append(spark.range(5).selectExpr("id as v"))  # no keys
    tbl.expire_snapshots(keep_last=1)
    assert last(tbl, "tokens_through") == 400
    assert last(tbl, "link_config") == "fp-a"
    # a key the current manifest already carries is never overwritten
    tbl.append(
        spark.range(5).selectExpr("id as v"), metrics={"tokens_through": 900}
    )
    tbl.expire_snapshots(keep_last=1)
    assert last(tbl, "tokens_through") == 900


def test_incremental_fold_is_delta_scoped(spark, tmp_path, monkeypatch):
    """r3 verdict ask #4: a fold's per-batch work is O(delta), not
    O(history) — the mention dim is freq-merged from the appended
    occurrences only, the fold links against the build's vocab snapshot
    dirs without writing any index, and canonicalization re-runs CC only
    over components touched by new links (evidenced by the recorded
    stage/snapshot metrics)."""
    import os

    lexicon = build_lexicon()
    batch1 = transcripts_dataframe(spark, n_conversations=25)
    all_convs = transcripts_dataframe(spark, n_conversations=N_CONV)
    batch2 = all_convs.where(F.col("conv_id") >= "conv-000025")
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = Pipeline(spark, wh, PipelineConfig())
    pipe.run(batch1, *vocab_dataframes(spark), lexicon)
    vocab_dirs = wh.table("vocab_embeddings").snapshot().live_dirs
    calls = _spy_link_index_dirs(monkeypatch)
    pipe.run_incremental(batch2, *vocab_dataframes(spark), lexicon)

    # the dim update went through the delta freq-merge, never re-scanning
    # the full occurrences table
    assert wh.stage_metrics("mentions")["metrics"]["dim_path"] == "delta"
    # unchanged vocabulary -> the fold linked from the build's snapshot
    # dirs (executor index caches stay warm) and wrote no index copy
    assert calls == [vocab_dirs]
    assert not os.path.exists(os.path.join(wh.root, "vocab_index"))
    # the graph merge took the delta-scoped path and recorded it
    e_metrics = wh.table("edges").snapshot().metrics
    n_metrics = wh.table("nodes").snapshot().metrics
    assert e_metrics.get("delta_scoped") is True
    assert n_metrics.get("delta_scoped") is True
    assert e_metrics.get("graph_format") == 3


def test_graph_format_mismatch_forces_full_rebuild(spark, tmp_path):
    """A warehouse whose graph tables were written under an older graph
    format must be fully rebuilt, never merged (r3 advice: cross-format
    merge keeps old-format rows alongside new-format twins, silently
    duplicating every mention node and edge)."""
    import json as _json
    import os

    lexicon = build_lexicon()
    convs = transcripts_dataframe(spark, n_conversations=20)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = Pipeline(spark, wh, PipelineConfig())
    out = pipe.run(convs, *vocab_dataframes(spark), lexicon)
    n_edges = out["edges"].count()

    # simulate a warehouse written under format v2 by rewriting the
    # recorded format in every graph manifest
    for t in ("edges", "nodes"):
        mdir = os.path.join(wh.table(t).path, "_manifests")
        for name in os.listdir(mdir):
            p = os.path.join(mdir, name)
            with open(p) as f:
                m = _json.loads(f.read())
            if "graph_format" in (m.get("metrics") or {}):
                m["metrics"]["graph_format"] = 2
            with open(p, "w") as f:
                f.write(_json.dumps(m))
    wh.reset_stage("graph")
    nodes2, edges2 = pipe.stage_graph(wh.table("links").read())
    assert edges2.count() == n_edges  # no old/new-format twin rows
    fmt = wh.table("edges").snapshot().metrics
    assert fmt.get("graph_format") == 3
    assert fmt.get("graph_format_migrated_from") == 2


def test_three_successive_delta_folds_keep_canonical_equality(spark, tmp_path):
    """Three run_incremental folds in sequence (each taking the delta-
    scoped dim/graph paths) must end bitwise-equal to one from-scratch run
    over the union — including canonical node grouping, which the delta
    path RELABELS per affected component (a later batch can introduce a
    smaller 128-bit mention key and change an existing component's
    canonical id)."""
    lexicon = build_lexicon()
    all_convs = transcripts_dataframe(spark, n_conversations=N_CONV)
    cuts = ["conv-000000", "conv-000014", "conv-000027", None]
    wh = Warehouse(spark, str(tmp_path / "wh_inc"))
    pipe = Pipeline(spark, wh, PipelineConfig())
    for i in range(3):
        sel = F.col("conv_id") >= cuts[i]
        if cuts[i + 1] is not None:
            sel = sel & (F.col("conv_id") < cuts[i + 1])
        batch = all_convs.where(sel)
        if i == 0:
            pipe.run(batch, *vocab_dataframes(spark), lexicon)
        else:
            pipe.run_incremental(batch, *vocab_dataframes(spark), lexicon)
            assert (
                wh.stage_metrics("mentions")["metrics"]["dim_path"] == "delta"
            )
            assert (
                wh.table("edges").snapshot().metrics.get("delta_scoped")
                is True
            )

    full_wh = Warehouse(spark, str(tmp_path / "wh_full"))
    Pipeline(spark, full_wh, PipelineConfig()).run(
        all_convs, *vocab_dataframes(spark), lexicon
    )

    def edge_set(wh_):
        return {
            (r["subj"], r["pred"], r["obj"], str(r["confidence"]))
            for r in wh_.table("edges").read().collect()
        }

    def node_rows(wh_):
        return sorted(
            (r["node_id"], r["node_type"], r["canonical_id"],
             r["comp_h1"], r["comp_h2"], r["label"])
            for r in wh_.table("nodes").read().collect()
        )

    assert edge_set(wh) == edge_set(full_wh)
    assert node_rows(wh) == node_rows(full_wh)


def _mk_links(spark, rows):
    """Synthetic links table: rows = (mention_text, concept_id, confidence)."""
    df = spark.createDataFrame(
        rows, "mention_text string, concept_id int, confidence int"
    )
    return df.select(
        F.xxhash64("mention_text").alias("mention_id"),
        F.xxhash64(F.lit(1), F.col("mention_text")).alias("mention_id2"),
        "mention_text",
        F.lit(False).alias("is_drug"),
        F.lit("").alias("atc7"),
        "concept_id",
        F.col("mention_text").alias("concept_name"),
        F.lit(1.0).cast("float").alias("score"),
        "confidence",
        F.lit(15).alias("k_used"),
        F.lit(15).alias("n_candidates"),
        F.lit("auto_standard").alias("mapping_method"),
        F.array().cast("array<int>").alias("candidate_ids"),
        F.lit(None).cast("string").alias("error"),
    )


def test_delta_merge_relabels_orphaned_concepts(spark, tmp_path):
    """r4 verdict ask #1: a remap that leaves a concept with zero mentions
    must not keep the concept's stale component/canonical label on the
    delta path — the orphan is relabeled as its own singleton component,
    and every other row equals the from-scratch build."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = Pipeline(spark, wh, PipelineConfig())
    pipe.stage_graph(_mk_links(spark, [("alpha", 100, 10), ("beta", 200, 10)]))
    # remap: alpha's only mention moves 100 -> 300; concept 100 is orphaned
    wh.reset_stage("graph")
    links2 = _mk_links(spark, [("alpha", 300, 10), ("beta", 200, 10)])
    nodes, edges = pipe.stage_graph(links2)
    assert wh.table("edges").snapshot().metrics.get("delta_scoped") is True

    scratch = Warehouse(spark, str(tmp_path / "wh2"))
    nodes2, edges2 = Pipeline(spark, scratch, PipelineConfig()).stage_graph(links2)

    cols = [c for c in edges.columns if c != "created_at"]
    assert sorted(map(tuple, edges.select(*cols).collect())) == sorted(
        map(tuple, edges2.select(*cols).collect())
    )
    orphan = nodes.where(F.col("node_id") == "c:100").collect()
    assert len(orphan) == 1
    o = orphan[0]
    # singleton: component = own node key (100 << 1, 0), canonical = itself
    assert (o["comp_h1"], o["comp_h2"]) == (o["node_h1"], o["node_h2"]) == (200, 0)
    assert o["canonical_id"] == "c:100"
    rest = nodes.where(F.col("node_id") != "c:100")
    assert sorted(map(tuple, rest.collect())) == sorted(
        map(tuple, nodes2.collect())
    )


def test_delta_merge_detects_payload_only_changes(spark, tmp_path):
    """r4 advice: a re-scored link whose target concept is unchanged but
    whose confidence changed must still be rewritten by the delta merge
    (key-only detection silently kept the stale audit columns)."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = Pipeline(spark, wh, PipelineConfig())
    pipe.stage_graph(_mk_links(spark, [("alpha", 100, 10), ("beta", 200, 10)]))

    # identical links: the delta is empty and the snapshots are untouched
    e_sid = wh.table("edges").current_snapshot_id()
    wh.reset_stage("graph")
    pipe.stage_graph(_mk_links(spark, [("alpha", 100, 10), ("beta", 200, 10)]))
    assert wh.table("edges").current_snapshot_id() == e_sid

    # same concept, new confidence: the edge row must be replaced
    wh.reset_stage("graph")
    _, edges = pipe.stage_graph(
        _mk_links(spark, [("alpha", 100, 9), ("beta", 200, 10)])
    )
    assert wh.table("edges").snapshot().metrics.get("delta_scoped") is True
    by_text = {r["mention_text"]: int(r["confidence"]) for r in edges.collect()}
    assert by_text == {"alpha": 9, "beta": 10}


def test_remap_across_folds_equals_from_scratch(spark, tmp_path):
    """End-to-end remap through run_incremental (config-fingerprint change
    path, r4 verdict ask #1): fold 1 links mention -> concept A; fold 2's
    domain-filter config remaps it to same-named concept B, orphaning A.
    Delta-fold nodes/edges must equal from-scratch under the new config,
    plus A's row relabeled as a singleton."""
    import datetime

    concept = spark.createDataFrame(
        [
            (9001, "zymotrex", "Condition", "SNOMED", "Clinical Finding", "S", "Z1"),
            (9002, "zymotrex", "Measurement", "LOINC", "Lab Test", "S", "Z2"),
        ],
        "concept_id int, concept_name string, domain_id string, "
        "vocabulary_id string, concept_class_id string, "
        "standard_concept string, concept_code string",
    )
    rel = spark.createDataFrame(
        [],
        "concept_id_1 int, concept_id_2 int, relationship_id string, "
        "invalid_reason string",
    )
    anc = spark.createDataFrame(
        [], "ancestor_concept_id int, descendant_concept_id int"
    )
    lexicon = [{"mention_text": "zymotrex", "is_drug": False}]
    ts = datetime.datetime(2026, 1, 1)

    def turns(conv):
        return spark.createDataFrame(
            [(conv, 0, "doctor", "patient shows zymotrex today", None, ts)],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    out1 = Pipeline(spark, wh, PipelineConfig()).run(
        turns("c1"), concept, rel, anc, lexicon
    )
    assert [r["obj"] for r in out1["edges"].collect()] == [9001]

    # fold 2: domain filter remaps the mention to the Measurement twin
    pipe2 = Pipeline(
        spark, wh, PipelineConfig(target_domains=["Measurement"])
    )
    out2 = pipe2.run_incremental(turns("c2"), concept, rel, anc, lexicon)
    assert wh.table("edges").snapshot().metrics.get("delta_scoped") is True
    assert [r["obj"] for r in out2["edges"].collect()] == [9002]

    scratch = Warehouse(spark, str(tmp_path / "wh2"))
    out_s = Pipeline(
        spark, scratch, PipelineConfig(target_domains=["Measurement"])
    ).run(
        turns("c1").unionByName(turns("c2")), concept, rel, anc, lexicon
    )
    ecols = [c for c in out2["edges"].columns if c != "created_at"]
    assert sorted(map(tuple, out2["edges"].select(*ecols).collect())) == sorted(
        map(tuple, out_s["edges"].select(*ecols).collect())
    )
    nodes = out2["nodes"]
    orphan = nodes.where(F.col("node_id") == "c:9001").collect()
    assert len(orphan) == 1
    o = orphan[0]
    assert (o["comp_h1"], o["comp_h2"]) == (o["node_h1"], o["node_h2"])
    assert o["canonical_id"] == "c:9001"
    assert sorted(
        map(tuple, nodes.where(F.col("node_id") != "c:9001").collect())
    ) == sorted(map(tuple, out_s["nodes"].collect()))


def test_build_with_nothing_to_link_completes(spark, tmp_path):
    """A build that accepts no link (no transcripts) and a build over an
    empty vocabulary (a domain filter no concept passes: zero hits for
    every mention) both complete with empty links, edges and nodes."""
    transcripts = transcripts_dataframe(spark, n_conversations=5)
    for name, turns, cfg in (
        ("no_turns", transcripts.limit(0), PipelineConfig()),
        ("no_vocab", transcripts, PipelineConfig(domain_filter="NoSuchDomain")),
    ):
        wh = Warehouse(spark, str(tmp_path / name))
        out = Pipeline(spark, wh, cfg).run(
            turns, *vocab_dataframes(spark), build_lexicon()
        )
        for table in ("links", "edges", "nodes"):
            assert out[table].count() == 0, (name, table)
        assert out["mentions"].count() > 0 or name == "no_turns"

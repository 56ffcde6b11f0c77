"""The catalog reads and commits without metadata-only Spark jobs: the read
schema comes from the snapshot manifest and the commit lineage from the
parquet footers.  Both must give exactly what Spark's own schema inference
and an ``input_file_name`` row count give."""

from __future__ import annotations

import json
import os
from urllib.parse import unquote

from pyspark.sql import functions as F

from omop_concept_automapper_spark.catalog import Table, Warehouse
from omop_concept_automapper_spark.fixtures.transcripts import transcripts_dataframe
from omop_concept_automapper_spark.fixtures.vocabulary import (
    build_lexicon,
    vocab_dataframes,
)
from omop_concept_automapper_spark.plans.runner import Pipeline, PipelineConfig


def reference_lineage(spark, data_dir: str, cap: int = 256) -> tuple[int, dict]:
    """The lineage a ``groupBy(input_file_name())`` count over the data dir
    gives — the implementation the footer read replaced."""
    rows = (
        spark.read.parquet(data_dir)
        .groupBy(F.input_file_name().alias("file"))
        .count()
        .collect()
    )
    total = sum(int(r["count"]) for r in rows)
    norm_dir = os.path.abspath(data_dir)
    per_part: dict[str, int] = {}
    for r in rows:
        f = r["file"]
        if f.startswith("file:"):
            f = f[len("file:"):]
        rel = os.path.relpath(os.path.dirname(os.path.abspath(f)), norm_dir)
        key = "" if rel == "." else unquote(rel)
        per_part[key] = per_part.get(key, 0) + int(r["count"])
    return total, {
        "n_files": len(rows),
        "n_partitions": len(per_part),
        "rows_per_partition": dict(sorted(per_part.items())[:cap]),
        "truncated": len(per_part) > cap,
    }


def _assert_lineage_matches(spark, tbl: Table, snap) -> None:
    total, lineage = reference_lineage(
        spark, os.path.join(tbl.path, "data", snap.snapshot_id)
    )
    assert snap.rows_written == total
    assert snap.metrics["lineage"] == lineage


def _tables(wh: Warehouse) -> list[Table]:
    return [
        wh.table(name)
        for name in sorted(os.listdir(wh.root))
        if os.path.exists(os.path.join(wh.root, name, "_current"))
    ]


def test_recorded_schema_equals_inference_after_folds(spark, tmp_path):
    lexicon = build_lexicon()
    convs = transcripts_dataframe(spark, n_conversations=30)
    cuts = ["conv-000000", "conv-000015", "conv-000023", None]
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = Pipeline(spark, wh, PipelineConfig())
    for i in range(3):
        sel = F.col("conv_id") >= cuts[i]
        if cuts[i + 1] is not None:
            sel = sel & (F.col("conv_id") < cuts[i + 1])
        run = pipe.run if i == 0 else pipe.run_incremental
        run(convs.where(sel), *vocab_dataframes(spark), lexicon)
    tables = _tables(wh)
    assert {"links", "edges", "nodes"} <= {os.path.basename(t.path) for t in tables}
    for tbl in tables:
        snap = tbl.snapshot()
        assert snap.schema is not None, tbl.path
        inferred = spark.read.parquet(*snap.live_dirs).schema
        assert tbl.read().schema == inferred, tbl.path


def test_footer_lineage_unpartitioned_and_empty(spark, tmp_path):
    tbl = Table(spark, str(tmp_path / "t"))
    df = spark.range(0, 1000, numPartitions=3).withColumn("v", F.col("id") % 7)
    _assert_lineage_matches(spark, tbl, tbl.overwrite(df))
    _assert_lineage_matches(spark, tbl, tbl.append(df.limit(10)))

    empty = Table(spark, str(tmp_path / "empty"))
    snap = empty.overwrite(df.where(F.lit(False)))
    _assert_lineage_matches(spark, empty, snap)
    assert snap.rows_written == 0
    assert snap.metrics["lineage"]["n_files"] == 0
    assert empty.read().count() == 0


def test_footer_lineage_partition_values_need_escaping(spark, tmp_path):
    tbl = Table(spark, str(tmp_path / "t"))
    values = ["a b", "x%y", "p/q", "c=d", None, "plain"]
    df = spark.createDataFrame(
        [(i, values[i % len(values)]) for i in range(60)], "id long, g string"
    )
    snap = tbl.overwrite(df, partition_by=["g"])
    _assert_lineage_matches(spark, tbl, snap)
    keys = set(snap.metrics["lineage"]["rows_per_partition"])
    # the keys are the directory names on disk, escaped once by Spark
    assert {"g=a b", "g=x%25y", "g=p%2Fq", "g=c%3Dd",
            "g=__HIVE_DEFAULT_PARTITION__", "g=plain"} == keys
    # a partition_by write keeps reading by partition discovery
    assert snap.schema is None
    assert tbl.read().count() == 60


def test_footer_lineage_bucketed_merge(spark, tmp_path):
    tbl = Table(spark, str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(200)], "k long, v string"
    )
    snap = tbl.merge_upsert(base, ["k"], bucket_by=("k", 8))
    _assert_lineage_matches(spark, tbl, snap)
    delta = spark.createDataFrame(
        [(i, f"w{i}") for i in (3, 4, 500)], "k long, v string"
    )
    snap = tbl.merge_upsert(delta, ["k"])
    assert snap.buckets and 0 < snap.metrics["buckets_rewritten"] < 8
    _assert_lineage_matches(spark, tbl, snap)
    assert snap.metrics["lineage"]["n_partitions"] == snap.metrics["buckets_rewritten"]
    got = {r["k"]: r["v"] for r in tbl.read().collect()}
    assert len(got) == 201 and got[3] == "w3" and got[500] == "w500"


def test_manifest_without_schema_reads_by_inference(spark, tmp_path):
    tbl = Table(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, [float(i)], None if i % 2 else f"s{i}") for i in range(20)],
        "id long, vec array<float>, s string",
    )
    tbl.overwrite(df)
    want = sorted(tbl.read().collect())
    mpath = os.path.join(tbl.path, "_manifests", f"{tbl.current_snapshot_id()}.json")
    with open(mpath) as f:
        manifest = json.load(f)
    del manifest["schema"]
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    assert tbl.snapshot().schema is None
    assert sorted(tbl.read().collect()) == want
    # an append onto the old manifest keeps reading by inference
    snap = tbl.append(df.limit(5))
    assert snap.schema is None
    assert tbl.read().count() == 25


def _jobs_in_group(spark, group: str, fn) -> list[str]:
    """Run ``fn`` under job group ``group``; the descriptions of the jobs it
    started."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        desc = store.job(jid).description()
        out.append(desc.get() if desc.isDefined() else "")
    return out


def test_read_and_commit_run_no_metadata_jobs(spark, tmp_path):
    tbl = Table(spark, str(tmp_path / "t"))
    df = spark.range(0, 100).withColumn("v", F.col("id") * 2)
    tbl.overwrite(df)
    tbl.read().count()  # warm the session's parquet path
    assert _jobs_in_group(spark, "catalog-read", tbl.read) == []

    commits = [
        lambda: tbl.append(df),
        lambda: tbl.overwrite(df),
        lambda: tbl.merge_upsert(df.limit(10), ["id"]),
        lambda: tbl.merge_upsert(df.limit(10), ["id"], bucket_by=("id", 4)),
        lambda: tbl.merge_upsert(df.limit(3), ["id"]),
        lambda: tbl.compact(),
    ]
    for i, commit in enumerate(commits):
        descs = _jobs_in_group(spark, f"catalog-commit-{i}", commit)
        assert descs, "a commit writes data"
        assert not [d for d in descs if d.startswith("lineage")], descs
    assert tbl.read().count() == 100

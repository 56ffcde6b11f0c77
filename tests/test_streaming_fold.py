"""The fold driver (streaming/fold.py): a microbatch reaches the fold only
when it is neither empty nor already applied on the fold's last-committing
table."""

from __future__ import annotations

from omop_concept_automapper_spark.catalog import Warehouse
from omop_concept_automapper_spark.streaming.fold import append_once, drain

SCHEMA = "doc_id bigint, text string"


def test_drain_skips_empty_and_applied_batches(spark, tmp_path):
    landing = str(tmp_path / "landing")
    tbl = Warehouse(spark, str(tmp_path / "wh")).table("docs")
    calls: list[int] = []

    def fold(batch_df, batch_id):
        calls.append(batch_id)
        append_once(tbl, batch_df, batch_id)

    def land(rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    def drain_into(checkpoint):
        drain(
            spark, landing, SCHEMA, str(tmp_path / checkpoint), fold,
            last=tbl, max_files_per_trigger=1,
        )

    land([])  # a zero-row parquet file: batch 0
    drain_into("ckpt")
    assert calls == []
    land([(1, "a b c"), (2, "d e f")])  # batch 1
    drain_into("ckpt")
    assert calls == [1]
    assert tbl.applied_stream_batch_ids() == {1}

    # a fresh checkpoint redelivers both files as batches 0 and 1: batch 0
    # is still empty and batch 1 is applied, so the fold runs for neither
    rows = sorted(tbl.read().collect())
    drain_into("ckpt_fresh")
    assert calls == [1]
    assert sorted(tbl.read().collect()) == rows

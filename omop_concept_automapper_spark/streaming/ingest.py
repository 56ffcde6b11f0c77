"""Incremental transcript ingestion via Structured Streaming.

The reference's only incremental pattern is the resumable embedding batch
loop (ST1, reference src/backend/db/methods/embeddings.py:14-50).  The
engine's primary resume mechanism is the stage-manifest anti-join
(plans/runner.py) — this module adds the Structured-Streaming variant for
continuously-arriving transcripts: a file-source stream with
``Trigger.AvailableNow`` drains whatever landed since the last checkpoint
and stops, giving exactly-once ingestion into the transcripts table plus a
per-microbatch mention-occurrence extraction if requested.

At production scale the same code points at an object-store landing zone;
the checkpoint dir provides the offset log (the analog of the reference's
``embedded_concepts`` marker table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from omop_concept_automapper_spark.fixtures.transcripts import TRANSCRIPTS_SCHEMA
from omop_concept_automapper_spark.streaming.fold import (
    compact_on_cadence,
    drain,
    read_landing,
    sink_parquet,
)


def ingest_available_now(
    spark: SparkSession,
    landing_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    transform=None,
) -> None:
    """Drain all unprocessed files from ``landing_dir`` into ``target_dir``.

    ``transform``: optional DataFrame -> DataFrame applied per microbatch
    (e.g. mention extraction) — must be deterministic for exactly-once
    replays to be idempotent.
    """
    stream = read_landing(
        spark, landing_dir, TRANSCRIPTS_SCHEMA, max_files_per_trigger=64
    )
    if transform is not None:
        stream = transform(stream)
    sink_parquet(stream, target_dir, checkpoint_dir)


def stream_into_kg(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    pipeline,
    concept: DataFrame,
    relationship: DataFrame,
    ancestor: DataFrame,
    lexicon: list[dict],
    compact_every: int = 8,
) -> None:
    """Continuously fold newly-landed transcript files into the KG.

    ``foreachBatch`` + ``Trigger.AvailableNow``: each microbatch of new
    conversations runs ``Pipeline.run_incremental`` (append occurrences,
    delta-merge the mention dim, relink only new mentions, bucket-scoped
    graph merge).  Replays are not skipped: ``run_incremental`` appends a
    batch's occurrences once (protocol: streaming/fold.py) and still drives
    the resumable downstream stages to completion.  Invariant
    (tests/test_sources_streaming.py): streaming batches in produces
    exactly the from-scratch KG over the union, and a re-trigger with no
    new files changes nothing.

    Maintenance cadence: every ``compact_every`` applied microbatches the
    append-heavy ``mention_occurrences`` table is compacted and its old
    snapshots expired, so file count stays bounded instead of growing one
    data dir per batch forever (Iceberg's rewrite_data_files +
    expire_snapshots housekeeping; ``fold.compact_on_cadence``).
    ``compact_every <= 0`` disables it.
    """

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        pipeline.run_incremental(
            batch_df, concept, relationship, ancestor, lexicon,
            batch_id=batch_id,
        )
        compact_on_cadence(
            pipeline.wh.table("mention_occurrences"), compact_every
        )

    drain(
        spark, landing_dir, TRANSCRIPTS_SCHEMA, checkpoint_dir, fold,
        last=None, max_files_per_trigger=64,
    )

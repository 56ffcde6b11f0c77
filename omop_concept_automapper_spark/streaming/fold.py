"""The fold driver every streaming twin runs on: the only module that wires
Structured Streaming queries and the only one that knows the exactly-once
protocol.  A fold module keeps just its touched-key rule, its batch
operator and its commits.

Exactly-once protocol.  ``foreachBatch`` is at-least-once: a crash before
the checkpoint commits an offset replays that ``batch_id``, and a fresh
checkpoint redelivers the landed files under ids counted from 0 again.
So every commit of a fold records ``stream_batch_id`` in its snapshot
metrics (:func:`marker`), and

- an intermediate table is appended through :func:`append_once`, which
  skips the append when the table already records the id;
- the table that commits LAST carries the batch's applied signal:
  :func:`drain` skips a batch whose id it records, before any Spark job.

A crash between two commits then replays into skipped appends and a
recompute off unchanged state — byte-identical.  The markers outlive
compaction and expiry (``catalog.Table.applied_stream_batch_ids`` reads
the lists those fold forward).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from omop_concept_automapper_spark.catalog import Table


def marker(batch_id: int, **metrics) -> dict:
    """Snapshot metrics that record ``batch_id`` as applied."""
    return {"stream_batch_id": int(batch_id), **metrics}


def read_landing(
    spark: SparkSession,
    landing_dir: str,
    schema,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The parquet file source over ``landing_dir``."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    return reader.parquet(landing_dir)


def _run_available_now(writer, checkpoint_dir: str) -> None:
    writer.option("checkpointLocation", checkpoint_dir).trigger(
        availableNow=True
    ).start().awaitTermination()


def drain(
    spark: SparkSession,
    landing_dir: str,
    schema,
    checkpoint_dir: str,
    fold: Callable[[DataFrame, int], None],
    last: Table | None,
    max_files_per_trigger: int,
) -> None:
    """Drain ``landing_dir`` (Trigger.AvailableNow), calling
    ``fold(batch_df, batch_id)`` once per microbatch that is neither
    applied on ``last`` (the fold's last-committing table; None when the
    fold resumes replays itself) nor empty.  Blocks until drained."""

    def each(batch_df: DataFrame, batch_id: int) -> None:
        batch_id = int(batch_id)
        if last is not None and batch_id in last.applied_stream_batch_ids():
            return
        if batch_df.isEmpty():
            return
        fold(batch_df, batch_id)

    stream = read_landing(spark, landing_dir, schema, max_files_per_trigger)
    _run_available_now(stream.writeStream.foreachBatch(each), checkpoint_dir)


def append_once(
    tbl: Table,
    df: DataFrame,
    batch_id: int,
    keep_manifests: int = 0,
    **metrics,
) -> None:
    """Append ``df`` with ``batch_id``'s marker unless ``tbl`` already
    records it.  ``keep_manifests > 0`` then expires all but that many
    manifests, so per-batch state reads stay bounded; on an append-only
    table every data dir stays referenced, so this deletes metadata only,
    and markers and watermark metrics fold into the surviving manifest."""
    if int(batch_id) in tbl.applied_stream_batch_ids():
        return
    tbl.append(df, metrics=marker(batch_id, **metrics))
    if keep_manifests > 0:
        tbl.expire_snapshots(keep_last=keep_manifests)


def compact_on_cadence(tbl: Table, every: int) -> None:
    """Compact ``tbl`` and expire its old snapshots once ``every`` batches
    were applied since the last compaction (the ``compacted_through``
    metric of the compact snapshot).  Counting since the last compaction,
    not ``len(applied) % every``, keeps a replayed batch from re-firing
    while the count sits at a multiple.  ``every <= 0`` disables it."""
    if every <= 0:
        return
    n_applied = len(tbl.applied_stream_batch_ids())
    done_through = max(
        (
            int((s.metrics or {}).get("compacted_through", 0))
            for s in tbl.history()
        ),
        default=0,
    )
    if n_applied - done_through >= every:
        tbl.compact(metrics={"compacted_through": n_applied})
        tbl.expire_snapshots(keep_last=1)


def sink_parquet(
    stream: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    drained: bool = True,
):
    """Append ``stream`` to parquet files under ``output_dir``.  By default
    drain the source (Trigger.AvailableNow) and block; ``drained=False``
    starts a continuous query and returns it — the caller owns ``stop()``."""
    writer = (
        stream.writeStream.format("parquet")
        .option("path", output_dir)
        .outputMode("append")
    )
    if drained:
        return _run_available_now(writer, checkpoint_dir)
    return writer.option("checkpointLocation", checkpoint_dir).start()

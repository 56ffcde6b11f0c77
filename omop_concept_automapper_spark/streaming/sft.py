"""Streaming SFT pair assembly: fold continuously-arriving conversation
turns into a live (context, response) pairs table, one microbatch at a
time — the streaming twin of ``operators/sft.context_response_pairs``.

Pair content is RETROACTIVE the same way the corpus keeper is: a turn
arriving late (event-time before an already-paired response of its
conversation) changes that pair's context, and a response turn that
arrived with no prior context becomes a pair the moment an earlier turn
lands.  First-seen/append-only emission would freeze those errors in; the
fold instead RECOMPUTES the affected conversations exactly and
merge-upserts the result:

State (two catalog tables under one prefix):

- ``<prefix>_turns``  (append-only) the turn history — what recompute
  reads; at 100 TB this table lives bucketed by the conversation key so
  the per-batch probe prunes storage to touched conversations (the
  emulation reads-and-filters with a broadcast semi-join, same shape);
- ``<prefix>_pairs``  (merge-upsert on conv + order cols) the live pairs.

Per-batch fold — O(batch + touched conversations' turns), never
O(history):

1. append the batch's turns (once per batch id);
2. affected = the batch's DISTINCT conversation keys (broadcast);
3. run the BATCH operator over the turns table semi-joined to affected
   conversations only;
4. merge-upsert those pairs (LWW per response turn).  Pairs never vanish:
   adding turns cannot remove a response's context, so upsert (without
   delete) converges to the batch answer.

The pairs table commits last and carries the applied signal (protocol:
streaming/fold.py).  After all batches, the pairs table EQUALS the batch
operator over the union under ARBITRARY arrival order (pinned by
tests/test_streaming_sft.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omop_concept_automapper_spark.catalog import Table, Warehouse
from omop_concept_automapper_spark.operators.sft import (
    context_response_pairs,
)
from omop_concept_automapper_spark.streaming.fold import (
    append_once,
    drain,
    marker,
)

TURNS_STREAM_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string"
)


def fold_sft_batch(
    batch_turns: DataFrame,
    batch_id: int,
    turns_tbl: Table,
    pairs_tbl: Table,
    conv_col: str,
    order_cols: list[str],
    role_col: str,
    text_col: str,
    response_role: str,
    k: int,
) -> None:
    """One microbatch of the pair fold (split from the stream wiring so
    tests and a seal path can drive it directly)."""
    batch_turns = batch_turns.localCheckpoint(eager=True)
    append_once(turns_tbl, batch_turns, batch_id)
    affected = batch_turns.select(conv_col).distinct()
    touched = turns_tbl.read().join(
        F.broadcast(affected), conv_col, "left_semi"
    )
    pairs = context_response_pairs(
        touched, conv_col, order_cols, role_col, text_col,
        response_role, k=k,
    )
    pairs_tbl.merge_upsert(
        pairs, keys=[conv_col] + order_cols, metrics=marker(batch_id)
    )


def stream_sft_pairs(
    spark: SparkSession,
    landing_dir: str,
    wh: Warehouse,
    checkpoint_dir: str,
    conv_col: str = "conv_id",
    order_cols: list[str] | None = None,
    role_col: str = "role",
    text_col: str = "text",
    response_role: str = "assistant",
    k: int = 3,
    prefix: str = "sft",
    schema: str = TURNS_STREAM_SCHEMA,
    max_files_per_trigger: int = 64,
) -> None:
    """Drain ``landing_dir`` (Trigger.AvailableNow), folding each turn
    microbatch into the ``<prefix>_turns`` / ``<prefix>_pairs`` tables."""
    order_cols = order_cols or ["turn_idx"]
    turns_tbl = wh.table(f"{prefix}_turns")
    pairs_tbl = wh.table(f"{prefix}_pairs")

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        fold_sft_batch(
            batch_df, batch_id, turns_tbl, pairs_tbl,
            conv_col, order_cols, role_col, text_col, response_role, k,
        )

    drain(
        spark, landing_dir, schema, checkpoint_dir, fold,
        last=pairs_tbl, max_files_per_trigger=max_files_per_trigger,
    )

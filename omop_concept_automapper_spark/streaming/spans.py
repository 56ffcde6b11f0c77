"""Streaming ExactSubstr fold: maintain the duplicate-substring span
table over continuously-arriving documents — the streaming twin of
``operators/dedup.duplicate_ngram_spans`` (total-occurrence mode).

Span state is RETROACTIVE like the corpus keeper: a new document can push
an old gram's corpus count across ``min_count``, creating spans in
documents that arrived batches ago.  Append-only emission would freeze
those misses in; the fold detects exactly which grams CROSSED the
threshold and recomputes exactly the documents that contain them.

State (three catalog tables under one prefix):

- ``<prefix>_docs``   (append-only) the raw documents — what recompute
  re-tokenizes;
- ``<prefix>_grams``  (append-only) per-batch (gram, doc_id, n) counts —
  the inverted index later batches probe; global count = SUM(n).  At
  100 TB this table lives bucketed by a gram hash so the crossing probe
  prunes storage (the emulation reads-and-filters, same join shape);
- ``<prefix>_spans``  (merge-upsert with keys=[doc_id] — GROUP-replace:
  the catalog's anti-join-on-keys semantics swap a document's whole span
  set atomically, which matters because growing dup sets MERGE adjacent
  spans and the old (doc, span_from) keys must disappear).

Per-batch fold — O(batch + crossed-gram docs), never O(corpus):

1. append batch docs + batch gram counts (once per batch id);
2. crossing detection is REPLAY-STABLE: read total counts (which include
   this batch exactly once, because the append above is skipped on
   replay) restricted to the batch's grams; with ``b`` = the batch's
   own contribution, a gram crossed iff ``total - b < min_count <=
   total``.  Computing "prior" counts directly would break crash-replay
   (a replay after the grams append would see the batch double-counted
   in "prior" and miss every crossing);
3. affected docs = docs containing a crossed gram (inverted-index probe,
   semi-join on the crossed set) ∪ the batch's docs;
4. re-tokenize ONLY affected docs, mark positions whose gram is globally
   duplicated (semi-join against the dup-gram subset restricted to the
   affected docs' grams), island-merge per doc, and GROUP-replace their
   span sets.  Spans only ever grow/merge (counts are monotone), so a
   doc absent from the delta is exactly a doc whose spans are unchanged.

The spans table commits last and carries the applied signal (protocol:
streaming/fold.py).  After all batches the spans table EQUALS the batch
operator over the union under ARBITRARY arrival order
(tests/test_streaming_spans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omop_concept_automapper_spark.catalog import Table, Warehouse
from omop_concept_automapper_spark.operators.dedup import (
    gram_positions,
    island_spans,
)
from omop_concept_automapper_spark.streaming.fold import (
    append_once,
    drain,
    marker,
)

SPAN_DOCS_SCHEMA = "doc_id bigint, text string"


def fold_spans_batch(
    batch_docs: DataFrame,
    batch_id: int,
    docs_tbl: Table,
    grams_tbl: Table,
    spans_tbl: Table,
    n: int,
    min_count: int,
) -> None:
    """One microbatch of the span fold (split from the stream wiring so
    tests and a seal path can drive it directly)."""
    batch_docs = batch_docs.localCheckpoint(eager=True)
    bg = (
        gram_positions(batch_docs, n)
        .groupBy("_gram", "doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    append_once(docs_tbl, batch_docs, batch_id)
    append_once(grams_tbl, bg, batch_id)

    all_grams = grams_tbl.read()
    batch_gram_set = bg.select("_gram").distinct()
    batch_contrib = bg.groupBy("_gram").agg(F.sum("n").alias("_b"))
    totals = (
        all_grams.join(F.broadcast(batch_gram_set), "_gram", "left_semi")
        .groupBy("_gram")
        .agg(F.sum("n").alias("_total"))
        .join(batch_contrib, "_gram")
    )
    crossed = totals.where(
        (F.col("_total") - F.col("_b") < min_count)
        & (F.col("_total") >= min_count)
    ).select("_gram")
    affected = (
        all_grams.join(F.broadcast(crossed), "_gram", "left_semi")
        .select("doc_id")
        .unionByName(batch_docs.select("doc_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # re-derive positions for affected docs only; their grams' global
    # dup status comes from the index restricted to those grams
    aff_docs = docs_tbl.read().join(F.broadcast(affected), "doc_id", "left_semi")
    g = gram_positions(aff_docs, n)
    aff_gram_set = g.select("_gram").distinct()
    dup = (
        all_grams.join(aff_gram_set, "_gram", "left_semi")
        .groupBy("_gram")
        .agg(F.sum("n").alias("_t"))
        .where(F.col("_t") >= min_count)
        .select("_gram")
    )
    marked = g.join(dup, "_gram", "left_semi")
    spans_tbl.merge_upsert(
        island_spans(marked, n), keys=["doc_id"], metrics=marker(batch_id)
    )


def stream_duplicate_spans(
    spark: SparkSession,
    landing_dir: str,
    wh: Warehouse,
    checkpoint_dir: str,
    n: int = 4,
    min_count: int = 2,
    prefix: str = "spans",
    schema: str = SPAN_DOCS_SCHEMA,
    max_files_per_trigger: int = 64,
) -> None:
    """Drain ``landing_dir`` (Trigger.AvailableNow), folding each doc
    microbatch into the ``<prefix>_*`` span state tables."""
    docs_tbl, grams_tbl, spans_tbl = (
        wh.table(f"{prefix}_{name}") for name in ("docs", "grams", "spans")
    )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        fold_spans_batch(
            batch_df, batch_id, docs_tbl, grams_tbl, spans_tbl, n, min_count
        )

    drain(
        spark, landing_dir, schema, checkpoint_dir, fold,
        last=spans_tbl, max_files_per_trigger=max_files_per_trigger,
    )

"""Streaming corpus assembly: fold continuously-arriving documents into a
packed token stream / mixture schedule without recomputing history.

Batch ``operators/packing.py`` lays the WHOLE corpus out at once; these
folds extend the same laws one microbatch at a time:

- :func:`stream_pack_sequences` — each microbatch is packed in event-time
  order ``(ts, doc_id)`` and its global offsets continue from a
  ``tokens_through`` watermark carried in the pack table's snapshot
  metrics, so chunk boundaries fall exactly where the batch operator
  would put them on the concatenation of all batches;
- :func:`stream_mixture_interleave` — per-source sequence numbers continue
  from a ``source_seq_through`` map, so the interleave-key law
  ``k * scale DIV w`` holds over the full arrival history.

Determinism contract (same statement as the event-TTL dedup,
streaming/stateful.py): the output is a pure function of the BATCH
SEQUENCE — replaying the same microbatches yields byte-identical tables
(each batch appends once; protocol: streaming/fold.py) — and equals the
batch operator over the union exactly when arrival order respects event
time across batches.  Out-of-order arrival packs each batch internally
in event-time order but cannot reorder already-committed offsets; that
is the streaming trade-off, not a bug.

Scale shape: per microbatch the only state read is snapshot metadata
(a long, or one long per mixture source — mixture state is proportional
to the number of corpus sources, dozens, never data-sized), and the only
data work is the two-phase running total over THAT batch.  Nothing
re-reads the packed history, so per-batch cost is O(batch), matching the
O(delta) incremental-KG fold (plans/runner.py run_incremental).  After
each append the fold keeps ``keep_manifests`` manifests
(``fold.append_once``), so the per-batch state reads stay
O(keep_manifests) instead of O(all batches ever) at zero write
amplification.  DATA-file compaction of the ever-growing packed table is
deliberately NOT done per-batch (rewriting the whole history every N
batches is O(T^2/N) — the trap the occurrence-table policy avoids by
reading only appended dirs); run ``table.compact()`` on the consumer's
own schedule — maintenance carries the watermarks forward, so it is safe
at any point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from omop_concept_automapper_spark.catalog import Table
from omop_concept_automapper_spark.functions.text import token_count
from omop_concept_automapper_spark.operators.packing import (
    chunk_route_cols,
    global_running_total,
)
from omop_concept_automapper_spark.streaming.fold import append_once, drain

DOCS_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("source", StringType()),
        StructField("text", StringType()),
        StructField("ts", TimestampType()),
    ]
)


def _last_metric(table: Table, key: str, default):
    """Newest snapshot carrying ``key`` wins — scanned over history because
    appends after the carrying commit don't re-stamp the key.  Maintenance
    is safe: compact/expire fold table-level metric keys forward
    (catalog.Table._carry_metrics), pinned by
    tests/test_streaming_packing.py::test_watermarks_survive_maintenance."""
    if not table.exists():
        return default
    for snap in reversed(table.history()):
        m = snap.metrics or {}
        if key in m:
            return m[key]
    return default


def stream_pack_sequences(
    spark: SparkSession,
    landing_dir: str,
    table: Table,
    checkpoint_dir: str,
    chunk_tokens: int = 256,
    schema: StructType = DOCS_STREAM_SCHEMA,
    max_files_per_trigger: int = 64,
    keep_manifests: int = 8,
) -> None:
    """Drain ``landing_dir`` (Trigger.AvailableNow) and append packed rows
    ``(doc_id, source, ts, n_tokens, start_off, first_chunk, last_chunk)``
    to ``table``, offsets continuing across batches.  Tests pass
    ``max_files_per_trigger=1`` to force multi-batch continuation;
    production callers batch wider to amortize per-commit overhead."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        base = int(_last_metric(table, "tokens_through", 0))
        toks = batch_df.select(
            "doc_id",
            "source",
            "ts",
            token_count("text").cast("long").alias("n_tokens"),
        ).where(F.col("n_tokens") > 0)
        cum = global_running_total(toks, "n_tokens", ["ts", "doc_id"])
        out = cum.select(
            "doc_id", "source", "ts", "n_tokens",
            *chunk_route_cols(chunk_tokens, base=base),
        )
        # the inclusive running total's max IS the batch total, and cum is
        # already localCheckpoint-ed — no second scan/tokenize of batch_df
        batch_total = cum.agg(F.max("_cum")).collect()[0][0] or 0
        append_once(
            table, out, batch_id, keep_manifests,
            tokens_through=base + int(batch_total),
        )

    drain(
        spark, landing_dir, schema, checkpoint_dir, fold,
        last=table, max_files_per_trigger=max_files_per_trigger,
    )


def stream_mixture_interleave(
    spark: SparkSession,
    landing_dir: str,
    table: Table,
    checkpoint_dir: str,
    weights: dict[str, int],
    scale: int = 1_000_000,
    schema: StructType = DOCS_STREAM_SCHEMA,
    max_files_per_trigger: int = 64,
    keep_manifests: int = 8,
) -> None:
    """Drain ``landing_dir`` and append schedule rows ``(doc_id, source,
    ts, source_seq, interleave_key)`` to ``table``; per-source sequence
    numbers continue across batches so the ``k * scale DIV w`` law holds
    over the whole arrival history."""
    w_rows = [(s, int(w)) for s, w in sorted(weights.items())]
    if any(w <= 0 for _, w in w_rows):
        raise ValueError("mixture weights must be positive integers")

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        bases = {
            str(k): int(v)
            for k, v in _last_metric(table, "source_seq_through", {}).items()
        }
        off_df = spark.createDataFrame(
            [(s, w, bases.get(s, 0)) for s, w in w_rows],
            "source string, _weight long, _base long",
        )
        # restrict to in-spec sources BEFORE counting, so carried bases
        # match the batch operator (whose inner join never sees them)
        ones = (
            batch_df.select("doc_id", "source", "ts")
            .where(F.col("source").isin(*[s for s, _ in w_rows]))
            .withColumn("_one", F.lit(1).cast("long"))
        )
        if ones.isEmpty():
            return
        cum = global_running_total(
            ones, "_one", ["ts", "doc_id"], group_cols=["source"]
        )
        out = (
            cum.join(F.broadcast(off_df), "source")
            .withColumn("source_seq", F.col("_base") + F.col("_cum"))
            .select(
                "doc_id",
                "source",
                "ts",
                "source_seq",
                F.expr(f"source_seq * {int(scale)} DIV _weight").alias(
                    "interleave_key"
                ),
            )
        )
        tallies = {
            r["source"]: int(r["n"])
            for r in cum.groupBy("source").agg(F.max("_cum").alias("n")).collect()
        }
        new_bases = dict(bases)
        for s, n in tallies.items():
            new_bases[s] = new_bases.get(s, 0) + n
        append_once(
            table, out, batch_id, keep_manifests,
            source_seq_through=new_bases,
        )

    drain(
        spark, landing_dir, schema, checkpoint_dir, fold,
        last=table, max_files_per_trigger=max_files_per_trigger,
    )

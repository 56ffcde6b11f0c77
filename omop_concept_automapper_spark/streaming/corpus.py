"""Streaming corpus assembly END TO END: fold continuously-arriving
documents through the quality gate and the near-duplicate keeper decision
one microbatch at a time, then seal the settled keeper set into the same
mixture schedule + packed layout the batch chain emits.

This completes the streaming twin of ``plans/corpus.assemble_corpus`` —
the r5 folds (streaming/packing.py) covered packing and mixture only; the
near-dup keeper stage was the missing (and hard) piece, because keeper
status is RETROACTIVE: a later document can bridge two previously-distinct
clusters, demoting a doc that was a keeper when it arrived.  The fold
handles that exactly instead of approximating it with first-seen-wins.

State model (three catalog tables, one Warehouse prefix):

- ``<prefix>_bands``   (append-only)  per-doc LSH band buckets
  ``(doc_id, band, bucket)`` — the persisted index later batches probe;
- ``<prefix>_docs``    (append-only)  quality survivors' schedule inputs
  ``(doc_id, source, ts, n_tokens)`` — what the seal reads (never text);
- ``<prefix>_clusters`` (merge-upsert by doc_id, bucketed)  the live
  keeper decision ``(doc_id, cluster_id, is_keeper)``.

Per-batch fold (all O(batch + delta), never O(corpus)):

1. quality-gate the batch (map-only) and tokenize once;
2. MinHash signatures + band buckets over BATCH docs only; append to the
   bands table;
3. delta candidate edges = batch buckets equi-joined against the stored
   bucket history, restricted first by a broadcast semi-join on the
   batch's own (band, bucket) set — only buckets the batch touches leave
   the scan.  (At 100 TB the bands table lives bucketed by ``bucket`` so
   an Iceberg reader prunes storage to touched buckets; the emulation
   reads-and-filters, same join shape.)
4. CONTRACTED connected components: each endpoint maps to its prior
   cluster label (itself if new), and CC runs over the distinct
   (label, label) edges — O(delta edges), never over cluster contents.
   Prior clusters are internally connected by induction, so components of
   the contracted graph equal components of the full candidate graph, and
   because every prior label is its cluster's min doc_id, the contracted
   min IS the merged cluster's min.  This is the same delta-relabel law
   the incremental KG fold uses for orphan components
   (plans/runner.py:449-506), applied to the dedup graph.
5. retroactive relabel: prior rows whose cluster label changed get
   merge-upserted with the new label (broadcast join on the O(affected)
   relabel map; the bucketed upsert rewrites only touched buckets), and
   batch docs enter with their final label.  ``is_keeper`` is recomputed
   as ``doc_id == cluster_id`` — min-label semantics make demotion
   automatic.

The clusters table commits last and carries the applied signal (protocol:
streaming/fold.py).  Replaying all batches through a fresh checkpoint is
a no-op (pinned by tests/test_streaming_corpus.py).

Seal (:func:`seal_corpus` / :func:`stream_assemble_corpus`): join the
docs table to the settled keepers and run the SAME ``schedule_and_pack``
tail as the batch chain.  Because every stage's output is a pure function
of the keeper set — clusters are min-label CC, the schedule orders by
(doc_id), the pack by (interleave_key, source, doc_id) — the sealed
corpus equals ``assemble_corpus`` over the union under ARBITRARY arrival
order, a strictly stronger law than the event-time-respecting one the
per-batch pack/mixture folds can offer (they commit offsets in arrival
order and cannot retract).  Use the folds for arrival-ordered packing;
use the seal when the output must be the batch corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omop_concept_automapper_spark.catalog import Table, Warehouse
from omop_concept_automapper_spark.functions.text import token_count
from omop_concept_automapper_spark.operators.connected_components import (
    connected_components,
)
from omop_concept_automapper_spark.operators.dedup import (
    band_buckets,
    minhash_signatures,
)
from omop_concept_automapper_spark.plans.corpus import (
    quality_survivors,
    schedule_and_pack,
)
from omop_concept_automapper_spark.streaming.fold import (
    append_once,
    drain,
    marker,
)
from omop_concept_automapper_spark.streaming.packing import DOCS_STREAM_SCHEMA


def _corpus_tables(wh: Warehouse, prefix: str) -> tuple[Table, Table, Table]:
    return (
        wh.table(f"{prefix}_bands"),
        wh.table(f"{prefix}_docs"),
        wh.table(f"{prefix}_clusters"),
    )


def _fold_clusters_batch(
    spark: SparkSession,
    batch_q: DataFrame,
    batch_id: int,
    bands_tbl: Table,
    docs_tbl: Table,
    clusters_tbl: Table,
    n_hashes: int,
    shingle_size: int,
    n_bands: int,
    rows_per_band: int,
    n_buckets: int,
    keep_manifests: int,
) -> None:
    """One microbatch of the near-dup keeper fold over already
    quality-gated docs.  Split from the stream wiring so the seal path and
    tests drive it directly."""
    # reused by the append AND the history probe — pin it
    bands = band_buckets(
        minhash_signatures(
            batch_q, n_hashes=n_hashes, shingle_size=shingle_size
        ),
        n_bands=n_bands,
        rows_per_band=rows_per_band,
    ).localCheckpoint(eager=True)

    append_once(bands_tbl, bands, batch_id, keep_manifests)
    append_once(
        docs_tbl,
        batch_q.select(
            "doc_id",
            "source",
            "ts",
            token_count("text").cast("long").alias("n_tokens"),
        ),
        batch_id,
        keep_manifests,
    )

    # delta candidate edges: batch buckets vs stored history (which now
    # includes this batch, so within-batch pairs surface too).  The
    # broadcast semi-join keeps only touched buckets out of the history
    # scan before the pair join shuffles anything.
    hist = bands_tbl.read().join(
        F.broadcast(bands.select("band", "bucket").distinct()),
        ["band", "bucket"],
        "left_semi",
    )
    e_new = (
        bands.alias("l")
        .join(
            hist.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") != F.col("r.doc_id")),
        )
        .select(
            F.least("l.doc_id", "r.doc_id").alias("d1"),
            F.greatest("l.doc_id", "r.doc_id").alias("d2"),
        )
        .distinct()
    )

    prior = (
        clusters_tbl.read()
        if clusters_tbl.exists()
        else spark.createDataFrame(
            [], "doc_id long, cluster_id long, is_keeper long"
        )
    )
    lab = prior.select("doc_id", "cluster_id")

    # contract endpoints to their prior cluster labels (themselves if new)
    e_l = (
        e_new.join(
            lab.select(
                F.col("doc_id").alias("d1"), F.col("cluster_id").alias("_l1")
            ),
            "d1",
            "left",
        )
        .join(
            lab.select(
                F.col("doc_id").alias("d2"), F.col("cluster_id").alias("_l2")
            ),
            "d2",
            "left",
        )
        .select(
            F.coalesce("_l1", "d1").alias("src"),
            F.coalesce("_l2", "d2").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)  # tiny: O(delta edges)
    )

    if e_l.isEmpty():
        relabel = spark.createDataFrame([], "_old long, _new long")
    else:
        comp = connected_components(e_l)
        relabel = (
            comp.where(F.col("node") != F.col("component"))
            .select(
                F.col("node").alias("_old"), F.col("component").alias("_new")
            )
            .localCheckpoint(eager=True)  # O(affected labels)
        )

    # retroactive relabel of prior rows in merged clusters (inner join on
    # the small relabel map -> O(affected) rows reach the upsert)
    changed = prior.join(
        F.broadcast(relabel), prior["cluster_id"] == F.col("_old")
    ).select(
        "doc_id",
        F.col("_new").alias("cluster_id"),
        (F.col("doc_id") == F.col("_new")).cast("long").alias("is_keeper"),
    )
    # batch docs enter with their final label (their contracted node id is
    # their own doc_id)
    entering = (
        batch_q.select("doc_id")
        .distinct()
        .join(F.broadcast(relabel), F.col("doc_id") == F.col("_old"), "left")
        .select(
            "doc_id",
            F.coalesce("_new", "doc_id").alias("cluster_id"),
            (F.col("doc_id") == F.coalesce("_new", "doc_id"))
            .cast("long")
            .alias("is_keeper"),
        )
    )
    clusters_tbl.merge_upsert(
        changed.unionByName(entering),
        keys=["doc_id"],
        bucket_by=("doc_id", n_buckets),
        metrics=marker(batch_id),
    )
    if keep_manifests > 0:
        clusters_tbl.expire_snapshots(keep_last=keep_manifests)


def stream_corpus_ingest(
    spark: SparkSession,
    landing_dir: str,
    wh: Warehouse,
    checkpoint_dir: str,
    prefix: str = "corpus",
    min_quality_bp: int = 5000,
    n_hashes: int = 8,
    shingle_size: int = 3,
    n_bands: int = 4,
    rows_per_band: int = 2,
    n_buckets: int = 8,
    schema=DOCS_STREAM_SCHEMA,
    max_files_per_trigger: int = 64,
    keep_manifests: int = 8,
) -> None:
    """Drain ``landing_dir`` (Trigger.AvailableNow), folding each
    microbatch through quality gate + incremental LSH + contracted-CC
    keeper relabel into the three ``<prefix>_*`` state tables."""
    bands_tbl, docs_tbl, clusters_tbl = _corpus_tables(wh, prefix)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        batch_q = quality_survivors(batch_df, min_quality_bp)
        if batch_q.isEmpty():
            return
        _fold_clusters_batch(
            spark, batch_q, batch_id, bands_tbl, docs_tbl, clusters_tbl,
            n_hashes, shingle_size, n_bands, rows_per_band, n_buckets,
            keep_manifests,
        )

    drain(
        spark, landing_dir, schema, checkpoint_dir, fold,
        last=clusters_tbl, max_files_per_trigger=max_files_per_trigger,
    )


def seal_corpus(
    wh: Warehouse,
    prefix: str = "corpus",
    weights: dict[str, int] | None = None,
    chunk_tokens: int = 256,
) -> DataFrame:
    """Mixture-schedule and pack the SETTLED keeper set — the batch
    chain's exact tail (plans/corpus.schedule_and_pack) over the streamed
    state, so the result equals ``assemble_corpus`` over everything that
    has arrived, regardless of arrival order."""
    from omop_concept_automapper_spark.plans.corpus import (
        DEFAULT_MIXTURE_WEIGHTS,
    )

    _, docs_tbl, clusters_tbl = _corpus_tables(wh, prefix)
    keepers = (
        clusters_tbl.read().where(F.col("is_keeper") == 1).select("doc_id")
    )
    kept = docs_tbl.read().select("doc_id", "source", "n_tokens").join(
        keepers, "doc_id"
    )
    return schedule_and_pack(
        kept, weights or DEFAULT_MIXTURE_WEIGHTS, chunk_tokens
    )


def stream_assemble_corpus(
    spark: SparkSession,
    landing_dir: str,
    wh: Warehouse,
    checkpoint_dir: str,
    prefix: str = "corpus",
    weights: dict[str, int] | None = None,
    chunk_tokens: int = 256,
    min_quality_bp: int = 5000,
    **ingest_kwargs,
) -> DataFrame:
    """The streaming twin of ``plans/corpus.assemble_corpus``: drain the
    landing dir through the incremental ingest fold, then seal.  Returns
    the sealed corpus DataFrame (same columns as the batch operator)."""
    stream_corpus_ingest(
        spark, landing_dir, wh, checkpoint_dir, prefix=prefix,
        min_quality_bp=min_quality_bp, **ingest_kwargs,
    )
    return seal_corpus(
        wh, prefix=prefix, weights=weights, chunk_tokens=chunk_tokens
    )

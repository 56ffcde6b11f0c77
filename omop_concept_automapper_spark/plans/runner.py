"""Checkpointed pipeline runner — stage orchestration with idempotent resume.

Mirrors the reference's incremental checkpoint loop semantics
(reference src/backend/db/methods/embeddings.py:14-50: anti-join against
the ``embedded_concepts`` marker table, process, upsert marker) at stage
granularity: every stage writes its output table via an atomic snapshot
commit (catalog.Table) and then a stage-complete manifest.  A rerun after a
kill skips completed stages and recomputes only the rest — final triples
are identical (tested in tests/test_invariants.py).

Stage graph (SURVEY.md §3.1 re-expression, one lineage, no driver loop):

    vocab_embeddings   <- concept ⋈ relationship ⋈ ancestor  (lifecycle 3.2)
    mentions           <- transcripts scan -> detect UDF -> salted groupBy
    links              <- mentions -> file-backed knn + rerank  (mapInPandas)
    graph              <- accepted links -> CC -> nodes/edges merge-upsert
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import json
import os

from omop_concept_automapper_spark.catalog import Warehouse, _job_description
from omop_concept_automapper_spark.functions.embedder import EMBEDDER_VERSION
from omop_concept_automapper_spark.operators.knn import (
    build_vocab_index_files,
    link_mentions_file_index,
)
from omop_concept_automapper_spark.plans.graph import (
    GRAPH_FORMAT,
    accepted_mappings,
    build_edges,
    build_nodes,
)
from omop_concept_automapper_spark.plans.mentions import (
    build_mention_table,
    extract_mention_occurrences,
)
from omop_concept_automapper_spark.plans.vocab_prep import build_vocab_embeddings


@dataclass
class PipelineConfig:
    confidence_threshold: int = 8  # reference auto_mapper.py:89
    k_standard: int = 15           # reference auto_mapper.py:69
    k_drug: int = 30
    target_domains: list[str] | None = None
    domain_filter: str | None = None  # vocab embedding domain filter (P3)
    extra: dict = field(default_factory=dict)


class Pipeline:
    def __init__(self, spark: SparkSession, warehouse: Warehouse,
                 config: PipelineConfig | None = None):
        self.spark = spark
        self.wh = warehouse
        self.cfg = config or PipelineConfig()
        # (frame, snapshot id) of the last vocab read stage_vocab_embeddings
        # returned, and (snapshot id, digest) of the last vocab snapshot
        # hashed — see _vocab_digest
        self._vocab_read: tuple[DataFrame, str] | None = None
        self._vocab_hashed: tuple[str, dict] | None = None

    # ------------------------------------------------------------ stages
    def stage_vocab_embeddings(
        self, concept: DataFrame, relationship: DataFrame, ancestor: DataFrame
    ) -> DataFrame:
        """Vocabulary embedding stage with EMBEDDER-VERSION invalidation.

        Every snapshot records the ``EMBEDDER_VERSION`` that produced its
        vectors.  A version bump makes the stored table STALE: the
        stage-complete short-circuit and the ``already_embedded`` resume
        anti-join are both bypassed, every concept is re-embedded, and the
        table is OVERWRITTEN — without this, a bump merely forced a full
        relink that read the same old vectors back out of the unchanged
        index and reproduced the stale links (r5 self-review finding #1).
        """
        tbl = self.wh.table("vocab_embeddings")
        recorded_v = self._recorded_embedder_version(tbl)
        stale = tbl.exists() and recorded_v != EMBEDDER_VERSION
        if self.wh.stage_complete("vocab_embeddings") and not stale:
            return self._read_vocab(tbl)
        already = tbl.read() if (tbl.exists() and not stale) else None
        fresh = build_vocab_embeddings(
            concept, relationship, ancestor,
            domain_filter=self.cfg.domain_filter,
            already_embedded=already,
        )
        vm = {"stage": "vocab_embeddings", "embedder_version": EMBEDDER_VERSION}
        snap = tbl.overwrite(fresh, metrics=vm) if stale else tbl.append(
            fresh, metrics=vm
        )
        self.wh.mark_stage_complete(
            "vocab_embeddings", {"rows_appended": snap.rows_written}
        )
        return self._read_vocab(tbl)

    def _read_vocab(self, tbl) -> DataFrame:
        sid = tbl.current_snapshot_id()
        frame = tbl.read(sid)
        self._vocab_read = (frame, sid)
        return frame

    @staticmethod
    def _recorded_link_config(tbl) -> str | None:
        """Last link_config fingerprint in the links table's snapshot
        history.  Maintenance now carries table-level keys forward
        (catalog.Table._carry_metrics), but ordinary appends after the
        fingerprint commit don't re-stamp it, so reading only the head
        snapshot would still misread the table as stale and trigger a
        spurious full relink — scan history, newest-wins."""
        if not tbl.exists():
            return None
        for snap in reversed(tbl.history()):
            fp = (snap.metrics or {}).get("link_config")
            if fp is not None:
                return fp
        return None

    @staticmethod
    def _recorded_embedder_version(tbl) -> int | None:
        """Last embedder_version recorded in the table's snapshot history
        (newest-wins scan: appends after the versioned commit don't
        re-stamp it; a pre-versioning warehouse has none and reads as
        stale)."""
        if not tbl.exists():
            return None
        for snap in reversed(tbl.history()):
            v = (snap.metrics or {}).get("embedder_version")
            if v is not None:
                return int(v)
        return None

    def stage_mentions(
        self, transcripts: DataFrame, lexicon: list[dict]
    ) -> DataFrame:
        tbl = self.wh.table("mentions")
        occ_tbl = self.wh.table("mention_occurrences")
        if self.wh.stage_complete("mentions"):
            return tbl.read()
        surface_forms = [e["mention_text"] for e in lexicon]
        # the detector output is pinned (lazy localCheckpoint) before the
        # range shuffle: the shuffle's sampling job computes and keeps it,
        # and the shuffle reads the kept rows instead of running the
        # detector UDF a second time
        with _job_description(self.spark.sparkContext, "build: detect occurrences"):
            occurrences = extract_mention_occurrences(
                transcripts, surface_forms
            ).localCheckpoint(eager=False)
        # explicit range partitioning on conv_id (north rule): occurrence
        # rows — much smaller than the turns they came from — land
        # conv-contiguous on disk, so per-conversation reads (triple
        # expansion back to turns, ordering checks, incremental reruns
        # scoped to a conv range) prune to a partition range instead of
        # scanning everything.  Skew-safe: range boundaries come from
        # sampling, and no conversation outweighs a range at 10^12 turns.
        occurrences = occurrences.repartitionByRange("conv_id", "turn_idx")
        occ_snap = occ_tbl.overwrite(occurrences)
        mentions = build_mention_table(self.spark, occ_tbl.read(), lexicon)
        snap = tbl.overwrite(mentions)
        self.wh.mark_stage_complete(
            "mentions",
            {"occurrences": occ_snap.rows_written, "mentions": snap.rows_written},
        )
        return tbl.read()

    def link_config_fingerprint(self, vocab_embeddings: DataFrame) -> str:
        """Identity of a links run: linking config + vocab content hash.

        Recorded in every links snapshot's metrics so a resume can tell
        "same run, finish the remainder" apart from "config or vocabulary
        changed, stale rows must be recomputed" — without it,
        reset_stage('links') alone silently kept stale links (every mention
        anti-joined away).  The vocab hash is one small dimension-table
        aggregate (count + xxhash64 sum) over EVERY column the index
        persists: concept metadata, the derived ``atc7_codes`` (an
        ATC-mapping change with unchanged names/domains must invalidate the
        index, or linking serves stale maps-to-value drug filters — r4
        advice), and the embedder version standing in for the vector column
        (vectors are a pure function of (concept_name, EMBEDDER_VERSION)).
        The config part is composed at every call; the vocab part comes
        from :meth:`_vocab_digest`."""
        return json.dumps(
            {
                "k_standard": self.cfg.k_standard,
                "k_drug": self.cfg.k_drug,
                "target_domains": sorted(self.cfg.target_domains)
                if self.cfg.target_domains
                else None,
                **self._vocab_digest(vocab_embeddings),
                "embedder_v": EMBEDDER_VERSION,
            },
            sort_keys=True,
        )

    def _vocab_digest(self, vocab_embeddings: DataFrame) -> dict:
        """``vocab_n``/``vocab_h`` of the vocabulary frame.  A frame that
        :meth:`stage_vocab_embeddings` returned reads one snapshot of the
        vocab table, whose data dirs never change, so its digest is kept
        under that snapshot id and reused while the snapshot is current:
        a fold over an unchanged vocabulary hashes nothing.  Any other
        frame is hashed."""
        sid = self._returned_vocab_sid(vocab_embeddings)
        hashed = self._vocab_hashed
        if sid is not None and hashed is not None and hashed[0] == sid:
            return hashed[1]
        with _job_description(self.spark.sparkContext, "links: vocab digest"):
            row = vocab_embeddings.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(
                    F.sum(
                        F.xxhash64(
                            "concept_id",
                            "concept_name",
                            "domain_id",
                            F.array_join("atc7_codes", ","),
                        ).cast("decimal(38,0)")
                    ),
                    F.lit(0),
                ).alias("h"),
            ).collect()[0]
        digest = {"vocab_n": int(row["n"]), "vocab_h": str(row["h"])}
        if sid is not None:
            self._vocab_hashed = (sid, digest)
        return digest

    def _returned_vocab_sid(self, vocab_embeddings: DataFrame) -> str | None:
        """The id of the vocab snapshot ``vocab_embeddings`` reads, when it
        is the frame :meth:`stage_vocab_embeddings` returned; None for any
        other frame."""
        if self._vocab_read is not None and self._vocab_read[0] is vocab_embeddings:
            return self._vocab_read[1]
        return None

    def stage_links(
        self, mentions: DataFrame, vocab_embeddings: DataFrame
    ) -> DataFrame:
        tbl = self.wh.table("links")
        fp = self.link_config_fingerprint(vocab_embeddings)
        if self.wh.stage_complete("links"):
            if self._recorded_link_config(tbl) == fp:
                return tbl.read()
            # stage completed under a DIFFERENT config / vocabulary /
            # embedder version: the marker no longer proves freshness —
            # recompute, and invalidate the graph derived from the stale
            # links with it (a plain ``run`` rerun after an
            # EMBEDDER_VERSION bump must propagate end-to-end without
            # manual stage resets — r5 self-review finding #1).  Dropping
            # the links marker too makes a crash mid-recompute land on the
            # ordinary incomplete-stage resume instead of short-circuiting
            # past the quarantine rewrite (the links overwrite records the
            # NEW fingerprint, so the marker alone would read as fresh).
            self.wh.reset_stage("links")
            self.wh.reset_stage("graph")
        # row-level resume (the reference's J1 unmapped work-queue applied
        # to linking, mapping.py:9-48): if a previous run committed a links
        # snapshot but crashed before marking the stage complete, only the
        # still-unlinked mentions are re-scored — compute is O(remaining),
        # not O(all).  Snapshot commits are atomic, so `already` is never a
        # torn write.  Resume applies only when the recorded config/vocab
        # fingerprint matches; otherwise the snapshot is stale and the
        # stage recomputes from scratch.
        already = tbl.read() if tbl.exists() else None
        if already is not None and self._recorded_link_config(tbl) != fp:
            already = None
        todo = mentions
        if already is not None:
            # quarantined rows (error IS NOT NULL) are excluded from the
            # done-set so transient failures are re-scored on resume instead
            # of being stuck in quarantine forever; the 128-bit two-column
            # key keeps colliding mention_ids from masking each other
            done = already.where(F.col("error").isNull()).select(
                "mention_id", "mention_id2"
            )
            todo = mentions.join(done, ["mention_id", "mention_id2"], "left_anti")
            with _job_description(self.spark.sparkContext, "links: resume probes"):
                # one probe, reused by the commit below
                clean = already.where(F.col("error").isNotNull()).isEmpty()
                noop = clean and todo.isEmpty()
            if noop:
                # resume no-op: every mention is already cleanly linked
                # under this exact config/vocab fingerprint — the prior
                # snapshot IS the answer.  Skip the link job and the
                # links/quarantine rewrites entirely: two cheap probes over
                # the O(distinct mentions) dim replace 4-5 fixed-latency
                # jobs per incremental fold (the common steady-state case
                # where a delta batch adds occurrences of known mentions).
                self.wh.mark_stage_complete(
                    "links",
                    {"link_rows": 0, "quarantined": 0, "resume_noop": True},
                )
                return tbl.read()
        # file-backed index: link tasks read the vocab's index columns from
        # storage — the driver never materializes the embedding matrix (at
        # full OMOP it is ~16 GB).  The frame stage_vocab_embeddings
        # returned reads one snapshot, whose data dirs never change: they
        # ARE the index.  Any other frame is written out once.
        vocab_sid = self._returned_vocab_sid(vocab_embeddings)
        if vocab_sid is not None:
            index_dirs = self.wh.table("vocab_embeddings").snapshot(vocab_sid).live_dirs
        else:
            with _job_description(self.spark.sparkContext, "links: vocab index"):
                index_dirs = build_vocab_index_files(
                    vocab_embeddings, os.path.join(self.wh.root, "vocab_index")
                )
        # the linker spreads its input over every core; the rebalance lets
        # AQE size the written files instead (one file for a small table),
        # since every later fold reads the links table in dozens of jobs and
        # each extra file adds a task to each of them
        results = link_mentions_file_index(
            self.spark, todo, index_dirs,
            k_standard=self.cfg.k_standard, k_drug=self.cfg.k_drug,
            target_domains=self.cfg.target_domains,
        ).hint("rebalance")
        if already is None:
            snap = tbl.overwrite(results, metrics={"link_config": fp})
        elif clean:
            # clean partial commit: pure extension, O(remaining) write
            snap = tbl.append(results, metrics={"link_config": fp})
        else:
            # prior snapshot holds quarantined rows that `results` re-scored:
            # replace them (last-write-wins) — compute stayed O(remaining),
            # only the write is O(links table) on this rare path
            merged = already.where(F.col("error").isNull()).unionByName(results)
            snap = tbl.overwrite(merged, metrics={"link_config": fp})
        quarantined = tbl.read().where(F.col("error").isNotNull())
        q_snap = self.wh.table("quarantine").overwrite(quarantined)
        self.wh.mark_stage_complete(
            "links",
            {"link_rows": snap.rows_written, "quarantined": q_snap.rows_written},
        )
        return tbl.read()

    @staticmethod
    def _recorded_graph_format(tbl) -> int | None:
        """Last graph_format recorded in the table's snapshot history
        (newest-wins scan — appends don't re-stamp the key)."""
        if not tbl.exists():
            return None
        for snap in reversed(tbl.history()):
            fmt = (snap.metrics or {}).get("graph_format")
            if fmt is not None:
                return int(fmt)
        return None

    def stage_graph(
        self, links: DataFrame, links_snapshot_id: str | None = None
    ) -> tuple[DataFrame, DataFrame]:
        """``links_snapshot_id`` (run/run_incremental pass it) keys the
        steady-state fast path: the graph is a pure function of (links
        table content, confidence threshold, target domains, format), so a
        completed stage whose recorded stamp matches the CURRENT links
        snapshot + config is already the fixed point — skip with zero data
        jobs.  A fold that appended links commits a new snapshot id, so
        the stamp moves and the delta merge runs.  Direct callers passing
        an arbitrary links frame omit the id and keep the plain
        completed-marker semantics."""
        nodes_tbl = self.wh.table("nodes")
        edges_tbl = self.wh.table("edges")
        stamp = None
        if links_snapshot_id is not None:
            stamp = "|".join(
                [
                    str(links_snapshot_id),
                    str(self.cfg.confidence_threshold),
                    ",".join(self.cfg.target_domains or []),
                    str(GRAPH_FORMAT),
                ]
            )
        if self.wh.stage_complete("graph"):
            meta = (self.wh.stage_metrics("graph") or {}).get("metrics", {})
            if stamp is None or meta.get("graph_stamp") == stamp:
                return nodes_tbl.read(), edges_tbl.read()
            # completed under a different links snapshot / graph config:
            # the marker no longer proves freshness — recompute (the
            # bucketed delta merge makes this O(changed), not O(table))
        accepted = accepted_mappings(links, self.cfg.confidence_threshold)
        n_buckets = int(self.cfg.extra.get("n_edge_buckets", 16))
        gm = {"graph_format": GRAPH_FORMAT}
        delta_ok = (
            self._recorded_graph_format(edges_tbl) == GRAPH_FORMAT
            and self._recorded_graph_format(nodes_tbl) == GRAPH_FORMAT
        )
        if delta_ok:
            e_snap, n_snap = self._merge_graph_delta(
                accepted, edges_tbl, nodes_tbl, n_buckets, gm
            )
        else:
            # first build, or a warehouse written under an older graph
            # format: REBUILD, never merge — merging across formats keeps
            # every old-format row alongside its new-format twin, silently
            # duplicating all mention nodes and edges (r3 advice)
            old_fmt = self._recorded_graph_format(edges_tbl)
            if old_fmt is not None and old_fmt != GRAPH_FORMAT:
                gm = {**gm, "graph_format_migrated_from": old_fmt}
                edges_tbl.drop()
                nodes_tbl.drop()
            edges = build_edges(accepted, self.cfg.target_domains)
            # single-target is structural here: links hold one row per
            # 128-bit subject (last-write-wins), so the star probe would be
            # a redundant extra scan per fold (r4 verdict ask #6)
            with _job_description(self.spark.sparkContext, "graph: build nodes"):
                nodes = build_nodes(accepted, single_target=True)
            # last-write-wins per subject (ST2 remap semantics,
            # mapping.py:112-132); bucketed on the LONG key halves so every
            # merge shuffle hashes two longs, never the rendered strings
            e_snap = edges_tbl.merge_upsert(
                edges, keys=["subj_h1", "subj_h2"],
                bucket_by=("subj_h1", n_buckets), metrics=gm,
            )
            n_snap = nodes_tbl.merge_upsert(
                nodes, keys=["node_h1", "node_h2"],
                bucket_by=("node_h1", n_buckets), metrics=gm,
            )
        self.wh.mark_stage_complete(
            "graph",
            {
                "edges": e_snap.rows_written,
                "nodes": n_snap.rows_written,
                **({"graph_stamp": stamp} if stamp else {}),
            },
        )
        return nodes_tbl.read(), edges_tbl.read()

    def _merge_graph_delta(
        self, accepted: DataFrame, edges_tbl, nodes_tbl, n_buckets: int, gm: dict
    ):
        """Delta-scoped graph update (r3 verdict ask #4c): canonicalization
        cost O(affected components), not O(all accepted links).

        * delta = accepted rows whose FULL edge row differs from the edges
          table — new mentions, re-scored mentions whose target changed,
          and (r4 advice) re-scored mentions whose target is unchanged but
          whose payload (pred, confidence, mapping_method, target_domains)
          changed, e.g. after a config change forced a full relink; a
          key-only anti-join kept those subjects' stale audit columns,
          diverging from the full path's last-write-wins-per-subject merge;
        * affected components = prior components containing any delta
          endpoint, found via the STORED (comp_h1, comp_h2) labels with two
          long-keyed semi-joins;
        * CC + canonical-min re-run over (post-merge links of affected
          components) ∪ delta only; every node of an affected component
          appears there (each accepted link carries its mention and
          concept), so the bucketed node merge-upsert relabels exactly the
          affected rows and leaves untouched components' buckets unread;
        * a concept whose LAST mention was remapped away (the reference's
          remap is delete+insert, mapping.py:112-132) would otherwise keep
          a stale component/canonical label — it never reappears in the CC
          input, which holds post-merge edges only.  Such orphaned concepts
          are relabeled as their own singleton component (canonical =
          themselves), so retained rows never carry stale labels (r4
          verdict ask #1).

        Rows never leave the graph on this path (same as the full merge:
        deletes go through reset/ST2-remap), and a format mismatch never
        reaches here (stage_graph gates on GRAPH_FORMAT).
        """
        sc = self.spark.sparkContext
        prior_edges = edges_tbl.read()
        new_edges = build_edges(accepted, self.cfg.target_domains)
        # full-row change detector: the 128-bit subject key plus a hash of
        # every payload column except created_at (a replaced row's
        # timestamp is fresh on the full path too)
        payload_h = F.xxhash64(
            F.col("obj").cast("string"),
            "pred",
            F.col("confidence").cast("string"),
            "mapping_method",
            F.array_join("target_domains", ","),
        )
        with _job_description(sc, "graph: edge delta"):
            delta_edges = (
                new_edges.withColumn("_ph", payload_h)
                .join(
                    prior_edges.select(
                        "subj_h1", "subj_h2", payload_h.alias("_ph")
                    ),
                    ["subj_h1", "subj_h2", "_ph"],
                    "left_anti",
                )
                .drop("_ph")
                .localCheckpoint(eager=True)  # reused 4x below; O(delta) rows
            )
            if delta_edges.isEmpty():
                return edges_tbl.snapshot(), nodes_tbl.snapshot()
        delta = delta_edges.select(
            F.col("subj_h1").alias("mention_id"),
            F.col("subj_h2").alias("mention_id2"),
            "mention_text",
            F.col("obj").alias("concept_id"),
        )
        prior_nodes = nodes_tbl.read()
        d_keys = (
            delta.select(
                F.expr("shiftleft(mention_id, 1) + 1").alias("node_h1"),
                F.col("mention_id2").alias("node_h2"),
            )
            .union(
                delta.select(
                    F.expr("shiftleft(cast(concept_id as long), 1)").alias(
                        "node_h1"
                    ),
                    F.lit(0).cast("long").alias("node_h2"),
                )
            )
            .distinct()
        )
        aff_comps = (
            prior_nodes.join(d_keys, ["node_h1", "node_h2"], "left_semi")
            .select("comp_h1", "comp_h2")
            .distinct()
        )
        aff_mentions = (
            prior_nodes.join(aff_comps, ["comp_h1", "comp_h2"], "left_semi")
            .where(F.col("node_type") == "mention_entity")
            .select("node_h1", "node_h2")
        )
        prior_aff = (
            prior_edges.withColumn(
                "node_h1", F.expr("shiftleft(subj_h1, 1) + 1")
            )
            .withColumn("node_h2", F.col("subj_h2"))
            .join(aff_mentions, ["node_h1", "node_h2"], "left_semi")
            # post-merge view: a delta row REPLACES its subject's prior
            # edge, so the prior row must not reach the CC input (it would
            # fuse the subject's old and new components)
            .join(
                delta.select(
                    F.col("mention_id").alias("subj_h1"),
                    F.col("mention_id2").alias("subj_h2"),
                ),
                ["subj_h1", "subj_h2"],
                "left_anti",
            )
        )
        cc_input = prior_aff.select(
            F.col("subj_h1").alias("mention_id"),
            F.col("subj_h2").alias("mention_id2"),
            "mention_text",
            F.col("obj").alias("concept_id"),
        ).unionByName(
            delta.select(
                "mention_id", "mention_id2", "mention_text", "concept_id"
            )
        )
        # orphaned concepts: in an affected component but no longer linked
        # by any post-merge edge — relabel as their own singleton component
        # (comp = own node key, canonical = themselves, which is what
        # canonical_id already is for every concept node)
        linked_concepts = cc_input.select(
            F.expr("shiftleft(cast(concept_id as long), 1)").alias("node_h1"),
            F.lit(0).cast("long").alias("node_h2"),
        ).distinct()
        orphan_concepts = (
            prior_nodes.join(aff_comps, ["comp_h1", "comp_h2"], "left_semi")
            .where(F.col("node_type") == "concept")
            .join(linked_concepts, ["node_h1", "node_h2"], "left_anti")
            .select(
                "node_h1",
                "node_h2",
                F.col("node_h1").alias("comp_h1"),
                F.col("node_h2").alias("comp_h2"),
                "node_id",
                "node_type",
                F.col("node_id").alias("canonical_id"),
                "label",
            )
        )
        with _job_description(sc, "graph: nodes delta"):
            partial_nodes = build_nodes(
                cc_input, single_target=True
            ).unionByName(orphan_concepts)
        gm = {**gm, "delta_scoped": True}
        # nodes commit FIRST: the empty-delta early return above detects
        # "already applied" from the EDGES table, so edges must be the
        # lagging commit — a crash between the two merges then replays
        # with a non-empty delta and redoes both (idempotent upserts),
        # instead of the early return permanently skipping a nodes update
        # whose edges half already landed
        n_snap = nodes_tbl.merge_upsert(
            partial_nodes, keys=["node_h1", "node_h2"],
            bucket_by=("node_h1", n_buckets), metrics=gm,
        )
        e_snap = edges_tbl.merge_upsert(
            delta_edges,
            keys=["subj_h1", "subj_h2"],
            bucket_by=("subj_h1", n_buckets), metrics=gm,
        )
        return e_snap, n_snap

    # ------------------------------------------------------- incremental
    def run_incremental(
        self,
        new_transcripts: DataFrame,
        concept: DataFrame,
        relationship: DataFrame,
        ancestor: DataFrame,
        lexicon: list[dict],
        batch_id: int | None = None,
    ) -> dict[str, DataFrame]:
        """Fold NEW conversations into an existing warehouse.

        The distributed generalization of the reference's incremental
        embed-checkpoint loop (reference src/backend/db/methods/
        embeddings.py:14-50) from one stage to the whole pipeline:

        * new turns' mention occurrences are APPENDED to the occurrences
          table (detection cost O(new turns) only);
        * the mention dim is rebuilt from the full occurrences table (one
          groupBy over occurrence rows — the dim is O(distinct mentions));
        * linking reuses stage_links' row-level anti-join: mentions already
          linked under the same config fingerprint are skipped, so model
          cost is O(new distinct mentions);
        * the graph stage recomputes canonicalization over all accepted
          links (O(links)) and merge-upserts edges/nodes — bucketed, so
          only buckets containing changed subjects are rewritten.

        Invariant (tests/test_invariants.py::test_incremental_run_equals
        _from_scratch): the resulting edges/nodes/links equal a from-scratch
        run over the union of all transcripts.

        ``batch_id`` (streaming seam): a replayed foreachBatch microbatch
        whose occurrence append already committed (the batch id is recorded
        in the snapshot metrics) skips the append — exactly-once folding
        under Structured Streaming's at-least-once foreachBatch contract —
        while the downstream stages still run to completion (they are
        checkpoint-resumable, so a crash after the append converges on
        replay).
        """
        vocab = self.stage_vocab_embeddings(concept, relationship, ancestor)

        occ_tbl = self.wh.table("mention_occurrences")
        surface_forms = [e["mention_text"] for e in lexicon]
        already_applied = (
            batch_id is not None
            and batch_id in occ_tbl.applied_stream_batch_ids()
        )
        m_tbl = self.wh.table("mentions")
        dim_path = "full"
        appended_occ = None
        if not already_applied:
            # detection runs ONCE (localCheckpoint): repartitionByRange
            # would otherwise re-run the detection UDF a second time for its
            # range sampling pass.  Small appends skip the range shuffle
            # entirely — their read-locality benefit is delivered by the
            # periodic compaction (which rewrites through the table layout)
            # and not worth two extra jobs per fold; large batches keep it.
            # LAZY (r7): the count() right below is the first action and
            # materializes the cache — an eager checkpoint cost one extra
            # job per fold for the same pinning guarantee.
            with _job_description(
                self.spark.sparkContext, "fold: detect occurrences (delta)"
            ):
                new_occ = extract_mention_occurrences(
                    new_transcripts, surface_forms
                ).localCheckpoint(eager=False)
                n_new = new_occ.count()
            if n_new >= int(
                self.cfg.extra.get("range_partition_min_rows", 1_000_000)
            ):
                new_occ = new_occ.repartitionByRange("conv_id", "turn_idx")
            occ_metrics = (
                {"stream_batch_id": batch_id} if batch_id is not None else None
            )
            occ_snap = occ_tbl.append(new_occ, metrics=occ_metrics)
            occ_rows = occ_snap.rows_written
            # the delta is already detected and PINNED (localCheckpoint
            # above) — hand the same rows downstream instead of re-reading
            # the just-written parquet dirs (one fewer scan per fold)
            appended_occ = new_occ
        else:
            occ_rows = 0
        if appended_occ is not None and m_tbl.exists():
            # O(delta) dim update (r3 verdict ask #4a): aggregate ONLY the
            # appended occurrences and merge freq sums into the existing
            # dim — per-batch scan volume is O(new turns + dim), never
            # O(all occurrences).  The replay path (already_applied) falls
            # through to the idempotent full rebuild below: a freq-sum
            # merge replayed twice would double-count.
            delta_dim = build_mention_table(self.spark, appended_occ, lexicon)
            prior_freq = m_tbl.read().select(
                "mention_id", "mention_id2", F.col("freq").alias("freq_prior")
            )
            merged_dim = (
                delta_dim.join(prior_freq, ["mention_id", "mention_id2"], "left")
                .withColumn(
                    "freq",
                    F.col("freq") + F.coalesce(F.col("freq_prior"), F.lit(0)),
                )
                .drop("freq_prior")
            )
            m_snap = m_tbl.merge_upsert(
                merged_dim,
                keys=["mention_id", "mention_id2"],
                bucket_by=(
                    "mention_id",
                    int(self.cfg.extra.get("n_edge_buckets", 16)),
                ),
            )
            dim_path = "delta"
        else:
            mentions = build_mention_table(self.spark, occ_tbl.read(), lexicon)
            m_snap = m_tbl.overwrite(mentions)
        self.wh.mark_stage_complete(
            "mentions",
            {
                "occurrences_appended": occ_rows,
                "mentions": m_snap.rows_written,
                "incremental": True,
                "dim_path": dim_path,
            },
        )
        # reopen the links stage; its table stays — linking resumes
        # row-level.  The graph stage is NOT blindly reset: stage_graph's
        # links-snapshot stamp decides — a steady-state fold whose links
        # resume was a no-op (same snapshot, same config) skips the whole
        # graph recompute with zero data jobs, while any links commit
        # moves the stamp and triggers the bucketed delta merge.
        self.wh.reset_stage("links")
        mentions = self.wh.table("mentions").read()
        links = self.stage_links(mentions, vocab)
        nodes, edges = self.stage_graph(
            links,
            links_snapshot_id=self.wh.table("links").current_snapshot_id(),
        )
        return {
            "vocab_embeddings": vocab,
            "mentions": mentions,
            "links": links,
            "nodes": nodes,
            "edges": edges,
        }

    # --------------------------------------------------------------- run
    def run(
        self,
        transcripts: DataFrame,
        concept: DataFrame,
        relationship: DataFrame,
        ancestor: DataFrame,
        lexicon: list[dict],
    ) -> dict[str, DataFrame]:
        vocab = self.stage_vocab_embeddings(concept, relationship, ancestor)
        mentions = self.stage_mentions(transcripts, lexicon)
        links = self.stage_links(mentions, vocab)
        nodes, edges = self.stage_graph(
            links,
            links_snapshot_id=self.wh.table("links").current_snapshot_id(),
        )
        return {
            "vocab_embeddings": vocab,
            "mentions": mentions,
            "links": links,
            "nodes": nodes,
            "edges": edges,
        }

"""The benchmark workloads: set-up, one closed-loop operation, output checks
(run outside the timed region) and the extra readings of the traced run.

``build_wide``  one from-scratch ``Pipeline.run`` per operation over a
                generated wide vocabulary; retrieve+rerank carries the time.
``fold_delta``  one cycle of two ``Pipeline.run_incremental`` folds of a
                small batch of new conversations per operation, into a
                warehouse built in set-up; the second fold of each cycle
                brings a new form.  Per-job latency of commits and probes
                carries it.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import gen
import spans

SIZES = {
    "build_wide": {
        "full": {"concepts": 8_000, "forms": 6_000, "turns": 5_000},
        "smoke": {"concepts": 400, "forms": 150, "turns": 200},
        # the warm build: enough forms for the token detector, little else
        "warm": {"concepts": 2_000, "forms": 1_100, "turns": 1_200},
    },
    "fold_delta": {
        "full": {"base_convs": 1_000, "delta_convs": 10, "withheld": 7},
        "smoke": {"base_convs": 40, "delta_convs": 4, "withheld": 3},
    },
}
THRESHOLD = 8  # PipelineConfig's default confidence threshold
TOKEN_DETECTOR_MIN_FORMS = 1025  # the pipeline's regex -> token detector switch
KERNEL_SAMPLE = 1000


def _forced(tracer: spans.Tracer, name: str, fn):
    """Span around a layer function; a DataFrame result is materialized
    inside the span so the layer's busy time lands on it."""

    def wrapper(*args, **kwargs):
        with tracer.span(name) as sp:
            out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                out = out.localCheckpoint(eager=True)
        if isinstance(out, DataFrame):
            with tracer.aux():
                sp.rows_out = out.count()
        return out

    return wrapper


def _spanned(tracer: spans.Tracer, name: str, fn, joins: tuple[str, ...] = ()):
    """Span around a call; a call made inside a span named in ``joins``
    (a commit that probes or commits through another catalog method) is
    part of that span and opens none."""

    def wrapper(*args, **kwargs):
        if tracer.in_span(*joins):
            return fn(*args, **kwargs)
        with tracer.span(name):
            return fn(*args, **kwargs)

    return wrapper


def pipeline_patches(tracer: spans.Tracer) -> list[tuple]:
    """Spans around the runner's stages, the layer functions it calls, and
    the catalog's commit and probe methods."""
    from omop_concept_automapper_spark import catalog
    from omop_concept_automapper_spark.plans import runner

    layer_fns = {
        "build_vocab_embeddings": "vocab_prep",
        "extract_mention_occurrences": "mentions",
        "build_mention_table": "mentions",
        "build_vocab_index_files": "knn",
        "link_mentions_file_index": "knn",
        "build_edges": "graph",
        "build_nodes": "graph",
    }
    patches = [
        (runner, fn, _forced(tracer, f"{mod}.{fn}", vars(runner)[fn]))
        for fn, mod in layer_fns.items()
    ]
    for stage in ["stage_vocab_embeddings", "stage_mentions", "stage_links",
                  "stage_graph", "run_incremental"]:
        fn = vars(runner.Pipeline)[stage]
        patches.append((runner.Pipeline, stage, _spanned(tracer, f"runner.{stage}", fn)))
    for owner, attr, name in [
        (catalog.Table, "append", "catalog.commit"),
        (catalog.Table, "overwrite", "catalog.commit"),
        (catalog.Table, "merge_upsert", "catalog.commit"),
        (catalog.Table, "exists", "catalog.probe"),
        (catalog.Table, "history", "catalog.probe"),
        (catalog.Warehouse, "stage_complete", "catalog.probe"),
    ]:
        patches.append(
            (owner, attr, _spanned(tracer, name, vars(owner)[attr], tuple(spans.COMMIT_SPANS)))
        )
    return patches


def _timed_us(fn, n: int) -> float:
    t0 = time.perf_counter()
    fn()
    return (time.perf_counter() - t0) / max(n, 1) * 1e6


class Workload:
    """Base: subclasses set ``name`` and implement inputs/warm/op/check."""

    name = ""
    # operations a run makes even when they outlast the window; two give a
    # median (their mean) that no single slow operation decides
    MIN_OPS = 2

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = size
        self.p = SIZES[self.name][size]
        self.lexicon: list[dict] = []
        self.turn_texts: list[str] = []
        self.n_turns = 0  # input turns per operation

    def ops_left(self) -> bool:
        """Whether inputs remain for another operation."""
        return True

    def warehouse(self, path: str):
        from omop_concept_automapper_spark.catalog import Warehouse

        return Warehouse(self.spark, path)

    def pipeline(self, path: str):
        from omop_concept_automapper_spark.plans.runner import Pipeline, PipelineConfig

        return Pipeline(self.spark, self.warehouse(path), PipelineConfig())

    def last_warehouse(self) -> str:
        raise NotImplementedError

    # ------------------------------------------------ traced-run readings
    def link_ratios(self) -> dict[str, float]:
        links = self.warehouse(self.last_warehouse()).table("links").read()
        row = links.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("error").isNull() & (F.col("confidence") >= THRESHOLD)).cast("int")
            ).alias("acc"),
            F.avg("n_candidates").alias("cand"),
            F.sum(F.col("error").isNotNull().cast("int")).alias("q"),
        ).collect()[0]
        n = max(int(row["n"]), 1)
        return {
            "knn.accept_ratio": (row["acc"] or 0) / n,
            "knn.candidates_per_mention": float(row["cand"] or 0.0),
            "knn.quarantine_rows": float(row["q"] or 0),
        }

    def kernels(self) -> dict[str, float]:
        """Driver-side cost of the linker's kernels on this workload's own
        distinct mentions, with no Spark scheduling in the way."""
        from omop_concept_automapper_spark.functions.embedder import embed_texts
        from omop_concept_automapper_spark.functions.mentions import (
            compile_lexicon,
            compile_token_gazetteer,
            detect_mentions_py,
            detect_mentions_tokens,
        )
        from omop_concept_automapper_spark.functions.reranker import rerank_scores
        from omop_concept_automapper_spark.operators.knn import (
            build_vocab_index,
            link_batch,
        )

        wh = self.warehouse(self.last_warehouse())
        mentions = (
            wh.table("mentions").read()
            .select("mention_id", "mention_id2", "mention_text", "is_drug", "atc7")
            .orderBy("mention_id", "mention_id2").limit(KERNEL_SAMPLE).toPandas()
        )
        vocab = wh.table("vocab_embeddings").read().select(
            "concept_id", "concept_name", "domain_id", "atc7_codes", "vector"
        ).toPandas()
        index = build_vocab_index(vocab)
        names = dict(zip(vocab["concept_id"], vocab["concept_name"]))
        cands = {
            r["mention_text"]: [names[c] for c in (r["candidate_ids"] or [])]
            for r in wh.table("links").read()
            .select("mention_text", "candidate_ids").collect()
        }
        texts = mentions["mention_text"].tolist()
        n = len(texts)
        forms = [e["mention_text"] for e in self.lexicon]
        if len(forms) >= TOKEN_DETECTOR_MIN_FORMS:
            heads, canon = compile_token_gazetteer(forms)
            detect = lambda t: detect_mentions_tokens(t, heads, canon)  # noqa: E731
        else:
            pattern, canon = compile_lexicon(forms)
            detect = lambda t: detect_mentions_py(t, pattern, canon)  # noqa: E731
        turns = self.turn_texts[:KERNEL_SAMPLE * 2]
        return {
            "kernel.embed_us_per_text": _timed_us(lambda: embed_texts(texts), n),
            "kernel.rerank_us_per_mention": _timed_us(
                lambda: [rerank_scores(t, cands.get(t, [])) for t in texts], n
            ),
            "kernel.link_batch_us_per_mention": _timed_us(
                lambda: link_batch(mentions, index), n
            ),
            "kernel.detect_us_per_turn": _timed_us(
                lambda: [detect(t) for t in turns], len(turns)
            ),
        }

    def quarantine_frac(self) -> float:
        links = self.warehouse(self.last_warehouse()).table("links").read()
        n = links.count()
        return links.where(F.col("error").isNotNull()).count() / max(n, 1)

    def traced_extras(self, n_ops: int, tracer: spans.Tracer) -> dict[str, float]:
        return {**self.link_ratios(), **self.kernels()}


class BuildWide(Workload):
    name = "build_wide"

    def _write(self, d: str, p: dict):
        """Generate and materialize one input set; returns (frames,
        lexicon, truth, turns)."""
        from omop_concept_automapper_spark.fixtures.vocabulary import (
            ANCESTOR_SCHEMA,
            RELATIONSHIP_SCHEMA,
        )

        concepts = gen.wide_vocabulary(self.seed, p["concepts"])
        lexicon, truth = gen.wide_lexicon(self.seed, concepts, p["forms"])
        turns = gen.wide_transcripts(
            self.seed, [e["mention_text"] for e in lexicon], p["turns"]
        )
        gen.write_parquet(os.path.join(d, "concept"), concepts, gen.CONCEPT_ARROW)
        gen.write_parquet(os.path.join(d, "transcripts"), turns, gen.TRANSCRIPTS_ARROW)
        frames = (
            self.spark.read.parquet(os.path.join(d, "transcripts")),
            self.spark.read.parquet(os.path.join(d, "concept")),
            self.spark.createDataFrame([], RELATIONSHIP_SCHEMA),
            self.spark.createDataFrame([], ANCESTOR_SCHEMA),
        )
        return frames, lexicon, truth, turns

    def inputs(self, rep: int) -> None:
        if rep:
            shutil.rmtree(os.path.join(self.work, f"inputs{rep - 1}"), ignore_errors=True)
        self.frames, self.lexicon, self.truth, turns = self._write(
            os.path.join(self.work, f"inputs{rep}"), self.p
        )
        self.turn_texts = [t[3] for t in turns]
        self.n_turns = len(turns)
        self.done: list[str] = []

    def warm(self) -> None:
        """One untimed build over a smaller input of the same shape: the
        first build in a session pays for code generation, JIT and worker
        start, whatever its size."""
        p = SIZES[self.name]["warm"] if self.size == "full" else self.p
        d = os.path.join(self.work, "warm")
        frames, lexicon, _, _ = self._write(os.path.join(d, "inputs"), p)
        self.pipeline(os.path.join(d, "wh")).run(*frames, lexicon)
        shutil.rmtree(d, ignore_errors=True)

    def op(self, i: int) -> str:
        wh = os.path.join(self.work, f"wh{i}")
        self.pipeline(wh).run(*self.frames, self.lexicon)
        self.done.append(wh)
        return wh

    def last_warehouse(self) -> str:
        return self.done[-1]

    def check(self, handles: list) -> list[bool]:
        """Exact and reordered forms link to their source concept with an
        accepted confidence; typos are rejected; every form is linked once
        and the edges are exactly the accepted links."""
        results = []
        for wh_path in handles:
            if wh_path is None:
                results.append(False)
                continue
            wh = self.warehouse(wh_path)
            links = wh.table("links").read().select(
                "mention_text", "concept_id", "confidence", "error"
            ).collect()
            edges = {
                (r["mention_text"], r["obj"])
                for r in wh.table("edges").read().select("mention_text", "obj").collect()
            }
            ok = len(links) == len(self.truth) and {r["mention_text"] for r in links} == set(self.truth)
            accepted = set()
            for r in links:
                kind, src = self.truth.get(r["mention_text"], (None, None))
                if r["error"] is not None:
                    ok = False
                elif kind == "typo":
                    ok &= r["confidence"] < THRESHOLD
                else:
                    ok &= r["concept_id"] == src and r["confidence"] >= THRESHOLD
                if r["error"] is None and r["confidence"] >= THRESHOLD:
                    accepted.add((r["mention_text"], r["concept_id"]))
            results.append(ok and edges == accepted)
        for wh_path in self.done[:-1]:
            shutil.rmtree(wh_path, ignore_errors=True)
        return results


class FoldDelta(Workload):
    """Batch 0, which brings a withheld form, is folded in set-up, so both
    fold paths are warm.  Operation k folds batches 2k+1 and 2k+2; the
    second brings a withheld form (``gen.fold_batch``), so every operation
    runs the resume-no-op path once and the links and delta-graph-merge
    paths once.  Withheld forms all link, so every operation does the same
    work."""

    name = "fold_delta"
    FOLDS_PER_OP = gen.NEW_FORM_EVERY

    def inputs(self, rep: int) -> None:
        from omop_concept_automapper_spark.fixtures.vocabulary import (
            build_lexicon,
            build_mini_vocab,
        )

        d = os.path.join(self.work, f"inputs{rep}")
        if rep:
            shutil.rmtree(os.path.join(self.work, f"inputs{rep - 1}"), ignore_errors=True)
        self.lexicon = build_lexicon()
        forms = [e["mention_text"] for e in self.lexicon]
        # a non-drug form with the token set of a standard concept's name
        # links to it with full confidence
        names = {
            frozenset(r[1].lower().split())
            for r in build_mini_vocab().concept_rows if r[5] == "S"
        }
        linkable = {
            e["mention_text"] for e in self.lexicon
            if not e["is_drug"] and frozenset(e["mention_text"].lower().split()) in names
        }
        base_forms, withheld = gen.fold_split(self.seed, forms, self.p["withheld"], linkable)
        base = gen.conversations(self.seed, base_forms, 0, self.p["base_convs"])
        self.base_path = os.path.join(d, "base")
        gen.write_parquet(self.base_path, base, gen.TRANSCRIPTS_ARROW)
        self.batch_paths, self.batch_turns, self.turn_texts = [], [], [t[3] for t in base]
        stride = self.p["delta_convs"] + 3
        # the warm batch and one operation per further withheld form
        for b in range(1 + self.FOLDS_PER_OP * (self.p["withheld"] - 1)):
            rows, _new = gen.fold_batch(
                self.seed, base_forms, withheld, b,
                self.p["base_convs"] + b * stride, self.p["delta_convs"],
            )
            path = os.path.join(d, f"delta{b}")
            gen.write_parquet(path, rows, gen.TRANSCRIPTS_ARROW)
            self.batch_paths.append(path)
            self.batch_turns.append(len(rows))
        self.n_turns = self.FOLDS_PER_OP * sum(self.batch_turns) // len(self.batch_turns)

    def warm(self) -> None:
        from omop_concept_automapper_spark.fixtures.vocabulary import vocab_dataframes

        self.vocab = vocab_dataframes(self.spark)
        self.batches = [self.spark.read.parquet(p) for p in self.batch_paths]
        self.wh_path = os.path.join(self.work, "wh")
        self.pipe = self.pipeline(self.wh_path)
        self.pipe.run(self.spark.read.parquet(self.base_path), *self.vocab, self.lexicon)
        self.next_batch = 0
        self.noop: list[bool] = []
        self._fold()  # batch 0 brings a new form: a warm links-and-merge fold

    def ops_left(self) -> bool:
        return self.next_batch + self.FOLDS_PER_OP <= len(self.batches)

    def _fold(self) -> None:
        b = self.next_batch
        self.next_batch += 1
        self.pipe.run_incremental(self.batches[b], *self.vocab, self.lexicon)
        meta = self.pipe.wh.stage_metrics("links") or {}
        self.noop.append(bool(meta.get("metrics", {}).get("resume_noop")))

    def op(self, i: int) -> int:
        for _ in range(self.FOLDS_PER_OP):
            self._fold()
        return self.next_batch

    def last_warehouse(self) -> str:
        return self.wh_path

    def check(self, handles: list) -> list[bool]:
        """The folded warehouse's edges and nodes equal a from-scratch build
        over the base plus every folded batch."""
        union = self.spark.read.parquet(
            self.base_path, *self.batch_paths[: self.next_batch]
        )
        scratch = os.path.join(self.work, "wh-scratch")
        self.pipeline(scratch).run(union, *self.vocab, self.lexicon)

        def state(path):
            wh = self.warehouse(path)
            edges = wh.table("edges").read().drop("created_at")
            nodes = wh.table("nodes").read()
            return (
                sorted(map(tuple, edges.select(sorted(edges.columns)).collect())),
                sorted(map(tuple, nodes.select(sorted(nodes.columns)).collect())),
            )

        same = state(self.wh_path) == state(scratch)
        shutil.rmtree(scratch, ignore_errors=True)
        return [same and h is not None for h in handles]

    def traced_extras(self, n_ops: int, tracer: spans.Tracer) -> dict[str, float]:
        n_folds = self.FOLDS_PER_OP * n_ops
        folds = self.noop[-n_folds:]
        return {
            **super().traced_extras(n_ops, tracer),
            "fold.jobs_per_fold": tracer.totals.get("runner.run_incremental", {}).get("jobs", 0) / max(n_folds, 1),
            "fold.links_noop_ratio": sum(folds) / max(len(folds), 1),
        }


WORKLOADS = {w.name: w for w in (BuildWide, FoldDelta)}


# ------------------------------------------------------------ operator mix
def operator_pass(spark, work: str, seed: int, tracer: spans.Tracer) -> tuple[dict, int]:
    """One traced pass over the declared operator queries, each forced to a
    ``noop`` sink, on generated tables; then each query's rows are checked
    once against its DuckDB oracle.  Returns (per-layer metrics, failures)."""
    import duckdb

    import __spark_entry__ as entry
    from omop_concept_automapper_spark.fixtures import gatefiles

    sf = os.path.join(work, "ops")
    tables = gen.operator_tables(seed, sf)
    # the gate fixtures' default directory lies outside the run's directory
    gatefiles.write_gate_fixtures.__defaults__ = (os.path.join(work, "gate"),)
    queries, oracles = entry.queries(), entry.oracle_sql()
    out = {}
    for q in spans.OP_QUERIES:
        with tracer.span(f"ops.{q}"):
            queries[q](spark, sf).write.format("noop").mode("overwrite").save()
        tracer.collect()
        m = tracer.metrics(1)
        out.update({f"ops.{q}.{c}": m[f"ops.{q}.{c}"] for c in ("wall_s", "jobs", "tasks")})
    failures = 0
    con = duckdb.connect()
    for name, path in tables.items():
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    for q in spans.OP_QUERIES:
        df = queries[q](spark, sf)
        got = _canon(df.columns, [tuple(r) for r in df.collect()])
        rel = con.sql(oracles[q])
        if got != _canon(rel.columns, rel.fetchall()):
            failures += 1
            print(f"operator check failed: {q}", flush=True)
    con.close()
    return out, failures


def _canon_value(v):
    if isinstance(v, float):
        return "nan" if v != v else v
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon_value(x) for x in v)
    if hasattr(v, "as_tuple"):  # Decimal
        return str(v)
    return v


def _canon(cols: list[str], rows: list[tuple]):
    """Column-name-sorted, row-order-insensitive form of a result set."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    body = sorted((tuple(_canon_value(r[i]) for i in order) for r in rows), key=repr)
    return sorted(cols), body

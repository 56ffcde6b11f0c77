"""Cosine top-k retrieval + rerank — the linker's heart (J9/O4/U-RRK).

Reference semantics reproduced (SURVEY.md §2.3 J9, §2.6 O4, §2.9 U-RRK):

* query = embedded mention text; collection = embedded standard concepts
  (always filtered to ``type=standard`` — our index only CONTAINS standard
  embeddable concepts, mirroring the always-on filter,
  reference src/backend/auto_mapper.py:49);
* optional ``domain_id`` filter = Qdrant MatchAny over scalar payload
  (reference src/backend/llms/vector_store.py:141-156);
* optional ``atc7_codes`` filter = MatchAny against an ARRAY payload field,
  i.e. any-overlap semantics (SURVEY.md hard part (b));
* k = 30 for the drug path, 15 otherwise (reference auto_mapper.py:69);
* zero hits after filtering -> no output row (reference auto_mapper.py:76-77);
* rerank = deterministic scorer over candidate names, 0-indexed selection,
  first-candidate/confidence-1 fallback (reference reranker.py:42-58).

Spark-first design: scoring is a blocked matrix multiply inside one
``mapInPandas`` (Arrow batches, no per-row Python in the hot loop).
Retrieval and rerank happen in the SAME task — no extra shuffle between
stages.  The top-k kernel scores a fixed chunk of queries against one
``block_rows`` slice of the vocabulary matrix at a time, so working memory
is O(chunk × block_rows).  How the index reaches an executor is a loader
choice of the one link driver: the vocab table's own files (the full-OMOP
path) or a broadcast of a small vocab frame.

Batch independence: the gemm only preselects candidates; they are ranked
and scored by a per-pair dot product, so a mention's candidates, chosen
concept and score do not depend on which other mentions share its batch.
That is what lets the link driver split its input round-robin over every
core without changing a single output row.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omop_concept_automapper_spark.functions.embedder import embed_texts
from omop_concept_automapper_spark.functions.reranker import (
    confidence_from_score,
    rerank_scores,
)
from omop_concept_automapper_spark.operators.similarity import pinned_topk

LINK_RESULT_SCHEMA = (
    "mention_id long, mention_id2 long, mention_text string, "
    "is_drug boolean, atc7 string, "
    "concept_id int, concept_name string, score float, confidence int, "
    "k_used int, n_candidates int, mapping_method string, "
    "candidate_ids array<int>, error string"
)

_LINK_COLUMNS = [
    "mention_id", "mention_id2", "mention_text", "is_drug", "atc7",
    "concept_id", "concept_name", "score", "confidence", "k_used",
    "n_candidates", "mapping_method", "candidate_ids", "error",
]


_INDEX_COLUMNS = ["concept_id", "concept_name", "domain_id", "atc7_codes", "vector"]
# optional metadata columns (interactive search filters, lifecycle 3.3)
_EXTRA_COLUMNS = ["vocabulary_id", "concept_class_id", "concept_code"]


def build_vocab_index(vocab: pa.Table | pd.DataFrame) -> dict:
    """Build the linker's index from vocab_embeddings rows (columns:
    concept_id, concept_name, domain_id, atc7_codes, vector), given as an
    Arrow table or a pandas frame.

    Rows are sorted by concept_id so every executor sees the identical
    layout (deterministic tie-breaks).  The matrix is read straight from
    the Arrow list buffer, not one array per row.
    """
    if isinstance(vocab, pd.DataFrame):
        cols = [c for c in _INDEX_COLUMNS + _EXTRA_COLUMNS if c in vocab.columns]
        vocab = pa.Table.from_pandas(vocab[cols], preserve_index=False)
    tbl = vocab.sort_by("concept_id")
    n = tbl.num_rows
    if n >= (1 << _IDX_BITS):
        # _order_keys packs the column index into _IDX_BITS low bits; beyond
        # that the composite keys overlap and top-k ordering silently
        # corrupts — fail loudly instead (full OMOP is ~4M, headroom 4x).
        raise ValueError(
            f"vocabulary has {n} rows, exceeding the 2^{_IDX_BITS} "
            "composite-key index capacity; widen _IDX_BITS before indexing"
        )
    flat = tbl.column("vector").combine_chunks().flatten().to_numpy()
    # an empty vocabulary is a (0, 0) matrix: every mention has zero hits
    matrix = flat.reshape(n, flat.size // max(n, 1)).astype(np.float32)
    # L2-normalize defensively; cosine == dot on unit rows
    norms = np.linalg.norm(matrix, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    matrix = (matrix / norms).astype(np.float32)

    atc7_codes = [c or [] for c in tbl.column("atc7_codes").to_pylist()]
    atc7_inverted: dict[str, list[int]] = {}
    for i, codes in enumerate(atc7_codes):
        for code in codes:
            atc7_inverted.setdefault(code, []).append(i)

    index = {
        "matrix": matrix,
        "concept_id": tbl.column("concept_id").to_numpy().astype(np.int64),
        "concept_name": tbl.column("concept_name").to_numpy(),
        "domain_id": tbl.column("domain_id").to_numpy(),
        "atc7_codes": atc7_codes,
        "atc7_inverted": {k: np.asarray(v) for k, v in atc7_inverted.items()},
    }
    for extra in _EXTRA_COLUMNS:
        if extra in tbl.column_names:
            index[extra] = tbl.column(extra).to_numpy()
    return index


_IDX_BITS = 24  # supports vocabularies up to 2^24 (~16.7M) concepts
_PAD_KEY = np.iinfo(np.int64).min  # below every real key, -inf scores included
_QUERY_CHUNK = 256  # queries per gemm: bounds the working set at chunk x block_rows
_PAIR_SLICE = 1 << 20  # gathered vector elements per rescoring slice
_F32_UNIT_ROUNDOFF = 2.0**-24


def _order_keys(scores: np.ndarray, col_idx: np.ndarray) -> np.ndarray:
    """Composite int64 sort key encoding (score DESC, index ASC) exactly.

    float32 bits are mapped to a monotone signed-int order (IEEE trick),
    shifted left, and the complemented column index packed into the low
    bits — so a plain integer max/argpartition realizes the pinned
    (-score, concept_id) tie rule with NO tie ambiguity (keys are unique).
    This is what makes blocked top-k merges exact (SURVEY.md hard part
    (f)).
    """
    b = np.ascontiguousarray(scores, dtype=np.float32).view(np.int32).astype(np.int64)
    mono = np.where(b >= 0, b, np.int64(-2147483648) - b)
    return (mono << _IDX_BITS) | ((np.int64(1 << _IDX_BITS) - 1) - col_idx)


_NEG_INF_KEY = _order_keys(np.float32(-np.inf).reshape(1, 1), np.zeros(1, np.int64))[0, 0]


def _decode_idx(keys: np.ndarray) -> np.ndarray:
    return (np.int64(1 << _IDX_BITS) - 1) - (keys & np.int64((1 << _IDX_BITS) - 1))


def _decode_score(keys: np.ndarray) -> np.ndarray:
    """The float32 score a key was built from (inverse of ``_order_keys``)."""
    mono = keys >> _IDX_BITS
    b = np.where(mono >= 0, mono, np.int64(-2147483648) - mono)
    return b.astype(np.int32).view(np.float32)


def _pair_scores(q: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Row-wise dot products ``q[i] . v[i]``, accumulated in float64 and
    rounded to float32.  Each value depends on its own pair only — never on
    which other rows share the call — which is what makes the linker's
    ranking independent of how mentions are batched."""
    return (q.astype(np.float64) * v).sum(axis=1).astype(np.float32)


def _merge_topk(
    run: np.ndarray, rows: np.ndarray, keys: np.ndarray
) -> np.ndarray:
    """Merge ragged (row, key) candidates into the running (n, width) top
    keys: per row, the ``width`` largest of both, sorted descending."""
    n, width = run.shape
    all_rows = np.concatenate([np.repeat(np.arange(n), width), rows])
    all_keys = np.concatenate([run.ravel(), keys])
    order = np.lexsort((~all_keys, all_rows))  # row asc, key desc
    all_rows, all_keys = all_rows[order], all_keys[order]
    counts = np.bincount(all_rows, minlength=n)
    rank = np.arange(all_rows.size) - np.repeat(np.cumsum(counts) - counts, counts)
    keep = rank < width
    out = np.empty_like(run)
    out[all_rows[keep], rank[keep]] = all_keys[keep]
    return out


def _blocked_topk(
    q: np.ndarray,
    matrix: np.ndarray,
    k: int,
    base_mask: np.ndarray | None,
    block_rows: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact streaming top-k over the vocabulary matrix.

    Queries are scored ``_QUERY_CHUNK`` at a time against one
    ``block_rows`` slice of ``matrix`` at a time, so peak memory is
    O(chunk × block_rows), never O(batch × vocab).  Per block, the float32
    gemm only PRESELECTS: every column scoring at least the row's k-th gemm
    score minus a rounding margin survives, and survivors are rescored with
    a per-pair dot product (``_pair_scores``).  Ranking uses the per-pair
    scores alone, so a row's result does not depend on the other queries in
    the batch (BLAS rounds the same dot product differently across call
    shapes).

    The margin is sound: a float32 gemm score of length d lies within
    (d + 2) u ‖q‖ ‖v‖ of its per-pair rescoring (u = 2^-24), so a column in
    the per-pair top-k has a gemm score of at least the row's k-th gemm
    score minus twice that.  The margin doubles it again, to absorb the
    rounding of the norms and of the threshold itself, and is taken below a
    lower bound on the k-th gemm score (the k-th largest of >= 8k column
    group maxima), which only admits more survivors.

    Survivor keys are unique composite keys, so block merges are EXACT.
    Returns (keys (n, w) int64 sorted desc with w = min(k, vocab), count of
    valid candidates per row); slots past a row's valid count hold keys
    <= ``_NEG_INF_KEY``."""
    n_q, dim = q.shape
    n_v = matrix.shape[0]
    if n_v > (1 << _IDX_BITS):
        raise ValueError(
            f"matrix rows reach {n_v} > 2^{_IDX_BITS} composite-key "
            "capacity; widen _IDX_BITS"
        )
    width = min(k, n_v)
    run = np.full((n_q, width), _PAD_KEY, dtype=np.int64)
    q_norm = np.linalg.norm(q.astype(np.float64), axis=1)
    rel_margin = 4.0 * (dim + 2) * _F32_UNIT_ROUNDOFF
    pair_step = max(1, _PAIR_SLICE // max(dim, 1))
    for start in range(0, n_v, block_rows):
        block = matrix[start : start + block_rows]
        n_b = block.shape[0]
        kk = min(width, n_b)
        if kk == 0:
            continue
        masked = None
        if base_mask is not None:
            masked = ~base_mask[start : start + n_b]
        v_max = float(np.sqrt(np.einsum("ij,ij->i", block, block).max()))
        # >= 8 kk column groups: partitioning their maxima is a fraction
        # of the cost of partitioning every score
        group_starts = np.arange(0, n_b, max(1, n_b // (8 * kk)))
        n_g = group_starts.size
        margin = (rel_margin * v_max) * q_norm
        for c0 in range(0, n_q, _QUERY_CHUNK):
            c1 = min(c0 + _QUERY_CHUNK, n_q)
            qc = q[c0:c1]
            s = qc @ block.T
            if masked is not None:
                s[:, masked] = -np.inf
            # the kk-th largest group maximum is a lower bound on the
            # kk-th largest score (kk groups reach it); a row with fewer
            # than kk groups holding a valid column gets -inf, and its
            # threshold clamps to the lowest finite float, which drops
            # the masked columns
            g_max = np.maximum.reduceat(s, group_starts, axis=1)
            kth = np.partition(g_max, n_g - kk, axis=1)[:, n_g - kk]
            thr = np.maximum(
                kth - margin[c0:c1], np.finfo(np.float32).min
            ).astype(np.float32)
            rows, cols = np.nonzero(s >= thr[:, None])
            del s
            scores = np.empty(rows.size, dtype=np.float32)
            for a in range(0, rows.size, pair_step):
                b = a + pair_step
                scores[a:b] = _pair_scores(qc[rows[a:b]], block[cols[a:b]])
            keys = _order_keys(scores, cols + np.int64(start))
            run[c0:c1] = _merge_topk(run[c0:c1], rows, keys)
    valid_counts = (run > _NEG_INF_KEY).sum(axis=1)
    return run, valid_counts


def link_batch(
    pdf: pd.DataFrame,
    index: dict,
    k_standard: int = 15,
    k_drug: int = 30,
    target_domains: list[str] | None = None,
    block_rows: int = 65536,
    embed_fn=None,
    rerank_fn=None,
    retry_policy=None,
) -> pd.DataFrame:
    """Retrieve + rerank one Arrow batch of mentions.

    Expects columns: mention_id, mention_text, is_drug, atc7 ('' if none).

    ``embed_fn``/``rerank_fn`` are the model-endpoint seam (X7, reference
    emb_model.py:47-61): inject real API-backed callables with a
    ``RetryPolicy`` (functions/endpoint.py) and transient failures retry
    in-UDF; failures that survive every retry land the affected rows in
    quarantine (the existing per-row path below), never failing the job.
    Defaults are the deterministic stand-ins, called with no retry.
    """
    from omop_concept_automapper_spark.functions.endpoint import (
        call_with_retry,
    )

    matrix = index["matrix"]
    concept_ids = index["concept_id"]
    names = index["concept_name"]
    out_rows: list[tuple] = []
    if len(pdf) == 0:
        return pd.DataFrame(columns=_LINK_COLUMNS)

    # second 128-bit id half is a pure pass-through; pandas-level callers
    # that don't carry it (unit tests, ad-hoc batches) default to 0
    mid2 = (
        pdf["mention_id2"]
        if "mention_id2" in pdf.columns
        else pd.Series([0] * len(pdf), index=pdf.index)
    )
    texts = pdf["mention_text"].tolist()
    embed = embed_fn if embed_fn is not None else embed_texts
    embed_errors: dict[int, str] = {}
    try:
        q = call_with_retry(embed, retry_policy, texts)
    except Exception:
        # batch-level embed failed even after retries: degrade to per-row
        # embedding so only the rows that truly can't embed are quarantined.
        # Hard-outage short-circuit (r3 advice): the batch call already
        # exhausted the retry budget, so after N CONSECUTIVE per-row
        # failures the endpoint is treated as down and the remaining rows
        # are quarantined immediately with the last error — without this,
        # one 65k-row Arrow batch could stall a task for days (rows x
        # attempts x sleep) instead of quarantining quickly.  A single
        # per-row success resets the streak (row-specific poison inputs
        # keep degrading gracefully).
        q = np.zeros((len(texts), matrix.shape[1]), dtype=np.float32)
        consecutive, max_consecutive = 0, 5
        last_err = None
        for i, t in enumerate(texts):
            if consecutive >= max_consecutive:
                embed_errors[i] = (
                    f"embed endpoint down (short-circuit after "
                    f"{max_consecutive} consecutive failures): {last_err}"
                )
                continue
            try:
                q[i] = call_with_retry(embed, retry_policy, [t])[0]
                consecutive = 0
            except Exception as exc:  # noqa: BLE001
                last_err = f"{type(exc).__name__}: {exc}"
                embed_errors[i] = last_err
                consecutive += 1
    base_mask = None
    if target_domains:
        base_mask = np.isin(index["domain_id"], np.asarray(target_domains, object))

    # a row whose embedding failed is quarantined below; its zero vector
    # would tie every concept, so only embedded rows are ranked
    live = np.ones(len(texts), dtype=bool)
    live[list(embed_errors)] = False
    top_keys, n_valid = _blocked_topk(
        q[live], matrix, max(k_standard, k_drug), base_mask, block_rows
    )
    top_idx, top_score = _decode_idx(top_keys), _decode_score(top_keys)
    key_row = np.cumsum(live) - 1

    for row_i, (mention_id, mention_id2, text, is_drug, atc7) in enumerate(
        zip(pdf["mention_id"], mid2, pdf["mention_text"], pdf["is_drug"], pdf["atc7"])
    ):
        is_drug = bool(is_drug)
        k = k_drug if is_drug else k_standard
        method = "auto_drug" if is_drug else "auto_standard"
        if row_i in embed_errors:
            out_rows.append(
                (
                    int(mention_id), int(mention_id2), str(text), is_drug,
                    str(atc7 or ""),
                    None, None, None, 0, int(k), 0, method, None,
                    embed_errors[row_i],
                )
            )
            continue
        try:
            if is_drug and atc7:
                # MatchAny over the atc7_codes ARRAY payload = any-overlap:
                # restrict candidates to concepts carrying this code —
                # scored directly via the inverted index (tiny subset)
                allowed = index["atc7_inverted"].get(atc7)
                if allowed is not None and base_mask is not None:
                    allowed = allowed[base_mask[allowed]]
                if allowed is None or allowed.size == 0:
                    continue  # zero hits -> no mapping (auto_mapper.py:76-77)
                sub_scores = _pair_scores(q[row_i], matrix[allowed])
                _, sub_top = pinned_topk(sub_scores[None, :], concept_ids[allowed], k)
                top, top_scores = allowed[sub_top], sub_scores[sub_top]
            else:
                r = key_row[row_i]
                n_top = min(k, n_valid[r])
                if n_top == 0:
                    continue  # zero hits -> no mapping (auto_mapper.py:76-77)
                top, top_scores = top_idx[r, :n_top], top_score[r, :n_top]
            cand_names = [str(names[j]) for j in top]
            # default resolves the module global at call time (test seam);
            # an injected rerank_fn goes through the retry policy
            if rerank_fn is not None:
                rr = call_with_retry(rerank_fn, retry_policy, str(text), cand_names)
            else:
                rr = rerank_scores(str(text), cand_names)
            sel = max(range(len(rr)), key=lambda i: (rr[i], -i))
            confidence = confidence_from_score(rr[sel])
            chosen = top[sel]
            out_rows.append(
                (
                    int(mention_id), int(mention_id2), str(text), is_drug,
                    str(atc7 or ""),
                    int(concept_ids[chosen]), str(names[chosen]),
                    float(top_scores[sel]), int(confidence), int(k),
                    int(top.size), method,
                    concept_ids[top].tolist(), None,
                )
            )
        except Exception as exc:  # per-row quarantine (auto_mapper.py:207-211)
            out_rows.append(
                (
                    int(mention_id), int(mention_id2), str(text), is_drug,
                    str(atc7 or ""),
                    None, None, None, 0, int(k), 0, method, None,
                    f"{type(exc).__name__}: {exc}",
                )
            )
    return pd.DataFrame(out_rows, columns=_LINK_COLUMNS)


# ---------------------------------------------------------------------------
# The link driver and its two index loaders.
#
# ``_link`` is the one Spark plan: select, round-robin spread, one
# ``mapInPandas`` over ``link_batch``.  Where the index comes from is a
# zero-argument loader run once per task.  The full-OMOP path
# (:func:`link_mentions_file_index`) has link tasks read the index columns
# from parquet files, with a per-process cache, so the driver never holds
# a vector (at full OMOP the matrix is ~4M x 1024 fp32 ≈ 16 GB).  The files
# are the vocab_embeddings table's own data dirs (written once, never
# changed), or, for any other vocab frame, one copy written by
# :func:`build_vocab_index_files`.  :func:`link_mentions` broadcasts the
# index of a small driver-side vocab frame instead.  Both loaders build the
# index with :func:`build_vocab_index`, so they link row for row alike
# (tests/test_operators.py::test_file_index_exact_equality).
# ---------------------------------------------------------------------------

_FILE_INDEX_CACHE: dict[tuple[str, ...], dict] = {}


def build_vocab_index_files(vocab: DataFrame, path: str) -> list[str]:
    """Write the index columns of ``vocab`` to ``path`` as parquet, in one
    job; returns the dirs to hand to :func:`link_mentions_file_index`.
    Vectors never pass through the driver."""
    vocab.select(*_INDEX_COLUMNS).write.mode("overwrite").parquet(path)
    return [path]


def load_vocab_index_files(dirs: list[str]) -> dict:
    """Executor-side loader with a per-process cache: the index columns of
    every parquet file under ``dirs``, read with pyarrow and indexed by
    :func:`build_vocab_index`.  The cache keys on the sorted file names:
    every Spark write names its files afresh, so a rewrite reloads while
    a file whose mtime alone changed (an object-store copy) does not."""
    import pyarrow.parquet as pq

    files = sorted(f for d in dirs for f in glob.glob(os.path.join(d, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet files under {dirs}")
    key = tuple(files)
    cached = _FILE_INDEX_CACHE.get(key)
    if cached is not None:
        return cached
    index = build_vocab_index(pq.ParquetDataset(files).read(columns=_INDEX_COLUMNS))
    _FILE_INDEX_CACHE.clear()  # one live index per process is enough
    _FILE_INDEX_CACHE[key] = index
    return index


def _select_link_input(mentions: DataFrame) -> DataFrame:
    """Project the linker's input columns; callers without the second
    128-bit id half (ad-hoc batches) get a 0 placeholder."""
    if "mention_id2" not in mentions.columns:
        mentions = mentions.withColumn("mention_id2", F.lit(0).cast("long"))
    return mentions.select(
        "mention_id", "mention_id2", "mention_text", "is_drug", "atc7"
    )


def _link_partitions(mentions: DataFrame) -> int:
    """Partitions for the link ``mapInPandas``: max(input partitions,
    default parallelism), so a one-file mention table still links on every
    core.  An input plan with an exchange runs adaptively, and asking it for
    its partition count would run its query stages (a job, and AQE may yet
    coalesce them), so for it the default parallelism alone decides."""
    n = mentions.sparkSession.sparkContext.defaultParallelism
    plan = mentions._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() != "AdaptiveSparkPlanExec":
        n = max(n, mentions.rdd.getNumPartitions())
    return n


def _link(mentions: DataFrame, load_index, *link_args) -> DataFrame:
    """Retrieve+rerank ``mentions`` in one ``mapInPandas`` over
    :func:`link_batch`; ``load_index()`` returns the index, and
    ``link_args`` are ``link_batch``'s parameters after ``index``, in its
    order.  The input is spread round-robin over max(input partitions,
    default parallelism) partitions (``_link_partitions``), so a small
    mention table still links on every core; since results are
    batch-independent, the split changes no output row."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        index = None  # loaded on the first batch: a small input leaves tasks empty
        for pdf in batches:
            if index is None:
                index = load_index()
            yield link_batch(pdf, index, *link_args)

    return (
        _select_link_input(mentions)
        .repartition(_link_partitions(mentions))
        .mapInPandas(run, schema=LINK_RESULT_SCHEMA)
    )


def link_mentions_file_index(
    spark: SparkSession,
    mentions: DataFrame,
    index_dirs: list[str],
    k_standard: int = 15,
    k_drug: int = 30,
    target_domains: list[str] | None = None,
    block_rows: int = 65536,
    embed_fn=None,
    rerank_fn=None,
    retry_policy=None,
) -> DataFrame:
    """Distributed retrieve+rerank against a file-backed vocab index.

    ``index_dirs`` hold the index columns: a vocab_embeddings snapshot's
    ``live_dirs`` or the output of :func:`build_vocab_index_files`.  No
    broadcast, no driver-resident matrix: each executor process loads the
    files once (cache above) from shared storage — the shape a 16 GB
    full-OMOP index needs on a 1000-executor cluster.
    ``embed_fn``/``rerank_fn``/``retry_policy`` = the model-endpoint seam
    (see ``link_batch``); callables must be picklable.
    """
    dirs = list(index_dirs)
    return _link(
        mentions, lambda: load_vocab_index_files(dirs), k_standard, k_drug,
        target_domains, block_rows, embed_fn, rerank_fn, retry_policy,
    )


def link_mentions(
    spark: SparkSession,
    mentions: DataFrame,
    vocab_pdf: pd.DataFrame,
    k_standard: int = 15,
    k_drug: int = 30,
    target_domains: list[str] | None = None,
    block_rows: int = 65536,
    embed_fn=None,
    rerank_fn=None,
    retry_policy=None,
) -> DataFrame:
    """Distributed retrieve+rerank against a driver-side vocab frame: its
    index is broadcast, otherwise the plan is
    :func:`link_mentions_file_index`'s."""
    bc = spark.sparkContext.broadcast(build_vocab_index(vocab_pdf))
    return _link(
        mentions, lambda: bc.value, k_standard, k_drug,
        target_domains, block_rows, embed_fn, rerank_fn, retry_policy,
    )

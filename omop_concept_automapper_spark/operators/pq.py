"""Product quantization (PQ) for the ANN family: compress an embedding
index into per-subspace centroid codes and search with asymmetric
distance computation (ADC) — the billion-scale design of Jégou et al.
2011 and FAISS's IVFPQ.

Why this matters at 100 TB: a dim-64 float32 index costs 256 bytes/vector
on the wire; PQ with m=8 subspaces and 16 centroids each costs 8 bytes —
a 32x reduction in what a broadcast, a shuffle, or an index scan moves.
ADC replaces the per-pair dot product with m table lookups into a
per-query lookup table (LUT) of m x ks precomputed sub-distances.

Scale shape:

* codebook fit is driver-side numpy on a BOUNDED deterministic sample
  (``vec_id % mod == 0``, same rule as similarity._sampled_quantizer),
  then broadcast — O(m * ks * dsub) bytes, trivially small;
* encoding is MAP-ONLY (mapInPandas, Arrow batches): each vector becomes
  m uint8-sized codes, no shuffle;
* search broadcasts the query LUT tensor (|Q| x m x ks) and emits only a
  per-partition partial top-k (<= |Q| * k rows per partition), then one
  window over (query_id) finishes the global top-k — the partial-then-merge
  shape of every kNN operator (``similarity.pinned_topk`` on ``-dist``,
  then ``similarity.rank_top_k``);
* composition with IVF: assign vectors to coarse lists first
  (similarity.ivf_topk machinery), PQ-encode within probed lists — the
  two operators share the integer_kmeans quantizer so the composition
  stays layout-deterministic.

Determinism/oracle story: centroids are INTEGER-SNAPPED
(similarity.integer_kmeans) and the gate fixture is integer-valued, so
every LUT entry and every ADC sum is a sum of integers < 2^53 — exactly
representable in float64 under any partitioning or batch shape.  The
sequential twins below therefore pin the distributed path with literal
VALUES, no tolerance band (same argument as the IVF gates, r4 ask #5).
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omop_concept_automapper_spark.operators.similarity import (
    _matrix,
    _probe_lists,
    _sample_rows,
    _sampled_quantizer,
    assign_euclidean,
    integer_kmeans,
    pinned_topk,
    rank_top_k,
)


def pq_fit(sample: np.ndarray, m: int, ks: int) -> np.ndarray:
    """Fit per-subspace integer-snapped codebooks on a driver-resident
    sample.  Returns shape (m, ks, dsub).  dim must divide evenly into
    m subspaces — PQ's contiguous-slice layout."""
    n, dim = sample.shape
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible into m={m} subspaces")
    dsub = dim // m
    return np.stack(
        [
            integer_kmeans(sample[:, s * dsub : (s + 1) * dsub], ks)
            for s in range(m)
        ]
    )


def _encode(X: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """Codes (n, m) int32: per-subspace nearest-centroid assignment."""
    m, _, dsub = codebooks.shape
    return np.stack(
        [
            assign_euclidean(X[:, s * dsub : (s + 1) * dsub], codebooks[s])
            for s in range(m)
        ],
        axis=1,
    ).astype(np.int32)


def _query_rows(
    embeddings: DataFrame, query_ids: Sequence[int]
) -> tuple[np.ndarray, np.ndarray]:
    """(vec_ids, vectors) of the queries drawn from the corpus by id,
    sorted by vec_id — O(|query_ids|) driver rows."""
    pdf = (
        embeddings.where(F.col("vec_id").isin([int(q) for q in query_ids]))
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .toPandas()
    )
    return pdf["vec_id"].to_numpy(np.int64), _matrix(pdf["embedding"])


def pq_encode(
    spark: SparkSession,
    embeddings: DataFrame,
    m: int = 8,
    ks: int = 16,
    fit_mod: int = 4,
    fit_sample_rows: int = 500,
) -> DataFrame:
    """Build the PQ code index: (vec_id, codes array<int>) — the
    materialized, 32x-smaller stand-in for the raw embedding column.
    Map-only after the bounded sample fit."""
    sample = _sample_rows(embeddings, fit_mod, ks, fit_sample_rows)
    codebooks = pq_fit(sample, m, ks)
    bc = spark.sparkContext.broadcast(codebooks)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cb = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = _encode(_matrix(pdf["embedding"]), cb)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(np.int64),
                    "codes": list(codes),
                }
            )

    return embeddings.select("vec_id", "embedding").mapInPandas(
        run, schema="vec_id long, codes array<int>"
    )


def pq_adc_topk(
    spark: SparkSession,
    embeddings: DataFrame,
    query_ids: Sequence[int],
    k: int = 5,
    m: int = 8,
    ks: int = 16,
    fit_mod: int = 4,
    fit_sample_rows: int = 500,
) -> DataFrame:
    """Approximate top-k by ADC over PQ codes, queries drawn from the
    corpus by id.

    Returns (query_id, vec_id, rank, adc_dist) — adc_dist is the ADC
    squared-L2 as DOUBLE (it stays float through the plan so the global
    window sorts on exactly what the partial top-k selected on; on the
    integer gate fixture every value is an exact integer — see module
    determinism note — and the gate casts to bigint).  Per-partition
    output is bounded at |Q| * k rows; the encode and the scan are one
    fused map pass (the code index never materializes — callers that
    reuse an index should pq_encode once and join instead).
    """
    sample = _sample_rows(embeddings, fit_mod, ks, fit_sample_rows)
    codebooks = pq_fit(sample, m, ks)

    qids, Q = _query_rows(embeddings, query_ids)
    lut = np.stack([_subspace_lut(qv, codebooks) for qv in Q])  # (|Q|, m, ks)
    bc = spark.sparkContext.broadcast((codebooks, lut, qids))

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cb, lut_, qids_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = _encode(_matrix(pdf["embedding"]), cb)  # (n, m)
            # dist[q, n] = sum over s of LUT[q, s, codes[n, s]]
            dist = lut_[:, np.arange(codes.shape[1])[None, :], codes].sum(axis=2)
            yield _adc_topk(qids_, pdf["vec_id"].to_numpy(np.int64), dist, k)

    partial = embeddings.select("vec_id", "embedding").mapInPandas(
        scan, schema="query_id long, vec_id long, adc_dist double"
    )
    return _adc_ranks(partial, k)


def _adc_topk(
    qids: np.ndarray, vec_ids: np.ndarray, dist: np.ndarray, k: int
) -> pd.DataFrame:
    """Partial top-k by ADC distance asc over a (query x row) distance
    matrix; +inf marks a pair that was never scored."""
    rows, cols = pinned_topk(-dist, vec_ids, k)
    return pd.DataFrame(
        {
            "query_id": qids[rows],
            "vec_id": vec_ids[cols],
            "adc_dist": dist[rows, cols],
        }
    )


def _ivf_adc_topk(
    probe_luts: dict[int, dict[int, np.ndarray]],
    codes: np.ndarray,
    clusters: np.ndarray,
    vec_ids: np.ndarray,
    k: int,
    exclude_self: bool,
) -> pd.DataFrame:
    """Partial ADC top-k of one batch of residual-coded rows: each query
    scores only the rows of the lists it probed, with that list's residual
    LUT (``_residual_probe_luts``); ``exclude_self`` drops each query's own
    vec_id."""
    qids = np.fromiter(probe_luts, dtype=np.int64, count=len(probe_luts))
    dist = np.full((qids.size, vec_ids.size), np.inf)
    s_idx = np.arange(codes.shape[1])[None, :]
    for qi, luts in enumerate(probe_luts.values()):
        for c, lut in luts.items():
            sel = np.flatnonzero(clusters == c)
            dist[qi, sel] = lut[s_idx, codes[sel]].sum(axis=1)
    if exclude_self:
        dist[vec_ids[None, :] == qids[:, None]] = np.inf
    return _adc_topk(qids, vec_ids, dist, k)


def _adc_ranks(partial: DataFrame, k: int) -> DataFrame:
    """``rank_top_k`` over ADC partials, ascending distance."""
    return rank_top_k(partial, k, F.asc("adc_dist")).select(
        "query_id", "vec_id", F.col("rank").cast("int"), "adc_dist"
    )


def _subspace_lut(qv: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """LUT[s, j] = ||qv[s-th slice] - codebooks[s, j]||^2  — shape (m, ks)."""
    mm, _, dsub = codebooks.shape
    return np.stack(
        [
            ((qv[s * dsub : (s + 1) * dsub] - codebooks[s]) ** 2).sum(axis=1)
            for s in range(mm)
        ]
    )


def _residual_probe_luts(
    qids, qvecs, coarse: np.ndarray, codebooks: np.ndarray, n_probe: int
) -> dict[int, dict[int, np.ndarray]]:
    """Per (query, probed list): ADC LUT over the query's RESIDUAL against
    that list's coarse centroid — the broadcast payload of both the fused
    and the prebuilt-index IVFPQ search paths."""
    out: dict[int, dict[int, np.ndarray]] = {}
    for qid, vec in zip(qids, qvecs):
        qv = np.asarray(vec, dtype=np.float64)
        out[int(qid)] = {
            int(c): _subspace_lut(qv - coarse[c], codebooks)
            for c in _probe_lists(qv, coarse, n_probe)
        }
    return out


def _ivfpq_fit(
    spark: SparkSession,
    embeddings: DataFrame,
    mod: int,
    n_centroids: int,
    m: int,
    ks: int,
    fit_sample_rows: int,
    pq_fit_rows: int | None = None,
) -> tuple[np.ndarray, DataFrame, np.ndarray]:
    """Coarse quantizer + list assignment (``_sampled_quantizer``) and PQ
    codebooks fit on the sample's residuals: (coarse, assigned, codebooks).
    ``pq_fit_rows`` caps the PQ fit at the sample's head (sorted by vec_id,
    so still deterministic and layout-independent)."""
    coarse, assigned = _sampled_quantizer(
        spark, embeddings, mod, n_centroids, 42, fit_sample_rows
    )
    sample = _sample_rows(embeddings, mod, ks, fit_sample_rows)[:pq_fit_rows]
    codebooks = pq_fit(sample - coarse[assign_euclidean(sample, coarse)], m, ks)
    return coarse, assigned, codebooks


def ivfpq_topk(
    spark: SparkSession,
    embeddings: DataFrame,
    query_ids: Sequence[int],
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ks: int = 16,
    fit_mod: int = 4,
    fit_sample_rows: int = 500,
) -> DataFrame:
    """IVF + PQ-on-residuals — the composed billion-scale index (FAISS
    IVFPQ): a coarse quantizer prunes the scan to ``n_probe`` inverted
    lists, and within each list vectors are PQ codes of the RESIDUAL
    (vector − coarse centroid), which quantizes a much tighter
    distribution than the raw space and so loses far less precision for
    the same 8 bytes/vector.

    Scale shape: coarse fit + PQ fit are driver numpy on the one bounded
    sample; assignment + residual encoding is one map-only pass; the
    probe is a broadcast (query → probed lists + per-list residual LUTs,
    |Q| * n_probe * m * ks doubles — kilobytes) applied during the scan,
    so a row whose list no query probes costs one dict lookup and no
    arithmetic.  Combined with ``similarity.ivf_build_index``-style
    list-partitioned storage, the probe becomes partition pruning and a
    query physically reads n_probe/n_centroids of the code table — which
    is itself 32x smaller than the raw floats.  Per-partition output is
    bounded at |Q| * k rows; one window finishes.

    Determinism: coarse centroids and PQ codebooks are integer-snapped,
    so on integer data residuals and every ADC sum are exact float64
    integers — VALUES-pinnable via :func:`sequential_ivfpq_topk`.
    Returns (query_id, vec_id, rank, adc_dist double).
    """
    coarse, assigned, codebooks = _ivfpq_fit(
        spark, embeddings, fit_mod, n_centroids, m, ks, fit_sample_rows
    )

    probe_luts = _residual_probe_luts(
        *_query_rows(embeddings, query_ids), coarse, codebooks, n_probe
    )
    bc = spark.sparkContext.broadcast((coarse, codebooks, probe_luts))

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        coarse_, cb, pl = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            clusters = pdf["cluster"].to_numpy(np.int64)
            codes = _encode(_matrix(pdf["embedding"]) - coarse_[clusters], cb)
            vec_ids = pdf["vec_id"].to_numpy(np.int64)
            yield _ivf_adc_topk(
                pl, codes, clusters, vec_ids, k, exclude_self=False
            )

    partial = assigned.select("vec_id", "cluster", "embedding").mapInPandas(
        scan, schema="query_id long, vec_id long, adc_dist double"
    )
    return _adc_ranks(partial, k)


def ivfpq_build_index(
    spark: SparkSession,
    embeddings: DataFrame,
    index_path: str,
    n_centroids: int = 64,
    m: int = 8,
    ks: int = 16,
    fit_sample_rows: int = 50_000,
    pq_fit_rows: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Materialize the IVFPQ index: (vec_id, codes) parquet PARTITIONED BY
    inverted-list id — the composed storage layout where a query's probe
    is partition PRUNING over a table that is itself ~32x smaller than
    the raw floats (m ints vs dim floats per row).  One full scan, paid
    once; returns (coarse_centroids, pq_codebooks) for query processes
    (same contract as similarity.ivf_build_index, which stores the raw
    vectors instead)."""
    n_rows = embeddings.count()
    mod = max(1, -(-n_rows // fit_sample_rows))
    coarse, assigned, codebooks = _ivfpq_fit(
        spark, embeddings, mod, n_centroids, m, ks, fit_sample_rows, pq_fit_rows
    )
    bc = spark.sparkContext.broadcast((coarse, codebooks))

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        coarse_, cb = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            clusters = pdf["cluster"].to_numpy(np.int64)
            # smallint codes: ks <= 32768 always holds (256 is the
            # practical ceiling), and halving the element width is the
            # point of this table
            codes = _encode(
                _matrix(pdf["embedding"]) - coarse_[clusters], cb
            ).astype(np.int16)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(np.int64),
                    "cluster": clusters,
                    "codes": list(codes),
                }
            )

    assigned.select("vec_id", "cluster", "embedding").mapInPandas(
        encode, schema="vec_id long, cluster int, codes array<smallint>"
    ).write.mode("overwrite").partitionBy("cluster").parquet(index_path)
    return coarse, codebooks


def ivfpq_search(
    spark: SparkSession,
    index: DataFrame,
    coarse: np.ndarray,
    codebooks: np.ndarray,
    queries: pd.DataFrame,
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """ADC top-k over a prebuilt IVFPQ code table (columns vec_id,
    cluster, codes).  The caller prunes ``index`` to the probed
    partitions (``cluster.isin(probe union)``) so the scan reads
    n_probe/n_centroids of an already-compressed table; this function
    broadcasts the per-(query, list) residual LUTs and never touches a
    raw vector.  Excludes the query's own vec_id (ivf_search semantics).
    Returns (query_id, vec_id, rank, adc_dist double)."""
    probe_luts = _residual_probe_luts(
        queries["query_id"], queries["vector"], coarse, codebooks, n_probe
    )
    bc = spark.sparkContext.broadcast(probe_luts)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pl = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.stack(
                [np.asarray(c, dtype=np.int64) for c in pdf["codes"]]
            )
            clusters = pdf["cluster"].to_numpy(np.int64)
            vec_ids = pdf["vec_id"].to_numpy(np.int64)
            yield _ivf_adc_topk(
                pl, codes, clusters, vec_ids, k, exclude_self=True
            )

    partial = index.select("vec_id", "cluster", "codes").mapInPandas(
        scan, schema="query_id long, vec_id long, adc_dist double"
    )
    return _adc_ranks(partial, k)


def ivfpq_search_rerank(
    spark: SparkSession,
    code_index: DataFrame,
    coarse: np.ndarray,
    codebooks: np.ndarray,
    raw_vectors: DataFrame,
    queries: pd.DataFrame,
    k: int = 10,
    shortlist: int = 100,
    n_probe: int = 2,
) -> DataFrame:
    """ADC shortlist + exact rerank — the standard IVFPQ serving shape:
    the compressed code scan produces a ``shortlist`` of candidates per
    query (cheap, approximate), then ONLY those <= |Q| * shortlist rows
    are scored exactly against the raw vectors.  ADC ordering within a
    noise-dominated neighborhood is unreliable (quantization error
    comparable to true distance gaps — measured recall@10 of 0.4 on the
    payoff corpus at m=16/ks=256), but the true neighbors sit safely
    inside the top-100 shortlist, so the rerank restores exact top-k at
    a raw-vector cost proportional to the shortlist, not the corpus.

    ``raw_vectors``: (vec_id, embedding) — pass the partition-pruned raw
    index slice so the fetch is bounded by the probed lists.  The exact
    distance is computed JVM-side (zip_with/aggregate — no second Python
    stage).  Returns (query_id, vec_id, rank, l2_dist).
    """
    short = ivfpq_search(
        spark, code_index, coarse, codebooks, queries,
        k=shortlist, n_probe=n_probe,
    ).select("query_id", "vec_id")
    qdf = spark.createDataFrame(
        [
            (int(q), [float(x) for x in v])
            for q, v in zip(queries["query_id"], queries["vector"])
        ],
        "query_id long, qvec array<double>",
    )
    cand = raw_vectors.join(F.broadcast(short), "vec_id").join(
        F.broadcast(qdf), "query_id"
    )
    l2 = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.col("qvec"),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = cand.select("query_id", "vec_id", l2.alias("l2_dist"))
    return rank_top_k(scored, k, F.asc("l2_dist")).select(
        "query_id", "vec_id", F.col("rank").cast("int"), "l2_dist"
    )


# ------------------------------------------------------- sequential twins
def _sequential_fit(
    vec_ids: np.ndarray,
    vectors: np.ndarray,
    m: int,
    ks: int,
    fit_mod: int,
    fit_sample_rows: int,
) -> np.ndarray:
    order = np.argsort(vec_ids)
    ids_sorted, X_sorted = vec_ids[order], vectors[order]
    sel = ids_sorted % fit_mod == 0
    sample = X_sorted[sel] if sel.sum() >= ks else X_sorted[:fit_sample_rows]
    return pq_fit(sample.astype(np.float64), m, ks)


def sequential_pq_encode(
    vec_ids: np.ndarray,
    vectors: np.ndarray,
    m: int = 8,
    ks: int = 16,
    fit_mod: int = 4,
    fit_sample_rows: int = 500,
) -> list[tuple[int, str]]:
    """(vec_id, 'c0|c1|...') rows — the VALUES twin of pq_encode."""
    cb = _sequential_fit(vec_ids, vectors, m, ks, fit_mod, fit_sample_rows)
    codes = _encode(vectors.astype(np.float64), cb)
    return [
        (int(v), "|".join(str(c) for c in row))
        for v, row in zip(vec_ids, codes)
    ]


def sequential_ivfpq_topk(
    vec_ids: np.ndarray,
    vectors: np.ndarray,
    query_ids: Sequence[int],
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ks: int = 16,
    fit_mod: int = 4,
    fit_sample_rows: int = 500,
) -> list[tuple[int, int, int, int]]:
    """(query_id, vec_id, rank, adc_dist) — the VALUES twin of
    :func:`ivfpq_topk`: same coarse fit (min-threshold n_centroids, the
    _sampled_quantizer rule), same residual-PQ fit (min-threshold ks),
    same probe lists, LUT arithmetic, and (dist, vec_id) tie rule."""
    from omop_concept_automapper_spark.operators.similarity import (
        _probe_lists,
    )

    order = np.argsort(vec_ids)
    ids_sorted, X_sorted = vec_ids[order], vectors[order].astype(np.float64)
    sel = ids_sorted % fit_mod == 0

    def _sample(min_rows: int) -> np.ndarray:
        return X_sorted[sel] if sel.sum() >= min_rows else X_sorted[:fit_sample_rows]

    coarse = integer_kmeans(_sample(n_centroids), n_centroids)
    X = vectors.astype(np.float64)
    clusters = assign_euclidean(X, coarse)
    pq_sample = _sample(ks)
    codebooks = pq_fit(
        pq_sample - coarse[assign_euclidean(pq_sample, coarse)], m, ks
    )
    codes = _encode(X - coarse[clusters], codebooks)
    mm = codebooks.shape[0]
    id_to_row = {int(v): i for i, v in enumerate(vec_ids)}
    out = []
    for q in sorted(int(x) for x in query_ids):
        qv = X[id_to_row[q]]
        probes = _probe_lists(qv, coarse, n_probe)
        mask = np.isin(clusters, probes)
        sub_ids, sub_codes, sub_cl = vec_ids[mask], codes[mask], clusters[mask]
        d = np.empty(len(sub_ids))
        for c in probes:
            cm = sub_cl == c
            if not cm.any():
                continue
            lut = _subspace_lut(qv - coarse[c], codebooks)
            d[cm] = lut[np.arange(mm)[None, :], sub_codes[cm]].sum(axis=1)
        sel_k = np.lexsort((sub_ids, d))[:k]
        for r, i in enumerate(sel_k, start=1):
            out.append((q, int(sub_ids[i]), r, int(d[i])))
    return out


def sequential_pq_topk(
    vec_ids: np.ndarray,
    vectors: np.ndarray,
    query_ids: Sequence[int],
    k: int = 5,
    m: int = 8,
    ks: int = 16,
    fit_mod: int = 4,
    fit_sample_rows: int = 500,
) -> list[tuple[int, int, int, int]]:
    """(query_id, vec_id, rank, adc_dist) rows — the VALUES twin of
    pq_adc_topk (same codebooks, same LUT arithmetic, same tie rule)."""
    cb = _sequential_fit(vec_ids, vectors, m, ks, fit_mod, fit_sample_rows)
    X = vectors.astype(np.float64)
    codes = _encode(X, cb)
    mm = cb.shape[0]
    id_to_row = {int(v): i for i, v in enumerate(vec_ids)}
    out = []
    for q in sorted(int(x) for x in query_ids):
        qv = X[id_to_row[q]]
        lut = _subspace_lut(qv, cb)
        dist = lut[np.arange(mm)[None, :], codes].sum(axis=1)
        order = np.lexsort((vec_ids, dist))[:k]
        for r, i in enumerate(order, start=1):
            out.append((q, int(vec_ids[i]), r, int(dist[i])))
    return out

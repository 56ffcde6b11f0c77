"""Frequency operators: exact-verified heavy hitters, exact distribution
quantiles, rational tf-idf, and deterministic sampling (training-data
pipeline ops).

Heavy hitters is the canonical "can't just groupBy at 100 TB" problem:
when the value column has near-row cardinality (tokens, URLs, user ids),
``groupBy(value).count()`` shuffles the whole column because map-side
partial aggregation stops compressing.  The two-phase shape here is the
standard fix:

* Phase 1 (candidates): a Misra–Gries summary PER PARTITION with
  ``capacity`` counters, merged batch-by-batch with the mergeable-summary
  rule (add counts, subtract the (capacity+1)-th largest, drop <= 0 —
  Agarwal et al., "Mergeability of Summaries", PODS 2012).  Guarantee:
  any value with global frequency >= (num/den) * N survives in at least
  one partition's summary (averaging argument + the MG undercount bound
  n_i/(capacity+1) < (num/den) * n_i).  Only ``capacity`` values per
  partition leave the executor.
* Phase 2 (exact verify): the candidate union is tiny, so it broadcasts;
  one semi-join + groupBy counts ONLY candidate rows exactly, and the
  integer predicate ``freq * den >= num * total`` filters to the true
  heavy hitters.  The final output is therefore EXACT and independent of
  partition layout — phase 1 only controls how small the verified set is.

The threshold is a rational ``num/den`` (never a float) so the predicate
is pure 64-bit integer arithmetic and a SQL oracle reproduces it exactly.

Deterministic sampling is the other 100 TB staple: reproducible samples
with no RNG state.  ``sample_by_hash`` keeps rows with
``md5-hash(key) % den < num`` — map-only, zero shuffles, the filter
reaches the scan.  ``stratified_sample`` takes the ``n`` smallest hashes
per stratum — one keyed shuffle, bounded window state, the exact
distributed analogue of "ORDER BY hash LIMIT n" per group.  Both are pure
functions of the data (same md5 discipline as operators/sketches.py), so
DuckDB oracles reproduce them bit-for-bit.

Reference provenance: the reference has no sampling/frequency surface;
these extend the training-corpus family (operators/packing.py,
operators/decontam.py) that a pretraining pipeline needs around the
reference's linker.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from omop_concept_automapper_spark.operators.sketches import kmv_hash


def _mg_trim(counters: dict, capacity: int) -> None:
    """Misra–Gries merge step: subtract the (capacity+1)-th largest count
    from every counter and drop the non-positive ones.  At most
    ``capacity`` counters survive (only values strictly greater than the
    subtracted pivot stay positive)."""
    if len(counters) <= capacity:
        return
    pivot = sorted(counters.values(), reverse=True)[capacity]
    for key in list(counters):
        nv = counters[key] - pivot
        if nv > 0:
            counters[key] = nv
        else:
            del counters[key]


def heavy_hitters(
    df: DataFrame,
    value_col: str,
    threshold_num: int,
    threshold_den: int,
    group_cols: list[str] | None = None,
    capacity: int | None = None,
) -> DataFrame:
    """Exact frequencies of every value whose count is >= num/den of the
    (group's) total row count.  NULL values (and NULL group keys) are
    excluded up front — a NULL can't be a meaningful heavy hitter and
    keeping the joins null-safe for it isn't worth the cost.

    Output: group cols + value col + ``freq`` + ``total`` (both bigint).
    Exact and partition-layout-independent (see module docstring); with
    grouping, the MG guarantee holds per group because each partition
    keeps an independent summary per group key it sees — intended for
    bounded group cardinality (flags, languages, sources), not for
    near-row-cardinality groups.
    """
    if threshold_num <= 0 or threshold_den <= 0:
        raise ValueError("threshold must be a positive rational num/den")
    groups = list(group_cols or [])
    # capacity + 1 > den/num makes the per-partition undercount bound
    # n_i/(capacity+1) strictly smaller than the threshold num/den * n_i
    cap = capacity or -(-threshold_den // threshold_num)  # ceil
    proj = df.select(*groups, value_col).na.drop(
        subset=[*groups, value_col]
    )

    def mg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        summaries: dict[tuple, dict] = {}
        cols = [*groups, value_col]
        for pdf in batches:
            # vectorized per-batch counting; python dict work is
            # O(unique-per-batch + capacity), never O(rows)
            vc = pdf.groupby(cols, sort=False, dropna=True).size()
            for key, cnt in vc.items():
                k = key if isinstance(key, tuple) else (key,)
                g, v = k[:-1], k[-1]
                counters = summaries.setdefault(g, {})
                counters[v] = counters.get(v, 0) + int(cnt)
                _mg_trim(counters, cap)
        rows = [
            (*g, v) for g, counters in summaries.items() for v in counters
        ]
        yield pd.DataFrame(rows, columns=cols)

    candidates = proj.mapInPandas(mg, schema=proj.schema).distinct()
    counted = (
        proj.join(F.broadcast(candidates), on=[*groups, value_col], how="left_semi")
        .groupBy(*groups, value_col)
        .agg(F.count("*").alias("freq"))
    )
    if groups:
        totals = proj.groupBy(*groups).agg(F.count("*").alias("total"))
        counted = counted.join(F.broadcast(totals), on=groups)
    else:
        totals = proj.agg(F.count("*").alias("total"))
        counted = counted.crossJoin(F.broadcast(totals))
    return counted.where(
        F.col("freq") * F.lit(threshold_den)
        >= F.lit(threshold_num) * F.col("total")
    )


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    quantiles_bp: list[int],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """EXACT discrete quantiles (percentile_disc semantics) of an integral
    column, per group or globally, without a global sort.

    ``quantiles_bp`` are basis points (1..10000, e.g. 5000 = median,
    9900 = p99) so the selection predicate is pure 64-bit integer
    arithmetic — no float quantile, no cross-engine rounding hazard.
    For each q the result row is the smallest value v with
    ``count(rows <= v) * 10000 >= q * N`` (so 10000 is the max).

    Output: group cols + ``q_bp int`` + value col + ``n_le`` (rows <= v)
    + ``n_total`` — one row per (group, q).  NULL values are excluded
    (as in SQL percentile aggregates); NULL group keys are kept.

    Scale shape: the classic "aggregate the DISTRIBUTION, not the rows"
    trick for bounded-cardinality value columns (lengths, scores, token
    counts — the packing/corpus-stats columns this exists for).  One
    keyed shuffle builds (value, count); the cumulative count then runs
    through the same two-phase distributed running total as sequence
    packing (range partition -> O(partitions) driver offset fold ->
    broadcast join), so nothing ever collapses into a single task — a
    plain ``Window.orderBy(value)`` here would be an
    ``Exchange SinglePartition``.  The q-selection is a tiny
    crossJoin(broadcast) + integer filter.  For near-row-cardinality
    value columns use kmv_distinct/heavy_hitters-style sketching
    instead; the distribution itself is the output's size bound.
    """
    from omop_concept_automapper_spark.operators.packing import (
        global_running_total,
    )

    if not quantiles_bp:
        raise ValueError("need at least one quantile")
    for q in quantiles_bp:
        if not (0 < q <= 10000):
            raise ValueError(f"quantile basis points must be in 1..10000: {q}")
    groups = list(group_cols or [])
    vtype = dict(df.dtypes)[value_col]
    if vtype not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"exact_quantiles needs an integral value_col; {value_col} is "
            f"{vtype} (quantize floats to fixed-point first)"
        )
    # r7: snapshot the distribution once — it feeds BOTH the running total
    # and the per-group totals, and without the checkpoint the corpus
    # scan + aggregation executed once per consumer.  The cache is bounded
    # by the distribution's cardinality (the operator's stated size bound),
    # never by the row count.
    dist = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*groups, value_col)
        .agg(F.count("*").alias("_cnt"))
        .localCheckpoint(eager=False)
    )
    # values are distinct within a group after the groupBy, so value_col
    # itself is the required total order
    cum = global_running_total(
        dist, "_cnt", order_cols=[value_col], group_cols=groups
    ).withColumnRenamed("_cum", "n_le")
    if groups:
        totals = dist.groupBy(*groups).agg(F.sum("_cnt").alias("n_total"))
        # null-safe on the group keys — a NULL group is a group here too
        tot = totals.select(
            *[F.col(c).alias(f"_tot_{c}") for c in groups], "n_total"
        )
        cond = None
        for c in groups:
            eq = cum[c].eqNullSafe(tot[f"_tot_{c}"])
            cond = eq if cond is None else (cond & eq)
        joined = cum.join(tot, cond).drop(*[f"_tot_{c}" for c in groups])
    else:
        totals = dist.agg(F.sum("_cnt").alias("n_total"))
        joined = cum.crossJoin(F.broadcast(totals))
    qs = F.explode(
        F.array(*[F.lit(int(q)) for q in sorted(set(quantiles_bp))])
    ).alias("q_bp")
    return (
        joined.select("*", qs)
        .where(
            (F.col("n_le") * F.lit(10000) >= F.col("q_bp") * F.col("n_total"))
            & (
                (F.col("n_le") - F.col("_cnt")) * F.lit(10000)
                < F.col("q_bp") * F.col("n_total")
            )
        )
        .select(*groups, "q_bp", value_col, "n_le", "n_total")
    )


def sample_by_hash(
    df: DataFrame, key_col: str, num: int, den: int
) -> DataFrame:
    """Deterministic ~num/den Bernoulli sample: keep rows whose 60-bit
    md5 hash of ``key_col`` satisfies ``hash % den < num``.

    Map-only — no shuffle, no RNG, no state; the predicate sits directly
    on the scan, so at 100 TB this is the sampling path (a 1% sample
    reads every block but moves nothing).  Sampling is by KEY: all rows
    sharing a key are kept or dropped together (the property you want for
    sampling conversations or documents without tearing them)."""
    if not (0 < num <= den):
        raise ValueError("need 0 < num <= den")
    return df.where(kmv_hash(key_col) % F.lit(den) < F.lit(num))


def stratified_sample(
    df: DataFrame,
    strata_cols: list[str],
    key_col: str,
    n_per_stratum: int,
) -> DataFrame:
    """Deterministic fixed-size sample per stratum: the ``n`` rows with
    the smallest (md5-hash, key) per stratum, with ``sample_rank``
    attached (1-based).

    One keyed shuffle on the strata; the window keeps at most ``n`` rows
    of state per stratum (sort-based top-k).  Hash order is uniform, so
    the sample is unbiased within each stratum; the key tie-break makes
    the output a pure function of the data even under (astronomically
    unlikely) 60-bit hash collisions."""
    if n_per_stratum <= 0:
        raise ValueError("n_per_stratum must be positive")
    w = Window.partitionBy(*strata_cols).orderBy(
        kmv_hash(key_col).asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= n_per_stratum)
    )


def tfidf_top_terms(
    docs: DataFrame,
    id_col: str,
    tokens,
    k: int,
    scale: int = 1_000_000,
) -> DataFrame:
    """Top-``k`` most characteristic terms per document by RATIONAL
    tf-idf: ``score = (tf * scale) DIV df`` — term frequency weighted by
    inverse document frequency with a linear (not log) idf, so the whole
    computation is 64-bit integer arithmetic and a SQL oracle reproduces
    it bit-for-bit (a float ``log(n/df)`` ranks slightly differently but
    its cross-engine last-ulp behavior is not testable; within one
    document the linear idf preserves the "rare beats common" ordering
    that matters for keyword extraction).

    ``tokens``: a Column producing ``array<string>`` per row (e.g.
    ``operators.dedup.tokens_col('text')``).  NULL/empty-text rows
    contribute nothing.  Output: id col + ``term, tf, df, score,
    term_rank`` (ties broken by term ascending — deterministic).

    Scale shape: explode is map-side; ``tf`` is one (doc, term) keyed
    shuffle; ``df`` reuses the tf output grouped by term (the map-side
    partial compresses hard because (doc, term) is already distinct);
    the tf–df join is a plain keyed join on term (hot terms are exactly
    what AQE skew-split handles); the final top-k window is keyed by doc
    with bounded sort state.  Nothing driver-resident, no floats.
    ``tf * scale`` caps at doc_len * scale — at scale=1e6 a document
    would need >9e12 copies of one token to overflow, and ANSI mode
    would throw rather than wrap.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    if scale <= 0:
        raise ValueError("scale must be positive")
    tf = (
        docs.select(F.col(id_col), F.explode(tokens).alias("term"))
        .where(F.col("term").isNotNull())
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(dfreq, "term").withColumn(
        "score", F.expr(f"tf * {int(scale)} DIV df")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn(
            "term_rank", F.row_number().over(w).cast("long")
        )
        .where(F.col("term_rank") <= k)
        .select(id_col, "term", "tf", "df", "score", "term_rank")
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    lo_bp: int = 100,
    hi_bp: int = 9900,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Clip an integral column to its exact per-group [lo_bp, hi_bp]
    quantiles (winsorization — the standard outlier guard before a
    numeric column feeds a quality score or a training-mixture weight).

    Adds ``<value_col>_wins`` (the clipped value) and ``_clipped``
    (-1 below / 0 inside / 1 above).  NULL values pass through unclipped
    (quantiles exclude them, mirroring SQL percentile semantics).

    Scale shape: the bounds ride :func:`exact_quantiles` (distribution
    aggregation + two-phase running total — no single-task stage); the
    clip itself is a broadcast join of the tiny per-group bounds frame
    followed by a map-only projection.
    """
    if not (0 < lo_bp <= hi_bp <= 10000):
        raise ValueError("need 0 < lo_bp <= hi_bp <= 10000")
    group_cols = group_cols or []
    q = exact_quantiles(df, value_col, [lo_bp, hi_bp], group_cols)
    bounds = q.groupBy(*[F.col(c).alias(f"_b_{c}") for c in group_cols]).agg(
        F.min(
            F.when(F.col("q_bp") == lo_bp, F.col(value_col))
        ).alias("_lo"),
        F.min(
            F.when(F.col("q_bp") == hi_bp, F.col(value_col))
        ).alias("_hi"),
    )
    if group_cols:
        # null-safe, like the groupBy that made the bounds: a NULL group is
        # clipped to its own bounds instead of being dropped.  Left join: a
        # group whose values are all NULL has no bounds row, and its rows
        # pass through unclipped like every other NULL value
        cond = [df[c].eqNullSafe(bounds[f"_b_{c}"]) for c in group_cols]
        joined = df.join(F.broadcast(bounds), cond, "left")
    else:
        joined = df.crossJoin(F.broadcast(bounds))
    v = F.col(value_col)
    return joined.select(
        *df.columns,
        F.when(v < F.col("_lo"), F.col("_lo"))
        .when(v > F.col("_hi"), F.col("_hi"))
        .otherwise(v)
        .alias(f"{value_col}_wins"),
        F.when(v < F.col("_lo"), F.lit(-1))
        .when(v > F.col("_hi"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("_clipped"),
    )

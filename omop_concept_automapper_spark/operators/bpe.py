"""Distributed BPE merge learning: induce a tokenizer's merge table from
the corpus (Sennrich et al. 2016) — the training-data op that turns raw
text into the vocabulary every downstream token count assumes.

The industrial-scale shape: the corpus compresses ONCE into a distinct
(word, freq) table — one shuffle over the raw tokens, after which every
merge round touches only that table, whose size is the corpus's distinct
word count (bounded ~10^7 on real text), not its token count.  Per round:

1. adjacent symbol pairs explode from each word's symbol array, weighted
   by word freq — map-only transform + ONE pair-keyed groupBy with
   map-side partials;
2. the arg-max pair comes to the driver as a single row (O(1) driver
   data); ties break (count DESC, left ASC, right ASC), so the whole
   merge table is a pure function of the corpus — the sequential twin
   reproduces it symbol for symbol;
3. the merge applies map-only: a left-to-right non-overlapping fold over
   each word's symbol array (JVM ``aggregate`` over a plain array
   accumulator — standard BPE "aaa"+(a,a) -> (aa, a) semantics; the
   merged token can never equal its own left half, so no just-merged
   flag is needed); the word table is lazily localCheckpoint-ed so round
   k costs ONE job — the argmax collect both reads the counts and
   materializes the merged table — not k re-derivations.

Learning stops early when the best pair's weighted count drops below
``min_count`` (default 2 — merging singleton pairs adds vocabulary
without compression).
"""

from __future__ import annotations

import warnings
from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from omop_concept_automapper_spark.operators.dedup import tokens_col


def _adjacent_pairs(s: Column) -> Column:
    return F.transform(
        F.sequence(F.lit(1), F.size(s) - 1),
        lambda i: F.struct(
            F.element_at(s, i).alias("l"),
            F.element_at(s, i + 1).alias("r"),
        ),
    )


def _merge_pair(s: Column, left: str, right: str) -> Column:
    """Left-to-right non-overlapping replacement of adjacent (left,
    right) symbols with their concatenation.

    Plain array accumulator (r7): non-overlap needs no just-merged flag —
    after a merge the accumulator's last element is ``left + right``,
    which can never equal ``left`` (``right`` is non-empty), so the
    ``element_at(out, -1) == left`` test alone cannot re-match into the
    merged token.  Halves the per-element expression tree of the fold."""
    merged = F.lit(left + right)
    init = F.array().cast("array<string>")

    def step(acc, x):
        can = (
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right))
        )
        return F.when(
            can,
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(s, init, step)


def _merge_loop_local(
    word_items: list[tuple[int, list[str]]],
    n_merges: int,
    min_count: int,
) -> list[tuple[int, str, str, int]]:
    """The merge loop over an in-memory (freq, symbols) word table.

    Shared by :func:`sequential_bpe_merges` (the golden oracle) and the
    small-vocabulary fast path of :func:`learn_bpe_merges`, so the two
    paths cannot diverge: same (count DESC, left, right) tie order (Python
    code-point string comparison == Spark/DuckDB binary UTF-8 order), same
    leftmost non-overlapping merge, same ``min_count`` early stop."""
    syms = [list(s) for _, s in word_items]
    freqs = [f for f, _ in word_items]
    out: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        counts: Counter = Counter()
        for f, s in zip(freqs, syms):
            for a, b in zip(s, s[1:]):
                counts[(a, b)] += f
        if not counts:
            break
        (l, r), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if c < min_count:
            break
        out.append((rank, l, r, int(c)))
        for j, s in enumerate(syms):
            ns, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    ns.append(l + r)
                    i += 2
                else:
                    ns.append(s[i])
                    i += 1
            syms[j] = ns
    return out


_LOCAL_SYMBOLS_DEFAULT = 1 << 20  # see the local fast path in learn_bpe_merges


def learn_bpe_merges(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_count: int = 2,
    local_threshold_symbols: int | None = None,
) -> list[tuple[int, str, str, int]]:
    """Learn up to ``n_merges`` BPE merges over the corpus.

    Returns ``[(rank, left, right, pair_count), ...]`` — a driver-side
    list because the merge table IS driver state (it is consulted
    sequentially and is at most ``n_merges`` rows); persist it with
    ``merges_df`` for lineage.  Words are lowercased whitespace tokens
    (``tokens_col`` semantics); symbols start as single characters.
    """
    if n_merges < 1 or min_count < 1:
        raise ValueError("need n_merges >= 1 and min_count >= 1")
    # The corpus-sized word count runs ONCE with the session's full AQE /
    # partitioning posture and is pinned EAGERLY — everything after it is
    # O(distinct words).
    words = (
        docs.where(F.col(text_col).isNotNull())
        .select(F.explode(tokens_col(text_col)).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("freq", F.split("w", "").alias("s"))
        .localCheckpoint(eager=True)
    )
    # r7: BPE is sequential per merge, so a round's distributed cost is
    # pure scheduler latency once the DISTINCT-WORD table is small — and
    # that table is bounded by the language's vocabulary, not the corpus
    # (a 100-TB corpus over a bounded word list still compresses to the
    # same few hundred rows here; real open-vocabulary text saturates
    # ~10^7).  Below a SYMBOL-COUNT threshold (bytes of loop state, not a
    # core count; ``SPARK_GRAFT_BPE_LOCAL_SYMBOLS``) the merge loop runs
    # on the driver over the SPARK-COMPUTED word table via the same
    # ``_merge_loop_local`` the sequential oracle uses — identical by
    # construction, one collect of the bounded vocabulary instead of
    # n_merges scheduled jobs.  The corpus-sized word count above is
    # distributed either way.  Default 2^20 symbols: measured at a
    # 60k-word / 3.9x10^5-symbol vocabulary the local loop is still 3.5x
    # faster than the distributed rounds (a Python round costs
    # ~0.4 s/10^6 symbols vs ~0.75 s of scheduled-job latency), and 10^6
    # symbols is ~10^2 MB of driver lists — comfortably bounded.
    if local_threshold_symbols is None:
        import os as _os

        local_threshold_symbols = _LOCAL_SYMBOLS_DEFAULT
        raw = _os.environ.get("SPARK_GRAFT_BPE_LOCAL_SYMBOLS")
        if raw is not None:
            try:
                local_threshold_symbols = int(raw)
            except ValueError:
                warnings.warn(
                    f"SPARK_GRAFT_BPE_LOCAL_SYMBOLS={raw!r} is not an integer; "
                    f"using the default {_LOCAL_SYMBOLS_DEFAULT}",
                    stacklevel=2,
                )
    if local_threshold_symbols > 0:
        stats = words.agg(
            F.sum(F.size("s")).alias("n_sym")
        ).collect()[0]
        if (stats["n_sym"] or 0) <= local_threshold_symbols:
            items = [
                (int(row["freq"]), list(row["s"]))
                for row in words.select("freq", "s").collect()
            ]
            # deterministic regardless of partition layout: the loop's
            # counts/argmax are order-independent, so no sort is needed
            return _merge_loop_local(items, n_merges, min_count)
    # r7: the merge loop is n_merges tiny, structurally identical queries
    # over the bounded word table (<= ~10^7 distinct words on real text,
    # i.e. <= ~1 GB — the module docstring's bound), so its reduce width
    # is a property of the OPERATOR, not the corpus: 16 partitions keeps
    # every reduce task under the usual 64 MB advisory at the vocabulary
    # ceiling.  AQE is paused for the loop because it splits each round's
    # single action into shuffle-stage + result jobs and re-plans between
    # them — pure per-round latency on a loop this shape (measured 0.26s
    # -> 0.15s per round); the merged word table rides each round's argmax
    # collect via a LAZY checkpoint (one job per round total).  Note the
    # conf switch is session-visible for the loop's duration (restored in
    # the finally) — callers running concurrent queries on the same
    # session should not interleave them with a BPE learn.
    conf = docs.sparkSession.conf
    import os as _os

    loop_parts = _os.environ.get("SPARK_GRAFT_BPE_SHUFFLE_PARTITIONS", "16")
    old_aqe = conf.get("spark.sql.adaptive.enabled", "true")
    old_parts = conf.get("spark.sql.shuffle.partitions", "200")
    merges: list[tuple[int, str, str, int]] = []
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.shuffle.partitions", loop_parts)
    try:
        for rank in range(1, n_merges + 1):
            best = (
                words.where(F.size("s") >= 2)
                .select(
                    "freq", F.explode(_adjacent_pairs(F.col("s"))).alias("p")
                )
                .groupBy("p.l", "p.r")
                .agg(F.sum("freq").alias("c"))
                .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
                .limit(1)
                .collect()
            )
            if not best or best[0]["c"] < min_count:
                break
            l, r, c = best[0]["l"], best[0]["r"], int(best[0]["c"])
            merges.append((rank, l, r, c))
            words = words.select(
                "freq", _merge_pair(F.col("s"), l, r).alias("s")
            ).localCheckpoint(eager=False)
    finally:
        conf.set("spark.sql.adaptive.enabled", old_aqe)
        conf.set("spark.sql.shuffle.partitions", old_parts)
    return merges


def merges_df(spark, merges: list[tuple[int, str, str, int]]) -> DataFrame:
    return spark.createDataFrame(
        merges, "rank int, left string, right string, pair_count bigint"
    )


def sequential_bpe_merges(
    texts: list[str], n_merges: int, min_count: int = 2
) -> list[tuple[int, str, str, int]]:
    """Pure-Python twin of :func:`learn_bpe_merges` — the golden oracle
    and the property-test reference.  Same word semantics, same
    (count DESC, left, right) tie order, same non-overlapping merge."""
    words = Counter()
    for t in texts:
        if t is None:
            continue
        for w in t.lower().split():
            words[w] += 1
    return _merge_loop_local(
        [(f, list(w)) for w, f in words.items()], n_merges, min_count
    )

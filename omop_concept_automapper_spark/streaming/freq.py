"""Streaming heavy hitters: a lane-sharded mergeable Misra–Gries summary
folded one microbatch at a time, plus the exact verify that turns the
candidate superset into exact answers — the streaming twin of
``operators/freq.heavy_hitters``.

Why lanes: an MG summary is GLOBAL state, and a single stateful key would
funnel every row of the stream through one task.  Sharding by
``hash(value) % n_lanes`` fixes that without breaking the guarantee: a
value's ENTIRE stream lands in exactly one lane (the hash is a pure
function of the value), so the lane's summary sees the value's true
total, the lane total ``n_lane <= N``, and the MG undercount bound
``n_lane/(capacity+1) <= N/(capacity+1) < (num/den) * N`` holds with the
SAME per-lane capacity the batch operator uses (``ceil(den/num)``).
Union of lane summaries ⊇ true heavy hitters of everything ever
streamed — the batch operator's phase-1 law, preserved per microbatch by
summary mergeability (Agarwal et al., PODS 2012, same citation as
operators/freq.py).

State per lane is ``capacity`` (value, count) pairs + one long — bounded
forever, no TTL needed.  Emission per microbatch is each touched lane's
full current summary tagged with the lane's cumulative row count, so the
newest summary per lane is selectable from an append-only sink without
reading state (:func:`latest_candidates`).

Exactness: like the batch operator, the summary only bounds the CANDIDATE
set.  :func:`verify_heavy_hitters` runs phase 2 — broadcast semi-join +
exact count over the landed table — so the final answer is exact and
equals ``heavy_hitters`` over the union (pinned by
tests/test_streaming_freq.py across shuffled microbatch splits).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from omop_concept_automapper_spark.operators.freq import _mg_trim
from omop_concept_automapper_spark.operators.sketches import kmv_hash
from omop_concept_automapper_spark.streaming.fold import (
    read_landing,
    sink_parquet,
)

_HH_OUTPUT = StructType(
    [
        StructField("lane", IntegerType()),
        StructField("value", StringType()),
        StructField("mg_count", LongType()),
        StructField("lane_rows", LongType()),
    ]
)
_HH_STATE = StructType(
    [
        StructField("values", ArrayType(StringType())),
        StructField("counts", ArrayType(LongType())),
        StructField("rows", LongType()),
    ]
)


def _make_mg_fold(capacity: int):
    def fold(key, pdfs, state: GroupState):
        counters: dict[str, int] = {}
        rows = 0
        if state.exists:
            values, counts, rows = state.get
            counters = dict(zip(values, counts))
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            # vectorized per-chunk counting, then the mergeable-summary
            # trim — identical discipline to the batch phase 1
            vc = pdf.groupby("value", sort=False).size()
            for v, c in vc.items():
                counters[v] = counters.get(v, 0) + int(c)
                _mg_trim(counters, capacity)
            rows += int(len(pdf))
        state.update((list(counters), list(counters.values()), rows))
        yield pd.DataFrame(
            {
                "lane": int(key[0]),
                "value": list(counters),
                "mg_count": list(counters.values()),
                "lane_rows": rows,
            }
        )

    return fold


def streaming_heavy_hitter_candidates(
    spark: SparkSession,
    landing_dir: str,
    schema: StructType,
    value_col: str,
    checkpoint_dir: str,
    output_dir: str,
    threshold_num: int,
    threshold_den: int,
    n_lanes: int = 64,
    capacity: int | None = None,
) -> None:
    """Drain ``landing_dir`` under ``Trigger.AvailableNow``, folding every
    new file into the lane summaries; each touched lane appends its
    current summary to ``output_dir``.  Blocks until drained.  NULL
    values are excluded (batch-operator semantics)."""
    if threshold_num <= 0 or threshold_den <= 0:
        raise ValueError("threshold must be a positive rational num/den")
    if n_lanes <= 0:
        raise ValueError("n_lanes must be positive")
    cap = capacity or -(-threshold_den // threshold_num)  # ceil(den/num)
    lanes = (
        read_landing(spark, landing_dir, schema)
        .select(F.col(value_col).cast("string").alias("value"))
        .where(F.col("value").isNotNull())
        .withColumn(
            "lane", (kmv_hash("value") % F.lit(n_lanes)).cast("int")
        )
    )
    summaries = lanes.groupBy("lane").applyInPandasWithState(
        _make_mg_fold(cap),
        outputStructType=_HH_OUTPUT,
        stateStructType=_HH_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink_parquet(summaries, output_dir, checkpoint_dir)


def latest_candidates(spark: SparkSession, output_dir: str) -> DataFrame:
    """The newest summary per lane from the append-only candidate sink:
    rows carrying the lane's maximum cumulative ``lane_rows``.  O(sink)
    scan + one keyed window over O(lanes x capacity) rows."""
    from pyspark.sql.window import Window

    sink = spark.read.parquet(output_dir)
    w = Window.partitionBy("lane")
    return (
        sink.withColumn("_max_rows", F.max("lane_rows").over(w))
        .where(F.col("lane_rows") == F.col("_max_rows"))
        .select("lane", "value", "mg_count", "lane_rows")
    )


def verify_heavy_hitters(
    df: DataFrame,
    value_col: str,
    candidates: DataFrame,
    threshold_num: int,
    threshold_den: int,
) -> DataFrame:
    """Phase 2 over the landed data: exact counts of candidate values only,
    integer-threshold filter — output schema and semantics identical to
    ``operators/freq.heavy_hitters`` (value col + freq + total), so
    streaming candidates + this verify == the batch operator over the
    union."""
    proj = (
        df.select(F.col(value_col).cast("string").alias(value_col))
        .na.drop()
    )
    cand = candidates.select(
        F.col("value").alias(value_col)
    ).distinct()
    counted = (
        proj.join(F.broadcast(cand), on=value_col, how="left_semi")
        .groupBy(value_col)
        .agg(F.count("*").alias("freq"))
        .crossJoin(F.broadcast(proj.agg(F.count("*").alias("total"))))
    )
    return counted.where(
        F.col("freq") * F.lit(threshold_den)
        >= F.lit(threshold_num) * F.col("total")
    )

"""HLL sketches, histograms and quantiles over the snapshot.

North-star surface: approx-distinct on doc_id (HyperLogLog), source/n_tok
histograms for drift, n_tok quantiles. The per-partition min/max/null-rate
row is computed by the validation pass itself, from its identity table
(plans.onepass.stats_from_identities). Reference anchor for the
tally shape: per-folder sums and counts printed by clear()
(/root/reference/data_validation.py:1150-1165, :1449-1455).

All aggregations here are algebraic (partial + final) so Spark's hash
aggregate does map-side combine before the shuffle: at 10^12 rows the
shuffle carries one partial row per (task x group), not raw rows. Sketches
merge treewise the same way (hll partials -> hll_union_agg final).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Default histogram bucket width for n_tok (tokens). 10^12 rows at
#: lengths <= 64k -> at most ~2k buckets per partition: tiny merge state.
DEFAULT_BUCKET_WIDTH = 32

#: log2(registers) for HLL sketches; 12 -> ~1.6% relative error, 4 KiB.
HLL_LGK = 12


def doc_id_sketches(snapshot: DataFrame, group_col: str = "source") -> DataFrame:
    """Per-partition HLL sketch of doc_id (Apache DataSketches via Spark
    3.5+ hll_sketch_agg). Persisted sketches let later runs union new
    partitions without rescanning old ones."""
    return snapshot.groupBy(group_col).agg(
        F.hll_sketch_agg("doc_id", F.lit(HLL_LGK)).alias("doc_id_hll")
    )


def merge_sketches(sketches: DataFrame) -> DataFrame:
    """Treewise merge of per-partition sketches -> global distinct estimate.
    This is the engine's X9 'partial + final aggregation' requirement."""
    return sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("doc_id_hll")).alias(
            "doc_id_distinct_global"
        )
    )


def n_tok_histogram(
    snapshot: DataFrame,
    group_col: str | None = "source",
    bucket_width: int = DEFAULT_BUCKET_WIDTH,
) -> DataFrame:
    """Fixed-width histogram of n_tok. Partial per-partition counts merge
    by addition — the treewise-mergeable representation drift.py consumes.

    Null n_tok rows are excluded: a null has no bucket, and a null key never
    equals itself in drift.py's bucket-alignment joins (identical histograms
    would read as drifted). Null *rate* is tracked by the validation pass's
    stats (plans.onepass.stats_from_identities).
    """
    bucket = (F.col("n_tok") / F.lit(bucket_width)).cast("long").alias("bucket")
    keys = [bucket] if group_col is None else [F.col(group_col), bucket]
    return (
        snapshot.filter(F.col("n_tok").isNotNull())
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def source_histogram(snapshot: DataFrame) -> DataFrame:
    """Row counts per source — the categorical histogram for drift."""
    return snapshot.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))


#: default quantile probes for n_tok distribution monitoring
QUANTILE_PROBS = (0.25, 0.5, 0.75, 0.95, 0.99)

#: percentile_approx accuracy: guarantees rank error <= n/accuracy, so at
#: 10,000 a 4k-row test partition is EXACT (error < 1 row) while a 10^12-row
#: partition still holds sketch state of only ~accuracy entries per group.
QUANTILE_ACCURACY = 10_000


def n_tok_quantiles(
    snapshot: DataFrame,
    group_col: str = "source",
    probs: tuple[float, ...] = QUANTILE_PROBS,
    accuracy: int = QUANTILE_ACCURACY,
) -> DataFrame:
    """Per-partition + global n_tok quantiles in one rollup pass via
    ``percentile_approx`` — Spark's Greenwald-Khanna sketch is algebraic
    (partial per-task sketches merge before the final shuffle), so like
    every aggregate in this module the shuffle carries one bounded sketch
    per (task x group), never raw rows. Returned values are dataset
    elements (discrete quantiles) with guaranteed rank error
    <= rows/accuracy."""
    pa = F.percentile_approx(
        "n_tok", F.array(*[F.lit(float(p)) for p in probs]), F.lit(accuracy)
    )
    cols = [
        F.element_at(F.col("_q"), i + 1).alias(f"n_tok_p{int(p * 100):02d}")
        for i, p in enumerate(probs)
    ]
    return (
        snapshot.rollup(group_col)
        .agg(pa.alias("_q"), (F.grouping(group_col) == 1).alias("is_global"))
        .select(group_col, *cols, "is_global")
    )

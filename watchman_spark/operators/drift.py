"""Distribution-drift monitoring between two corpus slices.

The production question: did the distribution of some per-document (or
per-turn) statistic — length, quality score, latency — SHIFT between a
reference window and the current window? Ingest monitoring runs this
per batch against the committed corpus; eval-aware pipelines run it
between train snapshots (BASELINE.json north_star: "aggregation stages
... metrics"; the alerting family in queries_text.py covers threshold
breaches, this covers shape changes no single threshold sees).

Scale shape: one partial-agg exchange per side (groupBy bucket — the
bucket space is tiny, so the map-side combine collapses each side to
n_buckets rows regardless of corpus size), then a broadcast-sized
full-outer join of the two histograms. No driver loops; the only
driver-visible value is the n_buckets-row result.

Metric design: TOTAL VARIATION distance, computed in exact integer
arithmetic — tv = Σ|p_i - q_i|/2 = Σ|n_i·M - m_i·N| / (2·N·M) where
n_i/m_i are bin counts and N/M side totals. The numerator is a bigint
(counts ≤ 10^12 × bins keep it well under 2^63 after the per-bin |diff|
is summed as decimal), so the statistic is bit-identical in any engine
— the same portability discipline as textstats.floor_frac.
PSI (population stability index) is also provided; it needs ln(), whose
last-ulp rounding is engine-specific, so PSI is pinned by pytest against
an independent numpy recompute instead of the cross-engine oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .textstats import floor_frac


def drift_bins(
    ref: DataFrame, cur: DataFrame, value: Column, bin_width: int
) -> DataFrame:
    """Per-bucket (bucket, n_ref, n_cur) comparison of the two slices'
    histograms of an integer-valued expression, bucket = floor(value /
    bin_width): drift_cat_bins over the bucket number."""
    return drift_cat_bins(ref, cur, F.floor(value / bin_width).cast("long"))


def drift_cat_bins(ref: DataFrame, cur: DataFrame, key: Column) -> DataFrame:
    """(bucket, n_ref, n_cur) where the bucket is a discrete key (a log
    template, an event type, a language tag, a drift_bins histogram bin).
    One partial-agg exchange per side; full outer, zero-filled —
    a template that appears on only one side contributes its whole mass
    to the distance, which is exactly the signal a template-drift
    monitor exists to catch (a NEW error template showing up is drift
    even when every old template's share is unchanged). Feed the result
    to total_variation()/psi() unchanged."""
    h_ref = ref.groupBy(key.alias("bucket")).agg(F.count(F.lit(1)).alias("n_ref"))
    h_cur = cur.groupBy(key.alias("bucket")).agg(F.count(F.lit(1)).alias("n_cur"))
    return h_ref.join(h_cur, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
        F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
    )


def _with_totals(bins: DataFrame) -> DataFrame:
    """The bins table with its side totals (N, M) on every row. ``bins`` is
    persisted because it feeds BOTH the totals aggregate and the per-bin
    rows; without it the whole upstream (two histogram scans + the
    full-outer join) would run twice per statistic (plan-asserted single
    join in tests/test_plans.py). The table is n_buckets rows, so the
    persist is metadata-sized."""
    bins = bins.persist(StorageLevel.MEMORY_AND_DISK)
    totals = bins.agg(F.sum("n_ref").alias("N"), F.sum("n_cur").alias("M"))
    return bins.crossJoin(F.broadcast(totals))


def total_variation(bins: DataFrame) -> DataFrame:
    """One-row (tv_num, n_ref_total, n_cur_total, tv) from a drift_bins
    table. tv_num = Σ|n_i·M - m_i·N| is exact; tv = tv_num/(2NM)
    floor-truncated to 6 dp so the double is derived from integers the
    same way in every engine (division of exact integers then floor —
    no transcendental, no rounding mode).

    Bigint headroom: tv_num·10^6 ≤ 2·N·M·10^6 must fit int64, i.e.
    N·M ≲ 4.6e12 — ample for any windowed monitoring slice (10^6 docs a
    side). Full-corpus 10^12-row sides overflow the exact path; there,
    drift runs on sampled or windowed slices (which is what a monitor
    does anyway), or on the double-valued psi() below."""
    scaled = _with_totals(bins).select(
        F.abs(F.col("n_ref") * F.col("M") - F.col("n_cur") * F.col("N")).alias(
            "d"
        ),
        "N",
        "M",
    )
    den = 2 * F.col("N") * F.col("M")
    return scaled.groupBy("N", "M").agg(F.sum("d").alias("tv_num")).select(
        F.col("tv_num"),
        F.col("N").alias("n_ref_total"),
        F.col("M").alias("n_cur_total"),
        floor_frac(F.col("tv_num"), den, scale=1_000_000).alias("tv"),
    )


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column data-quality profile — the ingest-gate twin of the
    distribution drift above (drift sees shape changes in one statistic;
    this sees schema-level rot: a column suddenly all-null, a key whose
    distinct count collapses, an enum that grew a value). Returns one row
    per column: (column, n, n_null, n_distinct, min_s, max_s) with
    min/max cast to string so the schema is uniform across column types.

    Plan shape: ONE aggregation pass over the input computes every
    column's stats (count/min/max partial-aggregate map-side; the exact
    count_distincts share the pass via Expand — n_cols+1 projections of
    the input, the standard cost of multiple exact distincts; profile on
    a sample or swap approx_count_distinct in if exactness isn't needed
    at full-corpus scale), then the per-column rows are exploded from
    the single result row — the exchange carries one row."""
    if not cols:
        raise ValueError("profile_columns needs at least one column")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"_nn_{c}"),
            F.count_distinct(c).alias(f"_nd_{c}"),
            F.min(c).cast("string").alias(f"_mn_{c}"),
            F.max(c).cast("string").alias(f"_mx_{c}"),
        ]
    one = df.agg(*aggs)
    return one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col("_n").alias("n"),
                        (F.col("_n") - F.col(f"_nn_{c}")).alias("n_null"),
                        F.col(f"_nd_{c}").alias("n_distinct"),
                        F.col(f"_mn_{c}").alias("min_s"),
                        F.col(f"_mx_{c}").alias("max_s"),
                    )
                    for c in cols
                ]
            )
        ).alias("r")
    ).select("r.*")


def psi(bins: DataFrame, epsilon: float = 1e-6) -> DataFrame:
    """One-row (psi) population stability index over a drift_bins table:
    Σ (p_i - q_i)·ln(p_i/q_i) with ε-smoothed proportions (a bucket
    empty on one side otherwise makes the index infinite). Conventional
    reading: <0.1 stable, 0.1-0.25 moderate shift, >0.25 action.
    ln() is engine-rounded, so this is the pytest-pinned twin of the
    exactly-portable total_variation."""
    w = _with_totals(bins).select(
        (F.col("n_ref") / F.col("N") + epsilon).alias("p"),
        (F.col("n_cur") / F.col("M") + epsilon).alias("q"),
    )
    return w.agg(
        F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))).alias(
            "psi"
        )
    )

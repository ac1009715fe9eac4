"""Event-log product analytics: ordered funnels, retention cohorts,
percentile-threshold outlier flags.

The read-side analytics a watchman-class log processor feeds once the
parse → route → aggregate pipeline has landed events in per-sink tables
(BASELINE.json north_star: the aggregate stage's downstream consumers).
All three are single-plan distributed compositions:

- ``funnel``: ordered-step conversion. The whole per-key scan is ONE
  hash aggregate: events are collected per key, sorted by (ts,
  tiebreaks) inside the aggregate via ``sort_array``, and a pure-JVM
  ``F.aggregate`` fold counts how many funnel steps complete IN ORDER
  (step i+1 only matches after step i has matched — the same semantics
  as the iterative min-row-number SQL formulation, which the DuckDB
  oracle uses). The per-step rollup then runs over the tiny (n_steps+1)-
  row completion distribution, never the events. Scale: one |E|-row
  exchange on the key; per-key state is that key's event history (the
  same per-entity bound as sessionize — see operators/sessionize.py).
- ``retention_cohorts``: classic cohort retention. First-activity day
  per key (one exchange), distinct active days map-derived and
  deduplicated, one broadcastable join of (key, day) against (key,
  cohort_day) — the firsts table is |keys| rows, orders of magnitude
  under the event table — then a count-distinct per (cohort_day,
  week_offset). At 100 TB the firsts table may exceed broadcast; the
  join key is the same hash key, so it degrades to one co-partitioned
  shuffle, still linear.
- ``value_outliers``: per-group exact interpolated percentile threshold
  (matches quantile_cont bit-for-bit — the agg_p95_latency discipline),
  broadcast back over the groups table (|groups| rows), one conditional
  re-aggregation counting rows strictly above the threshold. The
  comparison uses the UNROUNDED threshold so the flag can never disagree
  with the reported (rounded) percentile's provenance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import floor_frac


def funnel(
    df: DataFrame,
    steps: list[str],
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_cols: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """Ordered-funnel completion: for each key, scan its events in
    (ts, *tiebreak_cols) order and advance a cursor through ``steps`` —
    step i+1 can only match strictly after the event that matched step i.
    Returns one row per step: (step_idx 1-based, step, n_keys = keys that
    completed the step, frac = n_keys / total keys, floor-truncated to
    4 dp with the integer-division trick for bit-identical oracles).

    Steps may repeat (e.g. ['view', 'view', 'purchase'] = "two views then
    a purchase"): the fold matches occurrences, not types.
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    n_steps = len(steps)
    steps_lit = F.array(*[F.lit(s) for s in steps])
    evs = F.sort_array(F.collect_list(F.struct(ts_col, *tiebreak_cols, type_col)))
    n_done = F.aggregate(
        evs,
        F.lit(0),
        lambda acc, x: F.when(
            (acc < n_steps) & (x[type_col] == F.element_at(steps_lit, acc + 1)),
            acc + 1,
        ).otherwise(acc),
    )
    per_key = df.groupBy(key_col).agg(n_done.alias("n_done"))
    # tiny distribution table: at most n_steps+1 rows from here on
    dist = per_key.groupBy("n_done").agg(F.count(F.lit(1)).alias("n_keys"))
    one = dist.agg(
        *[
            F.sum(F.when(F.col("n_done") >= i, F.col("n_keys")).otherwise(0))
            .cast("long")
            .alias(f"_s{i}")
            for i in range(1, n_steps + 1)
        ],
        F.sum("n_keys").cast("long").alias("_total"),
    )
    rows = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("long").alias("step_idx"),
                        F.lit(steps[i - 1]).alias("step"),
                        F.col(f"_s{i}").alias("n_keys"),
                    )
                    for i in range(1, n_steps + 1)
                ]
            )
        ).alias("r"),
        "_total",
    )
    frac = F.when(F.col("_total") > 0, floor_frac(F.col("r.n_keys"), F.col("_total"))).otherwise(
        F.lit(0.0)
    )
    return rows.select(
        F.col("r.step_idx").alias("step_idx"),
        F.col("r.step").alias("step"),
        F.col("r.n_keys").alias("n_keys"),
        frac.alias("frac"),
    )


def retention_cohorts(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention: cohort = a key's first active day (date_trunc to
    day); a key is retained in week w of its cohort if it was active on
    any day d with floor(days(d - cohort_day) / 7) == w. Returns
    (cohort_day, week_offset, n_active, retention = n_active / cohort
    size, floor-truncated 4 dp). week 0 always holds the whole cohort by
    construction (every key is active on its own first day)."""
    from pyspark.sql.window import Window

    # r6 (guide §2.4, §1.2): ONE scan, no self-join. The old shape
    # distinct'ed (key, day) and then joined it against its own
    # groupBy-min — the distinct subplan (a full scan + exchange of the
    # events table) executed twice, and the join added two more
    # exchanges. Now: repartition by key (one exchange — its
    # HashPartitioning(key) satisfies both the (key, d) dedup clustering
    # and the cohort window's partitioning, so neither adds an exchange)
    # → dropDuplicates → min(d) OVER (PARTITION BY key) — identical
    # cohort_day (min over the same distinct day set), 6 exchanges + 2
    # scans → 4 exchanges + 1 scan (plan-asserted in tests/test_plans.py).
    days = (
        df.select(
            F.col(key_col).alias("key"), F.date_trunc("day", F.col(ts_col)).alias("d")
        )
        .repartition("key")
        .dropDuplicates(["key", "d"])
    )
    cohort = F.min("d").over(Window.partitionBy("key"))
    withc = days.withColumn("cohort_day", cohort)
    dd = F.datediff(F.col("d"), F.col("cohort_day"))
    j = withc.select(
        "key",
        "cohort_day",
        ((dd - F.pmod(dd, F.lit(7))) / 7).cast("long").alias("week_offset"),
    )
    act = j.groupBy("cohort_day", "week_offset").agg(
        F.count_distinct("key").alias("n_active")
    )
    cohort_n = F.max(F.when(F.col("week_offset") == 0, F.col("n_active"))).over(
        Window.partitionBy("cohort_day")
    )
    retention = floor_frac(F.col("n_active"), cohort_n)
    return act.select(
        "cohort_day", "week_offset", "n_active", retention.alias("retention")
    )


def value_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    q: float = 0.99,
) -> DataFrame:
    """Per-group percentile-threshold outlier counts: exact interpolated
    q-percentile of ``value_col`` per group (quantile_cont semantics),
    then the count of rows STRICTLY above it. Returns (group, pq rounded
    4 dp, n, n_above). The strict comparison runs against the unrounded
    percentile — both engines derive it from the identical sorted values
    with the identical interpolation, so the flag is deterministic."""
    thresholds = df.groupBy(group_col).agg(
        F.percentile(value_col, q).alias("_pq")
    )
    return (
        df.join(F.broadcast(thresholds), group_col)
        .groupBy(group_col, F.round("_pq", 4).alias("pq"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col(value_col) > F.col("_pq"), 1).otherwise(0))
            .cast("long")
            .alias("n_above"),
        )
    )


def volume_anomaly(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    window: int = 24,
    z2_threshold: int = 9,
    min_history: int = 3,
) -> DataFrame:
    """Rolling volume-anomaly detector: per key, flag the hours whose
    event count sits more than z standard deviations from the mean of
    the preceding ``window`` observed hours — the alert a log pipeline
    raises when one sink's traffic spikes or collapses (the volume twin
    of the rate threshold in alert_error_rate).

    The z-test is evaluated ENTIRELY IN INTEGER ARITHMETIC so the flag is
    bit-identical across engines (the drift.total_variation discipline —
    no sqrt, no float accumulation-order hazards): with m preceding
    counts, s1 = Σx, s2 = Σx², sample variance is
    (m·s2 − s1²)/(m(m−1)), and z² > T² rearranges to

        (m·x − s1)² · (m−1)  >  T² · m · (m·s2 − s1²)

    — every term an exact integer, computed as decimal(38,0) (128-bit)
    rather than BIGINT: Spark's non-ANSI long products wrap silently at
    hourly counts ≳2.6e7 while DuckDB's SUM promotes to HUGEINT, so the
    BIGINT form diverged between engines exactly at scale (r5 advice).
    Zero-variance history flags ANY deviation
    (z is infinite there), which is the wanted semantics for a flatline
    counter that suddenly moves. Hours with fewer than ``min_history``
    preceding observations never flag (cold start).

    Plan shape: one partial-agg exchange to hourly counts (n_keys×n_hours
    rows — tiny), then a per-key ROWS window over that aggregate; the
    window sort is per-key over the already-reduced table, never over raw
    events. Returns (key, hour, n, m, anomaly).
    """
    from pyspark.sql.window import Window

    hourly = df.groupBy(
        F.col(key_col).alias("key"),
        F.date_trunc("hour", F.col(ts_col)).alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("key").orderBy("hour").rowsBetween(-window, -1)
    m = F.count("n").over(w)
    # r5 advice fix: the inequality's products wrap silently in Spark's
    # non-ANSI BIGINT once hourly counts reach ~2.6e7 (dev²·(m−1) ≈
    # 576x²·23 > 2⁶³), while DuckDB's SUM promotes to HUGEINT — so the
    # documented bit-identical guarantee would break exactly at the scale
    # the docs claim. decimal(38,0) (exact, 128-bit, supported by both
    # engines) restores wrap-free arithmetic end-to-end; at small counts
    # the values are unchanged (exact integers either way).
    nd = F.col("n").cast("decimal(38,0)")
    md = m.cast("decimal(38,0)")
    s1 = F.sum(nd).over(w)
    s2 = F.sum(nd * nd).over(w)
    dev = md * nd - s1
    anomaly = (m >= F.lit(min_history)) & (
        dev * dev * (md - F.lit(1))
        > F.lit(z2_threshold) * md * (md * s2 - s1 * s1)
    )
    return hourly.select(
        "key", "hour", "n", m.alias("m"), anomaly.alias("anomaly")
    )

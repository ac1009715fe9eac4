"""Aggregation layer: per-sink counts, rollups, and salted skew defense.

BASELINE.json:6: "Aggregation stages compute per-sink counts and
per-(conv_id, role, tool) rollups via salted group-by to defuse
hot-conversation skew". Spark's AQE splits skewed JOIN partitions but not
skewed GROUP-BY keys (SURVEY.md §4), so the salted two-stage aggregate is
the one hand-rolled optimization in the engine:

  stage 1: groupBy(keys + salt) -> partial aggregates   (hot key split k ways)
  stage 2: groupBy(keys)        -> re-aggregate partials (k rows per key)

Results are bit-identical to the naive single-stage group-by for the
decomposable aggregates supported here (count/sum/min/max and avg as
sum/count) — property-tested in tests/test_props.py. The pipeline's own
conv/role/tool rollup needs no salt: it reads the bucket-partitioned
staged tree, whose map-side combine already splits a hot conv_id
(plans/pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (kind, source column or None for count, output alias)
AggSpec = tuple[str, str | None, str]


def _partial_final(spec: AggSpec) -> tuple[Column, Column]:
    kind, col, alias = spec
    tmp = f"__p_{alias}"
    if kind == "count":
        partial = (F.count(F.lit(1)) if col is None else F.count(col)).alias(tmp)
        final = F.sum(tmp).alias(alias)
    elif kind == "sum":
        partial = F.sum(col).alias(tmp)
        final = F.sum(tmp).alias(alias)
    elif kind == "min":
        partial = F.min(col).alias(tmp)
        final = F.min(tmp).alias(alias)
    elif kind == "max":
        partial = F.max(col).alias(tmp)
        final = F.max(tmp).alias(alias)
    else:
        raise ValueError(f"unsupported salted aggregate kind: {kind!r}")
    return partial, final


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: list[AggSpec],
    salt_n: int = 16,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Two-stage salted group-by, identical result to ``groupBy(keys)``.

    ``salt_cols`` defaults to all input columns usable for a stable salt;
    using (keys + turn_idx)-style extra columns spreads a hot key's rows
    uniformly over ``salt_n`` partial groups.
    """
    salt_src = salt_cols if salt_cols is not None else df.columns
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in salt_src]), F.lit(salt_n))
    )
    partials = [_partial_final(a)[0] for a in aggs]
    finals = [_partial_final(a)[1] for a in aggs]
    stage1 = salted.groupBy(*keys, "__salt").agg(*partials)
    return stage1.groupBy(*keys).agg(*finals)


def per_sink_counts(routed: DataFrame) -> DataFrame:
    """agg_sink_counts(sink, n, distinct_convs) — FIXTURES.md §4."""
    return routed.groupBy("sink").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("conv_id").alias("distinct_convs"),
    )

"""Tag-based router — fans rows out to per-sink tables.

BASELINE.json:6: "a tag-based router fans rows out to per-sink Iceberg
tables (errors, tool-calls, conversational turns)". The routing rule is
total (FIXTURES.md §1): every row gets exactly one sink tag, so the sinks
partition the input — Σ sink counts == total rows is a tested invariant.

Routing is CONFIG-DRIVEN (config.py routes — BASELINE.json:6 "mirroring
watchman's configurable output routing"): ordered SQL rules compiled into
one JVM CASE chain, first match wins, catch-all default sink keeps the
rule total — Σ sink counts == total rows is a tested invariant.
``conv_bucket`` is the pipeline's partition layout and checkpoint unit; the
conv_bucket exchange, the turn-order sort and the single partitionBy
fan-out live in plans/pipeline.py (StagedWrite).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_ROUTES, DEFAULT_SINK


def sink_expr(
    routes: tuple[tuple[str, str], ...] = DEFAULT_ROUTES,
    default_sink: str = DEFAULT_SINK,
) -> Column:
    """Config-driven first-match routing (BASELINE.json:6 "configurable
    output routing"): one CASE WHEN chain from the ordered (sink, SQL
    condition) rules, catch-all default. Pure JVM expressions — adding a
    sink is a config edit, not a code edit; conditions name their columns
    (e.g. ``parsed.error_code``) so there is no implicit struct argument.
    The default rules reproduce errors / tool_calls / conversational
    exactly."""
    expr: Column | None = None
    for sink, cond in routes:
        clause = F.expr(cond)
        expr = F.when(clause, F.lit(sink)) if expr is None else expr.when(clause, F.lit(sink))
    if expr is None:
        return F.lit(default_sink)
    return expr.otherwise(F.lit(default_sink))


def with_sink(
    df: DataFrame,
    routes: tuple[tuple[str, str], ...] = DEFAULT_ROUTES,
    default_sink: str = DEFAULT_SINK,
) -> DataFrame:
    return df.withColumn("sink", sink_expr(routes, default_sink))


def with_conv_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    """Stable hash bucket of conv_id — partition layout + checkpoint unit
    (FIXTURES.md §4: conv_bucket = pmod(xxhash64(conv_id), N))."""
    return df.withColumn(
        "conv_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    )

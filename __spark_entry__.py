"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship parse→enrich→route→aggregate pipeline
(watchman_spark.plans.pipeline) over /root/testdata/sf0.001 events
reinterpreted as a transcript table, returning per-sink counts.
``queries()``/``oracle_sql()`` delegate to the operator registry in
watchman_spark.queries (one entry per implemented SURVEY.md §2 operator;
DuckDB-oracled unless genuinely non-SQL-expressible).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from watchman_spark import queries as _registry  # noqa: E402
from watchman_spark.config import PipelineConfig  # noqa: E402
from watchman_spark.operators.aggregate import per_sink_counts  # noqa: E402
from watchman_spark.plans.pipeline import tag  # noqa: E402
from watchman_spark.queries_fn import _line_expr  # noqa: E402
from watchman_spark.synth import role_dim, tool_dim  # noqa: E402


def _events_as_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reinterpret the driver's events table as a transcript table of the
    BASELINE.json:15 shape (FIXTURES.md §6): one conversation per user,
    turn order by (ts, event_id), synthetic log-line text per event."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.when(F.col("event_type") == "error", "system")
        .when(F.col("event_type").isin("purchase", "signup"), "assistant")
        .otherwise("user")
        .alias("role"),
        _line_expr().alias("text"),
        F.when(F.col("event_type").isin("purchase", "signup"), "query_db")
        .otherwise(F.lit(None).cast("string"))
        .alias("tool"),
        F.col("ts"),
    )


def _flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    cfg = PipelineConfig(warehouse="/unused", n_buckets=32)
    # map-side prefix only: the aggregate needs no bucket exchange
    # (OPTIMIZATION_r06.md, "Routed write")
    events = _events_as_transcripts(spark, sf_dir)
    return per_sink_counts(tag(events, cfg, role_dim(spark), tool_dim(spark)))


# the flagship is itself oracle-checked: the router's sink decision (via
# real grok parse of constructed lines) must equal the semantic mapping
_registry.register(
    "pipeline_per_sink",
    """SELECT CASE WHEN event_type = 'error' THEN 'errors'
                   WHEN event_type IN ('purchase','signup') THEN 'tool_calls'
                   ELSE 'conversational' END AS sink,
              COUNT(*) AS n,
              COUNT(DISTINCT user_id) AS distinct_convs
       FROM events GROUP BY 1""",
)(_flagship)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _registry.queries()


def oracle_sql() -> dict[str, str]:
    return _registry.oracle_sql()

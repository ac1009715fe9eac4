"""Scalar-function (F1-F8) and UDF-surface (U1/U3) oracle queries.

Same alias/typing rules as queries.py. The udf_* entries are the important
ones: they run the engine's REAL vectorized parse/digest code paths against
a DuckDB SQL re-derivation, so the Arrow UDF surface is oracle-checked, not
just rows-only."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Window
from pyspark.sql import functions as F

from .operators.parse import with_parsed
from .queries import register, t

# ---------------------------------------------------------------------------
# F1-F8 scalar families
# ---------------------------------------------------------------------------

@register(
    "fn_string",
    """SELECT doc_id,
              CAST(length(text) AS BIGINT) AS n_chars_len,
              substr(text, 1, 20) AS head20,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
              upper(lang) || '/' || source AS tag,
              trim(substr(text, 1, 12)) AS head_trim
       FROM documents""",
)
def fn_string(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_len"),
        F.substring("text", 1, 20).alias("head20"),
        F.size(F.split("text", " ", -1)).cast("long").alias("n_tokens"),
        F.concat(F.upper("lang"), F.lit("/"), F.col("source")).alias("tag"),
        F.trim(F.substring("text", 1, 12)).alias("head_trim"),
    )


@register(
    "fn_datetime",
    """SELECT event_id,
              CAST(CAST(ts AS DATE) AS VARCHAR) AS dt,
              CAST(hour(ts) AS BIGINT) AS hr,
              date_trunc('hour', ts) AS ts_hour,
              epoch_us(ts) AS ts_us,
              CAST(year(ts) AS BIGINT) * 100 + CAST(month(ts) AS BIGINT) AS yyyymm
       FROM events""",
)
def fn_datetime(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.to_date("ts").cast("string").alias("dt"),
        F.hour("ts").cast("long").alias("hr"),
        F.date_trunc("hour", "ts").alias("ts_hour"),
        # component-based epoch: parquet timestamps are TIMESTAMP_NTZ, and
        # unix_micros(cast(ntz as timestamp)) would shift by the session
        # timezone — extract() components are NTZ-stable in ANY session
        (
            F.unix_date(F.to_date("ts")).cast("long") * 86_400_000_000
            + F.hour("ts").cast("long") * 3_600_000_000
            + F.minute("ts").cast("long") * 60_000_000
            + (F.expr("extract(second FROM ts)") * 1_000_000).cast("long")
        ).alias("ts_us"),
        (F.year("ts").cast("long") * 100 + F.month("ts").cast("long")).alias("yyyymm"),
    )


@register(
    "fn_math",
    """SELECT l_orderkey, l_linenumber,
              round(l_extendedprice, 1) AS price_r,
              round(abs(l_discount - 0.05), 6) AS disc_dev,
              CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
              round(ln(l_quantity + 1), 8) AS qty_ln,
              l_orderkey % 7 AS k_mod,
              greatest(l_quantity, 25.0) AS q_hi,
              least(l_quantity, 25.0) AS q_lo
       FROM lineitem""",
)
def fn_math(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("price_r"),
        F.round(F.abs(F.col("l_discount") - 0.05), 6).alias("disc_dev"),
        F.floor("l_quantity").cast("long").alias("qty_floor"),
        F.round(F.log(F.col("l_quantity") + 1), 8).alias("qty_ln"),
        (F.col("l_orderkey") % 7).alias("k_mod"),
        F.greatest("l_quantity", F.lit(25.0)).alias("q_hi"),
        F.least("l_quantity", F.lit(25.0)).alias("q_lo"),
    )


@register(
    "fn_hash",
    """SELECT doc_id,
              sha256(text) AS sha,
              md5(text) AS md5h
       FROM documents WHERE text IS NOT NULL""",
)
def fn_hash(spark, sf_dir):
    # portable cryptographic hashes are oracle-checked; the engine-native
    # partitioning hashes (xxhash64/crc32) are covered by fn_hash_native
    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return d.select("doc_id", F.sha2("text", 256).alias("sha"), F.md5("text").alias("md5h"))


@register("fn_hash_native", None)  # rows-only: xxhash64/crc32 are Spark-specific
def fn_hash_native(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.xxhash64("text").alias("xx64"),
        F.crc32("text").alias("crc"),
        F.hash("text").alias("h32"),
        F.pmod(F.xxhash64("doc_id"), F.lit(32)).alias("bucket"),
    )


@register(
    "fn_json",
    """SELECT event_id,
              CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
              CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
                   THEN 'hi' ELSE 'lo' END AS k_band
       FROM events""",
)
def fn_json(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select(
        "event_id",
        k.alias("k_val"),
        F.when(k >= 50, "hi").otherwise("lo").alias("k_band"),
    )


@register(
    "fn_array",
    """SELECT doc_id,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
              list_contains(string_split(text, ' '), 'join') AS has_join,
              array_to_string(string_split(text, ' ')[1:3], ' ') AS first3,
              CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
       FROM documents""",
)
def fn_array(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    words = F.split("text", " ", -1)
    return d.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        F.array_contains(words, "join").alias("has_join"),
        F.concat_ws(" ", F.slice(words, 1, 3)).alias("first3"),
        F.size(F.array_distinct(words)).cast("long").alias("n_distinct"),
    )


@register(
    "fn_map",
    """SELECT doc_id,
              lang AS m_lang,
              CAST(2 AS BIGINT) AS n_keys,
              lang || ',' || source AS vals
       FROM documents""",
)
def fn_map(spark, sf_dir):
    # F7: create_map / element_at / map_keys / map_values are all exercised,
    # but every OUTPUT column is a canonicalizable scalar — the driver's
    # value-hash canonicalizer lexsorts with pandas and dies on raw
    # array/map cells (CORRECTNESS_r01.json fn_map: "unhashable type:
    # 'list'"), so map_values is emitted through concat_ws.
    d = t(spark, sf_dir, "documents")
    m = F.create_map(F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source"))
    return d.select(
        "doc_id",
        F.element_at(m, "lang").alias("m_lang"),
        F.size(F.map_keys(m)).cast("long").alias("n_keys"),
        F.concat_ws(",", F.map_values(m)).alias("vals"),
    )


@register(
    "fn_conditional",
    """SELECT event_id,
              CASE WHEN value < 10 THEN 'low'
                   WHEN value < 100 THEN 'mid'
                   ELSE 'high' END AS band,
              COALESCE(NULLIF(event_type, 'view'), 'v') AS et,
              CASE WHEN event_type = 'error' THEN NULL ELSE event_id END AS ok_id
       FROM events""",
)
def fn_conditional(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.when(F.col("value") < 10, "low")
        .when(F.col("value") < 100, "mid")
        .otherwise("high")
        .alias("band"),
        F.coalesce(F.nullif("event_type", F.lit("view")), F.lit("v")).alias("et"),
        F.when(F.col("event_type") == "error", F.lit(None).cast("long"))
        .otherwise(F.col("event_id"))
        .alias("ok_id"),
    )


# ---------------------------------------------------------------------------
# U1/U3 — the engine's real vectorized UDF surface, oracle-checked
# ---------------------------------------------------------------------------

# Spark constructs synthetic log lines from events and parses them with the
# REAL grok pandas UDF — an end-to-end check of the Arrow parse path.
def _line_expr():
    k = F.get_json_object("props", "$.k").cast("long")
    ms = (F.floor(F.abs(F.col("value")) * 10).cast("long") % 9999 + 1).cast("string")
    err_line = F.concat(
        F.lit("ERROR E"), (F.lit(100) + k % 900).cast("string"),
        F.lit(": proc failed after "), ms, F.lit("ms"),
    )
    tool_line = F.concat(
        F.lit("[tool:query_db] invoked args="), (k % 10).cast("string"),
        F.lit(" latency_ms="), ms,
        F.lit(" status="), F.when(F.col("event_id") % 4 == 0, "err").otherwise("ok"),
    )
    return (
        F.when(F.col("event_type") == "error", err_line)
        .when(F.col("event_type").isin("purchase", "signup"), tool_line)
        .otherwise(F.lit("say: plain turn"))
    )


# The oracle states the expected captures as semantic ground truth (the
# lines are constructed, so the true captures are known in closed form) —
# the Spark side must recover them via the real grok UDF.
@register(
    "udf_grok_parse",
    """WITH base AS (
         SELECT event_id, event_type,
                CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                CAST(floor(abs(value) * 10) AS BIGINT) % 9999 + 1 AS ms
         FROM events)
       SELECT event_id,
              CASE WHEN event_type IN ('purchase','signup') THEN 'query_db' END AS tool_name,
              CASE WHEN event_type IN ('purchase','signup')
                   THEN CAST(k % 10 AS INTEGER) END AS args_n,
              CASE WHEN event_type IN ('purchase','signup')
                   THEN CAST(ms AS INTEGER) END AS latency_ms,
              CASE WHEN event_type IN ('purchase','signup')
                   THEN CASE WHEN event_id % 4 = 0 THEN 'err' ELSE 'ok' END END AS status,
              CASE WHEN event_type = 'error'
                   THEN 'E' || CAST(100 + k % 900 AS VARCHAR) END AS error_code,
              CASE WHEN event_type = 'error' THEN CAST(ms AS INTEGER) END AS err_ms
       FROM base""",
)
def udf_grok_parse(spark, sf_dir):
    ev = t(spark, sf_dir, "events").withColumn("line", _line_expr())
    parsed = with_parsed(ev, engine="pandas", text_col="line")
    return parsed.select(
        "event_id",
        F.col("parsed.tool_name").alias("tool_name"),
        F.col("parsed.args_n").alias("args_n"),
        F.col("parsed.latency_ms").alias("latency_ms"),
        F.col("parsed.status").alias("status"),
        F.col("parsed.error_code").alias("error_code"),
        F.col("parsed.err_ms").alias("err_ms"),
    )


@register(
    "udf_conv_digest",
    """SELECT user_id,
              sha256(string_agg(event_type, ',' ORDER BY ts, event_id)) AS digest,
              COUNT(*) AS n
       FROM events GROUP BY user_id""",
)
def udf_conv_digest(spark, sf_dir):
    # Built-in aggregation, not applyInPandas (which ships every row to
    # Python; measured in OPTIMIZATION_r06.md §1): array_sort over
    # struct(ts IS NULL, ts, event_id, event_type) orders by (ts NULLS
    # LAST, event_id) like the oracle's ORDER BY (event_id is unique),
    # transform projects the event_type sequence, and sha2(array_join(...),
    # 256) is byte-identical to Python's sha256(",".join(...)).hexdigest().
    # Null contract: a null ts sorts after every timestamp; a null
    # event_type is skipped (array_join and string_agg both drop it); a
    # user whose event_types are all null digests sha256("") here and NULL
    # in DuckDB. The per-conversation text digest (SURVEY U3) is
    # operators/invariants.py conv_digests_chunked, pytested in
    # tests/test_invariants.py.
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    key = F.struct(F.col("ts").isNull().alias("ts_null"), "ts", "event_id", "event_type")
    ordered = F.transform(
        F.array_sort(F.collect_list(key)), lambda s: s["event_type"]
    )
    return ev.groupBy("user_id").agg(
        F.sha2(F.array_join(ordered, ","), 256).alias("digest"),
        F.count(F.lit(1)).alias("n"),
    ).select("user_id", "digest", "n")


# U4: a REAL grouped-agg pandas_udf (Arrow-batched Python aggregation) —
# the cross-check for the built-in F.percentile used by agg_p95_latency.
# pandas' default 'linear' quantile interpolation is exactly DuckDB's
# quantile_cont (and Spark's percentile), so this is fully oracle-checked.
@register(
    "udf_p95_grouped_agg",
    """SELECT event_type, round(quantile_cont(value, 0.95), 4) AS p95_value
       FROM events GROUP BY event_type""",
)
def udf_p95_grouped_agg(spark, sf_dir):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def p95(v: pd.Series) -> float:
        return float(v.quantile(0.95, interpolation="linear"))

    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.round(p95("value"), 4).alias("p95_value"))
    )

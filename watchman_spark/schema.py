"""Declared schemas — schema inference is disabled everywhere.

The input transcript schema is pinned by BASELINE.json:15 (`input_hint`):
(conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
ts:timestamp). The parsed capture struct is built from the pattern
registry (``config.parsed_struct``); the ledger's schema lives with the
ledger (``checkpoint.ledger_arrow``).
"""

from __future__ import annotations

from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .config import DEFAULT_SINKS

TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), False),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), False),
    ]
)

ROLE_DIM_SCHEMA = StructType(
    [
        StructField("role", StringType(), False),
        StructField("role_group", StringType(), False),
        StructField("is_agent", BooleanType(), False),
    ]
)

TOOL_DIM_SCHEMA = StructType(
    [
        StructField("tool", StringType(), False),
        StructField("tool_category", StringType(), False),
        StructField("owner_team", StringType(), False),
    ]
)

SINKS = DEFAULT_SINKS


"""Grok parse stage — vectorized regex extraction into a typed struct.

Two interchangeable engines behind one interface (SURVEY.md §2.9 U1/U2,
risk #3), both returning the identical ``parsed`` struct:

- ``jvm``: pure built-in ``rlike`` + ``regexp_extract`` expressions — stays
  inside whole-stage codegen, zero Python boundary. Preferred for simple
  registries (it re-evaluates the regex once per capture group, which the
  JVM regex engine handles cheaply for anchored-prefix patterns). One
  regexp_replace + split in place of the per-group extracts is rejected:
  a delimiter inside a captured group would mis-split silently
  (OPTIMIZATION_r06.md "Parse engine default").
- ``pandas``: one Arrow-vectorized iterator pandas UDF applying
  ``pandas.Series.str.extract`` per pattern — regexes compiled once per
  Python worker, batches streamed (no per-row Python, BASELINE.json:15).

Unmatched rows keep base columns with an all-null struct — nothing is ever
dropped (the router's three sinks partition the input, BASELINE.json:6).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType

from ..config import DEFAULT_PATTERNS, GrokPattern, parsed_struct


def _jvm_parsed_col(patterns: tuple[GrokPattern, ...], text_col: str) -> Column:
    """Build the parsed struct from built-in expressions (engine="jvm")."""
    schema = parsed_struct(patterns)
    text = F.col(text_col)
    # one match flag per pattern so each rlike appears once
    match_flags = {p.name: text.isNotNull() & text.rlike(p.java_regex) for p in patterns}
    fields: list[Column] = []
    for field in schema.fields:
        # first pattern that declares this group and matches wins
        branches: Column | None = None
        for p in patterns:
            if field.name not in p.groups:
                continue
            idx = p.groups.index(field.name) + 1
            extracted = F.regexp_extract(text, p.java_regex, idx)
            if isinstance(field.dataType, IntegerType):
                extracted = extracted.cast("int")
            cond = match_flags[p.name]
            branches = (
                F.when(cond, extracted) if branches is None else branches.when(cond, extracted)
            )
        assert branches is not None
        fields.append(branches.otherwise(F.lit(None)).alias(field.name))
    return F.struct(*fields)


def _pandas_parsed_udf(patterns: tuple[GrokPattern, ...]):
    """Arrow iterator UDF: Iterator[Series] -> Iterator[DataFrame(struct)].

    Compiling in the iterator prologue amortizes regex setup once per Python
    worker (SURVEY.md §2.9 U2); ``Series.str.extract`` is C-level per batch.
    """
    schema = parsed_struct(patterns)
    int_fields = {f.name for f in schema.fields if isinstance(f.dataType, IntegerType)}
    field_order = [f.name for f in schema.fields]
    pats = [(p.compiled(), p.groups) for p in patterns]

    @pandas_udf(returnType=schema)
    def grok(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for s in batches:
            out = pd.DataFrame(index=s.index)
            for compiled, groups in pats:
                ext = s.str.extract(compiled)
                for g in groups:
                    if g in out.columns:
                        out[g] = out[g].where(out[g].notna(), ext[g])
                    else:
                        out[g] = ext[g]
            for name in field_order:
                if name not in out.columns:
                    out[name] = None
                if name in int_fields:
                    out[name] = pd.to_numeric(out[name], errors="coerce").astype("Int32")
            yield out[field_order]

    return grok


def with_parsed(
    df: DataFrame,
    patterns: tuple[GrokPattern, ...] = DEFAULT_PATTERNS,
    engine: str = "jvm",
    text_col: str = "text",
) -> DataFrame:
    """Append the ``parsed`` struct column (null fields where no match);
    route conditions name ``parsed.<group>``, so the name is fixed."""
    if engine == "jvm":
        return df.withColumn("parsed", _jvm_parsed_col(patterns, text_col))
    if engine == "pandas":
        return df.withColumn("parsed", _pandas_parsed_udf(patterns)(F.col(text_col)))
    raise ValueError(f"unknown parse engine: {engine!r}")


def flatten_parsed(df: DataFrame) -> DataFrame:
    """Flatten the parsed struct into top-level columns (sink schema)."""
    names = df.schema["parsed"].dataType.fieldNames()
    keep = [c for c in df.columns if c != "parsed"]
    return df.select(*keep, *[F.col(f"parsed.{n}").alias(n) for n in names])

"""Pipeline invariant audits (BASELINE.json:6/14): routed-row equality,
sink disjointness, and the per-turn text-equality digest under stable turn
ordering. These are library operators (usable against any warehouse), not
just test helpers — at 10^12 scale you run them as audit jobs."""

from __future__ import annotations

import hashlib

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import TRANSCRIPT_SCHEMA
from ..sources.warehouse import ParquetWarehouse
from ..synth import DIGEST_SEP, NULL_SENTINEL

BASE_COLS = [f.name for f in TRANSCRIPT_SCHEMA.fields]


def sink_names(wh: ParquetWarehouse) -> list[str]:
    """Sinks discovered from the warehouse itself (every committed
    ``sink_*`` table) — the audits must see custom route configurations
    (config.py routes), not assume the default three."""
    return [t[len("sink_"):] for t in wh.tables() if t.startswith("sink_")]


def union_of_sinks(
    spark: SparkSession,
    wh: ParquetWarehouse,
    cols: list[str],
    sinks: list[str] | None = None,
) -> DataFrame:
    out = None
    for s in sinks if sinks is not None else sink_names(wh):
        part = wh.read(spark, f"sink_{s}").select(cols)
        out = part if out is None else out.unionByName(part)
    if out is None:
        raise ValueError("warehouse has no committed sink tables to audit")
    return out


def routed_row_equality(spark: SparkSession, wh: ParquetWarehouse) -> dict:
    """O5 both ways: input EXCEPT ALL union(sinks) and the reverse must be
    empty. Returns diff counts (0/0 == pass)."""
    inp = wh.read(spark, "transcripts", schema=TRANSCRIPT_SCHEMA).select(BASE_COLS)
    sinks = union_of_sinks(spark, wh, BASE_COLS)
    return {
        "missing_from_sinks": inp.exceptAll(sinks).count(),
        "extra_in_sinks": sinks.exceptAll(inp).count(),
    }


def sinks_disjoint(spark: SparkSession, wh: ParquetWarehouse) -> bool:
    """O6: no (conv_id, turn_idx) appears in two sinks."""
    keys = union_of_sinks(spark, wh, ["conv_id", "turn_idx"])
    return keys.distinct().count() == keys.count()


def conv_digests_chunked(df: DataFrame, n_partitions: int | None = None) -> DataFrame:
    """A8/U3: per-conversation (conv_id, digest, n_turns), the digest being
    synth.conv_digest over the turn_idx-ordered texts — the text-equality
    invariant's canonical form. Scale-safe: NO single pandas frame ever
    holds a whole conversation (a grouped-map applyInPandas would, and a
    10⁷-turn pathological conversation at 10^12 scale would OOM one Python
    worker).

    Shape: hash-partition by conv_id (a conversation never spans partitions),
    sortWithinPartitions(conv_id, turn_idx), then ONE mapInPandas pass that
    streams Arrow batches in partition order carrying a running
    hashlib.sha256 per current conversation across batch boundaries. sha256
    is incremental, so feeding it text⟨0⟩, DIGEST_SEP, text⟨1⟩, ... chunk by
    chunk produces byte-identical digests to the single-shot conv_digest —
    property-tested in tests/test_invariants.py, including under a forced
    tiny Arrow batch size on a 500k-turn conversation. Peak Python memory
    is one Arrow batch, independent of conversation size."""
    n = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    _START = object()  # distinct from None: a NULL conv_id is a real group

    def stream(batches):
        cur_id = _START
        cur_hash = None
        cur_n = 0
        out: dict[str, list] = {"conv_id": [], "digest": [], "n_turns": []}

        def emit() -> None:
            out["conv_id"].append(cur_id)
            out["digest"].append(cur_hash.hexdigest())
            out["n_turns"].append(cur_n)

        for pdf in batches:
            if pdf.empty:
                continue
            # batches arrive in partition order, rows sorted by
            # (conv_id, turn_idx); groupby(sort=False) keeps that order and
            # each group's texts are joined at C speed — the per-batch
            # python cost is one iteration per DISTINCT conversation.
            # dropna=False: rows with NULL conv_id are a legitimate group
            # (Spark's groupBy keys nulls too) — the pandas default would
            # silently DROP them from the audit (pinned in
            # tests/test_invariants.py with null conv_ids)
            for conv_id, g in pdf.groupby("conv_id", sort=False, dropna=False):
                if conv_id is not None and pd.isna(conv_id):
                    conv_id = None  # normalize possible NaN key to None
                if cur_id is _START or conv_id != cur_id:
                    if cur_id is not _START:
                        emit()
                    cur_id, cur_hash, cur_n = conv_id, hashlib.sha256(), 0
                elif cur_n > 0:
                    cur_hash.update(DIGEST_SEP.encode("utf-8"))
                joined = DIGEST_SEP.join(
                    NULL_SENTINEL if t is None else t for t in g["text"]
                )
                cur_hash.update(joined.encode("utf-8"))
                cur_n += len(g)
            if out["conv_id"]:
                yield pd.DataFrame(out)
                out = {"conv_id": [], "digest": [], "n_turns": []}
        if cur_id is not _START:
            emit()
            yield pd.DataFrame(out)

    return (
        df.select("conv_id", "turn_idx", "text")
        .repartition(n, "conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
        .mapInPandas(stream, "conv_id string, digest string, n_turns long")
    )


def text_equality_digests(
    spark: SparkSession, wh: ParquetWarehouse, sample_convs: list[str] | None = None
) -> dict[str, str]:
    """TEST HELPER (small samples only — collects one row per conversation):
    digest map of union-of-sinks, optionally restricted to a conv sample.
    The scale-safe audit is ``text_equality_audit`` below, which never
    collects per-conversation rows."""
    df = union_of_sinks(spark, wh, ["conv_id", "turn_idx", "text"])
    if sample_convs:
        df = df.filter(F.col("conv_id").isin(sample_convs))
    return {r["conv_id"]: r["digest"] for r in conv_digests_chunked(df).collect()}


def digest_mismatches(actual: DataFrame, golden: DataFrame) -> dict:
    """Distributed digest comparison: full-outer join on conv_id, reduce to
    THREE counts on the driver (never the per-conversation rows — at 10^12
    turns / 10^8-9 conversations a digest collect is a driver OOM).

    ``actual``/``golden``: (conv_id, digest) DataFrames. Returns counts of
    conversations missing from actual, extra in actual, and present in both
    with differing digests. All-zero == the text-equality invariant holds.

    The join is NULL-SAFE (eqNullSafe): conv_digests_chunked deliberately
    digests the NULL-conv_id group on both sides, and a plain equi-join
    would never match those keys — a warehouse containing null-conv rows
    would then report missing=1/extra=1 forever even when the texts are
    identical (pinned with a null-conv case in tests/test_invariants.py)."""
    a = actual.select(F.col("conv_id").alias("__ca"), F.col("digest").alias("__da"))
    g = golden.select(F.col("conv_id").alias("__cg"), F.col("digest").alias("__dg"))
    row = (
        a.join(g, a["__ca"].eqNullSafe(g["__cg"]), "full_outer")
        .agg(
            F.count(F.when(F.col("__da").isNull(), 1)).alias("missing"),
            F.count(F.when(F.col("__dg").isNull(), 1)).alias("extra"),
            F.count(
                F.when(
                    F.col("__da").isNotNull()
                    & F.col("__dg").isNotNull()
                    & (F.col("__da") != F.col("__dg")),
                    1,
                )
            ).alias("mismatched"),
        )
        .collect()[0]
    )
    return {"missing": row["missing"], "extra": row["extra"], "mismatched": row["mismatched"]}


def text_equality_audit(spark: SparkSession, wh: ParquetWarehouse) -> dict:
    """The per-turn text-equality invariant as a SCALE-SAFE audit job
    (BASELINE.json:6 "per-turn text-equality invariant under stable turn
    ordering"): per-conversation digests of union-of-sinks vs digests of the
    input table, compared distributively — only 3 counters reach the
    driver."""
    routed = conv_digests_chunked(
        union_of_sinks(spark, wh, ["conv_id", "turn_idx", "text"])
    )
    golden = conv_digests_chunked(
        wh.read(spark, "transcripts", schema=TRANSCRIPT_SCHEMA).select(
            "conv_id", "turn_idx", "text"
        )
    )
    return digest_mismatches(routed, golden)

"""Incremental mode: Structured Streaming over arriving transcript files.

The reference class of tool tails logs continuously; the Spark-native
analogue is a file-source stream through the SAME parse/enrich/route
builders (they are pure DataFrame→DataFrame functions — deliberately
source-agnostic, SURVEY.md §3.3) with a foreachBatch fan-out, because a
multi-sink routed write is not a native streaming sink (T8).

Operators (SURVEY.md §2.8): T1 watermark, T2 tumbling / T3 sliding window
counts, T4 session windows, T5 streaming dedup, T7 late-data audit,
T8 micro-batch router. Exactly-once: foreachBatch writes go through the
same commit-log warehouse; the streaming checkpointLocation holds source
offsets (the analogue of the reference's file-offset state)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..config import PipelineConfig
from ..operators.route import with_conv_bucket
from ..plans.pipeline import StagedWrite, tag
from ..schema import TRANSCRIPT_SCHEMA
from ..sources.warehouse import ParquetWarehouse


def read_transcript_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int = 16
) -> DataFrame:
    """S6: incremental tail-like ingestion of newly arriving parquet files."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def windowed_sink_counts(
    stream: DataFrame,
    cfg: PipelineConfig,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """T1+T2/T3: per-sink counts per event-time window, late data bounded
    by the watermark so window state can be evicted."""
    tagged = tag(stream, cfg)
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        tagged.withWatermark("ts", watermark)
        .groupBy(win, "sink")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def sessionized_counts(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """T4: conversation sessionization by inactivity gap."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "conv_id")
        .agg(F.count(F.lit(1)).alias("n_turns"))
    )


def committed_epochs(
    wh: ParquetWarehouse, run_id: str, tables: list[str]
) -> dict[int, dict[str, int]]:
    """{epoch: {table: commit id}} of this run_id's epoch commits — the one
    reader of (run_id, epoch) lineage, ONE commit-log scan per table
    covering every epoch. route_stream loads it once at stream start and
    keeps it in memory afterwards, so replay protection costs O(1) log
    scans per query lifetime yet covers checkpoint-recreated streams that
    reuse a run_id, not just the single epoch Structured Streaming itself
    can replay."""
    out: dict[int, dict[str, int]] = {}
    for table in tables:
        for c in wh.commits(table):
            lin = c.get("lineage", {})
            if lin.get("run_id") == run_id and "epoch" in lin:
                out.setdefault(lin["epoch"], {})[table] = c["id"]
    return out


def _sinks_done(wh: ParquetWarehouse, cfg: PipelineConfig) -> dict[int, set[str]]:
    """{epoch: sinks already committed} for cfg.run_id."""
    epochs = committed_epochs(wh, cfg.run_id, [f"sink_{s}" for s in cfg.sink_names])
    return {e: {t.removeprefix("sink_") for t in done} for e, done in epochs.items()}


def _start(
    stream: DataFrame, on_batch, checkpoint_dir: str | None, trigger_once: bool
) -> StreamingQuery:
    """Start ``on_batch`` as the stream's foreachBatch sink, with the
    optional checkpoint and availableNow trigger."""
    writer = stream.writeStream.foreachBatch(on_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def route_batch(
    wh: ParquetWarehouse,
    cfg: PipelineConfig,
    batch_df: DataFrame,
    epoch_id: int,
    role_dim: DataFrame | None = None,
    tool_dim: DataFrame | None = None,
    done_sinks: set[str] | None = None,
) -> list[str]:
    """One micro-batch of the T8 router. Exactly-once AND single-pass:

    - idempotent on epoch replay: Structured Streaming re-runs a failed
      epoch from the last checkpoint; sinks whose commit log already holds
      a (run_id, epoch) lineage entry are skipped, so a crash between
      per-sink commits cannot double-append (tests/test_stream.py replays
      the same epoch and asserts counts unchanged);
    - parse/enrich/route execute ONCE per micro-batch: the batch run's
      StagedWrite (plans/pipeline.py) stages every sink's subtree in one
      Spark action, after which per-sink commits are atomic renames.

    Returns the sinks committed by this call ([] == full replay skip).

    ``done_sinks``: sinks already committed for this (run_id, epoch).
    route_stream passes it from its in-memory index (loaded with ONE
    commit-log scan at stream start via committed_epochs); standalone
    callers may omit it and this function scans the log itself.

    Contract: (run_id, epoch) identifies a batch's CONTENT. Replays from
    the same checkpoint (and full re-reads of a static source) satisfy
    this; a stream over a source that changed since the last run must use
    a fresh run_id, otherwise its epochs would be wrongly skipped.
    """
    if done_sinks is None:
        done_sinks = _sinks_done(wh, cfg).get(epoch_id, set())
    if len(done_sinks) == len(cfg.sink_names):
        # full replay skip — but still EXECUTE the batch (count is the
        # cheapest total action): inside a stream the upstream stateful
        # dropDuplicates only commits its state stores when the micro-batch
        # plan runs, and Spark's BatchCommitTracker fails the query if a
        # foreachBatch returns without consuming the batch
        batch_df.count()
        return []
    # the batch run's staged write, bucket-aligned so parse gets full
    # parallelism and each task writes only its buckets' files
    # (measurements: BENCH/STREAMING.md)
    keyed = with_conv_bucket(batch_df, cfg.n_buckets)
    with StagedWrite(keyed, cfg, f"epoch-{epoch_id}", role_dim, tool_dim) as st:
        st.write()
        st.footer_stats()
        return st.commit(wh, {"run_id": cfg.run_id, "epoch": epoch_id}, skip=done_sinks)


def route_stream(
    spark: SparkSession,
    stream: DataFrame,
    cfg: PipelineConfig,
    role_dim: DataFrame | None = None,
    tool_dim: DataFrame | None = None,
    checkpoint_dir: str | None = None,
    trigger_once: bool = False,
    dedup_watermark: str | None = None,
) -> StreamingQuery:
    """T5+T8: streaming dedup + micro-batch router (see route_batch for the
    exactly-once / single-pass contract).

    ``dedup_watermark``: None (default) keeps exact dropDuplicates — right
    for bounded backfills (availableNow) where the state store holds one
    key per input row and is discarded at the end. A FOREVER-RUNNING tail
    at 10^12-turn scale must NOT keep unbounded dedup state: pass an
    event-time bound (e.g. "1 hour") to switch to
    dropDuplicatesWithinWatermark, which evicts keys older than the
    watermark. SIZE THE DELAY TO THE TAIL'S REAL EVENT-TIME DISORDER:
    rows older than the advancing watermark are DROPPED as late (standard
    watermark semantics — demonstrated both ways in
    tests/test_stream.py::test_watermarked_dedup_stream_counts; audit a
    candidate delay with late_data_audit before trusting it)."""
    wh = ParquetWarehouse(cfg.warehouse)
    if dedup_watermark is not None:
        deduped = stream.withWatermark("ts", dedup_watermark).dropDuplicatesWithinWatermark(
            ["conv_id", "turn_idx"]
        )
    else:
        deduped = stream.dropDuplicates(["conv_id", "turn_idx"])
    index = _sinks_done(wh, cfg)  # epoch -> committed sinks; one log scan

    def _on_batch(batch_df: DataFrame, epoch_id: int) -> None:
        done = index.setdefault(epoch_id, set())
        done.update(route_batch(
            wh, cfg, batch_df, epoch_id, role_dim, tool_dim, done_sinks=done
        ))

    return _start(deduped, _on_batch, checkpoint_dir, trigger_once)


def late_data_audit(
    stream: DataFrame, watermark: str = "1 hour", window: str = "5 minutes"
) -> DataFrame:
    """T7: rows older than the watermark are silently dropped by windowed
    aggs; this parallel un-watermarked count-by-window makes the loss
    auditable (compare totals against the watermarked T2 output)."""
    return stream.groupBy(F.window("ts", window)).agg(F.count(F.lit(1)).alias("n_all"))


def ingest_batch(
    spark: SparkSession,
    wh: ParquetWarehouse,
    batch_df: DataFrame,
    epoch_id: int,
    run_id: str,
    corpus_table: str = "corpus",
    id_col: str = "doc_id",
    text_col: str = "text",
    **dedup_kw,
) -> dict:
    """One micro-batch of STREAMING near-dup corpus ingestion: the
    foreachBatch body composing dedup_ingest_neardup (dedup.py) with the
    router's exactly-once commit discipline (route_batch).

    Exactly-once across the TWO appends an ingest makes (survivors →
    corpus, their signatures → ledger): the corpus append carries
    (run_id, epoch) lineage and lands FIRST. On epoch replay:

    - neither committed → full redo (crash before any commit lost nothing);
    - corpus committed, ledger missing (crash between the appends) →
      RECONCILE: recompute signatures for exactly the committed corpus
      commit's rows (an incremental read of that one commit — the batch
      is NOT re-deduped, because its docs now partially exist in the
      corpus and a redo would wrongly drop them) and append those;
    - both committed → complete no-op (the batch is still count()-ed so
      the streaming engine sees the epoch consumed, same reason as
      route_batch).

    The ledger-first order would be WORSE than this: replaying after a
    crash between appends would find every batch doc exact-matching its
    own ledger signature and drop the whole batch from the corpus.

    Returns {"appended": n, "dropped": n, "reconciled": bool}.
    """
    from ..operators.dedup import dedup_ingest_neardup, ledger_signatures, sig_ledger_table

    ledger_table = sig_ledger_table(corpus_table)
    done = committed_epochs(wh, run_id, [corpus_table, ledger_table]).get(epoch_id, {})
    lineage = {"run_id": run_id, "epoch": epoch_id}
    if corpus_table in done:
        reconcile = ledger_table not in done
        if reconcile:
            cid = done[corpus_table]
            committed_rows = wh.read(
                spark, corpus_table, snapshot=cid, from_snapshot=cid - 1
            )
            sigs = ledger_signatures(committed_rows, id_col, text_col, **dedup_kw)
            wh.write_append(sigs, ledger_table, lineage=lineage)
        batch_df.count()  # consume the epoch for the commit tracker
        return {"appended": 0, "dropped": 0, "reconciled": reconcile}
    schema = ledger_signatures(batch_df, id_col, text_col, **dedup_kw).schema
    ledger = wh.read(spark, ledger_table, schema=schema)
    survivors, sigs = dedup_ingest_neardup(
        batch_df, ledger, id_col=id_col, text_col=text_col, **dedup_kw
    )
    meta = wh.write_append(survivors, corpus_table, lineage=lineage)
    wh.write_append(sigs, ledger_table, lineage=lineage)
    n_batch = batch_df.count()
    return {
        "appended": meta["rows"],
        "dropped": n_batch - meta["rows"],
        "reconciled": False,
    }


def ingest_stream(
    spark: SparkSession,
    stream: DataFrame,
    warehouse_root: str,
    run_id: str,
    corpus_table: str = "corpus",
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_dir: str | None = None,
    trigger_once: bool = False,
    **dedup_kw,
):
    """Streaming near-dup corpus ingestion: each micro-batch is LSH-joined
    against the committed signature ledger (+ itself), survivors append to
    the corpus, their signatures to the ledger — the streaming twin of
    job.py's ingest subcommand, exactly-once per epoch (see ingest_batch).
    foreachBatch runs epochs serially, so epoch N+1 always sees epoch N's
    ledger appends — cross-epoch near-dups are dropped without any stream
    state store (the warehouse ledger IS the state, which is what lets a
    10^12-doc corpus's dedup state live in tables instead of RocksDB)."""
    wh = ParquetWarehouse(warehouse_root)

    def _on_batch(batch_df: DataFrame, epoch_id: int) -> None:
        ingest_batch(
            spark, wh, batch_df, epoch_id, run_id,
            corpus_table=corpus_table, id_col=id_col, text_col=text_col,
            **dedup_kw,
        )

    return _start(stream, _on_batch, checkpoint_dir, trigger_once)

"""Streaming mode: batch ≡ stream per-sink counts on the same data; late
rows beyond the watermark are auditable (SURVEY.md §5.3-5)."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from pyspark.sql import functions as F

from watchman_spark.config import PipelineConfig
from watchman_spark.schema import SINKS
from watchman_spark.sources.warehouse import ParquetWarehouse
from watchman_spark.streaming.stream import (
    read_transcript_stream,
    route_batch,
    route_stream,
    sessionized_counts,
    windowed_sink_counts,
)
from watchman_spark.synth import SynthParams, compute_golden, role_dim, synth_transcripts, tool_dim

PARAMS = SynthParams(seed=5, n_convs=60, C=400, hot_cap=150)


@pytest.fixture(scope="module")
def source_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream_src"))
    # several files so the stream sees multiple "arrivals"
    synth_transcripts(spark, PARAMS).repartition(6).write.mode("overwrite").parquet(d)
    return d


def test_stream_route_equals_batch(spark, source_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("stream_wh"))
    ck = str(tmp_path_factory.mktemp("stream_ck"))
    cfg = PipelineConfig(warehouse=root, n_buckets=8, run_id="stream-1")
    stream = read_transcript_stream(spark, source_dir, max_files_per_trigger=2)
    q = route_stream(
        spark, stream, cfg, role_dim(spark), tool_dim(spark),
        checkpoint_dir=ck, trigger_once=True,
    )
    q.awaitTermination(300)
    wh = ParquetWarehouse(root)
    golden = compute_golden(PARAMS)
    got = {s: wh.table_rows(f"sink_{s}") for s in SINKS}
    assert got == golden["per_sink"]


def test_windowed_counts_match_total(spark, source_dir, tmp_path_factory):
    cfg = PipelineConfig(warehouse="/unused")
    stream = read_transcript_stream(spark, source_dir)
    out = windowed_sink_counts(stream, cfg, window="10 minutes", watermark="2 hours")
    ck = str(tmp_path_factory.mktemp("win_ck"))
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # append mode emits only windows closed by the final watermark; with
    # availableNow the last windows stay open, so compare against the
    # golden total as an upper bound and require substantial coverage
    total = (
        spark.sql("SELECT COALESCE(SUM(n), 0) AS s FROM win_counts").collect()[0]["s"] or 0
    )
    golden_total = compute_golden(PARAMS)["total_rows"]
    assert 0 < total <= golden_total


def test_session_windows_run(spark, source_dir, tmp_path_factory):
    stream = read_transcript_stream(spark, source_dir)
    out = sessionized_counts(stream, gap="10 minutes", watermark="2 hours")
    ck = str(tmp_path_factory.mktemp("sess_ck"))
    q = (
        out.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    n = spark.sql("SELECT COUNT(*) AS c FROM sessions").collect()[0]["c"]
    assert n >= 0  # closed sessions only; structural smoke


def test_route_batch_epoch_replay_idempotent(spark, tmp_path_factory):
    """Structured Streaming re-runs a failed epoch from the checkpoint; the
    router must not double-append on replay — full-epoch replays are no-ops
    and partial-epoch replays recommit ONLY the sinks that never committed."""
    root = str(tmp_path_factory.mktemp("replay_wh"))
    cfg = PipelineConfig(warehouse=root, n_buckets=8, run_id="replay")
    wh = ParquetWarehouse(root)
    batch = synth_transcripts(spark, PARAMS)
    rd, td = role_dim(spark), tool_dim(spark)

    assert len(route_batch(wh, cfg, batch, 0, rd, td)) == len(SINKS)
    before = {s: wh.table_rows(f"sink_{s}") for s in SINKS}
    commits_before = {s: len(wh.commits(f"sink_{s}")) for s in SINKS}
    assert before == compute_golden(PARAMS)["per_sink"]

    # full replay of the same epoch: nothing committed, nothing appended
    assert route_batch(wh, cfg, batch, 0, rd, td) == []
    assert {s: wh.table_rows(f"sink_{s}") for s in SINKS} == before
    assert {s: len(wh.commits(f"sink_{s}")) for s in SINKS} == commits_before

    # partial-epoch crash: drop one sink's commit, replay recommits only it
    wh.rollback_commit("sink_errors", wh.commits("sink_errors")[-1]["id"])
    assert route_batch(wh, cfg, batch, 0, rd, td) == ["errors"]
    assert {s: wh.table_rows(f"sink_{s}") for s in SINKS} == before

    # a NEW epoch appends normally
    assert len(route_batch(wh, cfg, batch, 1, rd, td)) == len(SINKS)
    assert wh.table_rows("sink_errors") == 2 * before["errors"]


def test_route_batch_parses_once(spark, tmp_path_factory, monkeypatch):
    """The micro-batch fan-out is SINGLE-PASS: parse/enrich/route execute
    exactly once per epoch (one staged partitionBy write), not once per
    sink. A pass-through pandas UDF on the text column counts the rows that
    actually flow through the parse stage."""
    import watchman_spark.plans.pipeline as pipeline_mod
    from pyspark.sql.functions import pandas_udf

    acc = spark.sparkContext.accumulator(0)

    @pandas_udf("string")
    def tap(s: pd.Series) -> pd.Series:
        acc.add(len(s))
        return s

    real = pipeline_mod.with_parsed
    monkeypatch.setattr(
        pipeline_mod,
        "with_parsed",
        lambda df, *a, **kw: real(df.withColumn("text", tap("text")), *a, **kw),
    )
    root = str(tmp_path_factory.mktemp("onepass_wh"))
    cfg = PipelineConfig(warehouse=root, n_buckets=8, run_id="onepass")
    wh = ParquetWarehouse(root)
    batch = synth_transcripts(spark, PARAMS)
    n_rows = batch.count()
    route_batch(wh, cfg, batch, 0, role_dim(spark), tool_dim(spark))
    assert acc.value == n_rows  # the old per-sink shape measured 3x this


def test_stream_resume_no_duplicates(spark, source_dir, tmp_path_factory):
    """Restarting from the same checkpoint must not re-route processed
    files (the file-offset resume semantics of the reference class)."""
    root = str(tmp_path_factory.mktemp("resume_wh"))
    ck = str(tmp_path_factory.mktemp("resume_ck"))
    cfg = PipelineConfig(warehouse=root, n_buckets=8, run_id="stream-2")
    stream = read_transcript_stream(spark, source_dir, max_files_per_trigger=2)
    q = route_stream(spark, stream, cfg, role_dim(spark), tool_dim(spark),
                     checkpoint_dir=ck, trigger_once=True)
    q.awaitTermination(300)
    wh = ParquetWarehouse(root)
    before = {s: wh.table_rows(f"sink_{s}") for s in SINKS}
    # second start on the same checkpoint: no new files -> no new commits
    stream2 = read_transcript_stream(spark, source_dir, max_files_per_trigger=2)
    q2 = route_stream(spark, stream2, cfg, role_dim(spark), tool_dim(spark),
                      checkpoint_dir=ck, trigger_once=True)
    q2.awaitTermination(300)
    after = {s: wh.table_rows(f"sink_{s}") for s in SINKS}
    assert after == before


def test_watermarked_dedup_stream_counts(spark, source_dir, tmp_path_factory):
    """The bounded-state dedup variant (dropDuplicatesWithinWatermark):
    with a watermark delay covering the source's event-time disorder (the
    fixture scatters conversation start times across ~30 days, and files
    arrive in arbitrary event-time order), per-sink counts equal the exact
    variant's — state stays evictable for a forever-running tail. A
    too-small delay ("10 minutes" here) instead DROPS out-of-order rows as
    late — that is watermark semantics, not a router bug — so the operator
    guidance (stream.py docstring) is: size the delay to the tail's real
    disorder; the audit for what a given delay would drop is
    late_data_audit."""
    golden = compute_golden(PARAMS)["per_sink"]
    root = str(tmp_path_factory.mktemp("wmdedup_wh"))
    ck = str(tmp_path_factory.mktemp("wmdedup_ck"))
    cfg = PipelineConfig(warehouse=root, n_buckets=8, run_id="wm-dedup")
    stream = read_transcript_stream(spark, source_dir, max_files_per_trigger=2)
    q = route_stream(spark, stream, cfg, role_dim(spark), tool_dim(spark),
                     checkpoint_dir=ck, trigger_once=True,
                     dedup_watermark="45 days")
    q.awaitTermination(300)
    wh = ParquetWarehouse(root)
    got = {s: wh.table_rows(f"sink_{s}") for s in SINKS}
    assert got == golden

    # and the undersized delay demonstrably loses late rows (strictly
    # fewer in every sink) — the failure mode operators must size against
    root2 = str(tmp_path_factory.mktemp("wmdedup_wh2"))
    ck2 = str(tmp_path_factory.mktemp("wmdedup_ck2"))
    cfg2 = PipelineConfig(warehouse=root2, n_buckets=8, run_id="wm-dedup-2")
    stream2 = read_transcript_stream(spark, source_dir, max_files_per_trigger=2)
    q2 = route_stream(spark, stream2, cfg2, role_dim(spark), tool_dim(spark),
                      checkpoint_dir=ck2, trigger_once=True,
                      dedup_watermark="10 minutes")
    q2.awaitTermination(300)
    wh2 = ParquetWarehouse(root2)
    got2 = {s: wh2.table_rows(f"sink_{s}") for s in SINKS}
    assert all(got2[s] < golden[s] for s in SINKS)


def test_mid_epoch_crash_then_restart_exactly_once(spark, source_dir, tmp_path_factory, monkeypatch):
    """End-to-end crash-replay through the REAL streaming machinery: a
    foreachBatch that dies AFTER the first sink commit of an epoch (the
    worst partial-failure point — some sinks durable, some not), then the
    query is RESTARTED from the same checkpoint. Structured Streaming
    replays the failed epoch; the router's commit-log index must skip the
    already-committed sink and commit only the missing ones, so the final
    counts equal an uninterrupted run. (Round-2 proved this with direct
    route_batch calls; this drives it through query start → crash →
    restart, the path a production supervisor actually takes.)"""
    from pyspark.errors import StreamingQueryException

    from watchman_spark.sources import warehouse as wh_mod

    root = str(tmp_path_factory.mktemp("crash_wh"))
    ck = str(tmp_path_factory.mktemp("crash_ck"))
    cfg = PipelineConfig(warehouse=root, n_buckets=8, run_id="crash-replay")
    wh = ParquetWarehouse(root)

    real_commit = wh_mod.ParquetWarehouse.commit_existing
    state = {"commits": 0}

    def dying_commit(self, *a, **kw):
        out = real_commit(self, *a, **kw)
        state["commits"] += 1
        if state["commits"] == 1:
            raise RuntimeError("injected crash after first sink commit")
        return out

    monkeypatch.setattr(wh_mod.ParquetWarehouse, "commit_existing", dying_commit)
    stream = read_transcript_stream(spark, source_dir, max_files_per_trigger=100)
    q = route_stream(spark, stream, cfg, role_dim(spark), tool_dim(spark),
                     checkpoint_dir=ck, trigger_once=True)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        q.awaitTermination(300)

    # exactly one sink is durable, the epoch is incomplete
    committed = [s for s in SINKS if wh.table_rows(f"sink_{s}") > 0]
    assert len(committed) == 1

    # restart from the SAME checkpoint with the injection removed
    monkeypatch.setattr(wh_mod.ParquetWarehouse, "commit_existing", real_commit)
    stream2 = read_transcript_stream(spark, source_dir, max_files_per_trigger=100)
    q2 = route_stream(spark, stream2, cfg, role_dim(spark), tool_dim(spark),
                      checkpoint_dir=ck, trigger_once=True)
    q2.awaitTermination(300)

    golden = compute_golden(PARAMS)
    got = {s: wh.table_rows(f"sink_{s}") for s in SINKS}
    assert got == golden["per_sink"]  # no loss, no double-append
    # and the survivor sink has exactly ONE commit (replay skipped it)
    assert len(wh.commits(f"sink_{committed[0]}")) == 1


def test_fresh_checkpoint_same_run_id_no_duplicates(spark, source_dir, tmp_path_factory):
    """A stream restarted with a CLEARED checkpoint but the same run_id and
    warehouse re-sees every file as a new epoch (0..N again); the router's
    commit-log index must skip every replayed (run_id, epoch), not just the
    first one."""
    root = str(tmp_path_factory.mktemp("freshck_wh"))
    cfg = PipelineConfig(warehouse=root, n_buckets=8, run_id="stream-fresh")
    wh = ParquetWarehouse(root)
    for attempt in range(2):
        ck = str(tmp_path_factory.mktemp(f"freshck_ck{attempt}"))  # NEW checkpoint
        stream = read_transcript_stream(spark, source_dir, max_files_per_trigger=2)
        q = route_stream(spark, stream, cfg, role_dim(spark), tool_dim(spark),
                         checkpoint_dir=ck, trigger_once=True)
        q.awaitTermination(300)
    golden = compute_golden(PARAMS)
    got = {s: wh.table_rows(f"sink_{s}") for s in SINKS}
    assert got == golden["per_sink"]  # exactly once despite full re-read


def test_alert_error_rate_stream_equals_batch(spark, tmp_path_factory):
    """Batch↔stream parity for the monitoring alert (round-4 task #7): the
    SAME hourly error-rate expression run as a T2 tumbling-window streaming
    aggregation produces exactly the batch query's rows on the same corpus
    — (hour, n, n_err, err_rate, alert) sets are equal."""
    from watchman_spark.queries_text import alert_error_rate

    sf_dir = "/root/testdata/sf0.001"
    batch = {
        (r["hour"], r["n"], r["n_err"], r["err_rate"], r["alert"])
        for r in alert_error_rate(spark, sf_dir).collect()
    }

    src = str(tmp_path_factory.mktemp("alert_src"))
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ev.repartition(4).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", 2
    ).parquet(src)
    n_err = F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
    rate = F.floor(n_err * 10000 / F.count(F.lit(1))).cast("double") / 10000
    out = stream.groupBy(F.window("ts", "1 hour")).agg(
        F.count(F.lit(1)).alias("n"),
        n_err.cast("long").alias("n_err"),
        rate.alias("err_rate"),
        (rate >= 0.25).alias("alert"),
    )
    ck = str(tmp_path_factory.mktemp("alert_ck"))
    q = (
        out.writeStream.format("memory")
        .queryName("alert_stream")
        .outputMode("complete")  # every window's final value, no watermark cut
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    streamed = {
        (r["hour"], r["n"], r["n_err"], r["err_rate"], r["alert"])
        for r in spark.sql(
            "SELECT window.start AS hour, n, n_err, err_rate, alert FROM alert_stream"
        ).collect()
    }
    assert streamed == batch and len(batch) > 0


def _doc_files(spark, d: str) -> None:
    base = "the quick brown fox jumps over the lazy dog again and again today"
    spark.createDataFrame(
        [(1, base), (2, "completely different content about query engines")],
        ["doc_id", "text"],
    ).coalesce(1).write.parquet(f"{d}/f1")
    spark.createDataFrame(
        [(10, base.replace("lazy", "sleepy")),  # near-dup of doc 1 (epoch 0)
         (11, "fresh novel text with words never seen in earlier batches")],
        ["doc_id", "text"],
    ).coalesce(1).write.parquet(f"{d}/f2")


def test_ingest_stream_matches_batch_loop(spark, tmp_path_factory):
    """Streaming near-dup ingestion: epoch 1's near-dup of an epoch-0 doc
    is dropped via the warehouse signature ledger (no stream state store),
    matching the batch ingest loop's result on the same files."""
    import glob
    import shutil

    from watchman_spark.streaming.stream import ingest_stream

    src = str(tmp_path_factory.mktemp("ingest_src"))
    _doc_files(spark, src)
    # one flat dir of parquet files, one file per trigger => 2 epochs
    flat = str(tmp_path_factory.mktemp("ingest_flat"))
    for i, f in enumerate(sorted(glob.glob(f"{src}/f*/part-*.parquet"))):
        shutil.copy(f, f"{flat}/{i:02d}.parquet")
    root = str(tmp_path_factory.mktemp("ingest_wh"))
    ck = str(tmp_path_factory.mktemp("ingest_ck"))
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    q = ingest_stream(
        spark, stream, root, run_id="ing-1", checkpoint_dir=ck,
        trigger_once=True, k=3, threshold=0.5,
    )
    q.awaitTermination(300)
    wh = ParquetWarehouse(root)
    assert sorted(r["doc_id"] for r in wh.read(spark, "corpus").collect()) == [1, 2, 11]
    assert wh.table_rows("corpus_sig_ledger") == 3
    # replay the whole stream under the same run_id from a FRESH checkpoint
    # (same epochs, same content): complete no-op
    ck2 = str(tmp_path_factory.mktemp("ingest_ck2"))
    q2 = ingest_stream(
        spark, stream, root, run_id="ing-1", checkpoint_dir=ck2,
        trigger_once=True, k=3, threshold=0.5,
    )
    q2.awaitTermination(300)
    assert wh.table_rows("corpus") == 3
    assert wh.table_rows("corpus_sig_ledger") == 3


def test_ingest_batch_crash_between_appends_reconciles(spark, tmp_path_factory):
    """Crash AFTER the corpus append but BEFORE the ledger append: the
    epoch replay must not re-dedup the batch (its docs are now in the
    corpus — a redo would drop them against their own signatures); it
    recomputes the committed commit's signatures and completes the ledger.
    A second replay is then a full no-op."""
    from watchman_spark.streaming.stream import ingest_batch

    root = str(tmp_path_factory.mktemp("reconcile_wh"))
    wh = ParquetWarehouse(root)
    batch = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "one two three four five six")],
        ["doc_id", "text"],
    )
    # simulate the half-committed state: corpus commit with this epoch's
    # lineage exists, ledger commit does not
    wh.write_append(batch, "corpus", lineage={"run_id": "r", "epoch": 0})
    out = ingest_batch(spark, wh, batch, 0, "r", k=3, threshold=0.5)
    assert out["reconciled"] is True
    assert wh.table_rows("corpus") == 2
    assert wh.table_rows("corpus_sig_ledger") == 2
    # signatures must match what a clean ingest would have written: a
    # near-dup of doc 1 in the NEXT epoch is dropped through them
    nxt = spark.createDataFrame(
        [(9, "alpha beta gamma delta epsilon eta")], ["doc_id", "text"]
    )
    out2 = ingest_batch(spark, wh, nxt, 1, "r", k=3, threshold=0.5)
    assert out2 == {"appended": 0, "dropped": 1, "reconciled": False}
    # full replay of epoch 0: no-op
    out3 = ingest_batch(spark, wh, batch, 0, "r", k=3, threshold=0.5)
    assert out3 == {"appended": 0, "dropped": 0, "reconciled": False}
    assert wh.table_rows("corpus") == 2 and wh.table_rows("corpus_sig_ledger") == 2


def test_ingest_batch_portable_ledger_rereads(spark, tmp_path_factory):
    """portable=True writes md5-string signatures; the next epoch must read
    the ledger back with that type and drop a duplicate through it."""
    from watchman_spark.streaming.stream import ingest_batch

    wh = ParquetWarehouse(str(tmp_path_factory.mktemp("portable_wh")))
    first = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "one two three four five six")],
        ["doc_id", "text"],
    )
    nxt = spark.createDataFrame(
        [(9, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    kw = {"k": 3, "threshold": 0.5, "portable": True}
    out = ingest_batch(spark, wh, first, 0, "p", **kw)
    assert out == {"appended": 2, "dropped": 0, "reconciled": False}
    out2 = ingest_batch(spark, wh, nxt, 1, "p", **kw)
    assert out2 == {"appended": 0, "dropped": 1, "reconciled": False}
    assert wh.table_rows("corpus_sig_ledger") == 2

"""applyInPandasWithState running counters: totals across micro-batches
must equal the batch-mode per-sink counts."""

from __future__ import annotations

from pyspark.sql import functions as F

from watchman_spark.config import PipelineConfig
from watchman_spark.operators.parse import with_parsed
from watchman_spark.operators.route import with_sink
from watchman_spark.streaming.stateful import running_sink_counters
from watchman_spark.streaming.stream import read_transcript_stream
from watchman_spark.synth import SynthParams, compute_golden, synth_transcripts

PARAMS = SynthParams(seed=9, n_convs=50, C=300, hot_cap=100)


def test_running_counters_match_batch(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("state_src"))
    synth_transcripts(spark, PARAMS).repartition(5).write.mode("overwrite").parquet(src)
    cfg = PipelineConfig(warehouse="/unused")
    stream = read_transcript_stream(spark, src, max_files_per_trigger=2)
    tagged = with_sink(with_parsed(stream, cfg.patterns, engine=cfg.parse_engine))
    out = running_sink_counters(tagged)
    ck = str(tmp_path_factory.mktemp("state_ck"))
    q = (
        out.writeStream.format("memory")
        .queryName("running_counters")
        .outputMode("update")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql(
        "SELECT sink, MAX(total) AS total, SUM(batch_rows) AS summed "
        "FROM running_counters GROUP BY sink"
    ).collect()
    got_total = {r["sink"]: r["total"] for r in rows}
    got_summed = {r["sink"]: r["summed"] for r in rows}
    golden = compute_golden(PARAMS)["per_sink"]
    assert got_total == golden          # final running totals are exact
    assert got_summed == golden         # per-batch increments partition input
    # multiple micro-batches actually happened (state carried across)
    n_updates = spark.sql("SELECT COUNT(*) c FROM running_counters").collect()[0]["c"]
    assert n_updates > len(golden)


"""stream_tail: an open-loop tail of arriving transcript files.

A generator thread renames pre-generated, seed-derived parquet files into a
watched directory at ``RATE`` files per second; ``streaming.stream.route_stream``
(default trigger) routes them into a fresh warehouse. Every file is stamped
with its due time. Its latency runs from that due time to the ``ts`` of the
last sink commit of the epoch that consumed it; the checkpoint's
``sources/0/<batchId>`` log maps each file to its epoch. Everything is read
after the stream has stopped, so nothing is traced while it runs.
"""

from __future__ import annotations

import json
import os
import threading
import time
from pathlib import Path

from watchman_spark.config import PipelineConfig
from watchman_spark.sources.warehouse import ParquetWarehouse
from watchman_spark.streaming.stream import read_transcript_stream, route_stream
from watchman_spark.synth import SynthParams, compute_golden, role_dim, synth_transcripts, tool_dim

from harness import SparkTrace, busy_union_s, median, quantile

RATE = 10  # files per second
WARMUP_S = 5  # files due before this are not latency samples
# 25,893 turns for every seed, about 170 turns a file at 10 s measured
CORPUS = {"n_convs": 2_500, "C": 6_000, "hot_cap": 600}
N_BUCKETS = 32
DRAIN_TIMEOUT_S = 60


def _source_log(checkpoint: Path) -> dict[str, int]:
    """{file name: batchId} from the file source's metadata log, plain and
    compacted batch files alike."""
    out: dict[str, int] = {}
    log = checkpoint / "sources" / "0"
    for f in log.iterdir():
        if f.name.startswith("."):
            continue
        for line in f.read_text().splitlines()[1:]:  # first line: version
            entry = json.loads(line)
            out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def _generator(files: list[Path], src: Path, t0: float, due: list, late: list) -> None:
    for i, f in enumerate(files):
        d = t0 + i / RATE
        pause = d - time.time()
        if pause > 0:
            time.sleep(pause)
        os.rename(f, src / f"f{i:05d}.parquet")
        due.append(d)
        late.append(time.time() - d)


def run_stream(spark, work, outcome, seed: int, seconds: float) -> dict:
    """One open-loop tail; returns the stream's per-layer metrics."""
    params = SynthParams(seed=seed, **CORPUS)
    n_files = round(RATE * (WARMUP_S + seconds))
    pre, src = work.sub("stream-pre"), work.sub("stream-src")
    synth_transcripts(spark, params).repartition(n_files).write.parquet(str(pre / "t"))
    files = sorted((pre / "t").glob("part-*.parquet"))
    golden = compute_golden(params, digest_sample=0)["per_sink"]

    wh_root, checkpoint = work.path / "stream-wh", work.path / "stream-ck"
    cfg = PipelineConfig(warehouse=str(wh_root), n_buckets=N_BUCKETS, run_id="stream")
    trace = SparkTrace(spark)
    before = trace.last_job_id()
    # the per-trigger file cap never binds: each epoch takes the whole backlog
    stream = read_transcript_stream(spark, str(src), max_files_per_trigger=len(files))
    query = route_stream(
        spark, stream, cfg, role_dim(spark), tool_dim(spark), checkpoint_dir=str(checkpoint)
    )
    due: list[float] = []
    late: list[float] = []
    t0 = time.time() + 1.0
    gen = threading.Thread(target=_generator, args=(files, src, t0, due, late))
    gen.start()
    gen.join()
    drain = threading.Thread(target=query.processAllAvailable)
    drain.start()
    drain.join(DRAIN_TIMEOUT_S)
    progress = query.recentProgress
    query.stop()
    drain.join()

    wh = ParquetWarehouse(str(wh_root))
    got = {s: wh.table_rows(f"sink_{s}") for s in cfg.sink_names}
    outcome.check(got == golden, f"stream: per-sink rows {got} != golden {golden}")

    commit_ts: dict[int, list[float]] = {}
    for s in cfg.sink_names:
        for c in wh.commits(f"sink_{s}"):
            commit_ts.setdefault(c["lineage"]["epoch"], []).append(c["ts"])
    epoch_of = _source_log(checkpoint)
    window = (t0 + WARMUP_S, t0 + WARMUP_S + seconds)
    latency, epochs = [], set()
    for i, d in enumerate(due):
        e = epoch_of.get(f"f{i:05d}.parquet")
        if e is None or e not in commit_ts:
            outcome.fail(f"stream: file {i} has no committed epoch")
            continue
        if window[0] <= d < window[1]:
            latency.append(max(commit_ts[e]) - d)
            epochs.add(e)
    busy = [p for p in progress if p["numInputRows"] > 0]
    in_window = [p for p in busy if p["batchId"] in epochs] or busy
    jobs = trace.jobs_after(before)
    writes = [
        j for j in jobs if any(s.output_bytes > 0 for s in trace.stages_of([j]))
    ]
    state = (progress[-1].get("stateOperators") or [{}])[0] if progress else {}
    return {
        "stream.latency_p50_s": median(latency),
        "stream.latency_p90_s": quantile(latency, 0.9),
        "stream.samples": len(latency),
        "stream.epoch_s_p50": median([p["durationMs"]["triggerExecution"] / 1e3 for p in busy]),
        "stream.epoch_s_p90": quantile(
            [p["durationMs"]["triggerExecution"] / 1e3 for p in busy], 0.9
        ),
        "stream.write_job_s_p50": median([(j.end_ms - j.start_ms) / 1e3 for j in writes]),
        "stream.rows_per_epoch_p50": median([p["numInputRows"] for p in busy]),
        "stream.busy_share": sum(p["durationMs"]["triggerExecution"] for p in in_window)
        / 1e3
        / seconds,
        "stream.state_rows": state.get("numRowsTotal", 0),
        "stream.state_bytes": state.get("memoryUsedBytes", 0),
        "stream.driver_serial_s": (max(max(v) for v in commit_ts.values()) - t0)
        - busy_union_s([(j.start_ms, j.end_ms) for j in jobs if j.start_ms >= t0 * 1e3]),
        "warehouse.commits": sum(len(v) for v in commit_ts.values()),
        "warehouse.commit_spread_s_p50": median([max(v) - min(v) for v in commit_ts.values()]),
        "gen.late_max_s": max(late),
    }

"""batch_full: a closed loop of ``plans.pipeline.run_pipeline`` calls.

Each call routes the whole seeded zipfian corpus (all 32 buckets) into a
fresh warehouse and is checked against ``synth.compute_golden``. One
warm-up call follows the cold one (three in a traced run). The traced
run adds the status-store reads, the noop-sink prefixes, the stream_tail
phase (``stream_tail.py``) and a single-core reference.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from watchman_spark.config import PipelineConfig
from watchman_spark.operators.enrich import enrich
from watchman_spark.operators.parse import flatten_parsed, with_parsed
from watchman_spark.operators.route import with_conv_bucket, with_sink
from watchman_spark.plans.pipeline import run_pipeline
from watchman_spark.synth import SynthParams, compute_golden, gen_conversation, role_dim, tool_dim

import stream_tail
from harness import (
    SparkTrace,
    busy_union_s,
    cores,
    log,
    median,
    routed_write_stages,
    start_session,
)

N_BUCKETS = 32
# 268,568 turns for every seed: conversation lengths depend on C and
# hot_cap only, the seed picks the content.
CORPUS = {"n_convs": 4_000, "C": 60_000, "hot_cap": 6_000}
N_PARTS = 4
# gen_conversation's row order: (conv_id, turn_idx, role, text, tool, ts, sink)
TRANSCRIPT_COLUMNS = (
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
)
WARMUP_CALLS = 1
# the traced run's self-check 2 compares the engine's calls with the prefix
# chain that follows them, so both must be past the JIT's warm-up slope
TRACED_WARMUP_CALLS = 3
TRACED_ROUNDS = 2
READBACK = {"rollup": "pipeline: rollup write", "distinct": "pipeline: distinct convs"}


class Inputs:
    """The corpus and dimensions on disk, with the golden stored beside it.

    The corpus rows come from ``synth.gen_conversation``, the per-turn code
    that ``synth.synth_transcripts`` runs in its tasks and
    ``synth.compute_golden`` runs on the driver. They are written
    in-process as ``N_PARTS`` parquet files, conversations dealt
    round-robin, the file count ``synth_transcripts`` gives at ``local[4]``.
    Each file is timed on its own: the parts are the repeated set-ups whose
    median ``setup_s`` reports.
    """

    def __init__(self, spark, dest: str, params: SynthParams) -> None:
        self.dest = dest
        os.makedirs(os.path.join(dest, "transcripts"))
        self.part_s = [self._part(params, k) for k in range(N_PARTS)]
        t0 = time.perf_counter()
        for name, frame in (("role_dim", role_dim), ("tool_dim", tool_dim)):
            df = frame(spark)  # a local relation: collect runs no Spark job
            rows = df.collect()
            table = pa.table({f.name: [r[i] for r in rows] for i, f in enumerate(df.schema)})
            pq.write_table(table, os.path.join(dest, f"{name}.parquet"))
        self.golden = compute_golden(params, digest_sample=0)
        with open(os.path.join(dest, "golden.json"), "w") as f:
            json.dump(self.golden, f)
        self.rest_s = time.perf_counter() - t0

    def _part(self, params: SynthParams, k: int) -> float:
        t0 = time.perf_counter()
        rows = [t for j in range(k, params.n_convs, N_PARTS) for t in gen_conversation(params, j)]
        cols = list(zip(*rows))
        table = pa.table(
            {name: pa.array(cols[i], kind) for i, (name, kind) in enumerate(TRANSCRIPT_COLUMNS)}
        )
        pq.write_table(table, os.path.join(self.dest, "transcripts", f"part-{k:05d}.parquet"))
        return time.perf_counter() - t0

    @property
    def setup_s(self) -> float:
        """The input set-up, estimated robustly: N_PARTS times the median
        part, plus the dimensions and the golden."""
        return N_PARTS * median(self.part_s) + self.rest_s

    def frames(self, spark):
        return tuple(
            spark.read.parquet(os.path.join(self.dest, t))
            for t in ("transcripts", "role_dim.parquet", "tool_dim.parquet")
        )


class Caller:
    """Each call runs ``run_pipeline`` into a fresh warehouse and checks it."""

    def __init__(self, spark, work, inputs: Inputs, outcome) -> None:
        self.spark, self.work, self.inputs, self.outcome = spark, work, inputs, outcome
        self.frames = inputs.frames(spark)
        self.n = 0

    def __call__(self):
        """Returns (wall_s, RunMetrics or None, data files committed)."""
        self.n += 1
        wh = self.work.path / f"wh-{self.n}"
        cfg = PipelineConfig(warehouse=str(wh), n_buckets=N_BUCKETS, run_id=f"call-{self.n}")
        df, rd, td = self.frames
        t0 = time.perf_counter()
        try:
            m = run_pipeline(self.spark, cfg, input_df=df, role_dim=rd, tool_dim=td)
        except Exception as e:  # noqa: BLE001 - a failed call is counted, not fatal
            self.outcome.fail(f"call {self.n}: {type(e).__name__}: {e}")
            shutil.rmtree(wh, ignore_errors=True)
            return time.perf_counter() - t0, None, 0
        wall = time.perf_counter() - t0
        g = self.inputs.golden
        ok = self.outcome.check(
            m.rows_in == g["total_rows"] and m.rows_per_sink == g["per_sink"],
            f"call {self.n}: rows {m.rows_in} {m.rows_per_sink} != golden "
            f"{g['total_rows']} {g['per_sink']}",
        )
        files = sum(
            name.endswith(".parquet")
            for s in cfg.sink_names
            for _dir, _sub, names in os.walk(wh / f"sink_{s}")
            for name in names
        )
        shutil.rmtree(wh, ignore_errors=True)
        return wall, (m if ok else None), files


def run(args, work, outcome, t_boot: float) -> dict:
    spark = start_session(work, cores())
    session_s = time.perf_counter() - t_boot
    log(f"session {session_s:.2f} s")
    inputs = Inputs(spark, str(work.sub("input")), SynthParams(seed=args.seed, **CORPUS))
    log(f"set-up: parts {[round(p, 2) for p in inputs.part_s]} s, rest {inputs.rest_s:.2f} s")
    call = Caller(spark, work, inputs, outcome)
    cold_s = call()[0]
    log(f"cold call {cold_s:.2f} s")
    for _ in range(TRACED_WARMUP_CALLS if args.trace else WARMUP_CALLS):
        log(f"warm-up call {call()[0]:.2f} s")
    if args.trace:
        return {"cold_s": cold_s, **_traced(spark, work, call, args)}
    walls = []
    deadline = time.perf_counter() + args.seconds
    while (time.perf_counter() < deadline or len(walls) < 2) and call.n < 50:
        wall, m, _files = call()
        log(f"call {wall:.2f} s")
        if m is not None:
            walls.append(wall)
    return {"setup_s": session_s + inputs.setup_s, "warm_s": median(walls)}


# -- traced run ---------------------------------------------------------------


def _traced_call(trace: SparkTrace, call: Caller) -> dict | None:
    """One call, then its jobs and stages read back from the status store.
    A failed call or an unreadable trace is counted and returns None."""
    before = trace.last_job_id()
    wall, m, files = call()
    if m is None:
        return None
    t0 = time.perf_counter()
    try:
        jobs = trace.jobs_after(before)
        readback = {
            k: [j for j in jobs if j.description.startswith(d)] for k, d in READBACK.items()
        }
        rb_jobs = [j for js in readback.values() for j in js]
        main = [j for j in jobs if j not in rb_jobs]
        exch, write = routed_write_stages(trace.stages_of(main))
        write_jobs = {j.job_id for j in main if write.stage_id in j.stage_ids}
        st = m.stages
        out = {
            "wall": wall,
            "exchanges": trace.exchange_count(write_jobs),
            "pipeline.plan_setup_s": st["plan_setup"],
            "pipeline.write_s": st["write"],
            "pipeline.readback_s": st["aggs_shared_partial"],
            "pipeline.commit_s": st["footer_stats"] + st["commits"] + st["ledger"],
            "exchange.task_s": exch.run_s,
            "exchange.shuffle_write_bytes": exch.shuffle_write_bytes,
            "exchange.fetch_wait_s": write.fetch_wait_s,
            "routed_write.task_s": write.run_s,
            "routed_write.cpu_s": write.cpu_s,
            "routed_write.gc_s": write.gc_s,
            "routed_write.spill_bytes": write.spill_bytes,
            "routed_write.task_skew": write.skew,
            "routed_write.output_bytes": write.output_bytes,
            "routed_write.files": files,
            "readback.scan_bytes": sum(s.input_bytes for s in trace.stages_of(rb_jobs)),
            "driver.serial_s": wall - busy_union_s([(j.start_ms, j.end_ms) for j in jobs]),
        }
        for k, js in readback.items():
            if not js:
                raise RuntimeError(f"no read-back job described {READBACK[k]!r}")
            out[f"readback.{k}_s"] = (
                max(j.end_ms for j in js) - min(j.start_ms for j in js)
            ) / 1e3
    except Exception as e:  # noqa: BLE001 - counted, and the run still reports
        call.outcome.fail(f"trace of call {call.n}: {type(e).__name__}: {e}")
        return None
    out["traced_wall"] = wall + time.perf_counter() - t0
    return out


def _prefixes(spark, call: Caller) -> list:
    """Cumulative noop-sink prefixes of the routed write, composed from the
    public operators in ``run_pipeline``'s order. The last one writes
    parquet; self-check 1 holds its plan to the engine's write job."""
    cfg = PipelineConfig(warehouse="unused", n_buckets=N_BUCKETS)
    df, rd, td = call.frames
    keyed = with_conv_bucket(df, N_BUCKETS)
    subs = int(os.environ.get("WATCHMAN_BUCKET_SUBSPLITS", "0")) or min(
        8, max(1, math.ceil(4 * spark.sparkContext.defaultParallelism / N_BUCKETS))
    )
    if subs > 1:
        sub = F.pmod(F.xxhash64(F.lit(1), F.col("conv_id")), F.lit(subs))
        raw = keyed.repartition(N_BUCKETS * subs, "conv_bucket", sub)
    else:
        raw = keyed.repartition(N_BUCKETS, "conv_bucket")
    parsed = with_parsed(raw, cfg.patterns, engine=cfg.parse_engine)
    tagged = with_sink(enrich(parsed, rd, td), routes=cfg.routes, default_sink=cfg.default_sink)
    routed = (
        flatten_parsed(tagged)
        .sortWithinPartitions("sink", "conv_bucket", "conv_id", "turn_idx")
        .withColumn("dt", F.to_date("ts"))
        .withColumn("run_id", F.lit(cfg.run_id))
    )

    def noop(frame):
        return lambda: frame.write.format("noop").mode("overwrite").save()

    def write():
        dest = str(call.work.path / "prefix-write")
        routed.write.partitionBy("sink", "conv_bucket").parquet(dest)
        shutil.rmtree(dest)

    return [
        ("scan_shuffle", noop(raw)),
        ("parse", noop(parsed)),
        ("enrich_route", noop(tagged)),
        ("sort", noop(routed)),
        ("encode_write", write),
    ]


def _traced(spark, work, call: Caller, args) -> dict:
    """Rounds of (traced call, untraced call, one pass of the prefix chain),
    so all three see the same session state; then the checks, the stream
    phase and the single-core reference."""
    trace = SparkTrace(spark)
    prefixes = _prefixes(spark, call)
    traced: list[dict] = []
    plain: list[float] = []
    cumulative: dict[str, list[float]] = {name: [] for name, _ in prefixes}
    prefix_jobs: list = []
    deadline = time.perf_counter() + args.seconds
    rounds = 0
    while (time.perf_counter() < deadline or rounds < TRACED_ROUNDS) and rounds < 20:
        rounds += 1
        t = _traced_call(trace, call)
        if t is not None:
            traced.append(t)
        wall, m, _files = call()
        if m is not None:
            plain.append(wall)
        before = trace.last_job_id()
        try:
            for name, action in prefixes:
                t0 = time.perf_counter()
                action()
                cumulative[name].append(time.perf_counter() - t0)
        except Exception as e:  # noqa: BLE001
            call.outcome.fail(f"prefix {name}: {type(e).__name__}: {e}")
        else:
            prefix_jobs = trace.jobs_after(before)
    if not traced or not plain or not prefix_jobs:
        return {}

    layers = {k: median([c[k] for c in traced]) for k in traced[0]}
    wall = layers.pop("wall")
    layers["trace.wall_s"] = layers.pop("traced_wall")
    del layers["exchanges"]
    prev = 0.0
    for name, _ in prefixes:
        layers[f"layer.{name}_s"] = median(cumulative[name]) - prev
        prev = median(cumulative[name])

    # self-check 1: the prefix chain runs the plan the engine runs
    engine_exchanges = traced[-1]["exchanges"]
    try:
        exch, _write = routed_write_stages(trace.stages_of(prefix_jobs))
        ratio = exch.shuffle_write_bytes / layers["exchange.shuffle_write_bytes"]
    except RuntimeError as e:
        ratio = 0.0
        call.outcome.fail(f"self-check 1: {e}")
    prefix_exchanges = trace.exchange_count({j.job_id for j in prefix_jobs})
    layers["check.shuffle_bytes_ratio"] = ratio
    call.outcome.check(
        prefix_exchanges == engine_exchanges and abs(ratio - 1) <= 0.01,
        f"self-check 1: prefix chain {prefix_exchanges} exchanges, run_pipeline "
        f"{engine_exchanges}; shuffle bytes ratio {ratio:.4f}",
    )
    # self-check 2: the seven layers account for the call's wall time after
    # planning, which is its own layer (pipeline.plan_setup_s)
    seven = sum(layers[f"layer.{name}_s"] for name, _ in prefixes)
    seven += layers["pipeline.readback_s"] + layers["pipeline.commit_s"]
    covered = wall - layers["pipeline.plan_setup_s"]
    layers["check.layer_sum_ratio"] = seven / covered
    call.outcome.check(
        abs(seven / covered - 1) <= 0.10,
        f"self-check 2: seven layers sum to {seven:.3f} s, call wall after "
        f"planning {covered:.3f} s",
    )
    layers["trace.untraced_wall_s"] = median(plain)
    layers["trace.overhead_s"] = layers["trace.wall_s"] - layers["trace.untraced_wall_s"]
    layers["pipeline.turns_per_s"] = call.inputs.golden["total_rows"] / median(plain)
    layers["ops.measured"] = len(traced) + len(plain)
    log(f"traced rounds {rounds}, self-checks done")

    try:
        layers.update(stream_tail.run_stream(spark, work, call.outcome, args.seed, args.seconds))
    except Exception as e:  # noqa: BLE001
        call.outcome.fail(f"stream: {type(e).__name__}: {e}")

    log("stream phase done")

    # single-core reference: a new local[1] context in the same JVM
    spark.stop()
    call1 = Caller(start_session(work, 1), work, call.inputs, call.outcome)
    call1()
    wall1, m1, _files = call1()
    if m1 is not None:
        layers["pipeline.turns_per_s_1core"] = call.inputs.golden["total_rows"] / wall1
    return layers

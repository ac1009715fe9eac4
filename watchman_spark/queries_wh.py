"""Warehouse-semantics queries: snapshot reads, incremental scans, and the
mapInPandas partition-ledger surface (SURVEY.md §2.1 S2, §2.9 U5).

These exercise the commit-log backend (the Iceberg-semantics fallback), so
they build a small deterministic warehouse under /tmp on first use —
derived purely from the driver's events table, cached per sf_dir."""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import functions as F

from .queries import register, t
from .sources.warehouse import ParquetWarehouse


def _cached_wh(
    sf_dir: str, name: str, build: Callable[[ParquetWarehouse], None]
) -> ParquetWarehouse:
    """The warehouse at /tmp/<name>_<sf_dir tag>, filled by ``build(wh)``
    on first use. The completion marker, not commits() presence, marks a
    build complete: a crash mid-build leaves no marker, so the next call
    rebuilds from scratch instead of serving a half-built cache."""
    tag = sf_dir.strip("/").replace("/", "_")
    root = f"/tmp/{name}_{tag}"
    done = os.path.join(root, "_build_done")
    if not os.path.exists(done):
        shutil.rmtree(root, ignore_errors=True)
        build(ParquetWarehouse(root))
        with open(done, "w") as f:
            f.write("ok")
    return ParquetWarehouse(root)


def _wh(spark, sf_dir: str) -> ParquetWarehouse:
    def build(wh):
        ev = t(spark, sf_dir, "events")
        # two commits: even event_ids, then odd — snapshot 1 sees half
        wh.write_append(ev.filter(F.col("event_id") % 2 == 0), "events_snap")
        wh.write_append(ev.filter(F.col("event_id") % 2 == 1), "events_snap")

    return _cached_wh(sf_dir, "watchman_whq", build)


@register(
    "scan_snapshot",
    "SELECT event_id, event_type FROM events WHERE event_id % 2 = 0",
)
def scan_snapshot(spark, sf_dir):
    # snapshot 1 = the first commit only (time travel)
    wh = _wh(spark, sf_dir)
    return wh.read(spark, "events_snap", snapshot=1).select("event_id", "event_type")


@register(
    "scan_incremental",
    "SELECT event_id, event_type FROM events WHERE event_id % 2 = 1",
)
def scan_incremental(spark, sf_dir):
    # incremental read: commits in (1, 2] — exactly the second append
    wh = _wh(spark, sf_dir)
    return wh.read(spark, "events_snap", snapshot=2, from_snapshot=1).select(
        "event_id", "event_type"
    )


@register(
    "scan_snapshot_full",
    "SELECT event_id, event_type FROM events",
)
def scan_snapshot_full(spark, sf_dir):
    # latest snapshot = union of all commits == the source table
    wh = _wh(spark, sf_dir)
    return wh.read(spark, "events_snap").select("event_id", "event_type")


def _wh_cow(spark, sf_dir: str) -> ParquetWarehouse:
    """Warehouse exercising the REWRITE path (compaction + COW merge),
    built once per sf_dir under its own root so the append-only queries
    above keep their state: three modulo-3 appends of events, one
    compaction (commit 4), one merge_upsert correcting event_type of the
    event_id % 7 == 0 rows (commit 5). Every downstream read is therefore
    derivable from the source events table in pure SQL — which is what
    makes replace-commit semantics driver-oracled, not just pytest-ed."""

    def build(wh):
        ev = t(spark, sf_dir, "events").select("event_id", "event_type")
        for m in range(3):
            wh.write_append(ev.filter(F.col("event_id") % 3 == m), "events_cow")
        wh.compact(spark, "events_cow")
        batch = ev.filter(F.col("event_id") % 7 == 0).withColumn(
            "event_type", F.lit("corrected")
        )
        wh.merge_upsert(spark, "events_cow", batch, ["event_id"])

    return _cached_wh(sf_dir, "watchman_whq_cow", build)


@register(
    "scan_compacted",
    "SELECT event_id, event_type FROM events",
)
def scan_compacted(spark, sf_dir):
    # snapshot 4 = the compaction replace commit: one rewritten dir that
    # must equal the union of the three appends it superseded
    wh = _wh_cow(spark, sf_dir)
    return wh.read(spark, "events_cow", snapshot=4).select("event_id", "event_type")


@register(
    "scan_timetravel_precompact",
    "SELECT event_id, event_type FROM events WHERE event_id % 3 = 0",
)
def scan_timetravel_precompact(spark, sf_dir):
    # snapshot 1 predates the compaction: the original first append's dir
    # is still live for time travel after the rewrite
    wh = _wh_cow(spark, sf_dir)
    return wh.read(spark, "events_cow", snapshot=1).select("event_id", "event_type")


@register(
    "scan_merged",
    "SELECT event_id, "
    "CASE WHEN event_id % 7 = 0 THEN 'corrected' ELSE event_type END "
    "AS event_type FROM events",
)
def scan_merged(spark, sf_dir):
    # latest snapshot = after the COW merge: matched keys carry the
    # batch's corrected value, everything else is untouched — the CASE
    # expression IS the merge semantics, so the oracle checks it row-wise
    wh = _wh_cow(spark, sf_dir)
    return wh.read(spark, "events_cow").select("event_id", "event_type")


@register(
    "scan_changelog",
    "SELECT event_id, 'corrected' AS event_type, 'insert' AS _change_type "
    "FROM events WHERE event_id % 7 = 0 "
    "UNION ALL "
    "SELECT event_id, event_type, 'delete' AS _change_type "
    "FROM events WHERE event_id % 7 = 0",
)
def scan_changelog(spark, sf_dir):
    # row-level CDC across the COW merge (snapshot 4 -> 5): the rewritten
    # dir is diffed against the dir it replaced with exceptAll, so the
    # changelog is exactly one delete of each old %7 row plus one insert
    # of its corrected version — every untouched row cancels out
    wh = _wh_cow(spark, sf_dir)
    return wh.changelog(spark, "events_cow", from_snapshot=4, to_snapshot=5)


def _wh_stats(spark, sf_dir: str) -> ParquetWarehouse:
    """Warehouse exercising METADATA FILE SKIPPING (the Iceberg
    manifest-bounds scan-planning analogue): one commit per event_type,
    each append recording per-file min/max bounds for (event_type, ts)
    via ``stats_cols``. A pruned read over one type must then plan files
    from exactly one of the five commits — pinned by
    tests/test_pruning.py::test_registry_warehouse_prunes_commits — while
    the result stays row-identical to a plain filtered scan (the oracle
    below)."""

    def build(wh):
        ev = t(spark, sf_dir, "events")
        for etype in ["click", "error", "purchase", "signup", "view"]:
            wh.write_append(
                ev.filter(F.col("event_type") == etype),
                "events_stats",
                stats_cols=["event_type", "ts"],
            )

    return _cached_wh(sf_dir, "watchman_whq_stats", build)


@register(
    "scan_pruned",
    "SELECT event_id, event_type FROM events WHERE event_type = 'error'",
)
def scan_pruned(spark, sf_dir):
    # file-skipping snapshot read: the planner keeps only files whose
    # recorded [min,max] of event_type can contain 'error' (one commit of
    # five), then re-applies the predicate — result == filtered full scan
    wh = _wh_stats(spark, sf_dir)
    return wh.read_pruned(
        spark, "events_stats", "event_type", lo="error", hi="error"
    ).select("event_id", "event_type")


@register("udf_partition_ledger", None)  # rows-only: partition ids are physical
def udf_partition_ledger(spark, sf_dir):
    """U5: per-partition lineage rows via mapInPandas + TaskContext — the
    in-flight counterpart of the footer-stats ledger."""
    from pyspark import TaskContext

    ev = t(spark, sf_dir, "events").repartition(8, "user_id")

    def ledger(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        rows = 0
        lo = hi = None
        for pdf in batches:
            rows += len(pdf)
            if len(pdf):
                mn, mx = int(pdf["event_id"].min()), int(pdf["event_id"].max())
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
        yield pd.DataFrame(
            {"partition_id": [pid], "rows": [rows], "min_id": [lo], "max_id": [hi]}
        )

    return ev.mapInPandas(
        ledger, "partition_id int, rows long, min_id long, max_id long"
    ).filter(F.col("rows") > 0)

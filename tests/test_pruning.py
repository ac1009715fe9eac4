"""Metadata file-skipping (Iceberg scan-planning analogue): write_append
records per-file column bounds (warehouse.file_stats — the manifest-entry
lower_bounds/upper_bounds of the Iceberg spec), plan_pruned drops files
whose range cannot contain a match, and read_pruned == read + filter ALWAYS
(pruning is a superset guarantee; the predicate is re-applied to surviving
rows). On real Iceberg the same skipping happens natively from the range
predicate (IcebergBackend.read_pruned is read + filter)."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from watchman_spark.sources.warehouse import ParquetWarehouse


def _mk(spark, tmp_path, stats=True, partition_by=None):
    """3 commits with DISJOINT k-ranges (0-99, 100-199, 200-299), each
    written as 2 range-disjoint files via repartitionByRange — so both
    commit-level and file-within-commit pruning are exercised."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    base = dt.datetime(2026, 1, 1)
    for lo in (0, 100, 200):
        df = spark.createDataFrame(
            [
                Row(
                    k=lo + i,
                    grp="even" if i % 2 == 0 else "odd",
                    ts=base + dt.timedelta(hours=lo + i),
                )
                for i in range(100)
            ]
        ).repartitionByRange(2, "k")
        wh.write_append(
            df,
            "tbl",
            partition_by=partition_by,
            stats_cols=["k", "ts"] if stats else None,
        )
    return wh


def _rows(df):
    return sorted((r["k"], r["grp"]) for r in df.select("k", "grp").collect())


@pytest.mark.parametrize("window", [(50, 149), (None, 99), (250, None), (120, 130), (300, 999)])
def test_pruned_equals_filtered(spark, tmp_path, window):
    wh = _mk(spark, tmp_path)
    lo, hi = window
    pruned = wh.read_pruned(spark, "tbl", "k", lo=lo, hi=hi)
    full = wh.read(spark, "tbl")
    if lo is not None:
        full = full.filter(F.col("k") >= lo)
    if hi is not None:
        full = full.filter(F.col("k") <= hi)
    assert _rows(pruned) == _rows(full)


def test_plan_skips_files(spark, tmp_path):
    wh = _mk(spark, tmp_path)
    total = sum(len(c["file_stats"]["files"]) for c in wh.commits("tbl"))
    assert total == 6  # 3 commits x 2 range-disjoint files

    # window inside commit 2 only: both other commits fully pruned, and
    # within commit 2 at most the file(s) overlapping [110,130] survive
    # (repartitionByRange boundaries are sample-derived, so 1 or 2)
    plan = wh.plan_pruned("tbl", "k", lo=110, hi=130)
    kept = [len(k) for _c, k in plan]
    assert kept[0] == 0 and kept[2] == 0 and 1 <= kept[1] <= 2

    # open-ended upper window: commit 1 fully pruned, commit 3 fully kept
    plan = wh.plan_pruned("tbl", "k", lo=160)
    kept = [len(k) for _c, k in plan]
    assert kept[0] == 0 and 1 <= kept[1] <= 2 and kept[2] == 2


def test_conservative_without_stats(spark, tmp_path):
    wh = _mk(spark, tmp_path, stats=False)
    # no file_stats in any commit: planner must keep everything (None)
    plan = wh.plan_pruned("tbl", "k", lo=110, hi=130)
    assert [k for _c, k in plan] == [None, None, None]
    got = _rows(wh.read_pruned(spark, "tbl", "k", lo=110, hi=130))
    assert got == [(k, "even" if k % 2 == 0 else "odd") for k in range(110, 131)]


def test_unknown_column_keeps_all(spark, tmp_path):
    wh = _mk(spark, tmp_path)
    plan = wh.plan_pruned("tbl", "grp", lo="even", hi="even")
    assert [k for _c, k in plan] == [None, None, None]  # grp not in stats_cols
    got = wh.read_pruned(spark, "tbl", "grp", lo="even", hi="even")
    assert got.count() == 150


def test_timestamp_bounds(spark, tmp_path):
    wh = _mk(spark, tmp_path)
    lo = dt.datetime(2026, 1, 1) + dt.timedelta(hours=120)
    hi = dt.datetime(2026, 1, 1) + dt.timedelta(hours=130)
    plan = wh.plan_pruned("tbl", "ts", lo=lo, hi=hi)
    kept = [len(k) for _c, k in plan]
    assert kept[0] == 0 and kept[2] == 0 and 1 <= kept[1] <= 2
    got = _rows(wh.read_pruned(spark, "tbl", "ts", lo=lo, hi=hi))
    assert [k for k, _g in got] == list(range(120, 131))


def test_partitioned_commit_keeps_partition_column(spark, tmp_path):
    wh = _mk(spark, tmp_path, partition_by=["grp"])
    pruned = wh.read_pruned(spark, "tbl", "k", lo=110, hi=130)
    # hive partition column survives the basePath file-list read
    assert set(pruned.columns) >= {"k", "grp", "ts"}
    assert _rows(pruned) == [
        (k, "even" if k % 2 == 0 else "odd") for k in range(110, 131)
    ]
    # and pruning still drops whole out-of-range files
    plan = wh.plan_pruned("tbl", "k", lo=110, hi=130)
    kept = sum(len(k) for _c, k in plan if k is not None)
    total = sum(len(c["file_stats"]["files"]) for c in wh.commits("tbl"))
    assert 0 < kept < total


def test_empty_window_preserves_schema(spark, tmp_path):
    wh = _mk(spark, tmp_path)
    got = wh.read_pruned(spark, "tbl", "k", lo=10_000, hi=20_000)
    assert got.count() == 0
    assert set(got.columns) == {"k", "grp", "ts"}


def test_registry_warehouse_prunes_commits(spark):
    """The driver-oracled scan_pruned query really skips files: its
    warehouse holds one commit per event_type, so planning for one type
    keeps files from exactly one of the five commits."""
    from watchman_spark.queries_wh import _wh_stats, scan_pruned

    sf = "/root/testdata/sf0.001"
    wh = _wh_stats(spark, sf)
    plan = wh.plan_pruned("events_stats", "event_type", lo="error", hi="error")
    assert len(plan) == 5
    kept = [len(k) for _c, k in plan]
    assert sum(1 for n in kept if n > 0) == 1 and all(k is not None for _c, k in plan)

    got = scan_pruned(spark, sf)
    full = (
        spark.read.parquet(f"{sf}/events.parquet")
        .filter(F.col("event_type") == "error")
        .select("event_id", "event_type")
    )
    assert sorted(r["event_id"] for r in got.collect()) == sorted(
        r["event_id"] for r in full.collect()
    )


def test_cluster_then_prune(spark, tmp_path):
    """Sort-clustered compaction makes pruning effective on arrival-order
    ingest: interleaved appends give every file whole-domain bounds
    (nothing skippable); compact(sort_by) + stats_cols yields tight
    per-file ranges and a narrow read plans a strict subset of files."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    for m in range(3):  # k % 3 buckets: every commit spans 0..299
        df = spark.createDataFrame(
            [Row(k=k, grp="g") for k in range(300) if k % 3 == m]
        ).coalesce(1)
        wh.write_append(df, "tbl", stats_cols=["k"])

    # arrival-order layout: all 3 files overlap any window -> no skipping
    plan = wh.plan_pruned("tbl", "k", lo=100, hi=120)
    assert sum(len(k) for _c, k in plan) == 3

    wh.compact(spark, "tbl", sort_by=["k"], stats_cols=["k"], target_partitions=4)
    c = wh.commits("tbl")[-1]
    assert c["lineage"]["compaction"]["sort_by"] == ["k"]
    files = c["file_stats"]["files"]
    assert len(files) == 4
    # clustered: file ranges are disjoint (no two files overlap)
    spans = sorted(f["bounds"]["k"] for f in files)
    assert all(a[1] < b[0] for a, b in zip(spans, spans[1:]))

    plan = wh.plan_pruned("tbl", "k", lo=100, hi=120)
    kept = sum(len(k) for _c, k in plan if k is not None)
    assert 1 <= kept <= 2  # ~window/file-width files, not all 4
    got = sorted(r["k"] for r in wh.read_pruned(spark, "tbl", "k", 100, 120).collect())
    assert got == list(range(100, 121))


def test_snapshot_pruning(spark, tmp_path):
    wh = _mk(spark, tmp_path)
    # snapshot 1 sees only commit 1: a window over commit 2's range is empty
    got = wh.read_pruned(spark, "tbl", "k", lo=110, hi=130, snapshot=1)
    assert got.count() == 0
    got = wh.read_pruned(spark, "tbl", "k", lo=10, hi=20, snapshot=1)
    assert got.count() == 11

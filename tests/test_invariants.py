"""Invariant audit operators against a fully-run warehouse, including the
golden digest comparison (the per-turn text-equality check)."""

from __future__ import annotations

import pytest

from watchman_spark.config import PipelineConfig
from watchman_spark.operators import invariants as inv
from watchman_spark.plans.pipeline import run_pipeline
from watchman_spark.sources.warehouse import ParquetWarehouse
from watchman_spark.synth import (
    SynthParams,
    compute_golden,
    conv_digest,
    role_dim,
    synth_transcripts,
    tool_dim,
)

PARAMS = SynthParams(seed=23, n_convs=70, C=400, hot_cap=150)


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("inv_wh"))
    w = ParquetWarehouse(root)
    w.write_append(synth_transcripts(spark, PARAMS), "transcripts")
    w.write_append(role_dim(spark), "role_dim")
    w.write_append(tool_dim(spark), "tool_dim")
    run_pipeline(spark, PipelineConfig(warehouse=root, n_buckets=8, run_id="inv"))
    return w


def test_routed_row_equality(spark, wh):
    assert inv.routed_row_equality(spark, wh) == {
        "missing_from_sinks": 0,
        "extra_in_sinks": 0,
    }


def test_sinks_disjoint(spark, wh):
    assert inv.sinks_disjoint(spark, wh)


def test_text_equality_digests_match_golden(spark, wh):
    golden = compute_golden(PARAMS)
    sample = list(golden["conv_digests"])
    got = inv.text_equality_digests(spark, wh, sample_convs=sample)
    assert got == golden["conv_digests"]


def test_text_equality_audit_distributed(spark, wh):
    """The scale-safe audit: digests compared via a distributed full-outer
    join — only three counters ever reach the driver (no per-conversation
    collect). All-zero on a correctly routed warehouse."""
    assert inv.text_equality_audit(spark, wh) == {
        "missing": 0,
        "extra": 0,
        "mismatched": 0,
    }


def test_chunked_digest_equals_reference_digest(spark):
    """Property: conv_digests_chunked (mapInPandas with carry — no pandas
    frame ever holds a whole conversation) is byte-identical to the
    reference synth.conv_digest over each conversation's turn_idx-sorted
    texts, on random conversations with nulls and shuffled input row
    order."""
    import random

    rng = random.Random(77)
    rows = []
    for c in range(10):
        for i in range(rng.randrange(1, 40)):
            text = None if rng.random() < 0.1 else f"c{c} turn{i} {rng.random():.6f}"
            rows.append((f"conv{c}", i, text))
    # rows with NULL conv_id are a real group and must be audited too
    # (the pandas-groupby default would silently drop them)
    for i in range(7):
        rows.append((None, i, f"null-conv turn{i}"))
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    by_conv: dict = {}
    for conv_id, i, text in rows:
        by_conv.setdefault(conv_id, []).append((i, text))
    reference = {
        c: (conv_digest([t for _, t in sorted(turns)]), len(turns))
        for c, turns in by_conv.items()
    }
    chunked = {
        r["conv_id"]: (r["digest"], r["n_turns"])
        for r in inv.conv_digests_chunked(df, n_partitions=3).collect()
    }
    assert chunked == reference and len(chunked) == 11  # 10 convs + the NULL group
    assert None in chunked and chunked[None][1] == 7


def test_chunked_digest_giant_conversation_tiny_batches(spark):
    """A 500k-turn conversation digested under a FORCED tiny Arrow batch
    (1000 rows — so the carry crosses ~500 batch boundaries) must equal the
    locally computed single-shot sha256. This is the scale scenario that
    would OOM the grouped-map path's single pandas frame at 10^12 scale."""
    import hashlib

    from pyspark.sql import functions as F

    n = 500_000
    df = spark.range(n).select(
        F.lit("hot").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
    )
    expected = hashlib.sha256(
        "\x1f".join(f"t{i}" for i in range(n)).encode()
    ).hexdigest()
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1000")
    try:
        rows = inv.conv_digests_chunked(df, n_partitions=4).collect()
    finally:
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert len(rows) == 1
    assert rows[0]["digest"] == expected and rows[0]["n_turns"] == n


def test_digest_mismatches_counts(spark):
    a = spark.createDataFrame(
        [("c1", "d1"), ("c2", "dX"), ("c3", "d3")], ["conv_id", "digest"]
    )
    g = spark.createDataFrame(
        [("c1", "d1"), ("c2", "d2"), ("c4", "d4")], ["conv_id", "digest"]
    )
    assert inv.digest_mismatches(a, g) == {"missing": 1, "extra": 1, "mismatched": 1}


def test_digest_mismatches_null_conv_is_null_safe(spark):
    """conv_digests_chunked digests the NULL-conv_id group on both sides; a
    plain equi-join never matches null keys, so identical null-conv digests
    used to report missing=1/extra=1 forever. The eqNullSafe join must match
    them (and still flag a genuinely differing null-group digest)."""
    a = spark.createDataFrame([("c1", "d1"), (None, "dn")], ["conv_id", "digest"])
    g = spark.createDataFrame([("c1", "d1"), (None, "dn")], ["conv_id", "digest"])
    assert inv.digest_mismatches(a, g) == {"missing": 0, "extra": 0, "mismatched": 0}
    g2 = spark.createDataFrame([("c1", "d1"), (None, "dZ")], ["conv_id", "digest"])
    assert inv.digest_mismatches(a, g2) == {"missing": 0, "extra": 0, "mismatched": 1}


def test_text_equality_audit_with_null_conv_rows(spark, tmp_path):
    """End-to-end: a warehouse whose transcripts contain NULL conv_id rows
    must still audit all-zero when the sinks carry the identical texts —
    the null group flows through digesting AND the comparison join."""
    rows = [("c1", 0, "hello"), ("c1", 1, "world"), (None, 0, "orphan"), (None, 1, "rows")]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    routed = inv.conv_digests_chunked(df, n_partitions=2)
    golden = inv.conv_digests_chunked(df.repartition(3), n_partitions=2)
    assert inv.digest_mismatches(routed, golden) == {
        "missing": 0, "extra": 0, "mismatched": 0,
    }


def assert_turn_order_physical(wh, sink: str) -> None:
    """Scan every data file of ``sink_<sink>`` RAW (pyarrow, no Spark, no
    ordering): turn_idx must already be sorted within each conv_id run,
    and each conversation's run must be contiguous."""
    import os

    import pyarrow.dataset as pa_ds

    checked_files = 0
    for c in wh.commits(f"sink_{sink}"):
        d = os.path.join(wh.root, c["data_dir"])
        ds = pa_ds.dataset(d, format="parquet", partitioning="hive")
        for frag in ds.get_fragments():
            tbl = frag.to_table(columns=["conv_id", "turn_idx"])
            convs = tbl.column("conv_id").to_pylist()
            idxs = tbl.column("turn_idx").to_pylist()
            last: dict[str, int] = {}
            prev_conv = None
            for cid, ti in zip(convs, idxs):
                if cid == prev_conv:
                    assert ti > last[cid], (frag.path, cid, ti, last[cid])
                else:
                    # conv runs must be contiguous (file sorted by conv_id)
                    assert cid not in last, (frag.path, cid, "non-contiguous")
                last[cid] = ti
                prev_conv = cid
            checked_files += 1
    assert checked_files > 0


def test_turn_order_is_physical_in_files(wh):
    """The ordering invariant is a property of the written files, not a
    read-time sort. Guards the write-aligned sortWithinPartitions against
    regressions (the dynamic-partition writer would otherwise re-sort by
    partition columns only, destroying turn order)."""
    assert_turn_order_physical(wh, "conversational")


def test_stream_turn_order_is_physical_in_files(spark, tmp_path):
    """The same file-level invariant for the streaming router: route_batch
    runs the shared staged write, with the shuffle-key sub-split (S=2 at
    8 buckets on local[4])."""
    from watchman_spark.streaming.stream import route_batch

    root = str(tmp_path / "stream_wh")
    w = ParquetWarehouse(root)
    cfg = PipelineConfig(warehouse=root, n_buckets=8, run_id="inv-stream")
    batch = synth_transcripts(spark, PARAMS)
    committed = route_batch(w, cfg, batch, 0, role_dim(spark), tool_dim(spark))
    assert len(committed) == len(cfg.sink_names)
    for sink in cfg.sink_names:
        assert_turn_order_physical(w, sink)


def test_job_audit_subcommand(spark, wh):
    """job.py audit: the operational wrapper over the invariant audits
    returns 0 (and an ok report) on a correctly routed warehouse."""
    from watchman_spark.job import main as job_main

    assert job_main(["audit", "--warehouse", wh.root]) == 0


def test_builtin_digest_equals_grouped_map(spark):
    """r6 optimization pin: the udf_conv_digest query's built-in
    sha2(array_join(array_sort(collect_list(struct)))) form must stay
    byte-identical to the grouped-map applyInPandas canonicalization it
    replaced (guide §4.1) — same ordered-sequence digest semantics as
    synth.conv_digest, keyed by user instead of conv."""
    import hashlib

    import pandas as pd
    from pyspark.sql import functions as F

    from watchman_spark.queries_fn import udf_conv_digest

    sf_dir = "/root/testdata/sf0.01"
    new = udf_conv_digest(spark, sf_dir)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "event_id", "event_type"
    )

    def digest(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        joined = ",".join(pdf["event_type"])
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "digest": [hashlib.sha256(joined.encode()).hexdigest()],
                "n": [len(pdf)],
            }
        )

    old = ev.groupBy("user_id").applyInPandas(
        digest, "user_id long, digest string, n long"
    )
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_conv_digest_null_ts_matches_oracle(spark, tmp_path):
    """udf_conv_digest orders a null ts after every timestamp, as the
    oracle's ORDER BY ts does (Spark's array_sort alone puts it first),
    and skips a null event_type like string_agg."""
    import duckdb
    import pandas as pd

    from watchman_spark.queries import oracle_sql
    from watchman_spark.queries_fn import udf_conv_digest

    ts = pd.to_datetime(
        ["2024-01-01 00:00", None, "2024-01-01 02:00", "2024-01-01 01:00",
         "2024-01-01 03:00", None]
    ).astype("datetime64[us]")
    pd.DataFrame({
        "event_id": [1, 2, 3, 4, 5, 6],
        "ts": ts,
        "user_id": [7, 7, 7, 8, 8, 8],
        "event_type": ["click", "error", "view", "signup", None, "purchase"],
        "value": [0.0] * 6,
        "props": ["{}"] * 6,
    }).to_parquet(tmp_path / "events.parquet")

    got = udf_conv_digest(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    want = con.execute(oracle_sql()["udf_conv_digest"]).df()
    con.close()
    key = lambda df: sorted(zip(df["user_id"], df["digest"], df["n"]))  # noqa: E731
    assert key(got) == key(want)

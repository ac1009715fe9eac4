"""Resume-equivalence and crash-recovery properties (SURVEY.md §5.3-4 d/e,
BASELINE.json:14 "resumable from checkpoint with per-partition lineage")."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from watchman_spark.config import PipelineConfig
from watchman_spark.plans.pipeline import run_pipeline
from watchman_spark.schema import SINKS, TRANSCRIPT_SCHEMA
from watchman_spark.sources import checkpoint as ckpt
from watchman_spark.sources.warehouse import ParquetWarehouse
from watchman_spark.synth import SynthParams, role_dim, synth_transcripts, tool_dim

PARAMS = SynthParams(seed=11, n_convs=80, C=500, hot_cap=200)


def _fresh(spark, tmp_path, name) -> tuple[ParquetWarehouse, PipelineConfig]:
    root = str(tmp_path / name)
    wh = ParquetWarehouse(root)
    wh.write_append(synth_transcripts(spark, PARAMS), "transcripts")
    wh.write_append(role_dim(spark), "role_dim")
    wh.write_append(tool_dim(spark), "tool_dim")
    return wh, PipelineConfig(warehouse=root, n_buckets=8, run_id="r1")


def _sink_rows(spark, wh):
    out = {}
    for s in SINKS:
        df = wh.read(spark, f"sink_{s}")
        out[s] = sorted(
            tuple(r) for r in df.select("conv_id", "turn_idx", "role", "text").collect()
        )
    return out


def test_resume_equals_single_run(spark, tmp_path):
    # reference: one uninterrupted run
    wh_a, cfg_a = _fresh(spark, tmp_path, "a")
    run_pipeline(spark, cfg_a)

    # interrupted: 3 buckets, then "crash", then resume to completion
    wh_b, cfg_b = _fresh(spark, tmp_path, "b")
    from dataclasses import replace

    m1 = run_pipeline(spark, replace(cfg_b, max_buckets_per_run=3, run_id="part1"))
    assert len(m1.buckets) == 3
    assert len(ckpt.committed_buckets(spark, wh_b)) == 3
    m2 = run_pipeline(spark, replace(cfg_b, run_id="part2"))
    assert len(m2.buckets) == 5

    assert _sink_rows(spark, wh_a) == _sink_rows(spark, wh_b)
    # aggregate partials re-aggregate to identical totals
    tot_a = {
        r["sink"]: r["n"]
        for r in wh_a.read(spark, "agg_sink_counts").groupBy("sink").agg(F.sum("n").alias("n")).collect()
    }
    tot_b = {
        r["sink"]: r["n"]
        for r in wh_b.read(spark, "agg_sink_counts").groupBy("sink").agg(F.sum("n").alias("n")).collect()
    }
    assert tot_a == tot_b


def test_crash_between_sink_and_ledger_is_rolled_back(spark, tmp_path):
    wh, cfg = _fresh(spark, tmp_path, "c")
    run_pipeline(spark, cfg)
    before = _sink_rows(spark, wh)

    # simulate a run that died after appending sink data but before the
    # ledger commit: its buckets are not (all) in the ledger
    orphan = wh.read(spark, "sink_errors").limit(7)
    wh.write_append(
        orphan, "sink_errors", lineage={"run_id": "dead", "buckets": [999]}
    )
    orphan2 = wh.read(spark, "sink_tool_calls").limit(3)
    wh.write_append(
        orphan2, "agg_sink_counts", lineage={"run_id": "dead", "buckets": [998, 1]}
    )
    pruned = ckpt.reconcile(spark, wh)
    assert ("sink_errors" in dict(pruned)) and ("agg_sink_counts" in dict(pruned))
    assert _sink_rows(spark, wh) == before
    # reconcile is idempotent
    assert ckpt.reconcile(spark, wh) == []


def test_ledger_lineage_covers_all_buckets(spark, tmp_path):
    wh, cfg = _fresh(spark, tmp_path, "d")
    run_pipeline(spark, cfg)
    led = wh.read(spark, ckpt.LEDGER_TABLE)
    rows = led.collect()
    assert {r["bucket"] for r in rows} == set(range(cfg.n_buckets))
    total = sum(r["rows"] for r in rows)
    assert total == PARAMS.total_rows
    nonempty = [r for r in rows if r["rows"] > 0]
    assert all(r["min_conv"] is not None and r["max_conv"] <= "conv99999999" for r in nonempty)


def test_partitioned_read_enforces_declared_types(spark, tmp_path):
    """Snapshot reads of hive-partitioned commits must honor the caller's
    declared data-column types (no inference drift when commits mix), and
    staged commits from OUTSIDE the warehouse root must be rejected even
    when the path shares a string prefix with the root."""
    import pytest as _pytest

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from watchman_spark.sources.warehouse import ParquetWarehouse

    root = str(tmp_path / "wh")
    wh = ParquetWarehouse(root)
    df = spark.range(6).select(
        F.col("id").cast("int").alias("v"),  # narrower than the declared long
        (F.col("id") % 2).cast("int").alias("p"),
    )
    wh.write_append(df, "t", partition_by=["p"])
    wh.write_append(df, "t", partition_by=["p"])
    schema = StructType([StructField("v", LongType())])
    out = wh.read(spark, "t", schema=schema)
    types = {f.name: f.dataType for f in out.schema.fields}
    assert types["v"] == LongType()
    assert out.count() == 12
    pruned = wh.read_pruned(spark, "t", "v", lo=1, hi=3, schema=schema)
    assert pruned.schema["v"].dataType == LongType()

    # sibling-prefix path must NOT be accepted as "inside the warehouse"
    sibling = root + "-other"
    import os

    os.makedirs(os.path.join(sibling, "data"), exist_ok=True)
    with _pytest.raises(ValueError):
        wh.commit_existing("t", os.path.join(sibling, "data"))


@pytest.mark.parametrize(
    "op", ["write_append", "write_append_arrow", "commit_existing", "compact", "merge_upsert"]
)
def test_crash_at_commit_write_leaves_table_unchanged(spark, tmp_path, monkeypatch, op):
    """Every data-committing operation publishes through the one atomic
    commit-json write. A crash there, after the data dir is staged, must
    leave the table as it was (snapshot, live rows, contents) and the
    staged dir an orphan that remove_orphans reclaims."""
    import os

    import pyarrow as pa

    from watchman_spark.sources import warehouse as wh_mod

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    df = spark.range(4).select(F.col("id").alias("k"), F.col("id").cast("string").alias("v"))
    wh.write_append(df, "t")
    wh.write_append(df.withColumn("k", F.col("k") + 4), "t")
    staged = os.path.join(wh.root, "_staging", "s")
    df.write.parquet(staged)

    def state():
        return wh.snapshot("t"), wh.table_rows("t"), sorted(wh.read(spark, "t").collect())

    before = state()
    run = {
        "write_append": lambda: wh.write_append(df, "t"),
        "write_append_arrow": lambda: wh.write_append_arrow("t", pa.table({"k": [9], "v": ["9"]})),
        "commit_existing": lambda: wh.commit_existing("t", staged),
        "compact": lambda: wh.compact(spark, "t"),
        "merge_upsert": lambda: wh.merge_upsert(spark, "t", df.limit(1), keys=["k"]),
    }[op]

    def crash(path, obj):
        raise OSError("injected crash at the commit write")

    monkeypatch.setattr(wh_mod, "_atomic_json", crash)
    with pytest.raises(OSError, match="injected crash"):
        run()
    monkeypatch.undo()
    assert state() == before
    assert len(wh.remove_orphans("t", older_than_s=0)) == 1


def test_empty_input_runs_and_is_idempotent(spark, tmp_path_factory):
    """An empty input (0 rows — e.g. an upstream gap) must complete
    normally: every bucket gets a 0-row ledger commit (so monitoring sees
    the run happened), no sink table appears, and a rerun is a no-op."""
    from watchman_spark.schema import TRANSCRIPT_SCHEMA
    from watchman_spark.synth import role_dim, tool_dim

    root = str(tmp_path_factory.mktemp("wh_empty"))
    cfg = PipelineConfig(warehouse=root, n_buckets=4, run_id="empty-run")
    empty = spark.createDataFrame([], TRANSCRIPT_SCHEMA)
    m = run_pipeline(spark, cfg, input_df=empty,
                     role_dim=role_dim(spark), tool_dim=tool_dim(spark))
    assert m.rows_in == 0 and m.buckets == [0, 1, 2, 3]
    assert m.rows_per_sink == {s: 0 for s in m.rows_per_sink}
    m2 = run_pipeline(spark, cfg, input_df=empty,
                      role_dim=role_dim(spark), tool_dim=tool_dim(spark))
    assert m2.buckets == []  # fully committed -> no-op


def test_job_dedup_subcommand(spark, tmp_path, capsys):
    """job.py dedup: the operational wrapper over pairs→components→keep —
    planted copies produce one component, one drop, committed to the
    warehouse."""
    import json as _json

    from pyspark.sql import functions as F

    from watchman_spark.job import main as job_main
    from watchman_spark.sources.warehouse import ParquetWarehouse

    corpus = str(tmp_path / "corpus.parquet")
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta eta theta doc{i // 100}")
         for i in range(6)] ,
        ["doc_id", "text"],
    )
    # ids 0-5 share doc0 suffix -> all near-identical under k=3 shingles
    docs.write.parquet(corpus)
    rc = job_main([
        "dedup", "--warehouse", str(tmp_path / "wh"), "--input", corpus,
        "--method", "jaccard", "--shingle-k", "3", "--threshold", "0.8",
    ])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["method"] == "jaccard" and out["dropped"] == 5
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    comps = {r["id"]: (r["component_id"], r["keep"])
             for r in wh.read(spark, "dedup_components").collect()}
    assert comps == {i: (0, i == 0) for i in range(6)}


def test_job_ingest_subcommand(spark, tmp_path, capsys):
    """job.py ingest: the operational near-dup ingestion loop — batch 1
    seeds the corpus + signature ledger; batch 2's near-dups of corpus
    docs are dropped without re-scanning corpus text; replay appends 0."""
    import json as _json

    from watchman_spark.job import main as job_main
    from watchman_spark.sources.warehouse import ParquetWarehouse

    base = "the quick brown fox jumps over the lazy dog again and again today"
    wh_root = str(tmp_path / "wh")

    b1 = str(tmp_path / "b1.parquet")
    spark.createDataFrame(
        [(1, base), (2, "completely different content about query engines")],
        ["doc_id", "text"],
    ).write.parquet(b1)
    rc = job_main(["ingest", "--warehouse", wh_root, "--input", b1,
                   "--shingle-k", "3", "--threshold", "0.5"])
    assert rc == 0
    out1 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out1["appended"] == 2 and out1["dropped"] == 0

    b2 = str(tmp_path / "b2.parquet")
    spark.createDataFrame(
        [(10, base.replace("lazy", "sleepy")),   # near-dup of corpus doc 1
         (11, "fresh novel text with words never seen in earlier batches")],
        ["doc_id", "text"],
    ).write.parquet(b2)
    rc = job_main(["ingest", "--warehouse", wh_root, "--input", b2,
                   "--shingle-k", "3", "--threshold", "0.5"])
    assert rc == 0
    out2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["appended"] == 1 and out2["dropped"] == 1
    assert out2["corpus_rows"] == 3

    # replay batch 2: complete no-op
    rc = job_main(["ingest", "--warehouse", wh_root, "--input", b2,
                   "--shingle-k", "3", "--threshold", "0.5"])
    assert rc == 0
    out3 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out3["appended"] == 0 and out3["corpus_rows"] == 3
    wh = ParquetWarehouse(wh_root)
    assert sorted(r["doc_id"] for r in wh.read(spark, "corpus").collect()) == [1, 2, 11]


def test_job_ingest_crash_between_appends_no_duplicates(spark, tmp_path, capsys, monkeypatch):
    """job.py ingest dies AFTER its corpus append and BEFORE its ledger
    append; rerunning the same command completes the interrupted epoch
    (signatures for the committed docs) instead of appending the batch
    again."""
    import json as _json

    from watchman_spark.job import main as job_main
    from watchman_spark.sources.warehouse import ParquetWarehouse

    wh_root = str(tmp_path / "wh")
    b1 = str(tmp_path / "b1.parquet")
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again today"),
         (2, "completely different content about query engines")],
        ["doc_id", "text"],
    ).write.parquet(b1)
    argv = ["ingest", "--warehouse", wh_root, "--input", b1,
            "--shingle-k", "3", "--threshold", "0.5"]

    real_append = ParquetWarehouse.write_append

    def dying_append(self, df, table, *a, **kw):
        if table.endswith("_sig_ledger"):
            raise RuntimeError("injected crash before the ledger append")
        return real_append(self, df, table, *a, **kw)

    monkeypatch.setattr(ParquetWarehouse, "write_append", dying_append)
    with pytest.raises(RuntimeError, match="injected crash"):
        job_main(argv)
    monkeypatch.setattr(ParquetWarehouse, "write_append", real_append)
    capsys.readouterr()

    assert job_main(argv) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["appended"] == 0 and out["corpus_rows"] == 2
    wh = ParquetWarehouse(wh_root)
    assert sorted(r["doc_id"] for r in wh.read(spark, "corpus").collect()) == [1, 2]
    assert wh.table_rows("corpus_sig_ledger") == 2


def test_job_compact_subcommand(spark, tmp_path, capsys):
    """job.py compact: the operational maintenance pass — many small
    appends collapse to one compact replace commit, --expire reclaims the
    superseded dirs, rows and values unchanged."""
    import json as _json
    import os as _os

    from watchman_spark.job import main as job_main
    from watchman_spark.sources.warehouse import ParquetWarehouse

    wh_root = str(tmp_path / "wh")
    wh = ParquetWarehouse(wh_root)
    for lo in range(0, 30, 5):
        wh.write_append(
            spark.range(lo, lo + 5).selectExpr("id AS k", "concat('v', id) AS v"),
            "events",
        )
    rc = job_main(["compact", "--warehouse", wh_root, "--table", "events",
                   "--target-partitions", "1", "--expire"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"table": "events", "commits_before": 6, "commit": 7,
                   "rows": 30, "expired_dirs": 6}
    got = {r["k"]: r["v"] for r in wh.read(spark, "events").collect()}
    assert got == {k: f"v{k}" for k in range(30)}
    # exactly one live data dir remains on disk after expiry
    data_root = _os.path.join(wh_root, "events", "data")
    assert len(_os.listdir(data_root)) == 1


def test_job_drift_subcommand(spark, tmp_path, capsys):
    """job.py drift: a same-shaped ingest batch passes (exit 0, low TV);
    a degenerate batch (every doc truncated) alerts (exit 1)."""
    import json as _json

    from watchman_spark.job import main as job_main
    from watchman_spark.sources.warehouse import ParquetWarehouse

    wh_root = str(tmp_path / "wh")
    wh = ParquetWarehouse(wh_root)
    long_doc = "word " * 60
    wh.write_append(
        spark.createDataFrame(
            [(i, long_doc + f"doc{i}") for i in range(40)], ["doc_id", "text"]
        ),
        "corpus",
    )
    # healthy batch: same length profile -> no alert
    wh.write_append(
        spark.createDataFrame(
            [(100 + i, long_doc + f"new{i}") for i in range(10)],
            ["doc_id", "text"],
        ),
        "corpus",
    )
    rc = job_main(["drift", "--warehouse", wh_root, "--table", "corpus",
                   "--column", "text"])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["alert"] is False and out["tv"] < 0.25
    assert out["n_ref"] == 40 and out["n_cur"] == 10
    # degenerate batch: everything truncated -> full-mass shift, exit 1
    wh.write_append(
        spark.createDataFrame(
            [(200 + i, "short") for i in range(10)], ["doc_id", "text"]
        ),
        "corpus",
    )
    rc2 = job_main(["drift", "--warehouse", wh_root, "--table", "corpus",
                    "--column", "text"])
    out2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc2 == 1 and out2["alert"] is True and out2["tv"] == 1.0
    assert out2["n_ref"] == 50 and out2["n_cur"] == 10

"""CLI driver — the spark-submit entry point (BASELINE.json:14).

Cluster usage (multi-executor):

    python -m zipfile -c watchman_spark.zip watchman_spark/
    spark-submit --py-files watchman_spark.zip job.py run \\
        --warehouse s3://bucket/wh --parallelism 2048 --buckets 1024

Local smoke:

    python job.py synth --warehouse /tmp/wh --n-convs 2000
    python job.py run   --warehouse /tmp/wh
    python job.py status --warehouse /tmp/wh
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from .config import PipelineConfig
from .metrics import RunMetrics
from .plans.pipeline import run_pipeline
from .session import get_spark
from .sources import checkpoint as ckpt
from .sources.warehouse import ParquetWarehouse
from .synth import SynthParams, role_dim, synth_transcripts, tool_dim


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--warehouse", required=True)
    p.add_argument("--master", default=None, help="override master (default: spark-submit's)")
    p.add_argument("--parallelism", type=int, default=None, help="shuffle partitions")


def _session(args):
    extra = {}
    if args.parallelism:
        extra["spark.sql.shuffle.partitions"] = str(args.parallelism)
    return get_spark("watchman-job", master=args.master, extra_conf=extra)


def cmd_synth(args) -> int:
    spark = _session(args)
    wh = ParquetWarehouse(args.warehouse)
    params = SynthParams(seed=args.seed, n_convs=args.n_convs, C=args.C, hot_cap=args.hot_cap)
    wh.write_append(synth_transcripts(spark, params), "transcripts")
    wh.write_append(role_dim(spark), "role_dim")
    wh.write_append(tool_dim(spark), "tool_dim")
    print(json.dumps({"transcripts": wh.table_rows("transcripts")}))
    return 0


def cmd_run(args) -> int:
    spark = _session(args)
    from .config import DEFAULT_PATTERNS, DEFAULT_ROUTES, DEFAULT_SINK, load_config

    patterns, routes, default_sink = (
        load_config(args.patterns)
        if args.patterns
        else (DEFAULT_PATTERNS, DEFAULT_ROUTES, DEFAULT_SINK)
    )
    cfg = PipelineConfig(
        warehouse=args.warehouse,
        patterns=patterns,
        routes=routes,
        default_sink=default_sink,
        n_buckets=args.buckets,
        run_id=args.run_id,
        max_buckets_per_run=args.max_buckets,
    )
    m: RunMetrics = run_pipeline(
        spark, cfg, metrics_path=f"{args.warehouse}/metrics/{args.run_id}.json"
    )
    print(json.dumps(m.to_dict()))
    return 0


def cmd_status(args) -> int:
    spark = _session(args)
    wh = ParquetWarehouse(args.warehouse)
    done = sorted(ckpt.committed_buckets(spark, wh))
    out = {
        "committed_buckets": done,
        # every committed table, so custom-route sinks show up too
        "tables": {
            t: {"snapshot": wh.snapshot(t), "rows": wh.table_rows(t)}
            for t in wh.tables()
        },
    }
    print(json.dumps(out, indent=1))
    return 0


def cmd_audit(args) -> int:
    """Run the pipeline invariant audits against a warehouse: routed-row
    equality (both directions), sink disjointness, and the per-turn
    text-equality digest audit — all distributed, counters-only on the
    driver (safe at 10^12-turn scale)."""
    from .operators import invariants as inv

    spark = _session(args)
    wh = ParquetWarehouse(args.warehouse)
    out = {
        "routed_row_equality": inv.routed_row_equality(spark, wh),
        "sinks_disjoint": inv.sinks_disjoint(spark, wh),
        "text_equality": inv.text_equality_audit(spark, wh),
    }
    ok = (
        out["routed_row_equality"] == {"missing_from_sinks": 0, "extra_in_sinks": 0}
        and out["sinks_disjoint"]
        and out["text_equality"] == {"missing": 0, "extra": 0, "mismatched": 0}
    )
    out["ok"] = ok
    print(json.dumps(out))
    return 0 if ok else 1


def cmd_dedup(args) -> int:
    """Corpus dedup as an operational job: pair generation (exact /
    minhash-LSH / ngram-jaccard) → connected-component resolution →
    canonical keep/drop set, committed to the warehouse as
    ``dedup_components`` (id, component_id, keep). Exit prints group and
    drop counts; singleton documents are implicitly kept (absent from the
    table == no duplicate)."""
    from pyspark.sql import functions as F

    from .operators.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        resolve_components,
    )

    spark = _session(args)
    wh = ParquetWarehouse(args.warehouse)
    df = spark.read.parquet(args.input)
    if args.method == "exact":
        groups = exact_dedup(df, key_cols=[args.text_col], id_col=args.id_col)
        dup_groups = groups.filter(F.col("dup_n") > 1).count()
        n_dropped = (
            groups.agg(F.sum(F.col("dup_n") - 1).alias("d")).collect()[0]["d"] or 0
        )
        wh.write_append(groups, "dedup_exact_groups", lineage={"run_id": args.run_id})
        print(json.dumps({"method": "exact", "dup_groups": dup_groups,
                          "dropped": int(n_dropped)}))
        return 0
    if args.method == "minhash":
        pairs = minhash_lsh_pairs(
            df, id_col=args.id_col, text_col=args.text_col,
            k=args.shingle_k, threshold=args.threshold,
        )
    else:  # jaccard
        pairs = ngram_jaccard_pairs(
            df, id_col=args.id_col, text_col=args.text_col,
            k=args.shingle_k, threshold=args.threshold,
        )
    comps = resolve_components(pairs)
    wh.write_append(comps, "dedup_components", lineage={"run_id": args.run_id})
    stats = comps.agg(
        F.count(F.lit(1)).alias("in_components"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1)).alias("dropped"),
        F.count_distinct("component_id").alias("components"),
    ).collect()[0]
    print(json.dumps({"method": args.method,
                      "in_components": stats["in_components"],
                      "components": stats["components"],
                      "dropped": int(stats["dropped"] or 0)}))
    return 0


def cmd_ingest(args) -> int:
    """Incremental NEAR-DUP corpus ingestion as an operational job: the
    batch is LSH-checked against the warehouse's MinHash signature ledger
    (+ itself), survivors are appended to the corpus table and their
    signatures to the ledger — the corpus text is never re-scanned, and
    replaying the same batch is a no-op (0 appended).

    Each call is one epoch of ``--run-id`` through streaming's
    ``ingest_batch``, so the CLI shares its exactly-once path: a fresh call
    takes the run's next epoch. If the last epoch's corpus append committed
    but its ledger append did not (a crash between the two), a rerun
    completes that interrupted epoch instead and does NOT ingest the new
    input (``"reconciled": true``); run the command again to ingest it."""
    from .operators.dedup import sig_ledger_table
    from .streaming.stream import committed_epochs, ingest_batch

    spark = _session(args)
    wh = ParquetWarehouse(args.warehouse)
    batch = spark.read.parquet(args.input)
    ledger_table = sig_ledger_table(args.corpus_table)
    epochs = committed_epochs(wh, args.run_id, [args.corpus_table, ledger_table])
    last = max(epochs, default=-1)
    epoch = last if last >= 0 and ledger_table not in epochs[last] else last + 1
    out = ingest_batch(
        spark, wh, batch, epoch, args.run_id, args.corpus_table, args.id_col,
        args.text_col, k=args.shingle_k, threshold=args.threshold,
    )
    print(json.dumps({
        "batch_rows": batch.count(),
        **out,
        "corpus_rows": wh.table_rows(args.corpus_table),
        "ledger_rows": wh.table_rows(ledger_table),
    }))
    return 0


def cmd_index(args) -> int:
    """Build and persist an IVF ANN index as an operational job ("build
    once, search many"): trains centroids over the corpus, assigns every
    vector to its bucket, and commits <name>_centroids + <name>_assigned
    warehouse tables with build-parameter lineage. Search jobs load them
    via similarity.ivf_index_load and never retrain."""
    from .operators.similarity import ivf_index_build

    spark = _session(args)
    wh = ParquetWarehouse(args.warehouse)
    df = spark.read.parquet(args.input)
    info = ivf_index_build(
        spark, wh, df, name=args.name,
        n_centroids=args.n_centroids, train_iters=args.iters,
        id_col=args.id_col, vec_col=args.vec_col,
    )
    print(json.dumps({"name": args.name, **info}))
    return 0


def cmd_drift(args) -> int:
    """Distribution-drift monitor as an operational job: compare the rows
    appended after --from-snapshot (default: the newest commit) against
    the corpus as of that snapshot on one column's distribution. String
    columns are compared by length. Prints TV distance + PSI and exits 1
    when TV >= --threshold — the ingest-loop gate that catches a bad
    upstream batch (truncated docs, a source gone degenerate) before it
    pollutes the corpus."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    from .operators import drift

    spark = _session(args)
    wh = ParquetWarehouse(args.warehouse)
    snap = wh.snapshot(args.table)
    frm = args.from_snapshot if args.from_snapshot is not None else snap - 1
    if frm < 1 or snap <= frm:
        # first ingest (no reference) or nothing new: nothing to compare —
        # a monitor must say so, not crash on an empty snapshot read
        print(json.dumps({
            "table": args.table, "ref_snapshot": frm, "cur_snapshot": snap,
            "alert": False, "note": "no reference/current slice to compare",
        }))
        return 0
    ref = wh.read(spark, args.table, snapshot=frm)
    cur = wh.read(spark, args.table, snapshot=snap, from_snapshot=frm)
    col = F.col(args.column)
    if isinstance(ref.schema[args.column].dataType, StringType):
        col = F.length(col)
    bins = drift.drift_bins(ref, cur, col, args.bin_width)
    tv_row = drift.total_variation(bins).collect()[0]
    psi_val = drift.psi(bins).collect()[0]["psi"]
    out = {
        "table": args.table,
        "column": args.column,
        "ref_snapshot": frm,
        "cur_snapshot": snap,
        "n_ref": tv_row["n_ref_total"],
        "n_cur": tv_row["n_cur_total"],
        "tv": tv_row["tv"],
        "psi": round(psi_val, 6),
        "alert": bool(tv_row["tv"] >= args.threshold),
    }
    print(json.dumps(out))
    return 1 if out["alert"] else 0


def cmd_profile(args) -> int:
    """Column data-quality profile as an operational job: per-column row/
    null/distinct counts and min/max over a warehouse table's current
    snapshot — the schema-level ingest gate next to the distribution
    `drift` gate (drift sees shape changes in one statistic; this catches
    an all-null column or a collapsed key space). Exits 1 when any
    profiled column's null fraction is at/above --max-null-frac."""
    from .operators.drift import profile_columns

    spark = _session(args)
    wh = ParquetWarehouse(args.warehouse)
    df = wh.read(spark, args.table)
    cols = args.columns.split(",") if args.columns else list(df.columns)
    rows = [r.asDict() for r in profile_columns(df, cols).collect()]
    alert = False
    if args.max_null_frac is not None:
        for r in rows:
            r["null_alert"] = bool(
                r["n"] > 0 and r["n_null"] / r["n"] >= args.max_null_frac
            )
            alert = alert or r["null_alert"]
    print(json.dumps({"table": args.table, "columns": rows, "alert": alert}))
    return 1 if alert else 0


def cmd_templates(args) -> int:
    """Log-template inventory monitor as an operational job: mask
    --text-col down to templates (operators/textstats.log_template), diff
    the inventory against the committed template ledger, append any NOVEL
    templates with the snapshot where they first appeared, and exit 1
    when more novel templates show up than --max-novel allows. The ledger
    makes the monitor incremental and replay-safe: the first run
    baselines (appends everything, never alerts), re-running on an
    unchanged table appends nothing, and the next ingest's new error
    shape trips the gate before anyone greps raw logs. A tripped gate
    does NOT append — the alert persists across reruns until an operator
    acknowledges with --ack (a CI retry must not silently clear it). The
    templates exchange carries n_templates rows; the raw text never
    shuffles."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from .operators.textstats import log_template

    spark = _session(args)
    wh = ParquetWarehouse(args.warehouse)
    snap = wh.snapshot(args.table)
    df = wh.read(spark, args.table, snapshot=snap)
    inv = (
        df.select(log_template(F.col(args.text_col)).alias("template"))
        .groupBy("template")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ledger_table = f"{args.table}_template_ledger"
    baseline = wh.snapshot(ledger_table) == 0
    known = wh.read(
        spark, ledger_table,
        schema=StructType.fromDDL("template string, first_snapshot bigint"),
    )
    novel = inv.join(known.select("template"), "template", "left_anti").persist()
    n_novel = novel.count()
    sample = novel.orderBy(F.col("n").desc(), "template").limit(20).collect()
    alert = (not baseline) and n_novel > args.max_novel
    # a TRIPPED gate must persist until acknowledged: appending
    # the novel templates on the alerting run would make any blind rerun
    # (CI retry, cron) exit 0 with nobody having looked. The append happens
    # on clean runs and baselines; --ack commits the novel set despite the
    # alert (the operator has reviewed it), after which reruns are quiet.
    if n_novel and (not alert or args.ack):
        wh.write_append(
            novel.select(
                "template", F.lit(snap).cast("long").alias("first_snapshot")
            ),
            ledger_table,
            lineage={"source_snapshot": snap},
        )
    novel.unpersist()
    print(json.dumps({
        "table": args.table,
        "snapshot": snap,
        "n_templates": inv.count(),
        "n_novel": n_novel,
        "baseline": baseline,
        "novel_sample": [
            {"template": r["template"], "n": r["n"]} for r in sample
        ],
        "alert": alert,
    }))
    return 1 if alert else 0


def cmd_compact(args) -> int:
    """Small-file compaction as an operational job: rewrite a table's live
    data dirs into one compact layout (replace commit; row count verified
    from footers before the commit lands), optionally expiring superseded
    snapshots afterward to reclaim the old dirs. At a production ingest
    cadence this is the periodic maintenance pass that keeps scan file
    counts flat no matter how many appends the log accumulates."""
    spark = _session(args)
    wh = ParquetWarehouse(args.warehouse)
    before = len(wh._effective(wh.commits(args.table)))
    meta = wh.compact(
        spark,
        args.table,
        partition_by=args.partition_by.split(",") if args.partition_by else None,
        target_partitions=args.target_partitions,
        sort_by=args.sort_by.split(",") if args.sort_by else None,
        stats_cols=args.stats_cols.split(",") if args.stats_cols else None,
    )
    expired = []
    if args.expire:
        expired = wh.expire_snapshots(args.table, meta["id"])
    print(json.dumps({
        "table": args.table,
        "commits_before": before,
        "commit": meta["id"],
        "rows": meta["rows"],
        "expired_dirs": len(expired),
    }))
    return 0


def cmd_vacuum(args) -> int:
    """Orphan-file cleanup as an operational job (remove_orphan_files
    analogue): reclaim data dirs a crashed writer staged but never
    committed. Driver-only metadata + filesystem work; no Spark session
    is started. The grace period protects in-flight writers."""
    wh = ParquetWarehouse(args.warehouse)
    removed = wh.remove_orphans(args.table, older_than_s=args.older_than)
    print(json.dumps({
        "table": args.table,
        "removed_orphan_dirs": len(removed),
        "paths": [os.path.relpath(p, args.warehouse) for p in removed],
    }))
    return 0


def cmd_sql(args) -> int:
    from .sql import sql as run_sql

    spark = _session(args)
    wh = ParquetWarehouse(args.warehouse)
    rows = run_sql(spark, wh, args.query).limit(args.limit).collect()
    print(json.dumps([r.asDict() for r in rows], default=str, indent=1))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="watchman-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    ps = sub.add_parser("synth", help="generate deterministic transcript fixture")
    _add_common(ps)
    ps.add_argument("--seed", type=int, default=42)
    ps.add_argument("--n-convs", type=int, default=2_000)
    ps.add_argument("--C", type=int, default=50_000)
    ps.add_argument("--hot-cap", type=int, default=25_000)
    ps.set_defaults(fn=cmd_synth)

    pr = sub.add_parser("run", help="run the batch pipeline (resumable)")
    _add_common(pr)
    pr.add_argument("--buckets", type=int, default=32)
    pr.add_argument(
        "--patterns",
        default=None,
        help="JSON config file: grok pattern registry + optional routing "
        "rules (default: built-in DEFAULT_PATTERNS / DEFAULT_ROUTES)",
    )
    pr.add_argument("--run-id", default="run-0")
    pr.add_argument("--max-buckets", type=int, default=None)
    pr.set_defaults(fn=cmd_run)

    pst = sub.add_parser("status", help="warehouse snapshot/ledger status")
    _add_common(pst)
    pst.set_defaults(fn=cmd_status)

    pa_ = sub.add_parser("audit", help="distributed invariant audits (exit 1 on violation)")
    _add_common(pa_)
    pa_.set_defaults(fn=cmd_audit)

    pd_ = sub.add_parser("dedup", help="corpus dedup: pairs → components → keep set")
    _add_common(pd_)
    pd_.add_argument("--input", required=True, help="parquet path of the corpus")
    pd_.add_argument("--id-col", default="doc_id")
    pd_.add_argument("--text-col", default="text")
    pd_.add_argument("--method", choices=["exact", "minhash", "jaccard"],
                     default="minhash")
    pd_.add_argument("--threshold", type=float, default=0.8)
    pd_.add_argument("--shingle-k", type=int, default=8)
    pd_.add_argument("--run-id", default="dedup-0")
    pd_.set_defaults(fn=cmd_dedup)

    pg = sub.add_parser(
        "ingest", help="near-dup-deduped corpus ingestion via the signature ledger"
    )
    _add_common(pg)
    pg.add_argument("--input", required=True, help="parquet path of the new batch")
    pg.add_argument("--corpus-table", default="corpus")
    pg.add_argument("--id-col", default="doc_id")
    pg.add_argument("--text-col", default="text")
    pg.add_argument("--shingle-k", type=int, default=8)
    pg.add_argument("--threshold", type=float, default=0.8)
    pg.add_argument("--run-id", default="ingest-0")
    pg.set_defaults(fn=cmd_ingest)

    pi = sub.add_parser("index", help="build + persist an IVF ANN index")
    _add_common(pi)
    pi.add_argument("--input", required=True, help="parquet path of the corpus")
    pi.add_argument("--name", default="ann_ivf")
    pi.add_argument("--id-col", default="vec_id")
    pi.add_argument("--vec-col", default="embedding")
    pi.add_argument("--n-centroids", type=int, default=16)
    pi.add_argument("--iters", type=int, default=1)
    pi.set_defaults(fn=cmd_index)

    pdr = sub.add_parser(
        "drift", help="distribution drift of new commits vs the prior corpus"
    )
    pdr.add_argument("--table", required=True)
    pdr.add_argument("--column", required=True,
                     help="numeric column, or string column (compared by length)")
    pdr.add_argument("--from-snapshot", type=int, default=None,
                     dest="from_snapshot")
    pdr.add_argument("--bin-width", type=int, default=50, dest="bin_width")
    pdr.add_argument("--threshold", type=float, default=0.25,
                     help="TV distance at or above this exits 1")
    _add_common(pdr)
    pdr.set_defaults(fn=cmd_drift)

    ppf = sub.add_parser(
        "profile", help="per-column data-quality profile of a warehouse table"
    )
    ppf.add_argument("--table", required=True)
    ppf.add_argument("--columns", default=None,
                     help="comma-separated columns (default: all)")
    ppf.add_argument("--max-null-frac", type=float, default=None,
                     dest="max_null_frac",
                     help="exit 1 if any column's null fraction >= this")
    _add_common(ppf)
    ppf.set_defaults(fn=cmd_profile)

    ptm = sub.add_parser(
        "templates",
        help="log-template inventory monitor (alert on novel templates)",
    )
    ptm.add_argument("--table", required=True)
    ptm.add_argument("--text-col", default="text", dest="text_col")
    ptm.add_argument("--max-novel", type=int, default=0, dest="max_novel",
                     help="exit 1 if more than this many novel templates "
                          "appear (after the baseline run)")
    ptm.add_argument("--ack", action="store_true",
                     help="acknowledge a tripped gate: commit the novel "
                          "templates to the ledger even while alerting, so "
                          "the NEXT run is quiet (without it the alert "
                          "persists across reruns)")
    _add_common(ptm)
    ptm.set_defaults(fn=cmd_templates)

    pc = sub.add_parser(
        "compact", help="rewrite a table's small files into one compact layout"
    )
    pc.add_argument("--table", required=True)
    pc.add_argument("--partition-by", default=None, dest="partition_by",
                    help="comma-separated re-layout columns")
    pc.add_argument("--target-partitions", type=int, default=None,
                    dest="target_partitions")
    pc.add_argument("--sort-by", default=None, dest="sort_by",
                    help="comma-separated sort-cluster keys (range-"
                         "partitioned + sorted files: cluster-then-prune)")
    pc.add_argument("--stats-cols", default=None, dest="stats_cols",
                    help="comma-separated columns whose per-file bounds are "
                         "recorded for read_pruned file skipping")
    pc.add_argument("--expire", action="store_true",
                    help="reclaim superseded data dirs after compacting")
    _add_common(pc)
    pc.set_defaults(fn=cmd_compact)

    pv = sub.add_parser(
        "vacuum", help="reclaim orphan data dirs left by crashed writers"
    )
    pv.add_argument("--table", required=True)
    pv.add_argument("--older-than", type=float, default=86400.0,
                    dest="older_than",
                    help="grace period in seconds (default 1 day): younger "
                         "dirs are assumed in-flight and kept")
    _add_common(pv)
    pv.set_defaults(fn=cmd_vacuum)

    pq = sub.add_parser("sql", help="run Spark SQL over the warehouse tables")
    _add_common(pq)
    pq.add_argument("--query", required=True)
    pq.add_argument("--limit", type=int, default=100)
    pq.set_defaults(fn=cmd_sql)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())

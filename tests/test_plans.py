"""Physical-plan assertions: the optimizations we rely on must actually be
in the plan, not just intended (SURVEY.md §4). Guards against regressions
that stay correct but lose pushdown/broadcast/partial-agg at scale."""

from __future__ import annotations

import contextlib

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"
QUERIES = entrymod.queries()


def plan_of(spark, name: str) -> str:
    df = QUERIES[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_pushdown(spark):
    plan = plan_of(spark, "scan_parquet")
    assert "PushedFilters: [" in plan and "l_quantity" in plan.split("PushedFilters")[1][:120]
    # column pruning: text-heavy columns absent from ReadSchema
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "l_extendedprice" not in read_schema


def test_broadcast_join_is_broadcast(spark):
    plan = plan_of(spark, "join_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semi_anti_join_forms(spark):
    assert "LeftSemi" in plan_of(spark, "join_semi")
    assert "LeftAnti" in plan_of(spark, "join_anti")


def test_partial_final_aggregation(spark):
    # two-phase agg: map-side partial before the exchange
    plan = plan_of(spark, "agg_rollup_crt")
    assert plan.count("HashAggregate") >= 2


def test_salted_agg_two_stage(spark):
    plan = plan_of(spark, "agg_salted")
    # stage 1 groups by (key, salt); stage 2 by key — at least 2 aggregates
    assert plan.count("HashAggregate") >= 2
    assert "xxhash64" in plan


def test_topk_is_take_ordered(spark):
    plan = plan_of(spark, "sort_limit_topk")
    assert "TakeOrderedAndProject" in plan


def test_jvm_parse_stays_in_codegen(spark):
    from watchman_spark.operators.parse import with_parsed
    from watchman_spark.operators.route import with_sink

    df = spark.read.parquet(f"{SF}/documents.parquet").withColumnRenamed("text", "text")
    plan = (
        with_sink(with_parsed(df, engine="jvm"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # '*(n)' prefixes mark whole-stage-codegen'd operators in this format
    assert "*(1)" in plan


def test_pandas_parse_is_arrow_not_row_python(spark):
    from watchman_spark.operators.parse import with_parsed

    df = spark.read.parquet(f"{SF}/documents.parquet")
    plan = with_parsed(df, engine="pandas")._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan  # vectorized
    assert "BatchEvalPython" not in plan  # never row-at-a-time Python


def test_agg_readback_prunes_columns(spark, tmp_path):
    """The post-write aggregate jobs must stay column-pruned (the round-3
    agg rewrite's scale contract): the distinct-convs job's parquet scan
    reads ONLY conv_id as a data column ('sink' is a hive partition dir),
    and the rollup scan must not read the text-heavy columns."""
    from pyspark.sql import functions as F

    from watchman_spark.config import PipelineConfig
    from watchman_spark.plans.pipeline import run_pipeline
    from watchman_spark.schema import TRANSCRIPT_SCHEMA
    from watchman_spark.sources.warehouse import ParquetWarehouse
    from watchman_spark.synth import SynthParams, role_dim, synth_transcripts, tool_dim

    root = str(tmp_path / "wh")
    wh = ParquetWarehouse(root)
    wh.write_append(
        synth_transcripts(spark, SynthParams(seed=3, n_convs=20, C=120, hot_cap=40)),
        "transcripts",
    )
    cfg = PipelineConfig(warehouse=root, n_buckets=4, run_id="prune")
    run_pipeline(spark, cfg, role_dim=role_dim(spark), tool_dim=tool_dim(spark))

    # reproduce the two read-back plans against a committed sink table (the
    # staged tree is gone after the run; same schema, same pruning behavior)
    sink = wh.read(spark, "sink_conversational")
    plan = (
        sink.select("conv_id").distinct()
        ._jdf.queryExecution().executedPlan().toString()
    )
    read_schema = plan.split("ReadSchema")[1][:300] if "ReadSchema" in plan else plan
    assert "conv_id" in read_schema
    assert "text" not in read_schema and "error_msg" not in read_schema

    rollup_plan = (
        sink.groupBy("conv_id", "role", "tool")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("latency_ms").alias("s"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    rs = rollup_plan.split("ReadSchema")[1][:400] if "ReadSchema" in rollup_plan else rollup_plan
    assert "text" not in rs and "error_msg" not in rs


def test_pipeline_single_exchange(spark, tmp_path):
    """The routed write's plan — the one run_pipeline and route_batch
    write — has exactly one all-to-all exchange (the conv_bucket
    repartition with its sub-split key: S=4 at 4 buckets on local[4])
    plus the broadcast exchanges for dims."""
    import re

    from watchman_spark.config import PipelineConfig
    from watchman_spark.operators.route import with_conv_bucket
    from watchman_spark.plans.pipeline import StagedWrite
    from watchman_spark.schema import TRANSCRIPT_SCHEMA
    from watchman_spark.synth import SynthParams, role_dim, synth_transcripts, tool_dim

    src = str(tmp_path / "t.parquet")
    synth_transcripts(spark, SynthParams(seed=1, n_convs=10, C=50, hot_cap=20)).write.parquet(src)
    df = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(src)
    cfg = PipelineConfig(warehouse="/unused", n_buckets=4)
    keyed = with_conv_bucket(df, cfg.n_buckets)
    plan = (
        StagedWrite(keyed, cfg, cfg.run_id, role_dim(spark), tool_dim(spark))
        .plan._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    shuffles = re.findall(r"Exchange hashpartitioning", plan)
    assert len(shuffles) == 1, plan[:500]
    assert plan.count("BroadcastExchange") == 2
    assert re.search(
        r"Exchange hashpartitioning\(conv_bucket#\d+, "
        r"pmod\(xxhash64\(1, conv_id#\d+, 42\), 4\), 16\)",
        plan,
    ), plan[:500]


def test_flagship_builds_prefix_only(spark):
    """pipeline_per_sink aggregates ``tag``'s map-side prefix: its own
    two-phase aggregate exchanges are the only shuffles, with no bucket
    repartition in front (plans/r06/pipeline_per_sink_after.txt)."""
    plan = plan_of(spark, "pipeline_per_sink")
    assert plan.count("Exchange hashpartitioning") == 2, plan[:800]


def test_knn_join_no_cartesian_and_windowed(spark):
    """Batch kNN: the candidate join must be a bucket equi-join (never a
    cartesian/broadcast-nested-loop over the corpus) feeding one window —
    the shape that survives a 100x corpus."""
    plan = plan_of(spark, "ann_knn_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan  # per-query row_number top-k


def test_dedup_resolve_checkpointed_iterations(spark):
    """Connected components: the executed plan of the converged result must
    be lineage-truncated (localCheckpoint scan), NOT a tower of iteration
    self-joins — the property that keeps planning O(1) in iteration count."""
    plan = plan_of(spark, "dedup_resolve")
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan
    # the final plan joins nothing: it is a projection over the checkpoint
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_resolve_edge_build_single_exchange_single_scan(spark):
    """r6: the symmetrized-edge build (a) reads the pair plan ONCE — the
    two directions come from an explode, not a union whose branches would
    each re-execute the full pair-generation subplan — and (b) shuffles
    ONCE: repartition(n, "src") then dropDuplicates(["src","dst"]) —
    HashPartitioning(src) satisfies the (src, dst) dedup clustering (src
    is a subset of the keys), so the aggregate adds no second exchange.
    The old unionByName + distinct().repartition() shape did both twice."""
    from pyspark.sql import functions as F

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    n_parts = spark.sparkContext.defaultParallelism
    deduped = edges.repartition(n_parts, "src").dropDuplicates(["src", "dst"])
    plan = deduped._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Scan ExistingRDD") == 1, plan  # pair plan read once


def _plan_children(node):
    """Child plan nodes, looking through AQE's wrapper and its shuffle
    stages. A stage over a cached table is a leaf here."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    if name.endswith("QueryStage") and name != "TableCacheQueryStage":
        return [node.plan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _reshuffled_cache_reads(plan, key: str) -> list[str]:
    """Exchanges hash-partitioned on ``key`` whose input is a cached-table
    scan through narrow operators only: places where a reader re-shuffled
    a cached table instead of reusing its partitioning. Also searches the
    plans that built the cached tables ``plan`` reads."""
    hits = []

    def reads_cache(node) -> bool:
        name = node.nodeName()
        if name in ("TableCacheQueryStage", "InMemoryTableScan"):
            return True
        if any(s in name for s in ("Join", "Aggregate", "Exchange", "QueryStage", "Window")):
            return False
        return any(reads_cache(c) for c in _plan_children(node))

    def walk(node):
        if node.nodeName() == "TableCacheQueryStage":
            node = node.plan()
        if node.nodeName() == "InMemoryTableScan":
            walk(node.relation().cachedPlan())
            return
        text = node.simpleString(100)
        if text.startswith(f"Exchange hashpartitioning({key}#") and any(
            reads_cache(c) for c in _plan_children(node)
        ):
            hits.append(text)
        for child in _plan_children(node):
            walk(child)

    walk(plan)
    return hits


@contextlib.contextmanager
def _broadcast_joins_off(spark):
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _record_checkpointed_plans(monkeypatch) -> list:
    """Collect the final physical plan of every localCheckpoint'ed frame."""
    from pyspark.sql.classic.dataframe import DataFrame

    plans = []
    checkpoint = DataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        out = checkpoint(self, *args, **kwargs)
        plans.append(self._jdf.queryExecution().executedPlan())
        return out

    monkeypatch.setattr(DataFrame, "localCheckpoint", recording)
    return plans


def test_resolve_iterations_reuse_edge_partitioning(spark, monkeypatch):
    """Every label-propagation iteration joins the cached edge table
    through its own HashPartitioning(src, n): no Exchange between the
    SortMergeJoin and the cache scan, even with broadcast joins off. AQE
    may resize a cached plan's last stage (session.py), so this holds only
    because the edge table is repartitioned to an explicit count."""
    from watchman_spark.operators.dedup import resolve_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "id_a long, id_b long"
    )
    plans = _record_checkpointed_plans(monkeypatch)
    with _broadcast_joins_off(spark):
        resolve_components(chain).collect()
    iterations = [p for p in plans if "SortMergeJoin" in p.toString()]
    assert len(iterations) >= 2, len(iterations)
    for plan in iterations:
        assert not _reshuffled_cache_reads(plan, "src"), plan.toString()


def _record_persisted(monkeypatch) -> list:
    """Collect every DataFrame that is persisted while the patch is on."""
    from pyspark.sql.classic.dataframe import DataFrame

    frames = []
    persist = DataFrame.persist

    def recording(self, *args, **kwargs):
        frames.append(self)
        return persist(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "persist", recording)
    return frames


def _cached_partitions(spark, df) -> int:
    """Partition count of the cache entry that holds ``df``."""
    entry = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    assert entry.isDefined(), df.columns
    relation = entry.get().cachedRepresentation()
    return relation.cacheBuilder().cachedColumnBuffers().getNumPartitions()


def test_cached_intermediates_sized_by_aqe(spark, monkeypatch):
    """AQE sizes persisted plans from their bytes: the signature table and
    the drift bins hold fewer partitions than spark.sql.shuffle.partitions.
    The edge table keeps its explicit defaultParallelism count."""
    spark.catalog.clearCache()
    persisted = _record_persisted(monkeypatch)
    for name in ("dedup_lsh_clusters", "drift_doclen_tv"):
        QUERIES[name](spark, SF).write.format("noop").mode("overwrite").save()

    def partitions(is_table) -> int:
        found = [_cached_partitions(spark, df) for df in persisted if is_table(df.columns)]
        assert len(found) == 1, [df.columns for df in persisted]
        return found[0]

    try:
        shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert partitions(lambda c: c == ["id", "sig"]) < shuffle_parts
        assert partitions(lambda c: "n_ref" in c and "n_cur" in c) < shuffle_parts
        edges = partitions(lambda c: c == ["src", "dst"])
        assert edges == spark.sparkContext.defaultParallelism
    finally:
        spark.catalog.clearCache()


def test_retention_single_scan_no_self_join(spark):
    """r6: cohort retention reads the events table ONCE — cohort_day is a
    window min over the key-repartitioned distinct (key, day) set, not a
    groupBy-min joined back against a second distinct scan."""
    plan = plan_of(spark, "events_retention")
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") <= 4, plan


def test_contamination_is_equi_join(spark):
    """Decontamination joins test shingles against the distinct train
    vocabulary with a hash/sort-merge EQUI-join — linear, no cartesian."""
    plan = plan_of(spark, "text_decontaminate")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_stuck_sessions_single_exchange(spark):
    """Window (partitionBy user_id) and the following groupBy(user_id)
    must share ONE hash exchange — the aggregate reuses the window's
    partitioning instead of reshuffling the event stream twice."""
    import re

    plan = plan_of(spark, "alert_stuck_sessions")
    shuffles = re.findall(r"Exchange hashpartitioning", plan)
    assert len(shuffles) == 1, plan[:800]
    assert "Window" in plan


def test_grouping_sets_single_expand_pass(spark):
    """GROUPING SETS must compile to ONE aggregate pass (map-side Expand
    into the set combinations + a single partial/final exchange), never a
    union of per-set jobs."""
    import re

    plan = plan_of(spark, "agg_grouping_sets")
    assert "Expand" in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan[:800]


def test_pivot_two_phase_no_extra_job(spark):
    """Pivot with explicit values: Spark's two-phase shape — a partial
    aggregate over (group, pivot) keys feeding a pivotfirst aggregate.
    The FULL-data pass crosses one exchange; the second exchange carries
    only pre-aggregated group rows. No union fan-out, and no extra
    distinct-discovery job (values were explicit)."""
    import re

    plan = plan_of(spark, "agg_pivot")
    assert "pivotfirst" in plan
    assert "partial_sum" in plan  # map-side combine before the data shuffle
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2, plan[:800]
    assert "Union" not in plan


def test_ingest_neardup_candidate_join_linear(spark):
    """Incremental near-dup ingest: the batch->ledger candidate step must
    be a (band, digest) EQUI-join — each batch band row meets at most
    max_bucket ledger rows, so per-batch work is linear in batch size —
    never a cartesian/nested-loop over the ledger, and the verify joins
    stay equi-joins on ids."""
    from watchman_spark.operators.dedup import _ingest_matches, minhash_signatures

    batch = spark.createDataFrame(
        [(i, f"word{i} alpha beta gamma delta epsilon zeta") for i in range(6)],
        ["doc_id", "text"],
    )
    ledger = spark.createDataFrame(
        [(100 + i, [i * 7 + j for j in range(32)]) for i in range(4)],
        "id long, sig array<bigint>",
    )
    sigs = minhash_signatures(batch, "doc_id", "text", k=3, n_hashes=32)
    corpus_matches, batch_pairs = _ingest_matches(
        sigs, ledger, n_hashes=32, bands=8, threshold=0.5, max_bucket=500,
        portable=False,
    )
    for df in (corpus_matches, batch_pairs):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize(
    "name",
    ["dedup_minhash_lsh", "dedup_minhash_lsh_portable", "dedup_simhash",
     "dedup_ngram_jaccard"],
)
def test_candidate_self_join_is_equi_join(spark, name):
    # every dedup candidate generator is a bucket-key equi-join (a.id < b.id
    # is only an extra condition), never a cartesian or nested loop
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _assert_splits_once(spark, name):
    # the k-grams read a staged words column; an inline split(text) would
    # be copied into each gram's element_at (or slice) lookup, O(words²)
    # per doc
    plan = QUERIES[name](spark, SF)._jdf.queryExecution().optimizedPlan().toString()
    assert "element_at(split(" not in plan, plan
    assert "slice(split(" not in plan, plan


def test_fingerprint_splits_each_document_once(spark):
    _assert_splits_once(spark, "text_fingerprint")


def test_repetition_splits_each_document_once(spark):
    _assert_splits_once(spark, "text_repetition")


def test_log_templates_single_exchange_partial_agg(spark):
    # masking is map-side JVM regex (a Project directly over the scan);
    # the exact n_users distinct expands to Spark's standard two-level
    # distinct aggregate — exchange 1 carries (template, user) partials,
    # exchange 2 the per-template rows — so ≤2 exchanges, both over
    # already-reduced data, and no Python boundary anywhere.
    plan = plan_of(spark, "log_templates")
    assert plan.count("Exchange") <= 2, plan
    assert plan.count("HashAggregate") >= 2
    assert "regexp_replace" in plan.split("Exchange")[-1], (
        "masking must run below the first exchange (map-side)"
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_volume_anomaly_window_over_aggregate(spark):
    # the per-key ROWS window must sort the HOURLY AGGREGATE (n_keys ×
    # n_hours rows), never raw events: exactly one wide exchange for the
    # (key, hour) group-by plus the window's key re-partition of the tiny
    # aggregate — and the Window operator sits above a HashAggregate.
    plan = plan_of(spark, "alert_volume_anomaly")
    assert plan.count("Exchange") <= 2, plan
    assert "Window" in plan
    assert plan.index("Window") < plan.index("HashAggregate"), (
        "window must consume the aggregate (aggregate appears below it "
        "in the printed tree)"
    )


def test_template_drift_joins_aggregated_sides(spark):
    # the full-outer bins join runs over the two template HISTOGRAMS
    # (n_templates rows each), after each side's partial→final count —
    # four HashAggregates (2 per side) feed the join, and no side joins
    # raw events.
    plan = plan_of(spark, "drift_template_tv")
    joins = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
    outer = plan.count("FullOuter")
    assert outer >= 1, plan
    # EVERY shuffled join in the plan must be the full-outer histogram
    # join — a non-outer join would mean a side joined raw events
    # (r5 advice: `joins` was computed but never asserted). The plan
    # string repeats the cached bins subtree under each
    # InMemoryTableScan, so assert the join/outer counts MATCH rather
    # than a literal count of one; the single-execution property comes
    # from the r6 persist in operators/drift.total_variation.
    assert joins == outer, plan
    assert "InMemoryTableScan" in plan, plan  # bins computed once, reused
    assert plan.count("HashAggregate") >= 4

"""Golden end-to-end: pipeline output vs analytically-derived golden counts.

These are the reference's routed-row and per-sink aggregate-count checks
(BASELINE.json:6) made executable: the generator KNOWS how many
error/tool/plain turns it emitted; the pipeline must agree exactly.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from watchman_spark.config import PipelineConfig
from watchman_spark.plans.pipeline import run_pipeline
from watchman_spark.schema import SINKS, TRANSCRIPT_SCHEMA
from watchman_spark.sources.warehouse import ParquetWarehouse
from watchman_spark.synth import compute_golden, role_dim, synth_transcripts, tool_dim


@pytest.fixture(scope="module")
def warehouse(spark, params, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("wh"))
    wh = ParquetWarehouse(root)
    wh.write_append(synth_transcripts(spark, params), "transcripts")
    wh.write_append(role_dim(spark), "role_dim")
    wh.write_append(tool_dim(spark), "tool_dim")
    cfg = PipelineConfig(warehouse=root, n_buckets=8, run_id="golden-run")
    metrics = run_pipeline(spark, cfg)
    return wh, cfg, metrics, compute_golden(params)


def test_generator_determinism(spark, params, warehouse):
    wh, *_ = warehouse
    a = wh.read(spark, "transcripts", schema=TRANSCRIPT_SCHEMA)
    b = synth_transcripts(spark, params)
    assert a.count() == params.total_rows
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_per_sink_counts_match_golden(spark, warehouse):
    wh, cfg, metrics, golden = warehouse
    assert metrics.rows_per_sink == golden["per_sink"]
    # and the committed aggregate table agrees with commit metadata
    agg = {
        r["sink"]: r["n"]
        for r in wh.read(spark, "agg_sink_counts").groupBy("sink").agg(
            F.sum("n").alias("n")
        ).collect()
    }
    assert agg == golden["per_sink"]
    assert sum(golden["per_sink"].values()) == golden["total_rows"]


def test_routed_row_equality(spark, warehouse):
    """input == union(sinks) exactly, per base columns (O5 both ways)."""
    wh, cfg, metrics, golden = warehouse
    base_cols = [f.name for f in TRANSCRIPT_SCHEMA.fields]
    inp = wh.read(spark, "transcripts", schema=TRANSCRIPT_SCHEMA).select(base_cols)
    sinks = None
    for s in SINKS:
        part = wh.read(spark, f"sink_{s}").select(base_cols)
        sinks = part if sinks is None else sinks.unionByName(part)
    assert inp.exceptAll(sinks).count() == 0
    assert sinks.exceptAll(inp).count() == 0


def test_sinks_disjoint(spark, warehouse):
    wh, *_ = warehouse
    keys = None
    total = 0
    for s in SINKS:
        part = wh.read(spark, f"sink_{s}").select("conv_id", "turn_idx")
        total += part.count()
        keys = part if keys is None else keys.unionByName(part)
    assert keys.distinct().count() == total  # no (conv_id, turn_idx) in two sinks


def test_per_role_counts(spark, warehouse):
    wh, cfg, metrics, golden = warehouse
    union = None
    for s in SINKS:
        part = wh.read(spark, f"sink_{s}").select("role")
        union = part if union is None else union.unionByName(part)
    got = {r["role"]: r["n"] for r in union.groupBy("role").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == golden["per_role"]


def test_idempotent_rerun(spark, warehouse):
    """Re-running over a fully-committed warehouse is a no-op."""
    wh, cfg, metrics, golden = warehouse
    before = {t: wh.snapshot(t) for t in ("sink_errors", "sink_tool_calls", "ledger")}
    m2 = run_pipeline(spark, cfg)
    assert m2.buckets == [] and m2.rows_in == 0
    after = {t: wh.snapshot(t) for t in before}
    assert after == before


def test_run_jobs_carry_the_callers_job_group(spark, params, tmp_path):
    """Every job of a run, the two concurrent read-back jobs included,
    runs in the caller's job group: a thread-pool thread does not inherit
    the driver thread's local properties unless its target is wrapped."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.write_append(synth_transcripts(spark, params), "transcripts")
    wh.write_append(role_dim(spark), "role_dim")
    wh.write_append(tool_dim(spark), "tool_dim")
    cfg = PipelineConfig(warehouse=wh.root, n_buckets=8, run_id="grouped")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("caller-group", "run under a caller's job group")
    try:
        m = run_pipeline(spark, cfg)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert m.rows_in == params.total_rows
    assert set(tracker.getJobIdsForGroup("caller-group"))
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()


def test_custom_routes_end_to_end(spark, tmp_path):
    """Configurable output routing (BASELINE.json:6): an operator adds a
    sink by config, not code. A 4th route peels high-latency tool calls
    into its own sink; routing stays total and exact."""
    from pyspark.sql import functions as F

    from watchman_spark.config import PipelineConfig
    from watchman_spark.operators.route import with_conv_bucket
    from watchman_spark.plans.pipeline import StagedWrite, run_pipeline
    from watchman_spark.sources.warehouse import ParquetWarehouse
    from watchman_spark.synth import SynthParams, role_dim, synth_transcripts, tool_dim

    params = SynthParams(seed=31, n_convs=50, C=300, hot_cap=100)
    root = str(tmp_path / "wh")
    wh = ParquetWarehouse(root)
    wh.write_append(synth_transcripts(spark, params), "transcripts")
    wh.write_append(role_dim(spark), "role_dim")
    wh.write_append(tool_dim(spark), "tool_dim")
    routes = (
        ("errors", "parsed.error_code IS NOT NULL"),
        ("slow_tools", "parsed.tool_name IS NOT NULL AND parsed.latency_ms > 250"),
        ("tool_calls", "parsed.tool_name IS NOT NULL"),
    )
    cfg = PipelineConfig(warehouse=root, routes=routes, n_buckets=8, run_id="routes")
    assert cfg.sink_names == ("errors", "slow_tools", "tool_calls", "conversational")
    m = run_pipeline(spark, cfg)

    # expected split computed directly from the routed logical plan
    keyed = with_conv_bucket(wh.read(spark, "transcripts"), cfg.n_buckets)
    routed = StagedWrite(keyed, cfg, cfg.run_id, role_dim(spark), tool_dim(spark)).plan
    expected = {
        r["sink"]: r["n"]
        for r in routed.groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got = {s: wh.table_rows(f"sink_{s}") for s in cfg.sink_names}
    assert {k: v for k, v in got.items() if v} == expected
    assert sum(got.values()) == m.rows_in > 0
    assert got["slow_tools"] > 0 and got["tool_calls"] > 0  # rule order honored

    # first-match semantics: no slow row ever lands in tool_calls
    slow_in_tc = (
        wh.read(spark, "sink_tool_calls").filter(F.col("latency_ms") > 250).count()
    )
    assert slow_in_tc == 0


def test_routes_json_and_validation(tmp_path):
    import json

    import pytest as _pytest

    from watchman_spark.config import (
        DEFAULT_PATTERNS,
        DEFAULT_ROUTES,
        PipelineConfig,
        load_config,
        patterns_to_json,
    )

    # patterns file without routes -> the default routes
    p = tmp_path / "pat.json"
    p.write_text(patterns_to_json(DEFAULT_PATTERNS))
    assert load_config(str(p))[1] == DEFAULT_ROUTES

    # with routes: parsed + validated
    obj = json.loads(p.read_text())
    obj["routes"] = [
        {"sink": "errors", "when": "parsed.error_code IS NOT NULL"},
        {"sink": "audit_trail", "when": "role = 'system'"},
    ]
    obj["default_sink"] = "rest"
    p.write_text(json.dumps(obj))
    _, routes, default = load_config(str(p))
    assert routes[1] == ("audit_trail", "role = 'system'") and default == "rest"

    with _pytest.raises(ValueError):  # duplicate sink name
        PipelineConfig(warehouse="/x", routes=(("a", "1=1"), ("a", "2=2")))
    with _pytest.raises(ValueError):  # invalid sink name
        PipelineConfig(warehouse="/x", routes=(("Bad-Name", "1=1"),))


def test_load_config_sections_independent(tmp_path):
    """A routes-only config keeps the built-in patterns; a patterns-only
    config keeps the built-in routes; both from ONE file read."""
    import json

    from watchman_spark.config import (
        DEFAULT_PATTERNS,
        DEFAULT_ROUTES,
        DEFAULT_SINK,
        load_config,
        patterns_to_json,
    )

    p = tmp_path / "routes_only.json"
    p.write_text(json.dumps({"routes": [{"sink": "errors", "when": "1=1"}]}))
    patterns, routes, default = load_config(str(p))
    assert patterns == DEFAULT_PATTERNS
    assert routes == (("errors", "1=1"),) and default == DEFAULT_SINK

    q = tmp_path / "patterns_only.json"
    q.write_text(patterns_to_json(DEFAULT_PATTERNS))
    patterns, routes, default = load_config(str(q))
    assert patterns == DEFAULT_PATTERNS and routes == DEFAULT_ROUTES

"""Parse engine: JVM and pandas paths must agree and be total."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from watchman_spark.config import DEFAULT_PATTERNS, parsed_struct
from watchman_spark.operators.parse import flatten_parsed, with_parsed

ROWS = [
    ("c0", 0, "user", "say: alpha bravo charlie", None),
    ("c0", 1, "assistant", "[tool:run_code] invoked args=3 latency_ms=250 status=ok", "run_code"),
    ("c0", 2, "tool", "ERROR E404: not found after 17ms", None),
    ("c0", 3, "user", None, None),
    ("c0", 4, "user", "~~~ ???", None),
    ("c0", 5, "assistant", "[tool:x] invoked args= latency_ms=9 status=ok", None),  # malformed
]
COLS = ["conv_id", "turn_idx", "role", "text", "tool"]


@pytest.fixture(scope="module")
def base(spark):
    return spark.createDataFrame(ROWS, COLS)


@pytest.mark.parametrize("engine", ["jvm", "pandas"])
def test_parse_fields(base, engine):
    out = {r["turn_idx"]: r for r in flatten_parsed(with_parsed(base, engine=engine)).collect()}
    tool_row = out[1]
    assert tool_row["tool_name"] == "run_code"
    assert tool_row["args_n"] == 3
    assert tool_row["latency_ms"] == 250
    assert tool_row["status"] == "ok"
    assert tool_row["error_code"] is None
    err_row = out[2]
    assert err_row["error_code"] == "E404"
    assert err_row["error_msg"] == "not found"
    assert err_row["err_ms"] == 17
    assert err_row["tool_name"] is None
    # totality: say/null/noise/malformed rows survive with all-null capture
    for idx in (0, 3, 4, 5):
        r = out[idx]
        assert all(
            r[f] is None for f in ("tool_name", "args_n", "latency_ms", "error_code", "err_ms")
        ), (idx, r)


def test_engines_agree(base):
    jvm = flatten_parsed(with_parsed(base, engine="jvm")).orderBy("turn_idx").collect()
    pnd = flatten_parsed(with_parsed(base, engine="pandas")).orderBy("turn_idx").collect()
    assert [tuple(r) for r in jvm] == [tuple(r) for r in pnd]


def test_parsed_struct_schema():
    s = parsed_struct(DEFAULT_PATTERNS)
    assert [f.name for f in s.fields] == [
        "tool_name", "args_n", "latency_ms", "status", "error_code", "error_msg", "err_ms",
    ]


def test_patterns_json_roundtrip(base, tmp_path):
    """SURVEY §3.1 step 1: the registry is config-file data. A registry
    serialized to JSON and loaded back is equal and drives the parser
    identically to the code-default one."""
    from watchman_spark.config import load_config, patterns_to_json

    p = tmp_path / "patterns.json"
    p.write_text(patterns_to_json(DEFAULT_PATTERNS))
    loaded, _, _ = load_config(str(p))
    assert loaded == DEFAULT_PATTERNS
    assert parsed_struct(loaded) == parsed_struct(DEFAULT_PATTERNS)
    a = flatten_parsed(with_parsed(base, DEFAULT_PATTERNS, engine="pandas")).orderBy("turn_idx")
    b = flatten_parsed(with_parsed(base, loaded, engine="pandas")).orderBy("turn_idx")
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_patterns_json_validation(tmp_path):
    import json

    import pytest as _pytest

    from watchman_spark.config import load_config

    def write(obj):
        p = tmp_path / "bad.json"
        p.write_text(json.dumps(obj))
        return str(p)

    with _pytest.raises(Exception):  # invalid regex fails at LOAD time
        load_config(write({"patterns": [{"name": "x", "regex": "(?P<a>["}]}))
    with _pytest.raises(ValueError):  # no named groups
        load_config(write({"patterns": [{"name": "x", "regex": "abc"}]}))
    with _pytest.raises(ValueError):  # unsupported type
        load_config(
            write({"patterns": [{"name": "x", "regex": "(?P<a>\\d+)", "types": {"a": "float"}}]})
        )
    with _pytest.raises(ValueError):  # empty registry
        load_config(write({"patterns": []}))
    # a key the loader does not read is ignored: an older file that still
    # sets a pattern's removed literal gate loads as before
    p0 = DEFAULT_PATTERNS[0]
    old = {"name": p0.name, "regex": p0.regex, "types": p0.types, "prefilter": "[tool:"}
    assert load_config(write({"patterns": [old]}))[0] == (p0,)


def test_job_run_with_patterns_file(spark, tmp_path):
    """job.py --patterns round-trip: a run driven by a JSON registry file
    produces the same per-sink counts as the golden computation."""
    from watchman_spark.config import patterns_to_json
    from watchman_spark.job import main as job_main
    from watchman_spark.schema import SINKS
    from watchman_spark.sources.warehouse import ParquetWarehouse
    from watchman_spark.synth import SynthParams, compute_golden, role_dim, synth_transcripts, tool_dim

    params = SynthParams(seed=11, n_convs=40, C=200, hot_cap=80)
    root = str(tmp_path / "wh")
    w = ParquetWarehouse(root)
    w.write_append(synth_transcripts(spark, params), "transcripts")
    w.write_append(role_dim(spark), "role_dim")
    w.write_append(tool_dim(spark), "tool_dim")
    pfile = tmp_path / "patterns.json"
    pfile.write_text(patterns_to_json(DEFAULT_PATTERNS))
    rc = job_main(
        ["run", "--warehouse", root, "--buckets", "8", "--patterns", str(pfile)]
    )
    assert rc == 0
    golden = compute_golden(params)
    assert {s: w.table_rows(f"sink_{s}") for s in SINKS} == golden["per_sink"]


def test_parse_pushdown_stays_jvm(base):
    """JVM engine must not introduce any Python boundary in the plan."""
    plan = with_parsed(base, engine="jvm")._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

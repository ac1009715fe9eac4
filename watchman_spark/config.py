"""Pipeline configuration: grok pattern registry and run settings.

Patterns are data (config-driven), schemas are computed from patterns at
session start — not inferred from rows (SURVEY.md §1.3). One grok pattern is
a regex with named capture groups; the union of all groups (declaration
order, first-pattern-wins on name collision) defines the ``parsed`` struct.

Provenance: BASELINE.json:6 ("grok-style regex extraction to the text
column — tool invocations, error codes, latency markers").
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import ClassVar

from pyspark.sql.types import IntegerType, StringType, StructField, StructType

_NAMED_GROUP = re.compile(r"\(\?P<([A-Za-z_][A-Za-z0-9_]*)>")


@dataclass(frozen=True)
class GrokPattern:
    """One named extraction pattern.

    ``regex`` uses Python named-group syntax ``(?P<name>...)``; the JVM path
    strips the names to plain groups (``java_regex``) and extracts by group
    index. ``types`` maps group name -> "int" | "string" (default string).
    """

    name: str
    regex: str
    types: dict[str, str] = field(default_factory=dict)

    @property
    def groups(self) -> list[str]:
        return _NAMED_GROUP.findall(self.regex)

    @property
    def java_regex(self) -> str:
        # Java named groups forbid '_' in names; the JVM path extracts by
        # group index, so plain unnamed groups are the portable form.
        return _NAMED_GROUP.sub("(", self.regex)

    def compiled(self) -> re.Pattern:
        # re.ASCII pins \d/\w/\s to ASCII — Java regex's DEFAULT semantics —
        # so the pandas and jvm engines can never disagree on Unicode
        # digits/word chars (found by hypothesis: '٠' ARABIC-INDIC
        # ZERO matched Python \d but not Java \d, so one engine routed the
        # line and the other did not; tests/test_props.py
        # ::test_engines_agree_on_arbitrary_text)
        return re.compile(self.regex, re.ASCII)


# Default registry (FIXTURES.md §1 "Grok patterns"). ERROR's message group is
# non-greedy so the trailing latency marker parses.
DEFAULT_PATTERNS: tuple[GrokPattern, ...] = (
    GrokPattern(
        name="TOOL_CALL",
        regex=(
            r"\[tool:(?P<tool_name>[a-z_]+)\] invoked"
            r" args=(?P<args_n>\d+) latency_ms=(?P<latency_ms>\d+)"
            r" status=(?P<status>ok|err)"
        ),
        types={"args_n": "int", "latency_ms": "int"},
    ),
    GrokPattern(
        name="ERROR",
        regex=r"ERROR (?P<error_code>E\d{3}): (?P<error_msg>.+?) after (?P<err_ms>\d+)ms",
        types={"err_ms": "int"},
    ),
)

# Output routing is DATA too (BASELINE.json:6 "mirroring watchman's
# configurable output routing"): an ordered list of (sink_name, SQL
# boolean condition) rules, first match wins, plus a catch-all default
# sink. The default mirrors the spec's three sinks. Conditions are Spark
# SQL expressions over the parsed/enriched row (the ``parsed`` struct is
# in scope). Routing stays TOTAL by construction: the default sink
# catches everything no rule matched.
DEFAULT_ROUTES: tuple[tuple[str, str], ...] = (
    ("errors", "parsed.error_code IS NOT NULL"),
    ("tool_calls", "parsed.tool_name IS NOT NULL"),
)
DEFAULT_SINK = "conversational"
DEFAULT_SINKS = tuple(r[0] for r in DEFAULT_ROUTES) + (DEFAULT_SINK,)

_SINK_NAME = re.compile(r"^[a-z][a-z0-9_]*$")


def validate_routes(routes: tuple[tuple[str, str], ...], default_sink: str) -> None:
    names = [r[0] for r in routes] + [default_sink]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate sink names in routes: {names}")
    for n in names:
        if not _SINK_NAME.match(n):
            raise ValueError(f"invalid sink name {n!r} (want [a-z][a-z0-9_]*)")


def _parse_patterns(data: dict, path: str) -> tuple[GrokPattern, ...]:
    pats = []
    for p in data["patterns"]:
        pat = GrokPattern(
            name=p["name"],
            regex=p["regex"],
            types=dict(p.get("types", {})),
        )
        pat.compiled()  # validate regex now
        if not pat.groups:
            raise ValueError(f"pattern {pat.name!r} declares no named capture groups")
        for g, typ in pat.types.items():
            if typ not in ("int", "string"):
                raise ValueError(f"pattern {pat.name!r}: unsupported type {typ!r} for group {g!r}")
        pats.append(pat)
    if not pats:
        raise ValueError(f"pattern registry {path!r} is empty")
    return tuple(pats)


def _parse_routes(data: dict) -> tuple[tuple[tuple[str, str], ...], str] | None:
    if "routes" not in data:
        return None
    routes = []
    for r in data["routes"]:
        if "sink" not in r or "when" not in r:
            raise ValueError(f"route rule needs 'sink' and 'when': {r!r}")
        if not isinstance(r["when"], str) or not r["when"].strip():
            raise ValueError(f"route {r['sink']!r}: 'when' must be a non-empty SQL string")
        routes.append((r["sink"], r["when"]))
    routes = tuple(routes)
    default_sink = data.get("default_sink", DEFAULT_SINK)
    validate_routes(routes, default_sink)
    return routes, default_sink


def load_config(
    path: str,
) -> tuple[tuple[GrokPattern, ...], tuple[tuple[str, str], ...], str]:
    """One-read loader for the full JSON config: (patterns, routes,
    default_sink), each section optional and independently defaulted —
    a routes-only file keeps the built-in pattern registry and vice
    versa. Patterns and routes are DATA (SURVEY.md §3.1 step 1): an
    operator adds one by editing config, not code. File shape:

        {"patterns": [{"name": "...", "regex": "...",
                       "types": {"group": "int"}}],
         "routes": [{"sink": "errors", "when": "parsed.error_code IS NOT NULL"},
                    ...],
         "default_sink": "conversational"}

    Everything is validated at LOAD time, so a bad config fails the job at
    startup, not mid-run on the executors: each regex compiles and
    declares at least one named group, group types are int or string,
    sink names and rule shape are checked. Each "when" SQL condition is
    parsed (and its columns resolved) when the routing CASE chain is
    analyzed at plan setup — still before any read or write runs. The
    ``parsed`` struct schema is computed from the loaded registry exactly
    as for the code-default one. Keys the loader does not read are
    ignored, so an older file whose patterns still carry the removed
    literal-substring gate key loads as before (it never changed a result)."""
    import json as _json

    with open(path) as f:
        data = _json.load(f)
    patterns = _parse_patterns(data, path) if "patterns" in data else DEFAULT_PATTERNS
    routing = _parse_routes(data) or (DEFAULT_ROUTES, DEFAULT_SINK)
    return patterns, routing[0], routing[1]


def patterns_to_json(patterns: tuple[GrokPattern, ...]) -> str:
    """Serialize a registry to the JSON config shape (round-trip with
    load_config — tested in tests/test_parse.py)."""
    import json as _json

    return _json.dumps(
        {
            "patterns": [
                {"name": p.name, "regex": p.regex, "types": p.types} for p in patterns
            ]
        },
        indent=1,
    )


def parsed_struct(patterns: tuple[GrokPattern, ...] = DEFAULT_PATTERNS) -> StructType:
    """Compute the ``parsed`` struct schema from a pattern registry."""
    fields: list[StructField] = []
    seen: set[str] = set()
    for pat in patterns:
        for g in pat.groups:
            if g in seen:
                continue
            seen.add(g)
            typ = IntegerType() if pat.types.get(g) == "int" else StringType()
            fields.append(StructField(g, typ, True))
    return StructType(fields)


@dataclass(frozen=True)
class PipelineConfig:
    """Frozen run configuration for the batch pipeline (SURVEY.md §3.1)."""

    warehouse: str  # root dir of the parquet-warehouse backend
    input_table: str = "transcripts"
    patterns: tuple[GrokPattern, ...] = DEFAULT_PATTERNS
    # ordered (sink, SQL condition) rules, first match wins; every row the
    # rules miss lands in default_sink (total routing by construction)
    routes: tuple[tuple[str, str], ...] = DEFAULT_ROUTES
    default_sink: str = DEFAULT_SINK
    n_buckets: int = 32  # conv_id hash buckets = checkpoint/work unit
    # the routed write's parse engine (OPTIMIZATION_r06.md "Parse engine default")
    parse_engine: ClassVar[str] = "jvm"
    run_id: str = "run-0"
    # cap buckets per run (None = all pending): bounds a run's blast radius
    # at 10^12 scale and lets operators drip through the backlog
    max_buckets_per_run: int | None = None

    @property
    def sink_names(self) -> tuple[str, ...]:
        return tuple(r[0] for r in self.routes) + (self.default_sink,)

    def __post_init__(self) -> None:
        validate_routes(self.routes, self.default_sink)

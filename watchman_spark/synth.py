"""Deterministic synthetic transcript generator + golden outputs.

Implements FIXTURES.md §1-3: a pure function of (seed, n_convs, C, hot_cap)
producing the transcript table of BASELINE.json:15 shape with zipfian
hot-conversation skew (BASELINE.json:6), plus the role/tool dimensions and
the analytically-known golden outputs of ``compute_golden`` (total rows,
per-sink counts, per-role counts, distinct convs, per-conversation text
digests).

Determinism: every field derives from ``stable_hash`` = first 8 bytes of
sha256 over the UTF-8 key (FIXTURES.md §1) — never Python ``hash()``, no
wall clock, no unseeded RNG. Field sub-draws use shifted bit-slices of the
same 64-bit hash so role/template/tool choices are decorrelated.

Generation is itself distributed (``mapInPandas`` over conversation ids) so
the fixture path would scale with the cluster; the golden path runs the same
per-turn code on the driver and is only used at test scale.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from .schema import ROLE_DIM_SCHEMA, SINKS, TOOL_DIM_SCHEMA, TRANSCRIPT_SCHEMA

EPOCH_2025 = 1735689600  # 2025-01-01T00:00:00Z in unix seconds

ROLES = ("user", "assistant", "system", "tool", "observer")
TOOLS = (
    "search_web",
    "run_code",
    "read_file",
    "write_file",
    "fetch_url",
    "query_db",
    "send_mail",
    "calc",
)
# absent from tool_dim; letter-only so the [a-z_]+ grok group still matches
UNKNOWN_TOOLS = ("mystery_alpha", "mystery_beta", "mystery_gamma")

VOCAB = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu amber birch cedar dune ember flint"
).split()
assert len(VOCAB) == 32

ERROR_MSGS = (
    "connection refused",
    "timeout exceeded",
    "permission denied",
    "resource exhausted",
    "invalid argument",
    "not found",
    "rate limited",
    "internal failure",
)

NOISE = (
    "~~~ ???",
    "<<>> &&& |||",
    "¯\\_(ツ)_/¯",
    "....!!!....",
    "### --- ###",
    "☃ ❤ ♫",
)

SINK_ERRORS, SINK_TOOLS, SINK_CONV = SINKS


def stable_hash(*parts: object) -> int:
    """First 8 bytes (big-endian) of sha256 over '|'-joined parts."""
    key = "|".join(str(p) for p in parts).encode("utf-8")
    return int.from_bytes(hashlib.sha256(key).digest()[:8], "big")


@dataclass(frozen=True)
class SynthParams:
    seed: int = 42
    n_convs: int = 2_000
    C: int = 50_000
    hot_cap: int = 25_000

    def conv_len(self, j: int) -> int:
        return min(self.hot_cap, max(1, int(self.C / (j + 1) ** 1.1)))

    @property
    def total_rows(self) -> int:
        return sum(self.conv_len(j) for j in range(self.n_convs))


def _turn(seed: int, conv_id: str, j: int, i: int, t_acc: int) -> tuple:
    """One turn: returns (conv_id, turn_idx, role, text, tool, ts_us, sink,
    next_t_acc). Pure function — shared by the distributed generator and the
    driver-side golden computation so they can never disagree."""
    h = stable_hash(seed, conv_id, i)
    role = ROLES[h % 5]
    tpl = (h >> 8) % 100
    step = 1 + (h >> 32) % 120
    t_acc += step
    tool = None
    if tpl < 55:  # say
        n_words = 3 + (h >> 10) % 8
        words = [VOCAB[(h >> (3 * k + 12)) % 32] for k in range(n_words)]
        text = "say: " + " ".join(words)
        sink = SINK_CONV
    elif tpl < 80:  # tool call
        if (h >> 20) % 50 == 0:
            tool = UNKNOWN_TOOLS[(h >> 26) % 3]
        else:
            tool = TOOLS[(h >> 16) % 8]
        args = (h >> 24) % 10
        latency = 1 + (h >> 28) % 5000
        status = "ok" if (h >> 40) % 4 != 0 else "err"
        text = f"[tool:{tool}] invoked args={args} latency_ms={latency} status={status}"
        sink = SINK_TOOLS
    elif tpl < 94:  # error
        code = 100 + (h >> 16) % 900
        msg = ERROR_MSGS[(h >> 24) % 8]
        err_ms = 1 + (h >> 28) % 9999
        text = f"ERROR E{code:03d}: {msg} after {err_ms}ms"
        sink = SINK_ERRORS
    elif tpl < 99:  # free-form noise — matches no pattern
        text = NOISE[(h >> 16) % 6]
        sink = SINK_CONV
    else:  # null text
        text = None
        sink = SINK_CONV
    ts_us = (EPOCH_2025 + t_acc) * 1_000_000
    return conv_id, i, role, text, tool, ts_us, sink, t_acc


def gen_conversation(params: SynthParams, j: int) -> list[tuple]:
    """All turns of conversation j (ordered by turn_idx), with sink labels."""
    conv_id = f"conv{j:08d}"
    t_acc = stable_hash(params.seed, "convstart", j) % (86400 * 30)
    out = []
    for i in range(params.conv_len(j)):
        row = _turn(params.seed, conv_id, j, i, t_acc)
        t_acc = row[-1]
        out.append(row[:-1])
    return out


def synth_transcripts(spark: SparkSession, params: SynthParams) -> DataFrame:
    """Distributed generation: one task per slice of conversation ids.

    Hash-repartition the id range so hot (low-j) conversations spread across
    tasks instead of clustering in range-partition 0.
    """
    n_parts = max(4, spark.sparkContext.defaultParallelism)
    ids = spark.range(params.n_convs).repartition(n_parts, "id")
    p = params  # close over the frozen dataclass, not self

    def gen(batches):
        for pdf in batches:
            rows: list[tuple] = []
            for j in pdf["id"]:
                rows.extend(gen_conversation(p, int(j)))
            if not rows:
                continue
            out = pd.DataFrame(
                rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts", "sink"]
            )
            out["turn_idx"] = out["turn_idx"].astype("int32")
            out["ts"] = pd.to_datetime(out["ts"], unit="us")
            yield out.drop(columns=["sink"])

    return ids.mapInPandas(gen, schema=TRANSCRIPT_SCHEMA)


def role_dim(spark: SparkSession) -> DataFrame:
    rows = [
        ("user", "human", False),
        ("assistant", "agent", True),
        ("system", "infra", False),
        ("tool", "agent", True),
        ("observer", "human", False),
    ]
    return spark.createDataFrame(rows, schema=ROLE_DIM_SCHEMA)


def tool_dim(spark: SparkSession) -> DataFrame:
    cats = ("search", "code", "file", "file", "web", "code", "web", "code")
    teams = ("core", "infra", "platform", "apps")
    rows = [(t, cats[i], teams[i % 4]) for i, t in enumerate(TOOLS)]
    return spark.createDataFrame(rows, schema=TOOL_DIM_SCHEMA)


# The text-equality digest's canonical form, shared with the scale-safe
# audit (operators/invariants.conv_digests_chunked).
NULL_SENTINEL = "\x00NULL"  # no real text contains it
DIGEST_SEP = "\x1f"


def conv_digest(texts: list[str | None]) -> str:
    """sha256 over turn_idx-ordered texts, NULL_SENTINEL for a None text."""
    joined = DIGEST_SEP.join(NULL_SENTINEL if t is None else t for t in texts)
    return hashlib.sha256(joined.encode("utf-8")).hexdigest()


def compute_golden(params: SynthParams, digest_sample: int = 50) -> dict:
    """Driver-side analytic golden outputs (FIXTURES.md §1 'Golden outputs').

    Runs the same per-turn code as the distributed generator — the pipeline
    is verified against these, never against itself.
    """
    per_sink = {SINK_ERRORS: 0, SINK_TOOLS: 0, SINK_CONV: 0}
    per_role: dict[str, int] = {r: 0 for r in ROLES}
    digests: dict[str, str] = {}
    total = 0
    for j in range(params.n_convs):
        rows = gen_conversation(params, j)
        total += len(rows)
        want_digest = j < digest_sample
        texts: list[str | None] = []
        for conv_id, _i, role, text, _tool, _ts, sink in rows:
            per_sink[sink] += 1
            per_role[role] += 1
            if want_digest:
                texts.append(text)
        if want_digest:
            digests[rows[0][0]] = conv_digest(texts)
    return {
        "params": {
            "seed": params.seed,
            "n_convs": params.n_convs,
            "C": params.C,
            "hot_cap": params.hot_cap,
        },
        "total_rows": total,
        "per_sink": per_sink,
        "per_role": per_role,
        "distinct_convs": params.n_convs,
        "conv_digests": digests,
    }


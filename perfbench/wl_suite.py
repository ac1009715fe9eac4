"""query_suite: a closed loop over 23 operator-registry queries.

The first, cold cycle is the warm-up and the check: it runs four queries
at a time, slowest first, collects every result and checks it: 21 queries
against their DuckDB oracle, compared the way the repository's oracle tests
do (column names, row count, order-insensitive exact cell values), and the
two without an oracle against a recorded order-independent hash. The
measured cycles then run one query at a time and force each with the noop
sink, never ``.count()``, which lets Catalyst skip most of the text
operators' work. Spark's cache is cleared before every measured cycle so
persisted dedup tables are not reused across cycles.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import random
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entry

import suite_data
from harness import SparkTrace, busy_union_s, cores, log, median, start_session

SUITE = (
    "pipeline_per_sink join_sortmerge agg_salted agg_rollup_crt agg_collect_ordered "
    "win_row_number win_topk udf_grok_parse udf_conv_digest dedup_minhash_lsh "
    "dedup_ngram_jaccard dedup_resolve dedup_lsh_clusters text_tokens text_fingerprint "
    "text_decontaminate ann_brute_force ann_knn_join session_stats_events "
    "mix_token_budget_sampled ann_quantized_topk text_bm25_topk drift_doclen_tv"
).split()
BYTES = (
    "dedup_minhash_lsh dedup_lsh_clusters dedup_resolve dedup_ngram_jaccard "
    "text_fingerprint text_decontaminate ann_knn_join pipeline_per_sink"
).split()
# the cold cycle's slowest queries, started first so the pool's tail is short
SLOW = ("dedup_lsh_clusters", "dedup_minhash_lsh", "dedup_resolve", "pipeline_per_sink")
HASHES = Path(__file__).with_name("suite_hashes.json")
SETUPS = 3
COLD_THREADS = 4  # queries in flight in the cold pass


def _cell(v) -> str:
    if v is None or v is pd.NaT:
        return "∅"
    if isinstance(v, (float, np.floating)):
        return "∅" if math.isnan(v) else repr(float(v))
    if isinstance(v, np.integer):
        return str(int(v))
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v))
    if isinstance(v, (pd.Timestamp, dt.datetime, dt.date)):
        return v.isoformat()
    return str(v)


def canon(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    """Sorted column names and sorted rows of cell strings."""
    cols = sorted(df.columns)
    return cols, sorted(tuple(_cell(v) for v in row) for row in df[cols].itertuples(index=False))


def digest(df: pd.DataFrame) -> str:
    return hashlib.sha256(repr(canon(df)).encode()).hexdigest()


class Expected:
    """The dataset on disk and every query's expected result."""

    def __init__(self, dest: str) -> None:
        suite_data.write(dest)
        self.dir = dest
        con = duckdb.connect()
        for t in suite_data.tables_on_disk(dest):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{dest}/{t}.parquet')")
        oracles = entry.oracle_sql()
        self.oracle = {q: canon(con.execute(oracles[q]).df()) for q in SUITE if q in oracles}
        con.close()
        self.hashes = json.loads(HASHES.read_text())

    def problem(self, name: str, result: pd.DataFrame) -> str | None:
        if name in self.oracle:
            cols, rows = canon(result)
            want_cols, want_rows = self.oracle[name]
            if cols != want_cols:
                return f"{name}: columns {cols} != oracle {want_cols}"
            if rows != want_rows:
                return f"{name}: {len(rows)} rows differ from the oracle's {len(want_rows)}"
            return None
        got = digest(result)
        return None if got == self.hashes[name] else f"{name}: output hash {got} != recorded"


def run(args, work, outcome, t_boot: float) -> dict:
    spark = start_session(work, cores())
    session_s = time.perf_counter() - t_boot
    log(f"session {session_s:.2f} s")
    setups = []
    for k in range(1 if args.trace else SETUPS):
        t0 = time.perf_counter()
        expected = Expected(str(work.path / f"data-{k}"))
        setups.append(time.perf_counter() - t0)
        log(f"set-up {k}: {setups[-1]:.2f} s")
    queries = entry.queries()
    order = list(SUITE)
    random.Random(args.seed).shuffle(order)

    # cycle 0: cold, concurrent, every result collected and checked
    def collect(name):
        t0 = time.perf_counter()
        result = queries[name](spark, expected.dir).toPandas()
        log(f"cold {name} {time.perf_counter() - t0:.2f} s")
        return result

    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=COLD_THREADS) as pool:
        futures = [
            (name, pool.submit(collect, name))
            for name in sorted(order, key=lambda q: q not in SLOW)
        ]
        for name, fut in futures:
            try:
                result = fut.result()
            except Exception as e:  # noqa: BLE001 - a failed query is counted, not fatal
                outcome.fail(f"{name}: {type(e).__name__}: {e}")
                continue
            problem = expected.problem(name, result)
            outcome.check(problem is None, problem or "")
    cold_s = time.perf_counter() - t0
    log(f"cold cycle {cold_s:.2f} s")

    trace = SparkTrace(spark) if args.trace else None
    walls: dict[str, list[float]] = {q: [] for q in SUITE}
    cycles: list[float] = []
    traced_cycles: list[float] = []
    layers: dict[str, list[float]] = {}
    deadline = time.perf_counter() + args.seconds
    # a traced run alternates traced and untraced cycles
    while (time.perf_counter() < deadline or not cycles or (trace and not traced_cycles)) and (
        len(cycles) + len(traced_cycles) < 50
    ):
        traced = trace is not None and len(traced_cycles) <= len(cycles)
        spark.catalog.clearCache()
        cycle_s = read_s = 0.0
        spans = []
        for name in order:
            before = trace.last_job_id() if traced else -1
            t0 = time.perf_counter()
            try:
                queries[name](spark, expected.dir).write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001
                outcome.fail(f"{name}: {type(e).__name__}: {e}")
                continue
            wall = time.perf_counter() - t0
            log(f"{name} {wall:.2f} s")
            cycle_s += wall
            if not traced:
                walls[name].append(wall)
                continue
            t1 = time.perf_counter()
            jobs = trace.jobs_after(before)
            spans += [(j.start_ms, j.end_ms) for j in jobs]
            if name in BYTES:
                stages = trace.stages_of(jobs)
                layers.setdefault(f"q.{name}.shuffle_bytes", []).append(
                    sum(s.shuffle_write_bytes for s in stages)
                )
                layers.setdefault(f"q.{name}.spill_bytes", []).append(
                    sum(s.spill_bytes for s in stages)
                )
            read_s += time.perf_counter() - t1
        if traced:
            traced_cycles.append(cycle_s + read_s)
            layers.setdefault("driver.serial_s", []).append(cycle_s - busy_union_s(spans))
        else:
            cycles.append(cycle_s)

    if not args.trace:
        return {"setup_s": session_s + median(setups), "warm_s": median(cycles)}
    out = {k: median(v) for k, v in layers.items()}
    out.update({f"q.{q}_s": median(w) for q, w in walls.items() if w})
    out["cold_s"] = cold_s
    out["trace.wall_s"] = median(traced_cycles)
    out["trace.untraced_wall_s"] = median(cycles)
    out["trace.overhead_s"] = out["trace.wall_s"] - out["trace.untraced_wall_s"]
    out["ops.measured"] = len(cycles) + len(traced_cycles)
    return out

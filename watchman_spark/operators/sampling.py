"""Reproducible sampling, split assignment, and sequence packing for
training-data pipelines.

Why hash-based and not rand(): at 100 TB a sample/split must be (a)
deterministic across reruns and engines (a rerun of the pipeline or an
audit in another engine must select the SAME rows — rand() cannot), (b) a
pure per-row map (no shuffle, no state), and (c) stable under
repartitioning. The standard trick is to hash a stable key and threshold
the hash. We use the md5 HEX PREFIX (not a mod over a decimal conversion)
so the exact same predicate is expressible in ANSI SQL everywhere —
``substr(md5(key), 1, 4) < '1999'`` behaves identically in Spark, DuckDB,
Trino, BigQuery — which is what makes the driver's DuckDB oracle exact.

Granularity: 4 hex chars = 65,536 buckets, so a requested fraction is
realized as round(frac * 65536) / 65536 (worst-case error 1/131072 of the
population, exact thresholds documented per call).

Sequence packing (``pack_sequences``) is the standard LLM-pretraining step
of concatenating documents into fixed-size context windows: a distributed
best-fit-decreasing bin packer — documents are hash-bucketed (a pure map),
each bucket is packed independently inside one Arrow batch, and the result
is (pack_id, doc order, token sum, utilization). Packing quality is a
bucket-local property (BFD is within 11/9·OPT+1 bins of optimal per
bucket); cross-bucket packing would need a global shuffle-and-sort for a
~2% utilization gain — the wrong trade at 10^12 tokens.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HEX_WIDTH = 4  # 16^4 = 65,536 sampling buckets
_SCALE = 16 ** HEX_WIDTH


def _hex_prefix(key: Column) -> Column:
    """First HEX_WIDTH chars of md5 of the key rendered as a string.

    The key is cast to string FIRST (int 123 hashes as '123') so any engine
    reproduces the bytes being hashed."""
    return F.substring(F.md5(key.cast("string").cast("binary")), 1, HEX_WIDTH)


def hex_prefix_sql(key_sql: str) -> str:
    """The ANSI-SQL twin of _hex_prefix (the DuckDB oracles' bucket)."""
    return f"substr(md5(CAST({key_sql} AS VARCHAR)), 1, {HEX_WIDTH})"


def frac_to_hex_threshold(frac: float) -> str:
    """The string t such that P[hex_prefix < t] = round(frac*2^16)/2^16.

    frac=1.0 returns 'g' — lexicographically after every hex digit, so the
    predicate selects everything (the naive format would yield the 5-char
    '10000', which sorts BELOW 'ffff' and selects almost nothing)."""
    if not 0.0 <= frac <= 1.0:
        raise ValueError(f"frac must be in [0, 1], got {frac}")
    v = round(frac * _SCALE)
    if v >= _SCALE:
        return "g"
    return format(v, f"0{HEX_WIDTH}x")


def hash_sample(df: DataFrame, key_col: str, frac: float) -> DataFrame:
    """Deterministic, engine-portable ~``frac`` sample keyed on ``key_col``.

    Pure map-side filter: survives reruns, repartitioning, and engine
    changes; sampling the same table twice with the same frac returns the
    identical row set (unlike df.sample). Rows with equal keys are kept or
    dropped together — key on a document/conversation id to keep logical
    units intact."""
    return df.filter(_hex_prefix(F.col(key_col)) < frac_to_hex_threshold(frac))


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fracs: dict[str, float],
    default_frac: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the class-balancing move
    (downsample the dominant language/source/label, keep the rare one):
    each stratum gets its own hash threshold; strata not named sample at
    ``default_frac``. Same properties as hash_sample — pure map filter,
    rerun-stable, engine-portable — so a rebalanced corpus is reproducible
    byte-for-byte across reruns and audit engines."""
    thr = F.lit(frac_to_hex_threshold(default_frac))
    expr = None
    for name, f in fracs.items():
        cond = F.col(strata_col) == name
        lit = F.lit(frac_to_hex_threshold(f))
        expr = F.when(cond, lit) if expr is None else expr.when(cond, lit)
    thr_col = thr if expr is None else expr.otherwise(thr)
    return df.filter(_hex_prefix(F.col(key_col)) < thr_col)


def stratified_sql(
    key_sql: str, strata_sql: str, fracs: dict[str, float], default_frac: float = 0.0
) -> str:
    """The ANSI-SQL predicate equivalent to stratified_sample — shared with
    the DuckDB oracle so thresholds can never diverge. Stratum names are
    escaped ('' doubling) so a value containing an apostrophe renders a
    valid literal that still matches stratified_sample's raw comparison."""
    arms = " ".join(
        f"WHEN {strata_sql} = '{name.replace(chr(39), chr(39) * 2)}' "
        f"THEN '{frac_to_hex_threshold(f)}'"
        for name, f in fracs.items()
    )
    case = f"CASE {arms} ELSE '{frac_to_hex_threshold(default_frac)}' END"
    return f"{hex_prefix_sql(key_sql)} < {case}"


def _hash32(key: Column) -> Column:
    """First 8 md5 hex chars of the stringified key as a bigint in
    [0, 2^32): the portable uniform for DATA-DEPENDENT thresholds (the
    hex-prefix string compare above needs a compile-time threshold; a
    target derived from corpus totals doesn't have one). Engine-exact:
    ``conv(substr(md5(k),1,8),16,10)`` in Spark ≡ hash32_sql in DuckDB
    (verified value-identical)."""
    return (
        F.conv(F.substring(F.md5(key.cast("string").cast("binary")), 1, 8), 16, 10)
        .cast("bigint")
    )


def hash32_sql(key_sql: str) -> str:
    """The DuckDB twin of _hash32: the hex digits parsed as a bigint."""
    return f"('0x' || substr(md5(CAST({key_sql} AS VARCHAR)), 1, 8))::BIGINT"


def source_mix_exact(
    df: DataFrame,
    key_col: str,
    source_col: str,
    token_col: str,
    target_col: str,
) -> DataFrame:
    """Curriculum/source mixing, EXACT variant: per source, keep the
    maximal hash-ordered prefix of documents whose cumulative token count
    stays within the row's per-source token target (``target_col``,
    usually budget × weight / Σweights computed upstream).

    Deterministic (hash order, not rand) and engine-portable. Scale
    boundary: the window partitions by SOURCE — a handful of partitions,
    each sorted in one task — so this is the small-dimension path (final
    budget trim, per-source doc lists that fit a task). For the 100 TB
    first pass use ``source_mix_sampled``, which never shuffles the
    corpus."""
    from pyspark.sql import Window

    w = Window.partitionBy(source_col).orderBy(_hash32(F.col(key_col)), key_col)
    cum = F.sum(token_col).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("_cum", cum)
        .filter(F.col("_cum") <= F.col(target_col))
        .drop("_cum")
    )


def source_mix_sampled(
    df: DataFrame,
    key_col: str,
    source_col: str,
    token_col: str,
    target_col: str,
) -> DataFrame:
    """Curriculum/source mixing, SCALE variant: compute per-source token
    totals (a partial-agg shuffle of n_sources × n_partitions rows — the
    corpus itself never shuffles), broadcast them back, and keep each doc
    map-side with probability least(1, target/total) on the portable
    32-bit doc hash. Expected tokens per source ≈ target; the corpus
    stays where it is — ONE tiny exchange + one broadcast join + a map
    filter, the right shape at 10^12 documents."""
    totals = df.groupBy(source_col).agg(F.sum(token_col).alias("_tot"))
    u = _hash32(F.col(key_col)) / F.lit(float(2**32))
    return (
        df.join(F.broadcast(totals), source_col)
        .filter(u < F.least(F.lit(1.0), F.col(target_col) / F.col("_tot")))
        .drop("_tot")
    )


def with_split(
    df: DataFrame,
    key_col: str,
    splits: dict[str, float],
    out_col: str = "split",
) -> DataFrame:
    """Assign every row to exactly one named split (train/val/test...) by
    consecutive hex-prefix ranges — deterministic, total, and portable.

    ``splits`` maps name -> fraction; fractions must sum to 1.0 (each is
    realized at 1/65536 granularity; the LAST split absorbs the rounding
    remainder so the assignment stays total)."""
    if not splits:
        raise ValueError("splits must be non-empty")
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1.0, got {total}")
    prefix = _hex_prefix(F.col(key_col))
    expr: Column | None = None
    acc = 0.0
    names = list(splits)
    for name in names[:-1]:
        acc += splits[name]
        cond = prefix < F.lit(frac_to_hex_threshold(acc))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    return df.withColumn(out_col, last if expr is None else expr.otherwise(last))


def split_boundaries_sql(key_sql: str, splits: dict[str, float]) -> str:
    """The ANSI-SQL CASE expression equivalent to with_split — shared with
    the DuckDB oracle so Spark and the oracle can never disagree on
    thresholds."""
    prefix = hex_prefix_sql(key_sql)
    names = list(splits)
    acc = 0.0
    arms = []
    for name in names[:-1]:
        acc += splits[name]
        arms.append(f"WHEN {prefix} < '{frac_to_hex_threshold(acc)}' THEN '{name}'")
    if not arms:
        return f"'{names[-1]}'"
    return "CASE " + " ".join(arms) + f" ELSE '{names[-1]}' END"


def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    max_tokens: int,
    n_buckets: int = 64,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Distributed best-fit-decreasing sequence packing.

    Returns one row per pack: (*group_cols, pack_id string, doc_ids
    array<long> in pack order, n_docs, total_tokens, fill_ratio).
    Invariants (pytested): every input id appears in exactly one pack
    exactly once; total_tokens <= max_tokens unless the pack is a single
    oversized document (which is emitted alone rather than dropped — the
    caller decides truncation).

    ``group_cols`` pack WITHIN each group (e.g. ["split"]) in the SAME
    single job — the grouping key becomes (*group_cols, bucket), so a
    pipeline packing train/val/test needs one pack job over one scan, not
    one filtered job per split (round-4 change; pack contents per group are
    identical to packing each group separately, since the id-hash
    bucketing is independent of the grouping).

    Shape at scale: ONE shuffle (hash-bucket the ids), then packing is an
    Arrow-batch-local loop over each bucket's (tokens, id) pairs — memory
    per task is the bucket's id+token pairs only (16 bytes/doc), not the
    documents. Determinism: bucket = pmod(xxhash64(id), n_buckets); the
    decreasing order sorts by (-tokens, id); pack_id =
    "<group.../><bucket>/<seq>".
    """
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    group_cols = list(group_cols or [])
    in_types = {f.name: f.dataType for f in df.schema.fields}
    out_schema = StructType(
        [StructField(c, in_types[c]) for c in group_cols]
        + [
            StructField("pack_id", StringType()),
            StructField("doc_ids", ArrayType(LongType())),
            StructField("n_docs", IntegerType()),
            StructField("total_tokens", LongType()),
            StructField("fill_ratio", DoubleType()),
        ]
    )

    def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        import bisect

        # Fail FAST and legibly on a null/non-castable id: a null id casts
        # to NaN, lands in the null xxhash64 bucket, and previously died as
        # an opaque `astype(int)` ValueError deep in the executor (and its
        # bucket assignment was degenerate). Packing ids must be non-null —
        # name the offending column in the error so the caller can filter.
        *gvals, bucket_key = key
        if bucket_key is None or pdf["__id"].isna().any():
            raise ValueError(
                f"pack_sequences: id_col {id_col!r} contains null or "
                f"non-integer values ({int(pdf['__id'].isna().sum())} in "
                "this bucket); filter or repair ids before packing"
            )
        bucket = int(bucket_key)
        prefix = "/".join([str(v) for v in gvals] + [str(bucket)])
        # null token counts arrive as NaN after Arrow; treat as 0 (the doc
        # still gets packed — dropping it would break the exactly-once
        # invariant) rather than crash the cast
        items = sorted(
            zip(pdf["__tok"].fillna(0).astype(int), pdf["__id"].astype(int)),
            key=lambda t: (-t[0], t[1]),
        )
        bins: list[list[int]] = []  # doc ids per pack
        sums: list[int] = []
        # best-fit-decreasing via a SORTED residual-capacity index:
        # bisect finds the tightest bin that fits in O(log B); insert is an
        # O(B) C-level memmove. The naive first-fit inner loop probed every
        # bin in Python — O(docs x bins) interpreter work per bucket, which
        # at 10^7-doc buckets is ~10^13 probes (caught in code review).
        # BFD shares FFD's 11/9*OPT+1 quality bound and is deterministic
        # here: items arrive in a fixed order and ties pick the leftmost
        # residual (stable given the deterministic insertion history).
        residuals: list[int] = []  # ascending
        res_bin: list[int] = []  # parallel: bin index owning residuals[i]
        for tok, doc in items:
            i = bisect.bisect_left(residuals, tok)
            if i < len(residuals):
                b = res_bin.pop(i)
                rem = residuals.pop(i) - tok
                bins[b].append(doc)
                sums[b] += tok
            else:  # nothing fits (includes the single-oversized-doc case)
                b = len(bins)
                bins.append([doc])
                sums.append(tok)
                rem = max_tokens - tok
            if rem > 0:  # oversized docs close their bin (rem < 0)
                j = bisect.bisect_left(residuals, rem)
                residuals.insert(j, rem)
                res_bin.insert(j, b)
        out = {c: [v] * len(bins) for c, v in zip(group_cols, gvals)}
        out.update(
            {
                "pack_id": [f"{prefix}/{i}" for i in range(len(bins))],
                "doc_ids": bins,
                "n_docs": [len(b) for b in bins],
                "total_tokens": sums,
                "fill_ratio": [s / max_tokens for s in sums],
            }
        )
        return pd.DataFrame(out)

    prepped = df.select(
        *group_cols,
        F.col(id_col).cast("long").alias("__id"),
        F.col(tokens_col).cast("long").alias("__tok"),
        F.pmod(F.xxhash64(F.col(id_col).cast("long")), F.lit(n_buckets))
        .cast("int")
        .alias("__bucket"),
    )
    return prepped.groupBy(*group_cols, "__bucket").applyInPandas(
        pack, schema=out_schema
    )

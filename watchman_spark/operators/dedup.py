"""Deduplication operators for large-scale training-data pipelines.

All distributed compositions of built-in ops — no driver-side loops, no
collect. Scale notes per operator:

- exact: hash group-by on the dedup key; one shuffle on a well-distributed
  key (sha256 of content), AQE handles size.
- ngram-jaccard: shingle explode → shingle-equality self-join → per-pair
  intersection counts. Shingle width k controls the join fan-out: wider
  shingles = rarer = near-linear candidate generation at 100 TB.
- minhash LSH: signature via per-seed min of xxhash64 over shingles (one
  explode + one groupBy), banded bucketing, bucket-equality join for
  candidates, exact jaccard verify. The classic web-dedup pipeline —
  candidate count stays near-linear instead of O(n²).
- simhash: 64-bit signatures from token-hash bit votes (pure JVM exprs),
  band buckets, hamming-distance verify via popcount on xor.
"""

from __future__ import annotations

from functools import reduce
from inspect import signature

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .textstats import floor_frac, ngrams

# Scale-safe DEFAULTS: the naive call must not be quadratic, so the caps
# are on unless the caller opts out with ``None`` (OPTIMIZATION_r06.md
# "Dedup (design notes moved from code)"). Sizing: a shingle/bucket key
# shared by d documents fans out d(d-1)/2 candidate pairs; 1000 caps a
# single key at ~500k pairs (one task's worth) while real near-duplicate
# groups — which these operators exist to find — are far smaller; keys
# hotter than that are stop-shingles / degenerate clusters that carry no
# dedup signal (recall tests: test_dedup.py).
DEFAULT_MAX_DF = 1000
DEFAULT_MAX_BUCKET = 500


def _reused(df: DataFrame) -> DataFrame:
    """Persist an intermediate that appears on multiple branches of the
    same DAG (self-joins recompute each branch otherwise). MEMORY_AND_DISK
    so large shingle tables spill instead of OOMing; Spark evicts under
    pressure, so this is safe to leave un-unpersisted on query handles.

    The cached table's partition count is AQE's choice, sized from its
    bytes (session.py sets canChangeCachedPlanOutputPartitioning), unless
    the caller repartitions to an explicit count first because a reader
    relies on the table's hash partitioning (resolve_components' edges;
    OPTIMIZATION_r06.md "Cached-plan partitioning")."""
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def _drop_hot_keys(df: DataFrame, key_cols: list[str], cap: int | None) -> DataFrame:
    """Drop rows whose key appears in more than ``cap`` rows — the standard
    document-frequency cap before a key-equality self-join. One hot key with
    df=d fans out O(d²) candidate pairs; at 10^12 scale a single stop-shingle
    (df ~10⁶) would create ~10¹² candidates. Keys above the cap are by
    construction few (≤ total/cap), so the anti-join build side is small
    (AQE broadcasts it). cap=None disables (exact semantics preserved)."""
    if cap is None:
        return df
    hot = (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > cap)
        .select(*key_cols)
    )
    return df.join(hot, key_cols, "left_anti")


def _self_pairs(df: DataFrame, keys: list[str], carry=()) -> DataFrame:
    """The one candidate generator: a self equi-join on the bucket ``keys``
    with ``a.id < b.id`` (each unordered pair once, no self pairs), giving
    distinct (id_a, id_b[, c_a, c_b for c in carry]). The id condition is
    the join's last conjunct, so the bucket keys stay the equi-join keys
    (plan-pinned against cartesians in tests/test_plans.py)."""
    a, b = df.alias("a"), df.alias("b")
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    cols = [F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")]
    for c in carry:
        cols += [F.col(f"a.{c}").alias(f"{c}_a"), F.col(f"b.{c}").alias(f"{c}_b")]
    return a.join(b, on + [F.col("a.id") < F.col("b.id")]).select(*cols).distinct()


def _explode_bands(
    df: DataFrame, keep: list[str], key: str, parts: list[Column]
) -> DataFrame:
    """(*keep, band, key): one row per band b with ``key = parts[b]`` — the
    one map-side band exploder (a single Generate, no shuffle) under both
    the MinHash band digests and the simhash chunks."""
    bands = [
        F.struct(F.lit(b).alias("band"), p.alias(key)) for b, p in enumerate(parts)
    ]
    return df.select(*keep, F.explode(F.array(*bands)).alias("bd")).select(
        *keep, F.col("bd.band").alias("band"), F.col(f"bd.{key}").alias(key)
    )


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Groups of identical key_cols: keep lowest id, count members."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_n")
    )


def word_shingles(text: Column, k: int) -> Column:
    """Distinct word k-gram shingles of a text column (built-ins only).
    Empty array when the text has fewer than k words. The split is inline,
    so each shingle re-reads it; the dedup paths stage it (_words_staged)."""
    return F.coalesce(
        F.array_distinct(ngrams(F.split(text, " ", -1), k)), F.array().cast("array<string>")
    )


def _words_staged(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, __w: array<string>) with the < k-words docs already dropped —
    the staged-projection base both shingle shapes build on. The filter
    runs on size(__w) (cheap) instead of size(shingles) so the shingle
    expression is never evaluated twice per row by predicate pushdown."""
    return df.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ", -1).alias("__w")
    ).filter(F.size("__w") >= k)


def shingle_table(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, shingle) exploded table — the base for jaccard and minhash."""
    return _words_staged(df, id_col, text_col, k).select(
        "id", F.explode(F.array_distinct(ngrams(F.col("__w"), k))).alias("shingle")
    )


def _shingle_arrays(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, sh: array<string>) — one row per document that HAS shingles
    (docs with fewer than k words are dropped, mirroring what the exploded
    shingle_table's groupBy implies). The un-exploded form: the per-doc
    set sizes and the exact-jaccard verify read it directly, so the
    dedup paths shuffle candidate PAIRS instead of (pair × shingle)
    exploded rows (optimization guide §2.3/§2.4)."""
    return _words_staged(df, id_col, text_col, k).select(
        "id", F.array_distinct(ngrams(F.col("__w"), k)).alias("sh")
    )


def _sigs_from_shingle_arrays(
    docs: DataFrame, n_hashes: int, portable: bool
) -> DataFrame:
    """(id, sig) from a (id, sh) shingle-array table: explode + groupBy
    with n_hashes MIN aggregates, which runs in whole-stage codegen
    (faster than a map-side array_min(transform(...)) lambda).

    ``docs`` must be a PERSISTED (or otherwise plan-barriered) table:
    exploding a plain ``sh`` attribute lets InferFiltersFromGenerate push
    the whole shingle expression below the words staging, O(words²·k)
    per doc. Un-persisted callers go through minhash_signatures below.
    Measurements: OPTIMIZATION_r06.md "Dedup (design notes moved from
    code)"."""
    sh = docs.select("id", F.explode("sh").alias("shingle"))
    return _agg_sigs(sh, n_hashes, portable)


def _agg_sigs(sh: DataFrame, n_hashes: int, portable: bool) -> DataFrame:
    """groupBy(id) with n_hashes MIN-hash aggregates over an exploded
    (id, shingle) table (duplicate shingles would not change a MIN, and
    both callers feed distinct shingles anyway)."""

    def h(i: int) -> Column:
        if portable:
            return F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")).cast("binary"))
        return F.xxhash64(F.lit(i), F.col("shingle"))

    agg = sh.groupBy("id").agg(*[F.min(h(i)).alias(f"h{i}") for i in range(n_hashes)])
    return agg.select("id", F.array(*[f"h{i}" for i in range(n_hashes)]).alias("sig"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    threshold: float = 0.6,
    max_df: int | None = DEFAULT_MAX_DF,
) -> DataFrame:
    """Exact jaccard over word-k-gram shingle sets for candidate pairs that
    share at least one shingle. Returns (id_a, id_b, jaccard).

    ``max_df`` caps shingle document frequency BEFORE the self-join (hot
    shingles are dropped from the shingle sets entirely, like stopword
    removal — jaccard is then over rare shingles). The DEFAULT is the
    scale-safe capped path (join fan-out bounded by n_shingles·max_df²);
    pass ``max_df=None`` explicitly for exact full-set jaccard semantics
    (tests/test_dedup.py plants a stop-shingle and asserts true-pair recall
    is unchanged under the default cap)."""
    if max_df is None:
        # EXACT mode (guide §2.3 "shuffle keys and metadata instead of
        # payloads"): candidates come from a self-join on the 8-byte
        # xxhash64 of the shingle instead of the ~60-byte shingle string,
        # and the exact jaccard is verified map-side via array_intersect
        # over the per-doc shingle ARRAYS (shape history: OPTIMIZATION_r06.md
        # "Dedup (design notes moved from code)"). A hash collision can only
        # ADD a candidate pair, and the explicit shared>0 filter plus the
        # exact array verify drop it again, so the output is row-identical
        # (property-pinned in tests/test_props.py::test_ngram_jaccard_exact_mode...).
        docs = _reused(_shingle_arrays(df, id_col, text_col, k))
        # explode the strings, hash in the SAME codegen stage: Generate +
        # xxhash64 both compile, while hashing inside a transform() lambda
        # would be evaluated interpretively per element
        sh = docs.select("id", F.explode("sh").alias("shingle")).select(
            "id", F.xxhash64("shingle").alias("h")
        )
        return _verify_pairs_exact(_self_pairs(sh, ["h"]), docs, threshold)
    base = shingle_table(df, id_col, text_col, k)
    # persist BEFORE the df-count + anti-join: both sides of
    # _drop_hot_keys read the shingle table, and without the persist
    # the full explode would execute twice
    base = _drop_hot_keys(_reused(base), ["shingle"], max_df)
    sh = _reused(base)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"))
    jac = F.round(
        F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 4
    ).alias("jaccard")
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac)
        .filter(F.col("jaccard") >= threshold)
    )


def _verify_pairs_exact(
    candidates: DataFrame, docs: DataFrame, threshold: float
) -> DataFrame:
    """Exact-jaccard verify of candidate (id_a, id_b) pairs against the
    (id, sh) shingle-array table: two id equi-joins fetch the arrays, then
    shared = |A∩B| and jaccard are pure map-side expressions, so the
    shuffle carries one row per candidate pair, not ~2·|sh| exploded rows.
    shared must be > 0 (a pair that shares no shingle is a hash-collision
    or banding artifact, never a near-duplicate) so the candidate
    generator may over-approximate freely."""
    a = docs.select(F.col("id").alias("id_a"), F.col("sh").alias("__sh_a"))
    b = docs.select(F.col("id").alias("id_b"), F.col("sh").alias("__sh_b"))
    shared = F.size(F.array_intersect("__sh_a", "__sh_b"))
    na, nb = F.size("__sh_a"), F.size("__sh_b")
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            shared.alias("__shared"),
            F.round(shared / (na + nb - shared), 4).alias("jaccard"),
        )
        .filter((F.col("__shared") > 0) & (F.col("jaccard") >= threshold))
        .drop("__shared")
    )


def _verify_pairs_sig(
    candidates: DataFrame,
    sigs_a: DataFrame,
    sigs_b: DataFrame,
    ids: tuple[str, str],
    n_hashes: int,
    threshold: float,
) -> DataFrame:
    """Signature-estimate verify of candidate pairs named ``ids`` (e.g.
    (id_a, id_b), or (id, corpus_id) against the ledger): two id
    equi-joins fetch the (id, sig) rows of ``sigs_a``/``sigs_b``, then
    sig_est_jaccard >= threshold. Returns (*ids, est_jaccard)."""
    ia, ib = ids
    a = sigs_a.select(F.col("id").alias(ia), F.col("sig").alias("sig_a"))
    b = sigs_b.select(F.col("id").alias(ib), F.col("sig").alias("sig_b"))
    return (
        candidates.join(a, ia)
        .join(b, ib)
        .withColumn(
            "est_jaccard", sig_est_jaccard(F.col("sig_a"), F.col("sig_b"), n_hashes)
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select(ia, ib, "est_jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    n_hashes: int = 32,
    portable: bool = False,
) -> DataFrame:
    """(id, sig) — sig[i] = min over shingles of hash(i, shingle). One
    explode + one groupBy; n_hashes aggregate expressions, all JVM-side.

    Default hash is xxhash64 (fast, engine-native — sig: array<long>).
    ``portable=True`` switches to the lexicographic MIN of
    md5(f"{i}|{shingle}") hex strings (sig: array<string>): MinHash only
    needs a uniform hash with a total order, and md5-hex is bit-identical
    in every engine — the same cross-engine trick that made the LSH plane
    literals oracle-checkable (similarity.plane_signs). ~2-3x slower; use
    the portable form for cross-engine audits, the default in production.
    Values are oracle-pinned by the dedup_minhash_lsh_portable /
    dedup_ingest_match_portable queries.

    The explode goes through shingle_table (Generate over the INLINE
    shingle expression, which InferFiltersFromGenerate skips), not an
    (id, sh) projection; see _sigs_from_shingle_arrays and
    OPTIMIZATION_r06.md §2."""
    return _agg_sigs(shingle_table(df, id_col, text_col, k), n_hashes, portable)


def band_digest_table(
    sigs: DataFrame, n_hashes: int, bands: int, portable: bool = False
) -> DataFrame:
    """(id, band, digest) from a (id, sig) signature table — the banded-LSH
    bucketing step as a pure map-side derivation (one explode, no shuffle),
    shared by minhash_lsh_pairs and the incremental ingest ledger. Digest
    is xxhash64 of the band's row slice (long), or md5 of the '|'-joined
    slice (string) when ``portable`` — the engine-reproducible form."""
    rows = n_hashes // bands

    def band_digest(b: int):
        cols = [F.col("sig")[i] for i in range(b * rows, (b + 1) * rows)]
        if portable:
            # md5 of the '|'-joined row slice: DuckDB's
            # md5(string_agg(h, '|' ORDER BY i)) computes the identical hex
            return F.md5(F.concat_ws("|", *cols).cast("binary"))
        return F.xxhash64(*cols)

    return _explode_bands(sigs, ["id"], "digest", [band_digest(b) for b in range(bands)])


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.6,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    portable: bool = False,
) -> DataFrame:
    """MinHash + banded LSH candidates, verified with exact jaccard.

    ``portable=True`` runs the whole pipeline on engine-reproducible md5
    primitives (portable signatures + md5 band digests), making candidate
    generation — not just the verify — bit-identical in any engine with
    md5: the dedup_minhash_lsh_portable query's DuckDB oracle re-derives
    signatures, buckets, candidates and jaccard from the same SQL.

    rows = n_hashes // bands per band; a pair is a candidate iff any band's
    row-slice of the signature matches exactly (hash-equality join on the
    band digest — near-linear candidate generation).
    Returns (id_a, id_b, jaccard) with jaccard >= threshold, exact.

    ``max_bucket`` caps band-bucket size before the candidate self-join
    (one hot bucket of b members fans out O(b²) pairs). Dropping a hot
    bucket only loses pairs whose EVERY matching band is hot — with
    ``bands`` independent chances per pair, true near-dups survive through
    any non-hot band (recall asserted in tests/test_dedup.py). The exact
    jaccard verify below is unaffected (full shingle sets). The capped path
    is the DEFAULT; pass ``max_bucket=None`` to opt out of the bound.
    """
    # ONE persisted (id, shingle-array) table feeds both the signatures and
    # the exact verify; `banded` stays unpersisted (measured a wash).
    # Shape history: OPTIMIZATION_r06.md "Dedup (design notes moved from code)".
    docs = _reused(_shingle_arrays(df, id_col, text_col, k))
    sigs = _reused(_sigs_from_shingle_arrays(docs, n_hashes, portable))
    banded = band_digest_table(sigs, n_hashes, bands, portable)
    banded = _drop_hot_keys(banded, ["band", "digest"], max_bucket)
    # exact verify over the true shingle sets; its shared>0 guard drops a
    # slice-collision pair with disjoint sets
    return _verify_pairs_exact(_self_pairs(banded, ["band", "digest"]), docs, threshold)


def content_hashes(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, content_hash): sha256 of the text — the unit the incremental
    dedup ledger stores (64 bytes/doc instead of the document)."""
    return df.select(
        F.col(id_col).alias("id"), F.sha2(F.col(text_col), 256).alias("content_hash")
    )


def dedup_against_corpus(
    batch: DataFrame,
    seen_hashes: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """INCREMENTAL exact dedup — the production ingestion shape: drop batch
    rows whose content already exists in the committed corpus, then drop
    within-batch duplicates (keep lowest id). ``seen_hashes`` is the
    corpus's (content_hash) set — maintained as a warehouse table that each
    ingest appends its surviving hashes to, so the corpus itself is never
    re-scanned (at 10^12 docs the hash table is ~3 orders smaller than the
    text). One left_anti hash join + one within-batch window; both keyed on
    the well-distributed sha256.

    Returns the surviving batch rows WITH an appended ``content_hash``
    column (deliberate: the caller's ledger append is a select of that
    column, no re-hash). Raises if the batch already carries a
    content_hash column — silently overwriting it would corrupt the
    caller's schema (ADVICE r4); drop or rename yours first."""
    from pyspark.sql import Window

    if "content_hash" in batch.columns:
        raise ValueError(
            "batch already has a content_hash column; drop or rename it — "
            "dedup_against_corpus appends its own sha256 content_hash"
        )
    hashed = batch.withColumn("content_hash", F.sha2(F.col(text_col), 256))
    fresh = hashed.join(
        seen_hashes.select("content_hash").distinct(), "content_hash", "left_anti"
    )
    rn = F.row_number().over(
        Window.partitionBy("content_hash").orderBy(F.col(id_col))
    )
    return fresh.withColumn("__rn", rn).filter(F.col("__rn") == 1).drop("__rn")


def _ingest_matches(
    sigs: DataFrame,
    ledger_sigs: DataFrame,
    n_hashes: int,
    bands: int,
    threshold: float,
    max_bucket: int | None,
    portable: bool,
) -> tuple[DataFrame, DataFrame]:
    """Candidate generation + signature verify for dedup_ingest_neardup,
    factored out so tests/test_plans.py can assert the join shape (ONE
    (band, digest) equi-join against the ledger — linear in batch size —
    and never a cartesian). Returns (corpus_matches(id, corpus_id,
    est_jaccard), batch_pairs(id_a, id_b, est_jaccard)), both filtered to
    est-jaccard >= threshold."""
    batch_banded = band_digest_table(sigs, n_hashes, bands, portable)
    ledger_banded = _drop_hot_keys(
        band_digest_table(ledger_sigs, n_hashes, bands, portable),
        ["band", "digest"],
        max_bucket,
    )
    # batch -> corpus candidates: one equi-join on the band digest
    corpus_cand = (
        batch_banded.join(
            ledger_banded.select(F.col("id").alias("corpus_id"), "band", "digest"),
            ["band", "digest"],
        )
        .select("id", "corpus_id")
        .distinct()
    )
    corpus_matches = _verify_pairs_sig(
        corpus_cand, sigs, ledger_sigs, ("id", "corpus_id"), n_hashes, threshold
    )
    # within-batch candidates: the usual banded self-join
    bb = _drop_hot_keys(batch_banded, ["band", "digest"], max_bucket)
    batch_pairs = _verify_pairs_sig(
        _self_pairs(bb, ["band", "digest"]), sigs, sigs, ("id_a", "id_b"),
        n_hashes, threshold,
    )
    return corpus_matches, batch_pairs


def sig_est_jaccard(a: Column, b: Column, n_hashes: int) -> Column:
    """MinHash-estimated jaccard: the fraction of equal signature
    components, floor-truncated to 4 dp with integer division (eq/32 lands
    on EXACT binary halves like 0.03125, where round-half conventions
    differ across engines — textstats.floor_frac). Standard error is
    ~sqrt(J(1-J)/n_hashes) (~0.09 at n=32, J=0.5) — size n_hashes to the
    fidelity the dedup threshold needs. This is what lets the incremental
    ingest verify candidates WITHOUT the corpus text: the ledger's
    signatures are the verify evidence."""
    eq = F.aggregate(
        F.zip_with(a, b, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return floor_frac(eq, F.lit(n_hashes))


def dedup_ingest_neardup(
    batch: DataFrame,
    ledger_sigs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.6,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    portable: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """INCREMENTAL NEAR-DUP dedup — the composition a production ingest
    loop runs per batch: the committed corpus is represented ONLY by its
    MinHash signature ledger (``ledger_sigs``: (id, sig), ~n_hashes longs
    per document — the text is never re-scanned; its table name is
    sig_ledger_table), and each new batch is LSH-joined against that
    ledger plus itself.

    Per batch: (1) signatures for the batch (one explode + groupBy);
    (2) band digests map-side on both sides (band_digest_table);
    (3) candidates = ONE equi-join batch⋈ledger on (band, digest) — linear
    in batch size: each batch band row meets at most ``max_bucket`` ledger
    rows (hot ledger buckets are capped, same rationale as
    minhash_lsh_pairs; plan-asserted no-cartesian in tests/test_plans.py)
    — plus the within-batch band self-join; (4) candidate verify by
    SIGNATURE-estimated jaccard (sig_est_jaccard — the ledger carries no
    shingles, so the estimate IS the verify; within-batch pairs use the
    same estimator for one consistent threshold semantics); (5) component
    resolution over within-batch edges ∪ batch→corpus match edges: a batch
    doc lands in a component containing any corpus doc → dropped; a
    corpus-free component keeps its minimum id (resolve_components).

    Returns ``(survivors, survivor_sigs)``: the surviving batch rows
    (original schema) and their (id, sig) rows — the caller appends the
    latter to the ledger table so the next batch dedups against them
    (append-only; replaying the same batch is then a complete no-op:
    every doc exact-matches its own ledger signature in every band).

    Scale notes: the ledger is ~2-3 orders smaller than the corpus text;
    on a real deployment store it bucketed by (band, digest) (Iceberg
    bucket partition / Spark bucketBy) so step (3)'s probe join prunes to
    the batch's buckets instead of shuffling the full ledger per ingest.
    Docs with fewer than k words have no shingles, hence no signature:
    they always survive and add no ledger rows (exact dedup of those is
    dedup_against_corpus's job)."""
    sigs = _reused(minhash_signatures(batch, id_col, text_col, k, n_hashes, portable))
    corpus_matches, batch_pairs = _ingest_matches(
        sigs, ledger_sigs, n_hashes, bands, threshold, max_bucket, portable
    )
    # (5) resolve: corpus matches are edges into corpus nodes, so
    # transitivity holds across the ledger boundary (a≈b within batch and
    # b≈corpus drops BOTH — the same all-but-canonical semantics a
    # whole-corpus resolve would give, with the corpus doc as canonical)
    edges = batch_pairs.select("id_a", "id_b").unionByName(
        corpus_matches.select(
            F.col("id").alias("id_a"), F.col("corpus_id").alias("id_b")
        )
    )
    labels = resolve_components(edges)
    corpus_comps = (
        labels.join(
            corpus_matches.select(F.col("corpus_id").alias("id")).distinct(), "id"
        )
        .select("component_id")
        .distinct()
    )
    drops = (
        labels.join(corpus_comps, "component_id", "left_semi")
        .select("id")
        .unionByName(labels.filter(~F.col("keep")).select("id"))
        .distinct()
    )
    survivors = batch.join(
        drops.withColumnRenamed("id", id_col), id_col, "left_anti"
    )
    survivor_sigs = sigs.join(
        survivors.select(F.col(id_col).alias("id")), "id", "left_semi"
    )
    return survivors, survivor_sigs


def sig_ledger_table(corpus_table: str) -> str:
    """The warehouse table holding ``corpus_table``'s (id, sig) signature
    ledger, which dedup_ingest_neardup's callers read and append to."""
    return f"{corpus_table}_sig_ledger"


def ledger_signatures(
    rows: DataFrame, id_col: str, text_col: str, **dedup_kw
) -> DataFrame:
    """The (id, sig) ledger rows dedup_ingest_neardup(**dedup_kw) appends
    for ``rows`` when they all survive, under its own defaults for k,
    n_hashes and portable, so re-deriving the signatures of committed rows
    (a crash between the corpus and ledger appends) matches a fresh ingest.
    Its ``.schema`` is the ledger's read schema, also before the first
    append (sig is array<string> when ``portable``)."""
    params = signature(dedup_ingest_neardup).parameters
    kw = {n: p.default for n, p in params.items()} | dedup_kw
    return minhash_signatures(
        rows, id_col, text_col, kw["k"], kw["n_hashes"], kw["portable"]
    )


def contamination(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    threshold: float = 0.2,
) -> DataFrame:
    """Train/test contamination check (decontamination, the step every
    eval-aware pretraining pipeline runs): for each TEST document, the
    fraction of its distinct word-k-gram shingles that appear anywhere in
    the TRAIN split. Returns (id, n_sh, hits, contam_ratio, contaminated).

    Shape at scale: distinct train shingles (one shuffle on the shingle —
    at 100 TB this is the corpus's shingle vocabulary, hash-partitioned),
    then ONE equi-join test-shingles⋈train-shingles — linear, not a
    self-join, so no df cap is needed — and a per-doc count. Test docs with
    fewer than k words have no shingles and are reported with n_sh=0,
    contam_ratio 0.0 (nothing to leak)."""
    tr = shingle_table(train, id_col, text_col, k).select("shingle").distinct()
    te = shingle_table(test, id_col, text_col, k)
    sizes = te.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    hits = te.join(tr, "shingle").groupBy("id").agg(F.count(F.lit(1)).alias("hits"))
    # floor-truncate, not round: round-half semantics differ between
    # engines and hits/n_sh lands on exact binary halves (e.g. 1/32)
    ratio = F.floor(F.col("hits") * 10000 / F.col("n_sh")).cast("double") / 10000
    return (
        test.select(F.col(id_col).alias("id"))
        .join(sizes, "id", "left")
        .join(hits, "id", "left")
        .select(
            "id",
            F.coalesce("n_sh", F.lit(0)).alias("n_sh"),
            F.coalesce("hits", F.lit(0)).alias("hits"),
            F.coalesce(ratio, F.lit(0.0)).alias("contam_ratio"),
        )
        .withColumn("contaminated", F.col("contam_ratio") >= threshold)
    )


def resolve_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Resolve duplicate PAIRS into duplicate CLUSTERS: distributed
    connected components, returning (id, component_id, keep) where
    component_id is the component's minimum id and keep marks that minimum
    — the canonical keep/drop set every corpus-dedup run needs after the
    pair generators (transitivity: A~B, B~C ⇒ one cluster, drop two).

    Algorithm: hash-to-min label propagation. Each node starts labeled with
    its own id; every iteration each node takes the min of its label and
    its neighbors' labels (one shuffle: edge⋈label join + groupBy-min).
    Converges in O(component diameter) iterations — the right trade for
    dedup graphs, whose components are near-cliques (banded LSH emits most
    intra-cluster pairs directly, so diameters are 1-3; the
    large-star/small-star O(log d) variant only pays off on long-chain
    graphs). Convergence is CHECKED (label sets equal), not assumed;
    raises if max_iter is hit while still changing.

    Scale shape: the edge table is built once, symmetrized, persisted and
    reused every iteration; labels are localCheckpoint'ed per iteration so
    the plan does not grow with iteration count (an iterative self-join
    otherwise compounds lineage until planning itself dominates). Per
    iteration: one shuffle of |E| rows on id — no driver-side graph, no
    collect; the only driver value is the per-iteration changed-count."""
    # symmetrize by EXPLODING each pair into both directions: a union of
    # pairs and swapped pairs would run the pair plan twice (OPTIMIZATION_r06.md §3)
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    # partitioned by the join key with an explicit count, which AQE does
    # not resize: every iteration's join reads the cache without
    # re-shuffling |E| rows, and the dedup adds no exchange (src ⊆ its
    # keys). Plan-asserted in tests/test_plans.py; see OPTIMIZATION_r06.md
    # §3 and "Cached-plan partitioning".
    n_parts = pairs.sparkSession.sparkContext.defaultParallelism
    edges = _reused(edges.repartition(n_parts, "src").dropDuplicates(["src", "dst"]))
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_comp = (
            edges.join(labels.select(F.col("id").alias("src"), "comp"), "src")
            .select(F.col("dst").alias("id"), "comp")
            # neighbor contributions carry no previous label (null of the
            # id/comp type — ids may be strings, so never hard-code long)
            .withColumn("prev", F.lit(None).cast(labels.schema["comp"].dataType))
        )
        # the previous label rides the union as `prev` (one self row per
        # id), so the convergence check is the same aggregation: labels
        # only decrease, hence "changed" == "comp < prev".
        new_labels = (
            neighbor_comp.unionByName(
                labels.select("id", "comp", F.col("comp").alias("prev"))
            )
            .groupBy("id")
            .agg(F.min("comp").alias("comp"), F.min("prev").alias("prev"))
            .localCheckpoint(eager=True)  # truncate lineage each round
        )
        changed = new_labels.filter(F.col("comp") < F.col("prev")).count()
        labels = new_labels.select("id", "comp")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"resolve_components did not converge in {max_iter} iterations"
        )
    return labels.select(
        "id",
        F.col("comp").alias("component_id"),
        (F.col("id") == F.col("comp")).alias("keep"),
    )


def _simhash(text: Column, token_hash, bit_set, n_bits: int) -> Column:
    """The one simhash vote: over the distinct space-split tokens, bit b is
    set iff more than half of the token hashes (``token_hash(token)``) have
    ``bit_set(hash, b)``; the n_bits votes are OR-folded into one integer."""
    hashes = F.transform(F.array_distinct(F.split(text, " ", -1)), token_hash)
    n = F.size(hashes)
    bits = [
        F.when(
            F.size(F.filter(hashes, lambda h: bit_set(h, b))) * 2 > n, F.lit(1 << b)
        ).otherwise(F.lit(0))
        for b in range(n_bits)
    ]
    return reduce(lambda x, y: x.bitwiseOR(y), bits)


def simhash64(text: Column) -> Column:
    """64-bit simhash from word-token hash bit votes — pure JVM expressions.

    For each bit position, the bit is 1 iff the majority of token hashes
    have that bit set. Token hash = xxhash64(token). The sign bit is
    skipped (63 votes) so results stay positive longs.
    """
    return _simhash(
        text, lambda w: F.xxhash64(w), lambda h, b: h.bitwiseAND(F.lit(1 << b)) != 0, 63
    )


def simhash64_portable(text: Column, n_bits: int = 16) -> Column:
    """Engine-reproducible simhash over ``n_bits`` bits: the bit-b vote of
    a token is bit (b % 4) of hex nibble (b // 4) of md5(token) — every
    engine computes the identical md5 hex string, so the signature is
    bit-identical anywhere (the portable-hash pattern a third time:
    plane_signs, portable minhash, now simhash). Default 16 bits keeps the
    vote expression tree (n_bits filters over the token array) compact;
    the xxhash64 simhash64 above remains the fast 63-bit production path."""

    def bit_set(h: Column, b: int) -> Column:
        nibble = F.conv(F.substring(h, b // 4 + 1, 1), 16, 10).cast("int")
        return nibble.bitwiseAND(F.lit(1 << (b % 4))) != 0

    return _simhash(text, lambda w: F.md5(w.cast("binary")), bit_set, n_bits).cast("long")


def simhash_portable_sql(text_sql: str, n_bits: int = 16) -> str:
    """The DuckDB rendering of simhash64_portable — generated from the
    same bit convention so the two can never drift."""
    terms = []
    for b in range(n_bits):
        nibble = (
            f"(strpos('0123456789abcdef', substr(md5(t.tok), {b // 4 + 1}, 1)) - 1)"
        )
        vote = f"SUM(CASE WHEN ({nibble} & {1 << (b % 4)}) != 0 THEN 1 ELSE 0 END)"
        terms.append(f"(CASE WHEN {vote} * 2 > COUNT(*) THEN {1 << b} ELSE 0 END)")
    votes = " + ".join(terms)
    return (
        f"SELECT doc_id, CAST({votes} AS BIGINT) AS sim "
        f"FROM (SELECT doc_id, unnest(list_distinct(string_split({text_sql}, ' '))) AS tok "
        f"      FROM documents) t GROUP BY doc_id"
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs by simhash: band-bucket candidates (a pair within
    hamming distance d < bands must agree exactly on >= 1 band), then exact
    hamming verify via popcount of xor. ``max_bucket`` caps band-bucket size
    before the self-join (same rationale as minhash_lsh_pairs; capped by
    default, ``None`` opts out)."""
    width = 64 // bands
    sims = _reused(
        df.select(F.col(id_col).alias("id"), simhash64(F.col(text_col)).alias("sim"))
    )
    chunks = [
        F.shiftrightunsigned("sim", b * width).bitwiseAND(F.lit((1 << width) - 1))
        for b in range(bands)
    ]
    banded = _explode_bands(sims, ["id", "sim"], "chunk", chunks)
    banded = _drop_hot_keys(banded, ["band", "chunk"], max_bucket)
    cand = _self_pairs(banded, ["band", "chunk"], carry=["sim"])
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming")
    return cand.select("id_a", "id_b", hamming).filter(F.col("hamming") <= max_hamming)

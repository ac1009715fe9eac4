"""Text analysis for training-data pipelines: language-ID heuristic,
quality scoring, token counting, document fingerprinting.

All pure JVM expressions (codegen-friendly, no Python boundary); each has a
closed-form DuckDB oracle in queries_text.py."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import _shingles_of_words

# tiny per-language stopword lists for the n-gram/stopword heuristic
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "de": ["der", "die", "und", "das", "ist", "von", "ein", "zu"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est"],
}
LANG_ORDER = ["en", "es", "de", "fr"]  # tie-break priority


def words(text: Column) -> Column:
    return F.split(F.lower(text), " ", -1)


def stopword_hits(text: Column, lang: str) -> Column:
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(words(text), lambda w: F.array_contains(sw, w)))


def lang_guess(text: Column) -> Column:
    """argmax of per-language stopword hits; ties broken by LANG_ORDER;
    'und' (undetermined) when no list scores a hit."""
    scores = {lang: stopword_hits(text, lang) for lang in LANG_ORDER}
    best = F.greatest(*scores.values())
    out = F.lit("und")
    for lang in reversed(LANG_ORDER):  # earlier langs overwrite on ties
        out = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(out)
    return out


def token_count_ws(text: Column) -> Column:
    """Whitespace tokens."""
    return F.size(F.split(text, " ", -1)).cast("long")


BPE_ISH = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def token_count_bpe(text: Column) -> Column:
    """BPE-ish token estimate: alpha runs, digit runs, single punctuation."""
    return F.regexp_count(F.lower(text), F.lit(BPE_ISH)).cast("long")


def punct_ratio(text: Column) -> Column:
    clean = F.regexp_replace(F.lower(text), "[a-z0-9 ]", "")
    return F.length(clean) / F.length(text)


# PII scrubbing for training corpora. Patterns deliberately use ONLY the
# regex subset shared by java.util.regex and RE2 (no lookaround, no
# backrefs) so the exact same strings run in Spark, DuckDB, Trino, Go —
# a redaction pass must be reproducible across the audit engine too.
# Order matters (email before phone: an email's digits must not be
# half-eaten as a phone number); apply in PII_PATTERNS order.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    # \b on both digit ends (after the optional '+', which is non-word so a
    # leading \b there would never hold): without guards the pattern ate the
    # first 10 digits of any longer run — a 16-digit card number became
    # '<PHONE>' + 6 leaked digits, and long numeric ids were over-redacted.
    # \b is ASCII word-boundary in BOTH RE2 and java.util.regex → portable.
    ("phone", r"\+?\b\d{3}[- ]?\d{3}[- ]?\d{4}\b"),
)


def redact_pii(text: Column) -> Column:
    """Replace each PII class with its <CLASS> placeholder, in registry
    order; a pure chain of JVM regexp_replace (codegen, no Python)."""
    out = text
    for name, pat in PII_PATTERNS:
        out = F.regexp_replace(out, pat, f"<{name.upper()}>")
    return out


def stopword_ratio(text: Column) -> Column:
    return stopword_hits(text, "en") / F.size(words(text))


def quality_score(text: Column) -> Column:
    """Composite [0,1]-ish quality: length credit + stopword credit −
    punctuation penalty. The exact formula is arbitrary; determinism and
    scale-safety are the contract."""
    len_credit = F.least(F.length(text) / F.lit(400.0), F.lit(1.0))
    raw = 0.5 * len_credit + 0.5 * stopword_ratio(text) - punct_ratio(text)
    # floor-truncate instead of round: round-half semantics differ between
    # engines (Spark HALF_UP vs DuckDB banker's); floor on the identical
    # input double is unambiguous
    return F.floor(raw * 10000).cast("double") / 10000


def word_ngrams(text: Column, k: int) -> Column:
    """Word k-grams WITH duplicates (a multiset, unlike
    dedup.word_shingles which is distinct-only) — repetition signals need
    the occurrence counts. Empty array below k words."""
    ws = F.split(text, " ", -1)
    n = F.size(ws)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.concat_ws(" ", F.slice(ws, i + 1, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _frac_10k(num: Column, den: Column) -> Column:
    """floor(num*10000/den)/10000 computed with INTEGER division so Spark
    and any audit engine (DuckDB `//`) agree bit-for-bit: a div b is
    rewritten (a - a mod b) / b — the numerator is then exactly divisible,
    so the double division is exact. Avoids the floor-of-double edge where
    IEEE rounding can bump a quotient sitting just under an integer."""
    a = (num * 10000).cast("long")
    return (a - F.pmod(a, den)) / den / F.lit(10000.0)


def dup_ngram_frac(text: Column, k: int = 2) -> Column:
    """Fraction of word-k-gram occurrences that repeat an earlier one
    (Gopher-style `dup_ngram` repetition signal), truncated to 4 decimals.
    Null below k words. Pure JVM: size/array_distinct, no Python."""
    grams = word_ngrams(text, k)
    n = F.size(grams)
    return F.when(n > 0, _frac_10k(n - F.size(F.array_distinct(grams)), n))


def top_ngram_frac(text: Column, k: int = 2) -> Column:
    """Fraction of word-k-gram occurrences taken by the single most
    frequent k-gram (Gopher `top_ngram` signal), truncated to 4 decimals.
    Per-row cost is O(distinct * total) via filter-count over the gram
    array — fine for typical documents; for very long docs use
    ``top_ngram_frac_table`` below, which routes them through an
    explode + groupBy(doc, gram) + max shuffle (linear per-row work)."""
    grams = word_ngrams(text, k)
    n = F.size(grams)
    top = F.array_max(
        F.transform(
            F.array_distinct(grams),
            lambda g: F.size(F.filter(grams, lambda x: x == g)),
        )
    )
    return F.when(n > 0, _frac_10k(top, n))


# Route a document to the shuffle path when it has at least this many
# whitespace tokens. Sizing: the expression path is O(distinct * total)
# comparisons per row — at 10k tokens that is at most 10^8 cheap string
# equality checks inside one codegen'd task (~low seconds worst case,
# typically far less because distinct << total in repetitive long docs),
# while below it the shuffle path's explode would move up to 10k rows per
# document through an exchange for no benefit. Above the threshold the
# per-row cost would grow quadratically (a 10^6-token doc → 10^12
# comparisons in ONE task — the round-4 'What's wrong #1' ceiling), so
# those rows trade one shuffle for linear work instead.
TOP_NGRAM_SHUFFLE_MIN_TOKENS = 10_000


def top_ngram_frac_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 2,
    out_col: str = "top_ngram_frac",
    shuffle_min_tokens: int = TOP_NGRAM_SHUFFLE_MIN_TOKENS,
) -> DataFrame:
    """``top_ngram_frac`` with the long-document scale path: rows with
    fewer than ``shuffle_min_tokens`` whitespace tokens evaluate the pure
    expression (map-side, no shuffle); rows at/above it are exploded to
    (id, gram), counted per (id, gram), and reduced to max/sum per id —
    linear per-row work at the cost of one exchange that carries ONLY the
    long documents' grams. Results are identical on both paths (equality
    on random docs asserted in tests/test_textstats.py); docs below k
    words get null either way. Appends ``out_col`` to the input schema."""
    nw = F.size(F.split(F.col(text_col), " ", -1))
    is_long = nw >= F.lit(shuffle_min_tokens)
    short = df.filter(~is_long).withColumn(out_col, top_ngram_frac(F.col(text_col), k))
    long_rows = df.filter(is_long)
    stats = (
        long_rows.select(
            F.col(id_col), F.explode(word_ngrams(F.col(text_col), k)).alias("gram")
        )
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy(id_col)
        .agg(F.max("__c").alias("__top"), F.sum("__c").alias("__n"))
    )
    long_out = (
        long_rows.join(stats, id_col, "left")
        .withColumn(
            out_col,
            F.when(F.col("__n") > 0, _frac_10k(F.col("__top"), F.col("__n"))),
        )
        .drop("__top", "__n")
    )
    return short.unionByName(long_out.select(*short.columns))


def normalize_text(text: Column) -> Column:
    """Canonical text normalization for dedup/analysis keys: lowercase,
    punctuation → space, whitespace runs collapsed, edges trimmed. A pure
    JVM regexp_replace chain in the java∩RE2 regex subset (the
    PII_PATTERNS discipline) so the identical expressions reproduce the
    normalization in any audit engine — a normalization that differs
    between the ingest engine and the audit engine silently breaks every
    content-hash comparison downstream. Character classes are explicit
    ASCII ranges (no \\w/\\s shorthands, whose Unicode semantics differ
    across engines)."""
    out = F.lower(text)
    out = F.regexp_replace(out, "[^a-z0-9 ]", " ")
    out = F.regexp_replace(out, "  +", " ")
    return F.trim(out)


def fingerprint(words: Column, k: int = 5) -> Column:
    """Deterministic document fingerprint: lexicographic min of sha256 over
    word-k-gram shingles (a 1-perm MinHash with a portable hash). Null for
    docs shorter than k words. ``words`` is the document's split words as
    a STAGED column reference (see dedup._shingles_of_words): an inline
    split would be re-evaluated inside every shingle."""
    return F.array_min(F.transform(_shingles_of_words(words, k), lambda s: F.sha2(s, 256)))


def log_template(text: Column) -> Column:
    """Mask a log/message line's variable tokens down to its constant
    skeleton (the grouping key of template mining — Drain-family log
    clustering reduced to its portable core): long lowercase-hex runs
    (ids, digests, uuid fragments) become ``<hex>``, then any digit run
    becomes ``<n>``. Order matters — hex first, so ``deadbeef42`` doesn't
    decay into ``deadbeef<n>``. Pure JVM regexp_replace chain in the
    java∩RE2 subset with explicit ASCII classes (the PII_PATTERNS /
    normalize_text discipline), so the identical expressions reproduce
    the template key in any audit engine — two engines disagreeing on
    masking would split every template's count in two."""
    out = F.regexp_replace(text, "[0-9a-f]{8,}", "<hex>")
    return F.regexp_replace(out, "[0-9]+", "<n>")

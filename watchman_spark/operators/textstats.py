"""Text analysis for training-data pipelines: language-ID heuristic,
quality scoring, token counting, document fingerprinting, and the text
operators' one n-gram core — ``ngrams`` (every word k-gram comes from it;
dedup shingles are its ``array_distinct``), the sorted-run repetition
fold and ``floor_frac`` (the only exact integer-division ratio).

All pure JVM expressions (codegen-friendly, no Python boundary); each has a
closed-form DuckDB oracle in queries_text.py."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

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


def floor_frac(num: Column, den: Column, scale: int = 10_000) -> Column:
    """floor(num*scale/den)/scale computed with INTEGER division so Spark
    and any audit engine (DuckDB `//`) agree bit-for-bit: a div b is
    rewritten (a - a mod b) / b — the numerator is then exactly divisible,
    so the double division is exact. Avoids the floor-of-double edge where
    IEEE rounding can bump a quotient sitting just under an integer.
    ``num * scale`` is formed in num's type: pass a bigint when it can
    pass 2^31."""
    a = (num * scale).cast("long")
    return (a - F.pmod(a, den)) / den / F.lit(float(scale))


def ngrams(words: Column, k: int) -> Column:
    """Word k-grams WITH duplicates (a multiset; shingles are
    ``F.array_distinct(ngrams(words, k))``), null below k words. The words
    argument must be a plain column reference (attribute), never an inline
    split(...) expression: Catalyst substitutes an inline subtree into the
    per-element lambda, so every one of the n-k+1 grams would re-split the
    whole text — O(words²) per document (measured 34s → 8s for the sf1.0
    planted corpus when staged; guide §1.2 "per-task work").

    The n >= k guard must live INSIDE the expression even though callers
    filter short docs out first: InferFiltersFromGenerate adds a
    size(shingles) > 0 predicate whose common-subexpression can evaluate
    the transform BEFORE the row filter, and the n < k case would then
    evaluate a descending sequence / out-of-range element_at — a runtime
    error, not just waste (OPTIMIZATION_r06.md "Dedup (design notes moved
    from code)")."""
    n = F.size(words)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            # k element_at lookups concat'd directly: measured ~10-35%
            # faster than concat_ws(slice(...)) (no per-gram array
            # allocation), byte-identical output
            lambda i: F.concat_ws(" ", *[F.element_at(words, i + j) for j in range(k)]),
        ),
    )


def _gram_runs(words: Column, k: int) -> Column:
    """struct(n, dist, top) of the word k-grams — occurrences, distinct
    grams, count of the most frequent gram — in one fold over the SORTED
    grams, where each gram's occurrences form one run: O(n log n) per
    document. Null below k words. Counters are bigint, so floor_frac's
    num·scale cannot overflow on long documents. The optimized plan
    prints the fold once per field read (10 times in text_repetition), but
    the copies are shared, not re-run: on 4 cores at sf0.1 (rows x4) both
    signals read from one fold ran 1.1-1.7 s warm, against 1.6-2.1 s for
    one fold per signal."""
    zero = F.struct(
        *[F.lit(0).cast("long").alias(c) for c in ("n", "dist", "run", "top")],
        F.lit(None).cast("string").alias("prev"),
    )

    def step(acc: Column, g: Column) -> Column:
        same = g == acc["prev"]  # null on the first gram: a new run
        run = F.when(same, acc["run"] + 1).otherwise(1)
        return F.struct(
            (acc["n"] + 1).alias("n"),
            (acc["dist"] + F.when(same, 0).otherwise(1)).alias("dist"),
            run.alias("run"),
            F.greatest(acc["top"], run).alias("top"),
            g.alias("prev"),
        )

    return F.aggregate(F.array_sort(ngrams(words, k)), zero, step)


def dup_ngram_frac(words: Column, k: int = 2) -> Column:
    """Fraction of word-k-gram occurrences that repeat an earlier one
    (Gopher-style `dup_ngram` repetition signal), truncated to 4 decimals.
    Null below k words. ``words`` is a staged split (see ngrams)."""
    r = _gram_runs(words, k)
    return floor_frac(r["n"] - r["dist"], r["n"])


def top_ngram_frac(words: Column, k: int = 2) -> Column:
    """Fraction of word-k-gram occurrences taken by the single most
    frequent k-gram (Gopher `top_ngram` signal), truncated to 4 decimals.
    Null below k words. ``words`` is a staged split (see ngrams)."""
    r = _gram_runs(words, k)
    return floor_frac(r["top"], r["n"])


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
    a STAGED column reference (see ngrams)."""
    return F.array_min(F.transform(F.array_distinct(ngrams(words, k)), lambda s: F.sha2(s, 256)))


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

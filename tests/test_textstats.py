"""textstats operator checks that parity alone can't express — above all
that the PII redaction query actually EXERCISES every pattern class (a
mis-shaped plant once left the phone path vacuously green)."""

from __future__ import annotations

from pyspark.sql import functions as F

from watchman_spark.queries_text import text_redact_pii


def test_redact_query_exercises_every_pii_class(spark):
    out = text_redact_pii(spark, "/root/testdata/sf0.001")
    hits = out.agg(
        *[
            F.sum(F.when(F.col("redacted").contains(tok), 1).otherwise(0)).alias(tok)
            for tok in ("<EMAIL>", "<PHONE>", "<IPV4>")
        ]
    ).collect()[0]
    n = out.count()
    assert hits["<EMAIL>"] == n  # every row's planted email redacted
    assert hits["<PHONE>"] == n  # every row's planted phone redacted
    assert hits["<IPV4>"] == n  # every row's planted ip redacted
    # and no raw planted PII survives
    leaked = out.filter(
        F.col("redacted").rlike(r"@example\.com|555-\d{3}-\d{4}|10\.0\.\d+\.\d+")
    ).count()
    assert leaked == 0


def test_phone_pattern_boundary_guards(spark):
    """The phone pattern must NOT eat the first 10 digits of a longer run
    (a 16-digit card number previously became '<PHONE>' + 6 leaked digits,
    and long numeric ids were over-redacted) while still matching real
    phone shapes, including '+'-prefixed ones."""
    from watchman_spark.operators.textstats import redact_pii

    cases = [
        ("card", "pay 4111111111111111 now"),          # 16-digit run: untouched
        ("longid", "id 12345678901 ok"),               # 11-digit run: untouched
        ("plain", "call 555-123-4567 pls"),
        ("spaced", "call 555 123 4567 pls"),
        ("bare", "call 5551234567 pls"),
        ("plus", "call +123 456 7890 pls"),
        ("eol", "call 555-123-4567"),
    ]
    df = spark.createDataFrame(cases, ["k", "text"])
    got = {r["k"]: r["red"] for r in
           df.select("k", redact_pii(F.col("text")).alias("red")).collect()}
    assert got["card"] == "pay 4111111111111111 now"
    assert got["longid"] == "id 12345678901 ok"
    for k in ("plain", "spaced", "bare", "plus", "eol"):
        assert "<PHONE>" in got[k], (k, got[k])
        assert not any(ch.isdigit() for ch in got[k]), (k, got[k])


def test_repetition_signals_closed_form(spark):
    """dup/top bigram fractions on hand-computable docs, including the
    degenerate all-same-word doc (both fractions 1.0) and a no-repeat doc
    (both minimal), plus the <2-word null case."""
    from watchman_spark.operators.textstats import dup_ngram_frac, top_ngram_frac

    cases = [
        # "a a a a a": 4 bigrams, all "a a" -> dup 3/4, top 4/4
        ("loop", "a a a a a"),
        # "w x y z": 3 distinct bigrams -> dup 0, top 1/3 = 0.3333
        ("clean", "w x y z"),
        # "a b a b a": bigrams [ab, ba, ab, ba] -> dup 2/4, top 2/4
        ("pingpong", "a b a b a"),
        ("single", "solo"),
    ]
    df = spark.createDataFrame(cases, ["k", "text"]).select(
        "k", F.split("text", " ", -1).alias("w")
    )
    got = {
        r["k"]: (r["dup"], r["top"])
        for r in df.select(
            "k",
            dup_ngram_frac(F.col("w"), 2).alias("dup"),
            top_ngram_frac(F.col("w"), 2).alias("top"),
        ).collect()
    }
    assert got["loop"] == (0.75, 1.0)
    assert got["clean"] == (0.0, 0.3333)
    assert got["pingpong"] == (0.5, 0.5)
    assert got["single"] == (None, None)


def test_repetition_query_matches_pandas_recompute(spark):
    """Cross-check the registered query against an independent per-doc
    Python recompute on the real documents table."""
    from collections import Counter

    from watchman_spark.queries_text import text_repetition

    out = text_repetition(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert rows, "documents table should yield repetition rows"
    texts = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).collect()
    }
    for r in rows[:50]:
        w = texts[r["doc_id"]].split(" ")
        grams = [" ".join(w[i : i + 2]) for i in range(len(w) - 1)]
        n = len(grams)
        c = Counter(grams)
        assert r["n_bigrams"] == n
        assert r["dup_bigram_frac"] == ((n - len(c)) * 10000 // n) / 10000.0
        assert r["top_bigram_frac"] == (max(c.values()) * 10000 // n) / 10000.0


def test_repetition_signals_match_counter_recompute(spark):
    """The sorted-run fold against a Python Counter on random docs for
    k = 2 and 3: empty tokens (double spaces), docs shorter than k (null),
    a null text, and one 2,000-word doc."""
    import random
    from collections import Counter

    from watchman_spark.operators.textstats import dup_ngram_frac, top_ngram_frac

    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "loop", ""]
    rows = [(0, None), (1, " ".join(rng.choice(vocab) for _ in range(2000)))]
    for i in range(2, 120):
        words = [rng.choice(vocab) for _ in range(rng.choice([0, 1, 2, 3, 8, 20, 80]))]
        if len(words) >= 8 and i % 3 == 0:
            words = words[:4] * (len(words) // 4)  # highly repetitive doc
        rows.append((i, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", "text", F.split("text", " ", -1).alias("w")
    )
    for k in (2, 3):
        got = df.select(
            "doc_id", "text",
            dup_ngram_frac(F.col("w"), k).alias("dup"),
            top_ngram_frac(F.col("w"), k).alias("top"),
        ).collect()
        assert len(got) == len(rows)
        for r in got:
            w = r["text"].split(" ") if r["text"] is not None else []
            c = Counter(" ".join(w[i : i + k]) for i in range(len(w) - k + 1))
            n = sum(c.values())
            want = (None, None) if n == 0 else (
                ((n - len(c)) * 10000 // n) / 10000.0,
                (max(c.values()) * 10000 // n) / 10000.0,
            )
            assert (r["dup"], r["top"]) == want, (k, r["doc_id"])

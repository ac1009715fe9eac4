"""Training-data pipeline queries: dedup, similarity search, text analysis,
multimodal plumbing — over the driver's documents/embeddings tables.

Oracle-checked wherever DuckDB can express the same computation exactly
(shingle jaccard, sha-fingerprints, cosine with explicit sequential-fold
arithmetic); engine-native-hash operators (minhash/simhash/LSH) are
rows-only with semantics pytested in tests/test_dedup.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import multimodal, sampling, textstats
from .operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash64_portable,
    simhash_pairs,
    simhash_portable_sql,
)
from .operators.similarity import (
    as_double,
    brute_force_topk,
    cosine_pairs_blocked,
    ivf_topk,
    lsh_topk,
)
from .operators.textstats import STOPWORDS
from .queries import register, t

# documents with planted duplicates (derived purely from the driver table,
# deterministic): full copies of doc_id % 7 == 0 under shifted ids.
_COPIES_SQL = """(SELECT doc_id + 100000 AS doc_id, text
                  FROM documents WHERE doc_id % 7 = 0)"""
_PLANTED_SQL = f"(SELECT doc_id, text FROM documents UNION ALL SELECT * FROM {_COPIES_SQL})"


def _planted(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = (
        d.filter(F.col("doc_id") % 7 == 0)
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    return d.unionByName(dups)


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    f"""SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id, COUNT(*) AS dup_n
        FROM {_PLANTED_SQL} GROUP BY text""",
)
def dedup_exact(spark, sf_dir):
    return exact_dedup(_planted(spark, sf_dir), key_cols=["text"], id_col="doc_id").select(
        "keep_id", "dup_n"
    )


# word-8-gram shingles: the synthetic documents draw from a ~40-word
# vocabulary, so short shingles collide pathologically (the candidate
# join fans out quadratically); 8-grams keep candidate generation
# near-linear while planted duplicates still score jaccard 1.0
_SHINGLE_K = 8


def _grams_sql(k: int) -> str:
    """The word-k-grams of the words list ``w``, in order: the DuckDB twin
    of textstats.ngrams (callers keep only rows with len(w) >= k)."""
    return f"[array_to_string(w[i:i+{k - 1}], ' ') for i in generate_series(1, len(w)-{k - 1})]"


def _sets_sql(name: str, base: str, carry: str = "") -> str:
    """CTE ``name``: the distinct (doc_id{carry}, shingle) rows of the
    texts in ``base`` (dedup.word_shingles at k = _SHINGLE_K)."""
    return f"""{name} AS (SELECT DISTINCT doc_id{carry}, shingle FROM (
          SELECT doc_id{carry}, unnest(list_distinct({_grams_sql(_SHINGLE_K)})) AS shingle
          FROM (SELECT doc_id{carry}, string_split(text, ' ') AS w FROM {base})
          WHERE len(w) >= {_SHINGLE_K}))"""


# the planted corpus's shingle sets and per-doc set sizes
_PLANTED_SETS_SQL = f"""{_sets_sql("sets", _PLANTED_SQL)},
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sets GROUP BY doc_id)"""


def _pairs_sql(shared: str) -> str:
    """CTEs ``shared`` (the given body: id_a, id_b and their shared
    shingle count) and ``pairs``: the pairs whose set jaccard, rounded
    to 4 dp, is at least 0.8."""
    return f"""shared AS ({shared}),
        pairs AS (
          SELECT id_a, id_b,
                 round(shared * 1.0 / (sa.n_sh + sb.n_sh - shared), 4) AS jaccard
          FROM shared JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
          WHERE jaccard >= 0.8)"""


# every planted pair at jaccard >= 0.8, counted by the exact shingle self-join
_EXACT_PAIRS_SQL = f"""{_PLANTED_SETS_SQL}, {_pairs_sql(
    "SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared FROM sets a "
    "JOIN sets b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2")}"""


def _minhash_sql(sets: str, p: str = "") -> str:
    """CTEs ``{p}sig`` (32 md5 min-hashes per doc of ``sets``) and
    ``{p}band`` (4 bands of 8, each one md5 digest): the portable
    signatures and band digests of minhash_signatures(portable=True)."""
    return f"""{p}sig AS (
          SELECT doc_id, t.i AS i, MIN(md5(CAST(t.i AS VARCHAR) || '|' || shingle)) AS h
          FROM {sets} CROSS JOIN generate_series(0, 31) t(i) GROUP BY doc_id, t.i),
        {p}band AS (
          SELECT doc_id, i // 8 AS band, md5(string_agg(h, '|' ORDER BY i)) AS digest
          FROM {p}sig GROUP BY doc_id, i // 8)"""


def _floor_frac_sql(num: str, den: str) -> str:
    """textstats.floor_frac's DuckDB twin: num/den floored to 4 dp in
    exact integer arithmetic."""
    return f"(({num} * 10000) // {den}) / 10000.0"


@register("dedup_ngram_jaccard", f"WITH {_EXACT_PAIRS_SQL} SELECT * FROM pairs")
def dedup_ngram_jaccard(spark, sf_dir):
    # max_df=None: the DuckDB oracle computes exact full-set jaccard, so the
    # Spark side opts out of the (default-on) scale cap explicitly here
    return ngram_jaccard_pairs(
        _planted(spark, sf_dir), id_col="doc_id", text_col="text",
        k=_SHINGLE_K, threshold=0.8, max_df=None,
    ).select(F.col("id_a"), F.col("id_b"), "jaccard")


@register("dedup_minhash_lsh", None)  # rows-only: xxhash64 signatures
def dedup_minhash_lsh(spark, sf_dir):
    # bands=4 -> 8 rows/band: a candidate needs 8 equal minhashes, which
    # keeps the bucket join near-linear on this self-similar corpus;
    # exact-duplicate pairs always collide in every band
    return minhash_lsh_pairs(
        _planted(spark, sf_dir), id_col="doc_id", text_col="text",
        k=_SHINGLE_K, n_hashes=32, bands=4, threshold=0.8,
    )


# The PORTABLE MinHash-LSH pipeline: signatures, band digests, candidates
# AND the jaccard verify all on md5 primitives both engines compute
# bit-identically — upgrading the LSH candidate-generation semantics from
# rows-only to a full DuckDB oracle (the plane-literals trick, applied to
# minhash). The xxhash64 fast path above stays the production default.
@register(
    "dedup_minhash_lsh_portable",
    f"""WITH {_PLANTED_SETS_SQL}, {_minhash_sql("sets")},
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM band a JOIN band b
            ON a.band = b.band AND a.digest = b.digest AND a.doc_id < b.doc_id),
        {_pairs_sql(
            "SELECT c.id_a, c.id_b, COUNT(*) AS shared FROM cand c "
            "JOIN sets sa ON sa.doc_id = c.id_a "
            "JOIN sets sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle GROUP BY 1, 2")}
        SELECT * FROM pairs""",
)
def dedup_minhash_lsh_portable(spark, sf_dir):
    # max_bucket=None: the oracle has no cap — exact candidate semantics
    return minhash_lsh_pairs(
        _planted(spark, sf_dir), id_col="doc_id", text_col="text",
        k=_SHINGLE_K, n_hashes=32, bands=4, threshold=0.8,
        max_bucket=None, portable=True,
    )


# The incremental-ingest MATCH step: batch band digests LSH-join a corpus
# signature LEDGER and candidates are verified by the signature-ESTIMATED
# jaccard (the ledger has no shingles) — here on md5 primitives so DuckDB
# re-derives both sides' signatures, the band join, and the estimate
# bit-identically. The planted +100000 copies play the "new batch"; the
# raw documents table plays the committed corpus.
@register(
    "dedup_ingest_match_portable",
    f"""WITH {_sets_sql("cset", "documents")}, {_sets_sql("bset", _COPIES_SQL)},
        {_minhash_sql("cset", "c")}, {_minhash_sql("bset", "b")},
        cand AS (SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
                 FROM bband b JOIN cband c
                   ON b.band = c.band AND b.digest = c.digest),
        est AS (SELECT cand.batch_id, cand.corpus_id,
                       CAST(SUM(CASE WHEN bs.h = cs.h THEN 1 ELSE 0 END)
                            AS BIGINT) AS eq
                FROM cand
                JOIN bsig bs ON bs.doc_id = cand.batch_id
                JOIN csig cs ON cs.doc_id = cand.corpus_id AND cs.i = bs.i
                GROUP BY 1, 2)
        SELECT batch_id, corpus_id, {_floor_frac_sql("eq", "32")} AS est_jaccard
        FROM est WHERE est_jaccard >= 0.8""",
)
def dedup_ingest_match_portable(spark, sf_dir):
    from .operators.dedup import _ingest_matches, minhash_signatures

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    batch = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    ledger = minhash_signatures(
        d, "doc_id", "text", k=_SHINGLE_K, n_hashes=32, portable=True
    )
    sigs = minhash_signatures(
        batch, "doc_id", "text", k=_SHINGLE_K, n_hashes=32, portable=True
    )
    # max_bucket=None: the oracle has no cap — exact candidate semantics
    matches, _pairs = _ingest_matches(
        sigs, ledger, n_hashes=32, bands=4, threshold=0.8,
        max_bucket=None, portable=True,
    )
    return matches.select(
        F.col("id").alias("batch_id"), "corpus_id", "est_jaccard"
    )


@register("dedup_simhash", None)  # rows-only: xxhash64 bit votes
def dedup_simhash(spark, sf_dir):
    return simhash_pairs(
        _planted(spark, sf_dir), id_col="doc_id", text_col="text", max_hamming=3, bands=4
    )


# Duplicate-CLUSTER resolution over the jaccard pair table: the step between
# pair generation and a usable dedup (transitivity: A~B, B~C ⇒ one cluster).
# The oracle computes the same components via a recursive-CTE transitive
# closure over the IDENTICAL pair SQL that dedup_ngram_jaccard already
# proves matches the Spark pair set exactly.
@register(
    "dedup_resolve",
    f"""WITH RECURSIVE {_EXACT_PAIRS_SQL},
        edges AS (SELECT id_a AS s, id_b AS d FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        reach(s, d) AS (
          SELECT s, d FROM edges
          UNION
          SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
        nodes AS (SELECT DISTINCT s AS id FROM edges)
        SELECT CAST(n.id AS BIGINT) AS id,
               CAST(LEAST(n.id, MIN(r.d)) AS BIGINT) AS component_id,
               n.id = LEAST(n.id, MIN(r.d)) AS keep
        FROM nodes n JOIN reach r ON r.s = n.id
        GROUP BY n.id""",
)
def dedup_resolve(spark, sf_dir):
    from .operators.dedup import resolve_components

    pairs = ngram_jaccard_pairs(
        _planted(spark, sf_dir), id_col="doc_id", text_col="text",
        k=_SHINGLE_K, threshold=0.8, max_df=None,
    )
    return resolve_components(pairs).select(
        F.col("id").cast("long").alias("id"),
        F.col("component_id").cast("long").alias("component_id"),
        "keep",
    )


@register("dedup_simhash_portable", simhash_portable_sql("text"))
def dedup_simhash_portable(spark, sf_dir):
    """Portable simhash signatures (md5-bit votes): the oracle re-derives
    every bit from the same convention, upgrading simhash semantics from
    rows-only to triple-checkable (the xxhash64 63-bit simhash stays the
    production path; this pins the algorithm cross-engine)."""
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", simhash64_portable(F.col("text")).alias("sim"))


# the embeddings as DOUBLE lists: every vector oracle's input
_VEC_SQL = "v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)"


def _cos_sql(x: str, y: str) -> str:
    """The cosine of two DOUBLE lists rounded to 4 dp, as every vector
    operator returns it (similarity.cosine_staged's DuckDB twin)."""
    return (
        f"round(list_dot_product({x}, {y}) / (sqrt(list_dot_product({x}, {x}))"
        f" * sqrt(list_dot_product({y}, {y}))), 4)"
    )


# within-label cosine near-duplicates: at 0.9 the pair set is empty at
# sf0.001-sf0.1 (the largest in-block cosine there is 0.45-0.51), so the
# oracle would only ever compare an empty result; 0.3 keeps real pairs
_DUP_COS = 0.3


@register(
    "dedup_embedding_cosine",
    f"""WITH {_VEC_SQL}
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_cos_sql("a.v", "b.v")} AS cos_sim
        FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE cos_sim >= {_DUP_COS}""",
)
def dedup_embedding_cosine(spark, sf_dir):
    return cosine_pairs_blocked(
        t(spark, sf_dir, "embeddings"), block_col="label", threshold=_DUP_COS
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

@register(
    "ann_brute_force",
    f"""WITH {_VEC_SQL}, q AS (SELECT v AS qv FROM v WHERE vec_id = 0)
        SELECT a.vec_id, {_cos_sql("a.v", "q.qv")} AS cos_sim
        FROM v a, q
        ORDER BY cos_sim DESC, a.vec_id LIMIT 20""",
)
def ann_brute_force(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(as_double(F.col("embedding")).alias("q"))
    return brute_force_topk(emb, q, k=20)


# int8 quantization CTE shared by the two quantized-embedding oracles:
# per-vector symmetric scalar quantization, the CASE guarding all-zero vecs
_QUANT_SQL = f"""{_VEC_SQL},
        m AS (SELECT vec_id, v,
                     list_max(list_transform(v, x -> abs(x))) AS maxabs
              FROM v),
        q AS (SELECT vec_id, maxabs / 127.0 AS q_scale,
                     CASE WHEN maxabs = 0
                          THEN list_transform(v, x -> 0)
                          ELSE list_transform(
                                 v, x -> CAST(round(x * 127.0 / maxabs) AS INT))
                     END AS qv
              FROM m)"""


@register(
    "emb_quantize",
    f"""WITH {_QUANT_SQL}
        SELECT vec_id, array_to_string(qv, ',') AS q_str, q_scale FROM q""",
)
def emb_quantize(spark, sf_dir):
    """Int8 scalar quantization of the embedding column
    (similarity.quantize_embeddings): 4x fewer bytes per vector for the
    memory-bandwidth-bound ANN scans; pure JVM higher-order functions.
    The quantized array is exposed as a joined string so the oracle
    compare is cell-scalar (the fn_map lesson)."""
    from .operators.similarity import quantize_embeddings

    out = quantize_embeddings(t(spark, sf_dir, "embeddings"))
    return out.select(
        "vec_id",
        F.array_join(F.transform("q", lambda x: x.cast("string")), ",").alias(
            "q_str"
        ),
        "q_scale",
    )


@register(
    "ann_quantized_topk",
    f"""WITH {_QUANT_SQL},
        d AS (SELECT vec_id,
                     list_transform(qv, x -> CAST(x AS DOUBLE)) AS qd
              FROM q),
        qq AS (SELECT qd AS queryv FROM d WHERE vec_id = 0)
        SELECT d.vec_id, {_cos_sql("d.qd", "queryv")} AS cos_sim
        FROM d, qq
        ORDER BY cos_sim DESC, d.vec_id LIMIT 20""",
)
def ann_quantized_topk(spark, sf_dir):
    """Brute-force top-k over QUANTIZED vectors
    (similarity.brute_force_topk_quantized): cosine is scale-invariant so
    ranking needs no dequantization; int products summed in doubles are
    exact, making even the fold engine-portable. Recall vs the float path
    is pinned in tests/test_similarity.py."""
    from .operators.similarity import brute_force_topk_quantized, quantize_embeddings

    emb = t(spark, sf_dir, "embeddings")
    q = (
        quantize_embeddings(emb.filter(F.col("vec_id") == 0))
        .select(F.col("q"))
    )
    return brute_force_topk_quantized(emb, q, k=20)


def _lsh_bucket_sql(vec_sql: str, dim: int, n_planes: int) -> str:
    """The DuckDB rendering of lsh_bucket — the plane literals come from
    the SAME plane_signs() the Spark expression embeds, so bucket
    assignment is bit-identical by construction."""
    from .operators.similarity import plane_signs

    terms = []
    for p in range(n_planes):
        arr = "[" + ", ".join(str(s) for s in plane_signs(p, dim)) + "]"
        # round(..., 9) before the sign test mirrors lsh_bucket: engines may
        # sum the dot in different orders, and a near-zero projection must
        # not flip sign across engines
        terms.append(
            f"(CASE WHEN round(list_dot_product({vec_sql}, {arr}), 9) >= 0 "
            f"THEN {1 << p} ELSE 0 END)"
        )
    return " + ".join(terms)


# the vectors with their 4-plane bucket (lsh_bucket at dim 64)
_BKT_SQL = f"""{_VEC_SQL},
        b AS (SELECT vec_id, v, {_lsh_bucket_sql("v", 64, 4)} AS bkt FROM v)"""


def _probes_sql(probes: int) -> str:
    """The buckets lsh_topk scores for query bucket ``qbkt``: itself, and
    with probes=1 each one-bit flip of it."""
    flips = [f"xor(qbkt, {1 << p})" for p in range(4)] if probes else []
    return ", ".join(["qbkt", *flips])


def _lsh_topk_sql(probes: int) -> str:
    """lsh_topk's oracle: the top 20 by cosine to vector 0 over the
    probed buckets."""
    return f"""WITH {_BKT_SQL},
        q AS (SELECT bkt AS qbkt, v AS q FROM b WHERE vec_id = 0)
        SELECT b.vec_id AS vec_id, {_cos_sql("b.v", "q.q")} AS cos_sim
        FROM b, q WHERE b.bkt IN ({_probes_sql(probes)})
        ORDER BY cos_sim DESC, vec_id LIMIT 20"""


@register("ann_lsh", _lsh_topk_sql(0))
def ann_lsh(spark, sf_dir):
    """The sign-projection planes are literal ±1 arrays from a portable
    hashlib derivation (plane_signs), so the oracle reproduces bucket
    membership exactly."""
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    # 4 planes = 16 buckets: sized so a bucket holds ~1/16 of the corpus —
    # enough candidates to rank at test scale; at 100 TB raise planes and
    # multi-probe (ann_lsh_multiprobe below) instead
    return lsh_topk(emb, q, dim=64, k=20, n_planes=4)


@register("ann_ivf", None)  # rows-only: centroid picks are hash-defined
def ann_ivf(spark, sf_dir):
    # IVF coarse quantization: deterministic centroid picks, Arrow/numpy
    # batch assignment, nprobe=4-of-8 bucket search, exact cosine rank —
    # recall vs brute force asserted >=0.9 in tests/test_similarity.py
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    return ivf_topk(emb, q, k=20, n_centroids=8, nprobe=4)


@register("ann_lsh_multiprobe", _lsh_topk_sql(1))
def ann_lsh_multiprobe(spark, sf_dir):
    # Hamming-1 multi-probe: scores the query bucket plus each one-bit-flip
    # neighbor bucket — recall vs brute force is asserted >=0.9 in
    # tests/test_similarity.py; cost stays one broadcast hash join.
    # The oracle's probe set is the explicit XOR list of _probes_sql.
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    return lsh_topk(emb, q, dim=64, k=20, n_planes=4, probes=1)


# Train/test decontamination: per-test-doc fraction of distinct word-8-gram
# shingles appearing anywhere in the train split (the eval-leak check every
# pretraining pipeline runs before training). Split = the same portable
# md5-hex-prefix predicate the sampling operators use, so the oracle
# reproduces membership exactly; ratios floor-truncate (the quality_score
# lesson: round-half semantics differ across engines).
_DECON_THR = sampling.frac_to_hex_threshold(0.9)


@register(
    "text_decontaminate",
    f"""WITH split AS (
          SELECT doc_id, text,
                 {sampling.hex_prefix_sql("doc_id")} < '{_DECON_THR}' AS is_train
          FROM documents),
        {_sets_sql("sets", "split", ", is_train")},
        tr AS (SELECT DISTINCT shingle FROM sets WHERE is_train),
        te AS (SELECT doc_id, shingle FROM sets WHERE NOT is_train),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM te GROUP BY doc_id),
        hits AS (SELECT te.doc_id, COUNT(*) AS hits
                 FROM te JOIN tr USING (shingle) GROUP BY te.doc_id)
        SELECT s.doc_id AS id,
               COALESCE(sz.n_sh, 0) AS n_sh,
               COALESCE(h.hits, 0) AS hits,
               COALESCE(CAST(floor(h.hits * 10000.0 / sz.n_sh) AS DOUBLE) / 10000,
                        0.0) AS contam_ratio,
               contam_ratio >= 0.2 AS contaminated
        FROM (SELECT doc_id FROM split WHERE NOT is_train) s
        LEFT JOIN sizes sz ON sz.doc_id = s.doc_id
        LEFT JOIN hits h ON h.doc_id = s.doc_id""",
)
def text_decontaminate(spark, sf_dir):
    from .operators.dedup import contamination
    from .operators.sampling import _hex_prefix

    d = t(spark, sf_dir, "documents")
    pred = _hex_prefix(F.col("doc_id")) < _DECON_THR
    return contamination(
        d.filter(pred), d.filter(~pred), "doc_id", "text",
        k=_SHINGLE_K, threshold=0.2,
    )


@register("dedup_lsh_clusters", None)  # rows-only: xxhash64 signatures
def dedup_lsh_clusters(spark, sf_dir):
    """The composed production dedup: MinHash-LSH pair generation →
    connected-component resolution → canonical keep/drop set, end-to-end
    in one plan (the two operators the pair generators and dedup_resolve
    verify separately, composed). Planted full copies must resolve to
    drop exactly one of each pair (pytested in test_dedup.py)."""
    from .operators.dedup import resolve_components

    pairs = minhash_lsh_pairs(
        _planted(spark, sf_dir), id_col="doc_id", text_col="text",
        k=_SHINGLE_K, n_hashes=32, bands=4, threshold=0.8,
    )
    return resolve_components(pairs)


# Batch ANN (kNN JOIN): top-k for EVERY query row, not one query vector —
# the operator a semantic-dedup / retrieval-mining pipeline actually runs.
@register(
    "ann_knn_join",
    f"""WITH {_BKT_SQL},
        q AS (SELECT vec_id AS query_id, v AS q, bkt AS qbkt FROM b WHERE vec_id < 10),
        probes AS (SELECT query_id, q, unnest([{_probes_sql(1)}]) AS bkt FROM q),
        cand AS (
          SELECT p.query_id, b.vec_id, {_cos_sql("b.v", "p.q")} AS cos_sim
          FROM b JOIN probes p ON b.bkt = p.bkt),
        ranked AS (
          SELECT query_id, vec_id, cos_sim,
                 CAST(row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
          FROM cand)
        SELECT query_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= 5""",
)
def ann_knn_join(spark, sf_dir):
    from .operators.similarity import knn_join_lsh

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    return knn_join_lsh(emb, queries, dim=64, k=5, n_planes=4, probes=1)


@register("ann_knn_join_ivf", None)  # rows-only: centroid training is Arrow/numpy
def ann_knn_join_ivf(spark, sf_dir):
    # batch kNN over the Lloyd-trained IVF index; per-query recall vs brute
    # force asserted >=0.9 in tests/test_similarity.py
    from .operators.similarity import knn_join_ivf

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    return knn_join_ivf(emb, queries, k=5, n_centroids=8, nprobe=4)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def _sw_sql(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"len(list_filter(string_split(lower(text), ' '), x -> list_contains([{lst}], x)))"
    )


@register(
    "text_lang_id",
    f"""WITH s AS (SELECT doc_id, lang,
                {_sw_sql('en')} AS s_en, {_sw_sql('es')} AS s_es,
                {_sw_sql('de')} AS s_de, {_sw_sql('fr')} AS s_fr
         FROM documents)
       SELECT doc_id, lang,
              CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en > 0 THEN 'en'
                   WHEN s_es >= s_de AND s_es >= s_fr AND s_es > 0 THEN 'es'
                   WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
                   WHEN s_fr > 0 THEN 'fr'
                   ELSE 'und' END AS lang_guess
       FROM s""",
)
def text_lang_id(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", textstats.lang_guess(F.col("text")).alias("lang_guess"))


# textstats.quality_score's DuckDB twin, floor-truncated to 4 dp
_QUALITY_SQL = f"""CAST(floor((
                0.5 * least(length(text) / 400.0, 1.0)
                + 0.5 * ({_sw_sql('en')} * 1.0 / len(string_split(lower(text), ' ')))
                - (length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) * 1.0 / length(text))
              ) * 10000) AS DOUBLE) / 10000"""


@register(
    "text_quality",
    f"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_q, {_QUALITY_SQL} AS quality
       FROM documents""",
)
def text_quality(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_q"),
        textstats.quality_score(F.col("text")).alias("quality"),
    )


@register(
    "text_tokens",
    f"""SELECT doc_id,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
              CAST(len(regexp_extract_all(lower(text), '{textstats.BPE_ISH}')) AS BIGINT)
                AS bpe_tokens
       FROM documents""",
)
def text_tokens(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        textstats.token_count_ws(F.col("text")).alias("ws_tokens"),
        textstats.token_count_bpe(F.col("text")).alias("bpe_tokens"),
    )


@register(
    "text_fingerprint",
    f"""SELECT doc_id,
              list_min(list_transform(list_distinct({_grams_sql(5)}), s -> sha256(s))) AS fp
       FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
       WHERE len(w) >= 5""",
)
def text_fingerprint(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.split("text", " ", -1).alias("w"))
        .filter(F.size("w") >= 5)
        .select("doc_id", textstats.fingerprint(F.col("w"), k=5).alias("fp"))
    )


@register(
    "text_repetition",
    f"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       bi AS (SELECT doc_id, unnest({_grams_sql(2)}) AS b FROM docs WHERE len(w) >= 2),
       cnt AS (SELECT doc_id, b, COUNT(*) AS c FROM bi GROUP BY 1, 2),
       agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
                      CAST(COUNT(*) AS BIGINT) AS n_dist,
                      CAST(MAX(c) AS BIGINT) AS top_c
               FROM cnt GROUP BY 1)
       SELECT doc_id, n_bigrams,
              {_floor_frac_sql("(n_bigrams - n_dist)", "n_bigrams")} AS dup_bigram_frac,
              {_floor_frac_sql("top_c", "n_bigrams")} AS top_bigram_frac
       FROM agg""",
)
def text_repetition(spark, sf_dir):
    """Gopher-style intra-document repetition signals over word bigrams:
    what fraction of bigram occurrences are repeats, and what fraction the
    single most frequent bigram takes. A standard corpus-quality gate
    (boilerplate / keyword-stuffed / looping generations score high).
    Pure map-side JVM expressions; integer-division arithmetic keeps the
    DuckDB oracle bit-identical (see textstats.floor_frac). The words are
    split once; one sorted-run fold (textstats._gram_runs) feeds both."""
    w = F.col("w")
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ", -1).alias("w"))
        .filter(F.size(w) >= 2)
        .select(
            "doc_id",
            (F.size(w) - 1).cast("long").alias("n_bigrams"),
            textstats.dup_ngram_frac(w, 2).alias("dup_bigram_frac"),
            textstats.top_ngram_frac(w, 2).alias("top_bigram_frac"),
        )
    )


# PII redaction: the documents corpus is synthetic (no real PII), so plant
# deterministic PII-shaped strings from doc_id, redact, and oracle the
# result — the patterns are RE2-and-Java-portable by construction, so the
# DuckDB side runs the IDENTICAL regex chain (operators/textstats.py
# PII_PATTERNS).
_PII_PLANT_SQL = (
    "text || ' contact user' || doc_id || '@example.com or 555-' "
    "|| lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' "
    "|| lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') "
    "|| ' from 10.0.' || (doc_id % 256) || '.' || (doc_id % 100)"
)
_REDACT_SQL = "planted"
for _name, _pat in textstats.PII_PATTERNS:
    _REDACT_SQL = f"regexp_replace({_REDACT_SQL}, '{_pat}', '<{_name.upper()}>', 'g')"


@register(
    "text_redact_pii",
    f"""WITH p AS (SELECT doc_id, {_PII_PLANT_SQL} AS planted FROM documents)
        SELECT doc_id, {_REDACT_SQL} AS redacted FROM p""",
)
def text_redact_pii(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"),
        F.lit("."), (F.col("doc_id") % 100).cast("string"),
    )
    out = d.select("doc_id", textstats.redact_pii(planted).alias("redacted"))
    # the planted phone MUST actually be redacted — a mis-shaped plant
    # would leave this query vacuously green on the phone path (caught in
    # code review: the original plant was 3-4-4 digits vs the 3-3-4
    # pattern, so <PHONE> never appeared and both engines happily agreed)
    return out


@register(
    "text_quality_filter_chain",
    f"""SELECT doc_id,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens
       FROM documents
       WHERE len(string_split(text, ' ')) BETWEEN 5 AND 1000
         AND {_QUALITY_SQL} >= 0.3
         AND {_sw_sql('en')} > 0""",
)
def text_quality_filter_chain(spark, sf_dir):
    """The composed pretraining quality gate — length band AND quality
    score AND language evidence — as ONE map-side filter (each predicate
    is an already-oracled textstats expression; the chain shows they
    compose into the standard corpus-cleaning operator)."""
    d = t(spark, sf_dir, "documents")
    tok = textstats.token_count_ws(F.col("text"))
    return (
        d.filter(
            tok.between(5, 1000)
            & (textstats.quality_score(F.col("text")) >= 0.3)
            & (textstats.stopword_hits(F.col("text"), "en") > 0)
        )
        .select("doc_id", tok.alias("ws_tokens"))
    )


# ---------------------------------------------------------------------------
# reproducible sampling / split assignment / sequence packing
# ---------------------------------------------------------------------------

_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


@register(
    "sample_hash_det",
    f"""SELECT doc_id FROM documents
        WHERE {sampling.hex_prefix_sql("doc_id")} < '{sampling.frac_to_hex_threshold(0.1)}'""",
)
def sample_hash_det(spark, sf_dir):
    """Deterministic engine-portable ~10% sample: the md5-hex-prefix
    threshold predicate is the SAME SQL in Spark and DuckDB — this query
    being triple-green IS the cross-engine reproducibility proof."""
    d = t(spark, sf_dir, "documents")
    return sampling.hash_sample(d, "doc_id", 0.1).select("doc_id")


@register(
    "sample_by_unit",
    f"""SELECT event_id, user_id FROM events
        WHERE {sampling.hex_prefix_sql("user_id")} < '{sampling.frac_to_hex_threshold(0.2)}'""",
)
def sample_by_unit(spark, sf_dir):
    """Unit-preserving sampling: keyed on user_id, ALL of a user's events
    are kept or dropped together (the property that makes downstream
    per-user statistics unbiased on the sample)."""
    return sampling.hash_sample(t(spark, sf_dir, "events"), "user_id", 0.2).select(
        "event_id", "user_id"
    )


@register(
    "split_assignment",
    f"""SELECT {sampling.split_boundaries_sql('doc_id', _SPLITS)} AS split,
               COUNT(*) AS n, CAST(MIN(doc_id) AS BIGINT) AS min_id,
               CAST(MAX(doc_id) AS BIGINT) AS max_id
        FROM documents GROUP BY 1""",
)
def split_assignment(spark, sf_dir):
    """Total train/val/test assignment (0.8/0.1/0.1) keyed on doc_id;
    grouped to per-split counts + id range so the oracle checks both the
    partition sizes and membership boundaries."""
    d = t(spark, sf_dir, "documents")
    return (
        sampling.with_split(d, "doc_id", _SPLITS)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").cast("long").alias("min_id"),
            F.max("doc_id").cast("long").alias("max_id"),
        )
    )


_STRATA_FRACS = {"en": 0.2, "zh": 1.0, "de": 1.0, "es": 1.0, "fr": 1.0}


@register(
    "sample_stratified",
    f"""SELECT doc_id, lang FROM documents
        WHERE {sampling.stratified_sql('doc_id', 'lang', _STRATA_FRACS)}""",
)
def sample_stratified(spark, sf_dir):
    """Class-balancing sampling: downsample the dominant language (en at
    20%) while keeping every other stratum whole — per-stratum hash
    thresholds, one map-side filter, reproducible in any engine (the
    triple-green here IS the cross-engine proof, like sample_hash_det)."""
    d = t(spark, sf_dir, "documents")
    return sampling.stratified_sample(
        d, key_col="doc_id", strata_col="lang", fracs=_STRATA_FRACS
    ).select("doc_id", "lang")


@register(
    "text_vocab_topk",
    """SELECT token, COUNT(*) AS doc_freq
       FROM (SELECT DISTINCT doc_id, unnest(list_distinct(
                      string_split(lower(text), ' '))) AS token
             FROM documents)
       GROUP BY token ORDER BY doc_freq DESC, token LIMIT 50""",
)
def text_vocab_topk(spark, sf_dir):
    """Corpus vocabulary profile: top-50 tokens by DOCUMENT frequency
    (explode distinct tokens per doc → groupBy → TakeOrdered). The shape
    at 100 TB: partial-agg combine collapses each partition to its
    vocabulary before the exchange, and top-k never sorts globally."""
    d = t(spark, sf_dir, "documents")
    tokens = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.lower("text"), " ", -1))).alias("token"),
    )
    return (
        tokens.groupBy("token")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.col("token"))
        .limit(50)
    )


@register(
    "text_len_histogram",
    """SELECT CAST(len(string_split(text, ' ')) // 50 AS BIGINT) AS bucket,
              COUNT(*) AS n,
              CAST(MIN(len(string_split(text, ' '))) AS BIGINT) AS min_tok,
              CAST(MAX(len(string_split(text, ' '))) AS BIGINT) AS max_tok
       FROM documents GROUP BY 1""",
)
def text_len_histogram(spark, sf_dir):
    """Corpus length profile: token-count histogram in width-50 buckets
    (the chart every data-curation run draws before choosing filter
    bands). Pure map + one partial-agg exchange of n_buckets rows."""
    d = t(spark, sf_dir, "documents")
    tok = textstats.token_count_ws(F.col("text"))
    return (
        d.select(F.floor(tok / 50).cast("long").alias("bucket"), tok.alias("n_tok"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("n_tok").cast("long").alias("min_tok"),
            F.max("n_tok").cast("long").alias("max_tok"),
        )
    )


# Watchman-class monitoring semantics: threshold alerting over the event
# stream — hourly error rate per window, alert when the rate crosses the
# line. Rates floor-truncate for cross-engine round stability.
@register(
    "alert_error_rate",
    """SELECT date_trunc('hour', ts) AS hour,
              COUNT(*) AS n,
              CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_err,
              CAST(floor(n_err * 10000.0 / n) AS DOUBLE) / 10000 AS err_rate,
              err_rate >= 0.25 AS alert
       FROM events GROUP BY 1""",
)
def alert_error_rate(spark, sf_dir):
    """The monitoring-side operator a watchman-class processor feeds:
    tumbling-hour error rates with a threshold flag — one partial-agg
    exchange of n_hours rows; the streaming path runs the same expression
    over T2 windows."""
    ev = t(spark, sf_dir, "events")
    n_err = F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
    rate = (F.floor(n_err * 10000 / F.count(F.lit(1))).cast("double") / 10000)
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            n_err.cast("long").alias("n_err"),
            rate.alias("err_rate"),
            (rate >= 0.25).alias("alert"),
        )
    )


# each event with its user's previous event_type (in (ts, event_id) order)
_PREV_SQL = """seq AS (
         SELECT user_id, event_type,
                lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         FROM events)"""


@register(
    "alert_stuck_sessions",
    f"""WITH {_PREV_SQL}
       SELECT user_id,
              COUNT(*) AS n_events,
              CAST(SUM(CASE WHEN event_type = prev THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_repeat,
              {_floor_frac_sql("n_repeat", "n_events")} AS repeat_frac,
              repeat_frac >= 0.5 AS stuck
       FROM seq GROUP BY 1""",
)
def alert_stuck_sessions(spark, sf_dir):
    """Stuck-session detector: per user, the fraction of events whose
    event_type repeats the immediately preceding one (a looping client /
    retry storm reads as a high consecutive-repeat ratio — the same signal
    a transcript pipeline uses to catch looping generations). Window lag
    and the group-by share the user_id key, so Catalyst plans ONE exchange
    for both (plan-asserted); fractions use the integer-division trick for
    a bit-identical oracle."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev")
    )
    n_rep = F.sum(F.when(F.col("event_type") == F.col("prev"), 1).otherwise(0))
    agg = seq.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        n_rep.cast("long").alias("n_repeat"),
    )
    frac = textstats.floor_frac(F.col("n_repeat"), F.col("n_events"))
    return agg.select(
        "user_id", "n_events", "n_repeat",
        frac.alias("repeat_frac"), (frac >= 0.5).alias("stuck"),
    )


# sessionize's DuckDB twin: every event with its 1-based session_seq per
# user, a new session after a gap of more than 12h
_SESSIONS_SQL = """g AS (
         SELECT event_id, user_id, ts, event_type,
                lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         FROM events),
       s AS (
         SELECT event_id, user_id, ts, event_type,
                CAST(SUM(CASE WHEN prev_ts IS NULL
                              OR date_diff('second', prev_ts, ts) > 43200
                              THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS INT) AS session_seq
         FROM g)"""


@register(
    "sessionize_events",
    f"WITH {_SESSIONS_SQL} SELECT event_id, user_id, session_seq FROM s",
)
def sessionize_events(spark, sf_dir):
    """Batch gap-sessionization (operators/sessionize.py): the batch twin
    of the T4 streaming session window, assigning a 1-based session_seq
    per user by 12h inactivity gap. One exchange on user_id; both window
    passes (lag flag, running sum) share its sort."""
    from .operators.sessionize import sessionize

    ev = t(spark, sf_dir, "events")
    return sessionize(ev, "user_id", "ts", gap_s=43200).select(
        "event_id", "user_id", "session_seq"
    )


@register(
    "session_stats_events",
    f"""WITH {_SESSIONS_SQL}
       SELECT user_id, session_seq,
              COUNT(*) AS n_events,
              MIN(ts) AS session_start,
              MAX(ts) AS session_end,
              CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT)
                AS duration_s,
              CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_errors
       FROM s GROUP BY 1, 2""",
)
def session_stats_events(spark, sf_dir):
    """Per-session rollup over sessionize output: counts, bounds,
    whole-second duration, error count. HashPartitioning(user_id) from
    the window already satisfies the (user_id, session_seq) clustering,
    so the rollup adds NO second exchange (plan-asserted in
    tests/test_sessionize.py)."""
    from .operators.sessionize import session_stats, sessionize

    ev = t(spark, sf_dir, "events")
    sess = sessionize(ev, "user_id", "ts", gap_s=43200)
    extra = {
        "n_errors": F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).cast("long")
    }
    return session_stats(sess, "user_id", "ts", extra_aggs=extra)


@register(
    "context_assembly_events",
    """WITH e AS (
         SELECT user_id, event_type,
                CAST(floor(value) AS BIGINT) + 1 AS tok,
                ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS seq
         FROM events),
       c AS (
         SELECT *, SUM(tok) OVER (PARTITION BY user_id ORDER BY seq
                                  ROWS UNBOUNDED PRECEDING) AS cum
         FROM e),
       m AS (
         SELECT *,
                MIN(seq) OVER (PARTITION BY user_id ORDER BY cum
                               RANGE BETWEEN 200 PRECEDING AND CURRENT ROW)
                  AS minidx,
                MIN(cum) OVER (PARTITION BY user_id ORDER BY cum
                               RANGE BETWEEN 200 PRECEDING AND CURRENT ROW)
                  AS mincum
         FROM c)
       SELECT user_id, seq,
              CASE WHEN cum <= 200 THEN 1
                   WHEN minidx = seq THEN seq
                   ELSE minidx + 1 END AS ctx_start,
              seq - (CASE WHEN cum <= 200 THEN 1
                          WHEN minidx = seq THEN seq
                          ELSE minidx + 1 END) + 1 AS n_ctx,
              CAST(CASE WHEN cum <= 200 THEN cum
                        WHEN minidx = seq THEN tok
                        ELSE cum - mincum END AS BIGINT) AS ctx_tokens,
              (minidx = seq AND cum > 200) AS truncated
       FROM m WHERE event_type = 'purchase'""",
)
def context_assembly_events(spark, sf_dir):
    """Token-budget context assembly (operators/context.py): for every
    'purchase' event, the maximal preceding event window whose weight sum
    fits a budget of 200 — the SFT example-construction shape, run as two
    window passes over ONE exchange instead of a per-entity loop or a
    quadratic start-candidate self-join. Weight = floor(value)+1 (integer
    >= 1 keeps the cumulative sum exact and strictly monotone, which both
    makes the RANGE frame total and the oracle bit-identical)."""
    from pyspark.sql.window import Window as W

    from .operators.context import assemble_contexts

    ev = t(spark, sf_dir, "events")
    seq = F.row_number().over(W.partitionBy("user_id").orderBy("ts", "event_id"))
    base = ev.select(
        "user_id",
        "event_type",
        (F.floor("value").cast("long") + 1).alias("tok"),
        seq.alias("seq"),
    )
    out = assemble_contexts(
        base,
        "user_id",
        "seq",
        "tok",
        budget=200,
        target=F.col("event_type") == "purchase",
    )
    return out.select(
        "user_id", "seq", "ctx_start", "n_ctx", "ctx_tokens", "truncated"
    )


# shared CTE prefix for the two source-mixing oracles: per-doc whitespace
# tokens, a weight derived from the source name (1 + src_index % 3), the
# half-corpus token budget, and the weight normalizer
_MIX_D_SQL = """d AS (
         SELECT doc_id, source,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                1 + (CAST(substr(source, 4, 10) AS INT) % 3) AS w
         FROM documents),
       tot AS (SELECT 0.5 * SUM(n_tok) AS budget FROM d),
       ws AS (SELECT SUM(w) AS wsum
              FROM (SELECT DISTINCT source, w FROM d))"""


def _mix_base(spark, sf_dir):
    """Spark mirror of _MIX_D_SQL: documents with per-doc tokens, source
    weight, and the per-source token target budget*w/wsum appended (two
    broadcast-1-row scalar joins). Not persisted: its side reads are
    map-side partial aggregates over one cheap split, cheaper to recompute
    than to cache (measured in OPTIMIZATION_r06.md §8)."""
    d = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            textstats.token_count_ws(F.col("text")).alias("n_tok"),
        )
        .withColumn(
            "w", F.substring(F.col("source"), 4, 10).cast("int") % 3 + 1
        )
    )
    tot = d.agg((F.lit(0.5) * F.sum("n_tok")).alias("budget"))
    ws = d.select("source", "w").distinct().agg(F.sum("w").alias("wsum"))
    return (
        d.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ws))
        .withColumn("target", F.col("budget") * F.col("w") / F.col("wsum"))
    )


@register(
    "mix_token_budget",
    f"""WITH {_MIX_D_SQL},
       c AS (
         SELECT doc_id, source, n_tok,
                budget * w / wsum AS target,
                SUM(n_tok) OVER (
                  PARTITION BY source
                  ORDER BY {sampling.hash32_sql("doc_id")}, doc_id
                  ROWS UNBOUNDED PRECEDING) AS cum
         FROM d, tot, ws)
       SELECT doc_id, source, n_tok FROM c WHERE cum <= target""",
)
def mix_token_budget(spark, sf_dir):
    """Curriculum mixing, exact variant (sampling.source_mix_exact): keep
    the maximal hash-ordered prefix per source whose cumulative tokens fit
    the weighted share of a half-corpus budget. Window partitions by
    source — the small-dimension trim path; the scale path is the sampled
    variant below."""
    out = sampling.source_mix_exact(
        _mix_base(spark, sf_dir), "doc_id", "source", "n_tok", "target"
    )
    return out.select("doc_id", "source", "n_tok")


@register(
    "mix_token_budget_sampled",
    f"""WITH {_MIX_D_SQL},
       s AS (SELECT source, SUM(n_tok) AS tot_s FROM d GROUP BY source)
       SELECT d.doc_id, d.source, d.n_tok
       FROM d, tot, ws
       JOIN s ON d.source = s.source
       WHERE {sampling.hash32_sql("d.doc_id")} / 4294967296.0
             < LEAST(1.0, (budget * w / wsum) / tot_s)""",
)
def mix_token_budget_sampled(spark, sf_dir):
    """Curriculum mixing, scale variant (sampling.source_mix_sampled):
    per-source keep-fraction least(1, target/total) applied map-side on
    the portable 32-bit doc hash — the corpus never shuffles; only a
    n_sources-row partial agg and a broadcast join. Deterministic, so
    fully DuckDB-oracled including the hash arithmetic."""
    out = sampling.source_mix_sampled(
        _mix_base(spark, sf_dir), "doc_id", "source", "n_tok", "target"
    )
    return out.select("doc_id", "source", "n_tok")


@register("pack_sequences", None)  # rows-only: BFD bin packing is not SQL
def pack_sequences_q(spark, sf_dir):
    """Sequence packing of documents into 512-token windows (whitespace
    token counts). Driver-visible columns are canonicalizable scalars —
    doc_ids is exposed as JSON (the fn_map lesson); invariants (every doc
    exactly once, capacity respected) are pytested in tests/test_sampling.py."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", textstats.token_count_ws(F.col("text")).alias("n_tok")
    )
    packs = sampling.pack_sequences(
        d, id_col="doc_id", tokens_col="n_tok", max_tokens=512, n_buckets=16
    )
    return packs.select(
        "pack_id",
        F.to_json("doc_ids").alias("doc_ids_json"),
        "n_docs",
        "total_tokens",
        F.round("fill_ratio", 4).alias("fill_ratio"),
    )


@register("docs_prep_pipeline", None)  # rows-only: the pack stage is BFD, not SQL
def docs_prep_pipeline(spark, sf_dir):
    """The COMPOSED corpus-prep pipeline a pretraining run actually
    executes, end-to-end in one job: quality gate → exact dedup
    (keep-lowest-id) → deterministic train/val/test split → sequence
    packing, reduced to one row per split (n_docs, total_tokens, n_packs,
    mean fill). Every stage is an already-verified operator; this query
    pins that they COMPOSE — same shapes, no collects between stages.
    Stage-by-stage invariants (doc conservation through packing, split
    totality, dedup idempotence) are pytested in tests/test_sampling.py.

    ONE pack job grouped by (split, bucket) over ONE scan, with n_tok
    computed once and carried through; pack contents per split equal
    per-split jobs' (the id-hash bucketing is split-independent; asserted
    in tests/test_sampling.py)."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents").withColumn(
        "n_tok", textstats.token_count_ws(F.col("text"))
    )
    clean = d.filter(
        F.col("n_tok").between(5, 1000)
        & (textstats.quality_score(F.col("text")) >= 0.3)
        & (textstats.stopword_hits(F.col("text"), "en") > 0)
    )
    # keep-first exact dedup as a FILTER (exact_dedup aggregates away the
    # rows; here the survivors continue downstream)
    rn = F.row_number().over(Window.partitionBy("text").orderBy("doc_id"))
    unique = clean.withColumn("_rn", rn).filter(F.col("_rn") == 1).drop("_rn")
    split_docs = sampling.with_split(unique, "doc_id", _SPLITS).select(
        "doc_id", "split", "n_tok"
    )
    packs = sampling.pack_sequences(
        split_docs, id_col="doc_id", tokens_col="n_tok", max_tokens=512,
        n_buckets=8, group_cols=["split"],
    )
    return packs.groupBy("split").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("total_tokens").cast("long").alias("total_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_packs"),
        F.round(F.avg("fill_ratio"), 4).alias("mean_fill"),
    )


# ---------------------------------------------------------------------------
# multimodal plumbing (stubbed codecs, real Spark contract)
# ---------------------------------------------------------------------------

@register("multimodal_features", None)  # rows-only: stub feature vectors
def multimodal_features(spark, sf_dir):
    media = multimodal.synthesize_media(
        t(spark, sf_dir, "documents"), id_col="doc_id", text_col="text"
    )
    feats = multimodal.extract_features(media, dim=16)
    # driver-visible outputs must be canonicalizable scalars (the driver's
    # pandas lexsort dies on raw array cells — the fn_map lesson): expose the
    # vector's dimension and L2 norm, plus a JSON rendering, not the raw array
    return feats.select(
        "doc_id",
        "media_type",
        "n_bytes",
        F.size("features").alias("feat_dim"),
        F.round(
            F.sqrt(F.aggregate("features", F.lit(0.0), lambda a, x: a + x * x)), 3
        ).alias("feat_norm"),
        F.to_json(F.slice("features", 1, 2)).alias("feat_head2"),
    )


# -- distribution-drift monitoring (operators/drift.py) --------------------

_DRIFT_BINS_SQL = """
WITH ref AS (
  SELECT CAST(floor(length(text) / 50) AS BIGINT) AS bucket, count(*) AS n
  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
), cur AS (
  SELECT CAST(floor(length(text) / 50) AS BIGINT) AS bucket, count(*) AS n
  FROM documents WHERE doc_id % 2 = 1 GROUP BY 1
)
SELECT COALESCE(ref.bucket, cur.bucket) AS bucket,
       CAST(COALESCE(ref.n, 0) AS BIGINT) AS n_ref,
       CAST(COALESCE(cur.n, 0) AS BIGINT) AS n_cur
FROM ref FULL OUTER JOIN cur ON ref.bucket = cur.bucket
"""


def _drift_doclen_bins(spark, sf_dir):
    from .operators import drift

    docs = t(spark, sf_dir, "documents")
    return drift.drift_bins(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        F.length("text"),
        50,
    )


@register("drift_doclen_bins", _DRIFT_BINS_SQL)
def drift_doclen_bins(spark, sf_dir):
    """Per-bucket histogram comparison of text length between the two
    doc_id-parity slices — the bin table a drift monitor renders. Two
    partial-agg exchanges (each side collapses map-side to n_buckets
    rows) + one tiny full-outer join."""
    return _drift_doclen_bins(spark, sf_dir)


# drift.total_variation's DuckDB twin over a ``bins`` CTE (bucket, n_ref,
# n_cur): Σ|n_i·M − m_i·N| then one exact floor-division to 6 dp
_TV_SQL = """tot AS (SELECT SUM(n_ref) AS N, SUM(n_cur) AS M FROM bins),
s AS (
  SELECT CAST(SUM(ABS(n_ref * M - n_cur * N)) AS BIGINT) AS tv_num,
         CAST(ANY_VALUE(N) AS BIGINT) AS N, CAST(ANY_VALUE(M) AS BIGINT) AS M
  FROM bins, tot)
SELECT tv_num, N AS n_ref_total, M AS n_cur_total,
       ((tv_num * 1000000 - (tv_num * 1000000) % (2 * N * M))
        / (2 * N * M)) / 1000000.0 AS tv
FROM s"""


@register("drift_doclen_tv", f"WITH bins AS ({_DRIFT_BINS_SQL}),\n{_TV_SQL}")
def drift_doclen_tv(spark, sf_dir):
    """Total-variation distance between the slices' length distributions
    — the drift statistic itself, computed in exact integer arithmetic
    (Σ|n_i·M − m_i·N| then one floor-division) so the oracle matches
    bit-for-bit; see operators/drift.py for why TV is the portable
    headline metric and PSI the pytest-pinned twin."""
    from .operators import drift

    return drift.total_variation(_drift_doclen_bins(spark, sf_dir))


# -- BM25 keyword retrieval (operators/retrieval.py) -----------------------

_BM25_TERMS = ["hash", "vector", "stream", "merge"]


@register(
    "text_bm25_topk",
    f"""
WITH toks AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS dl,
         unnest(string_split(text, ' ')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM toks WHERE term IN ('hash', 'vector', 'stream', 'merge')
  GROUP BY 1, 2, 3
), corpus AS (
  SELECT count(*) AS n_docs,
         SUM(len(string_split(text, ' '))) AS total_toks
  FROM documents
), dft AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), scored AS (
  SELECT tf.doc_id,
         round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75
                   * (dl * n_docs / total_toks))), 4) AS s
  FROM tf, dft, corpus WHERE tf.term = dft.term
)
SELECT doc_id, round(SUM(s), 4) AS score
FROM scored GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT 10
""",
)
def text_bm25_topk(spark, sf_dir):
    """Top-10 documents by BM25 for a 4-term keyword query — corpus
    retrieval as one DataFrame plan: term-filtered explode → (doc, term)
    tf exchange, broadcast df/corpus stats back, TakeOrderedAndProject
    for the top-k. The oracle mirrors the exact expression tree
    (operators/retrieval.py docstring covers the float discipline)."""
    from .operators.retrieval import bm25_topk

    return bm25_topk(t(spark, sf_dir, "documents"), _BM25_TERMS, k=10)


@register(
    "events_transition_matrix",
    f"""WITH {_PREV_SQL},
       pairs AS (
         SELECT prev AS prev_type, event_type, count(*) AS n
         FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2)
       SELECT prev_type, event_type, CAST(n AS BIGINT) AS n,
              {_floor_frac_sql("n", "CAST(SUM(n) OVER (PARTITION BY prev_type) AS BIGINT)")} AS p
       FROM pairs""",
)
def events_transition_matrix(spark, sf_dir):
    """First-order transition matrix over per-user event sequences: counts
    and row-normalized probabilities of event_type -> next event_type —
    the sequence-mining summary behind funnel/loop analysis of agent
    behavior (which action follows which). One lag window keyed user_id,
    then a pair group-by; the per-prev normalization is a window over the
    TINY pair table (|types|² rows), not the events. Probabilities use
    the integer-division trick for a bit-identical oracle."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev")
    )
    pairs = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("prev_type"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = F.sum("n").over(Window.partitionBy("prev_type")).cast("long")
    p = textstats.floor_frac(F.col("n"), tot)
    return pairs.select("prev_type", "event_type", F.col("n").cast("long").alias("n"), p.alias("p"))


_FUNNEL_STEPS = ["signup", "click", "purchase"]


@register(
    "events_funnel",
    f"""WITH seq AS (
         SELECT user_id, event_type,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS rn
         FROM events),
       s1 AS (SELECT user_id, min(rn) AS rn FROM seq
              WHERE event_type = 'signup' GROUP BY 1),
       s2 AS (SELECT seq.user_id, min(seq.rn) AS rn FROM seq
              JOIN s1 ON seq.user_id = s1.user_id AND seq.rn > s1.rn
              WHERE seq.event_type = 'click' GROUP BY 1),
       s3 AS (SELECT seq.user_id, min(seq.rn) AS rn FROM seq
              JOIN s2 ON seq.user_id = s2.user_id AND seq.rn > s2.rn
              WHERE seq.event_type = 'purchase' GROUP BY 1),
       c AS (SELECT (SELECT count(*) FROM s1) AS c1,
                    (SELECT count(*) FROM s2) AS c2,
                    (SELECT count(*) FROM s3) AS c3,
                    (SELECT count(DISTINCT user_id) FROM events) AS total)
       SELECT CAST(step_idx AS BIGINT) AS step_idx, step,
              CAST(n_keys AS BIGINT) AS n_keys,
              {_floor_frac_sql("n_keys", "total")} AS frac
       FROM (SELECT 1 AS step_idx, 'signup' AS step, c1 AS n_keys, total FROM c
             UNION ALL
             SELECT 2, 'click', c2, total FROM c
             UNION ALL
             SELECT 3, 'purchase', c3, total FROM c)""",
)
def events_funnel(spark, sf_dir):
    """Ordered-funnel conversion (operators/analytics.py): signup →
    click → purchase completion counts per user, steps matched strictly
    in sequence. The Spark side folds each user's (ts, event_id)-sorted
    event array through a pure-JVM F.aggregate cursor in ONE hash
    aggregate; the oracle expresses the identical semantics iteratively
    (min row_number per step, constrained past the previous step's).
    Fractions use the integer-division trick."""
    from .operators.analytics import funnel

    return funnel(t(spark, sf_dir, "events"), _FUNNEL_STEPS)


@register(
    "events_retention",
    f"""WITH days AS (
         SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events),
       firsts AS (
         SELECT user_id, min(d) AS cohort_day FROM days GROUP BY 1),
       j AS (
         SELECT days.user_id, cohort_day,
                date_diff('day', cohort_day, d) // 7 AS week_offset
         FROM days JOIN firsts ON days.user_id = firsts.user_id),
       act AS (
         SELECT cohort_day, week_offset,
                count(DISTINCT user_id) AS n_active
         FROM j GROUP BY 1, 2)
       SELECT cohort_day, week_offset, n_active,
              {_floor_frac_sql("n_active", "max(CASE WHEN week_offset = 0 THEN n_active END)"
                               " OVER (PARTITION BY cohort_day)")} AS retention
       FROM act""",
)
def events_retention(spark, sf_dir):
    """Weekly cohort retention (operators/analytics.py): cohort = first
    active day per user; n_active distinct users per (cohort_day,
    week_offset), plus the retained fraction of the cohort (week 0 = the
    cohort by construction). Distinct (user, day) first — the retention
    join and count-distinct run over active-days, not raw events."""
    from .operators.analytics import retention_cohorts

    return retention_cohorts(t(spark, sf_dir, "events"))


@register(
    "alert_value_outliers",
    """WITH q AS (
         SELECT event_type, quantile_cont(value, 0.99) AS pq
         FROM events GROUP BY 1)
       SELECT e.event_type, round(q.pq, 4) AS pq,
              count(*) AS n,
              CAST(SUM(CASE WHEN e.value > q.pq THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_above
       FROM events e JOIN q ON e.event_type = q.event_type
       GROUP BY 1, 2""",
)
def alert_value_outliers(spark, sf_dir):
    """Percentile-threshold outlier alert (operators/analytics.py): per
    event_type, the exact interpolated p99 of value and the count of
    events strictly above it — the tail-latency alarm a log pipeline
    hangs off the aggregate stage. The strict comparison uses the
    UNROUNDED percentile (both engines interpolate the identical sorted
    doubles — the agg_p95_latency discipline), so the flag and the
    reported threshold can never disagree."""
    from .operators.analytics import value_outliers

    return value_outliers(t(spark, sf_dir, "events"), "event_type", "value", q=0.99)


@register(
    "text_normalize",
    """SELECT doc_id,
              trim(regexp_replace(regexp_replace(lower(text),
                     '[^a-z0-9 ]', ' ', 'g'), '  +', ' ', 'g')) AS norm,
              CAST(CASE WHEN norm = '' THEN 0 ELSE len(string_split(norm, ' ')) END
                   AS BIGINT) AS n_norm_tokens
       FROM documents""",
)
def text_normalize(spark, sf_dir):
    """Canonical normalization pass (operators/textstats.normalize_text):
    lowercase, punctuation → space, whitespace collapsed, trimmed — the
    key-preparation step before content hashing / shingling. Map-side
    regexp chain in the java∩RE2 subset; the oracle runs the same
    expressions so the normalized keys are engine-identical."""
    norm = textstats.normalize_text(F.col("text"))
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        norm.alias("norm"),
        F.when(norm == "", F.lit(0))
        .otherwise(F.size(F.split(norm, " ", -1)))
        .cast("long")
        .alias("n_norm_tokens"),
    )


_PROFILE_COLS = ["user_id", "event_type", "props"]


@register(
    "profile_events",
    " UNION ALL ".join(
        f"""SELECT '{c}' AS column, count(*) AS n,
                   count(*) - count({c}) AS n_null,
                   count(DISTINCT {c}) AS n_distinct,
                   CAST(min({c}) AS VARCHAR) AS min_s,
                   CAST(max({c}) AS VARCHAR) AS max_s
            FROM events"""
        for c in _PROFILE_COLS
    ),
)
def profile_events(spark, sf_dir):
    """Column data-quality profile (operators/drift.profile_columns):
    row count, null count, exact distinct count and stringified min/max
    per column — the ingest-gate check that catches an all-null column
    or a collapsed key space before it lands in the corpus. One
    aggregation pass; the oracle computes each column independently."""
    from .operators.drift import profile_columns

    return profile_columns(t(spark, sf_dir, "events"), _PROFILE_COLS)


_TEMPLATE_LINE_SQL = """regexp_replace(regexp_replace(
    event_type || ' uid=' || CAST(user_id AS VARCHAR) || ' ' || props,
    '[0-9a-f]{8,}', '<hex>', 'g'), '[0-9]+', '<n>', 'g')"""


def _event_line():
    """The log line an event renders (type + uid + raw props): the input
    of template mining. _TEMPLATE_LINE_SQL is its masked oracle twin."""
    return F.concat(
        F.col("event_type"), F.lit(" uid="), F.col("user_id").cast("string"),
        F.lit(" "), F.col("props"),
    )


@register(
    "log_templates",
    f"""WITH lines AS (
         SELECT event_id, user_id, {_TEMPLATE_LINE_SQL} AS template
         FROM events)
       SELECT template, COUNT(*) AS n,
              COUNT(DISTINCT user_id) AS n_users,
              CAST(MIN(event_id) AS BIGINT) AS first_event
       FROM lines GROUP BY 1""",
)
def log_templates(spark, sf_dir):
    """Log template mining (operators/textstats.log_template): each event
    renders a log line (type + uid + raw props), the masking chain
    reduces it to its constant skeleton, and the group-by counts each
    template's volume, distinct users, and first occurrence — the
    Drain-style clustering step a watchman-class processor runs to turn
    a raw firehose into a bounded template inventory. Masking is
    map-side JVM regex; the exchange carries n_templates rows. The
    oracle applies the IDENTICAL portable regex chain (global-flag
    regexp_replace in DuckDB ≡ Spark's replace-all default)."""
    return (
        t(spark, sf_dir, "events")
        .select("event_id", "user_id", textstats.log_template(_event_line()).alias("template"))
        .groupBy("template")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("user_id").alias("n_users"),
            F.min("event_id").cast("long").alias("first_event"),
        )
    )


@register(
    "alert_volume_anomaly",
    """WITH hourly AS (
         SELECT event_type AS key, date_trunc('hour', ts) AS hour,
                COUNT(*) AS n
         FROM events GROUP BY 1, 2),
       win AS (
         SELECT key, hour, n,
                COUNT(n) OVER w AS m,
                SUM(n)   OVER w AS s1,
                SUM(n*n) OVER w AS s2
         FROM hourly
         WINDOW w AS (PARTITION BY key ORDER BY hour
                      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
       SELECT key, hour, n, m,
              (m >= 3 AND (m*n - s1)*(m*n - s1)*(m-1) > 9*m*(m*s2 - s1*s1))
                AS anomaly
       FROM win""",
)
def alert_volume_anomaly(spark, sf_dir):
    """Rolling volume-anomaly alert (operators/analytics.volume_anomaly):
    per event type, flag hours whose count is >3σ from the mean of the
    preceding 24 observed hours — evaluated entirely in BIGINT
    arithmetic ((m·x−s1)²(m−1) > 9·m(m·s2−s1²)) so the flag is
    bit-identical cross-engine (no sqrt, no float accumulation order).
    One partial-agg exchange to hourly counts, then a per-key ROWS
    window over the tiny aggregate."""
    from .operators.analytics import volume_anomaly

    return volume_anomaly(
        t(spark, sf_dir, "events"), key_col="event_type", ts_col="ts"
    )


# fixed calendar split for the drift slices — the events table spans
# January 2024; a monitor compares "last window" vs "the one before it",
# and a constant boundary keeps both engines' slices identical by
# construction (no data-dependent midpoint to disagree on).
_DRIFT_SPLIT_TS = "2024-01-16"


@register(
    "drift_template_tv",
    f"""
WITH lines AS (
  SELECT ts, {_TEMPLATE_LINE_SQL} AS template FROM events),
ref AS (SELECT template, COUNT(*) AS n_ref FROM lines
        WHERE ts < TIMESTAMP '{_DRIFT_SPLIT_TS}' GROUP BY 1),
cur AS (SELECT template, COUNT(*) AS n_cur FROM lines
        WHERE ts >= TIMESTAMP '{_DRIFT_SPLIT_TS}' GROUP BY 1),
bins AS (
  SELECT COALESCE(r.template, c.template) AS bucket,
         COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
  FROM ref r FULL OUTER JOIN cur c ON r.template = c.template),
{_TV_SQL}""",
)
def drift_template_tv(spark, sf_dir):
    """Template-distribution drift: total-variation distance between the
    log-template inventories of two time slices — the composition a
    production monitor actually runs (log_template masking →
    drift_cat_bins categorical histogram → exact-integer TV). A brand-new
    template on the current side contributes its whole mass, so novel
    error shapes register as drift even at tiny volume. Same bit-exact
    arithmetic as drift_doclen_tv; the exchange carries n_templates rows
    per side."""
    from .operators.drift import drift_cat_bins, total_variation

    lines = t(spark, sf_dir, "events").select(
        "ts", textstats.log_template(_event_line()).alias("template")
    )
    split = F.lit(_DRIFT_SPLIT_TS).cast("timestamp")
    bins = drift_cat_bins(
        lines.filter(F.col("ts") < split),
        lines.filter(F.col("ts") >= split),
        F.col("template"),
    )
    return total_variation(bins)

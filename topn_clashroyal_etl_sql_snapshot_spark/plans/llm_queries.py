"""LLM-data-pipeline query surface: dedup, text analysis, similarity
search over the ``documents``/``embeddings`` tables — registered for the
driver with DuckDB oracles wherever the operator is SQL-expressible.

Hash-based operators: since r9 Spark's ``xxhash64`` has DuckDB twins
for BOTH integer keys and ASCII strings (plans/xxh64_sql.py — the
string chain powers docs_classifier_margin), so "engine-specific hash"
is no longer an oracle blocker per se. MinHash-LSH and SimHash still
register with Jaccard-level oracles rather than signature-level ones —
their registered outputs are exact-verified pairs, which the oracle
checks against true Jaccard directly (stronger than re-deriving the
sketches); the sketch internals stay pytest-pinned (tests/test_dedup.py).
"""

from __future__ import annotations

import weakref

from pyspark.sql import functions as F

from ..functions import text as tx
from ..operators import decontam, dedup, similarity
from ..sources.readers import read_testdata
from .testdata_queries import register
from .xxh64_sql import xxh64_bucket_ctes

# Session-scoped cache for the exact trigram-Jaccard pair set: three
# registered queries consume the SAME relation (dedup_trigram_jaccard
# returns it; dedup_components and curation_funnel build components from
# it), and without sharing, each run re-shingles the corpus and re-runs
# the inverted-index self-join. Keyed weakly on the live SparkSession
# (same rationale as domain_queries._CACHE: an id()-keyed dict could
# hand a new session DataFrames bound to a stopped SparkContext), then
# by sf_dir. The cached plan is lazily local-checkpointed, so the first
# consumer materializes it and later consumers reuse the blocks. Each
# entry also holds the documents relation it was built from, and is
# reused only while read_testdata still returns that same object: the
# reader re-reads a rewritten documents.parquet (its (mtime_ns, size)
# signature changed), and a derived entry must not keep serving the
# old corpus.
_PAIRS_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()

# The tokenize pass (normalize + regex split — the dominant per-row
# cost) is likewise shared across ALL dedup families: exact-Jaccard,
# MinHash, and SimHash all start from the same (id, tokens) arrays, so
# a production corpus pipeline tokenizes once and fans out. Same weak
# session keying and lazy-checkpoint lifecycle as the pairs cache.
_TOKS_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _toks_cached(spark, sf_dir: str):
    docs = read_testdata(spark, sf_dir, "documents")
    per_session = _TOKS_CACHE.setdefault(spark, {})
    hit = per_session.get(sf_dir)
    if hit is None or hit[0] is not docs:
        hit = per_session[sf_dir] = (
            docs,
            dedup.token_arrays(docs).localCheckpoint(eager=False),
        )
    return hit[1]


def _jaccard_pairs_cached(spark, sf_dir: str):
    return _jaccard_pairs_counted(spark, sf_dir)[0]


def _jaccard_pairs_counted(spark, sf_dir: str):
    """(pairs, n_pairs) — the cached exact-pair relation plus its row
    count. The count rides the checkpoint's OWN materialization job as
    a ``df.observe`` metric (the fused-counter pattern from the ingest
    funnel — zero extra jobs), and its existence lets every
    ``connected_components`` consumer in this module take the r16
    small-relation driver fast path instead of the iterative job loop
    (guide §5: the per-round fixed cost — checkpoint job + plan
    analysis — dominates CC at driver-corpus pair volumes; at corpora
    where the count exceeds the fast path's bound the loop engages
    unchanged). The checkpoint is eager now for exactly that reason —
    the count must exist before the consumers build their plans; the
    first consumer previously paid the same materialization job
    lazily."""
    from pyspark.sql import Observation

    docs = read_testdata(spark, sf_dir, "documents")
    per_session = _PAIRS_CACHE.setdefault(spark, {})
    hit = per_session.get(sf_dir)
    if hit is None or hit[0] is not docs:
        obs = Observation()
        pairs = (
            dedup.jaccard_pairs(
                docs, n=3, threshold=0.5, toks=_toks_cached(spark, sf_dir)
            )
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        hit = per_session[sf_dir] = (docs, pairs, int(obs.get["n"]))
    return hit[1], hit[2]

# Shared DuckDB tokenization fragment — must mirror functions/text.py
# (same regex class, same empty-token filter).
_TOKS_SQL = (
    "list_filter(string_split_regex(lower(regexp_replace(text, "
    "'[^a-zA-Z0-9 ]', ' ', 'g')), '\\s+'), x -> x <> '')"
)

_NORM_SQL = "lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g'))"


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

# the pattern contains a literal single quote (contraction branch) —
# double it for the SQL string literal
_BPE_SQL_PATTERN = tx.BPE_PRETOKEN_PATTERN.replace("'", "''")


# Rotated out of the driver registry in r9 to free a slot for the
# docs_classifier_margin row: a 5-row per-language aggregate whose
# tokenize twin is load-bearing in a dozen other registered oracles —
# it keeps this SAME SQL bar in tests/test_rotated_rows.py. Still
# timed in the bench.
TEXT_TOKEN_STATS_SQL = (
    f"""
    SELECT lang,
           COUNT(*) AS docs,
           CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS total_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM(len(regexp_extract_all(text,
               '{_BPE_SQL_PATTERN}'))) AS BIGINT) AS total_bpe_tokens,
           CAST(SUM(len(regexp_extract_all(text,
               '{_BPE_SQL_PATTERN}'))) AS DOUBLE)
               / COUNT(*) AS avg_bpe_tokens
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """
)


def text_token_stats(spark, sf_dir):
    """Token accounting per language label, both granularities in ONE
    corpus scan: whitespace tokens + chars (the basic corpus stats) and
    GPT-2-pre-tokenizer BPE-style tokens (the corpus-budgeting count).
    The BPE pattern is restricted to regex constructs with identical
    Java/RE2 semantics so the DuckDB oracle counts the same tokens."""
    docs = read_testdata(spark, sf_dir, "documents")
    n_bpe = tx.bpe_pretoken_count(F.col("text"))
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(tx.token_count(F.col("text"))).alias("total_tokens"),
            F.sum(F.length("text")).alias("total_chars"),
            F.sum(n_bpe).alias("total_bpe_tokens"),
            (F.sum(n_bpe).cast("double") / F.count(F.lit(1))).alias("avg_bpe_tokens"),
        )
        .orderBy("lang")
    )


_MARKER_SQL = {
    "en": "('the','and','of','is')",
    "es": "('el','los','las','una','es')",
    "fr": "('le','les','des','une','est')",
    "de": "('der','die','und','nicht','ist')",
}

TEXT_LANGUAGE_ID_SQL = f"""
    WITH c AS (
      SELECT doc_id, lang, text,
             len(list_filter({_TOKS_SQL}, x -> x IN {_MARKER_SQL['en']})) AS c_en,
             len(list_filter({_TOKS_SQL}, x -> x IN {_MARKER_SQL['es']})) AS c_es,
             len(list_filter({_TOKS_SQL}, x -> x IN {_MARKER_SQL['fr']})) AS c_fr,
             len(list_filter({_TOKS_SQL}, x -> x IN {_MARKER_SQL['de']})) AS c_de
      FROM documents
    ), p AS (
      SELECT lang,
             CASE WHEN regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]') THEN 'zh'
                  WHEN greatest(c_en, c_es, c_fr, c_de) <= 0 THEN 'und'
                  WHEN c_en = greatest(c_en, c_es, c_fr, c_de) THEN 'en'
                  WHEN c_es = greatest(c_en, c_es, c_fr, c_de) THEN 'es'
                  WHEN c_fr = greatest(c_en, c_es, c_fr, c_de) THEN 'fr'
                  ELSE 'de' END AS predicted_lang
      FROM c
    )
    SELECT lang, predicted_lang, COUNT(*) AS n
    FROM p
    GROUP BY lang, predicted_lang
    ORDER BY lang, predicted_lang
    """


def text_language_id(spark, sf_dir):
    """Heuristic language ID (marker-token argmax + CJK check) crossed
    against the label — the confusion-matrix scan. Uses the relational
    (explode + codegen) form; identical semantics to ``tx.lang_id``.

    Rotated OUT of the driver registry in r12 for ``mixture_gate``
    (the thinner of the verdict's two suggested donors): the identical
    confusion-matrix SQL bar keeps running in
    tests/test_rotated_rows.py, the bench series continues via
    bench.py's rotation bookkeeping, and the lang-ID expression itself
    stays driver-covered as a GATE inside the curation_funnel row."""
    from ..operators.textstats import lang_id_table

    docs = read_testdata(spark, sf_dir, "documents")
    return (
        lang_id_table(docs)
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted_lang")
    )


_QUALITY_SQL = f"""
      round(
        0.4 * least(CAST(len({_TOKS_SQL}) AS DOUBLE) / 100.0, 1.0)
        + 0.3 * (CASE WHEN CAST(list_sum(list_transform({_TOKS_SQL}, x -> length(x))) AS DOUBLE)
                           / NULLIF(len({_TOKS_SQL}), 0) BETWEEN 2.0 AND 12.0
                      THEN 1.0 ELSE 0.5 END)
        + 0.3 * (1.0 - least(coalesce(
                CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
                    / NULLIF(length(text), 0), 0.0) * 2.0, 1.0)),
      6)
"""

@register(
    "text_quality_by_source",
    f"""
    WITH lines AS (
      SELECT doc_id, line FROM (
        SELECT doc_id, UNNEST(string_split(text, chr(10))) AS line
        FROM documents
      ) WHERE trim(line) <> ''
    ),
    per_line AS (
      SELECT doc_id, line, COUNT(*) AS n, length(line) AS len
      FROM lines GROUP BY doc_id, line
    ),
    line_stats AS (
      SELECT doc_id,
             SUM(n * len) AS line_chars,
             SUM(CASE WHEN n > 1 THEN n * len ELSE 0 END) AS dup_line_chars
      FROM per_line GROUP BY doc_id
    ),
    base AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    per_bigram AS (
      SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg, COUNT(*) AS n
      FROM base, UNNEST(generate_series(1, len(toks) - 1)) AS t(i)
      WHERE len(toks) >= 2
      GROUP BY 1, 2
    ),
    top_bigram AS (
      SELECT doc_id, n * (length(bg) - 1) AS top_bigram_chars FROM (
        SELECT doc_id, bg, n,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY n DESC, bg DESC) AS rn
        FROM per_bigram
      ) WHERE rn = 1
    ),
    tok_chars AS (
      SELECT doc_id,
             CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
                  AS BIGINT) AS token_chars
      FROM base
    ),
    rep AS (
      SELECT d.doc_id, d.source,
             coalesce(ls.line_chars, 0) AS line_chars,
             coalesce(ls.dup_line_chars, 0) AS dup_line_chars,
             coalesce(tb.top_bigram_chars, 0) AS top_bigram_chars,
             coalesce(tc.token_chars, 0) AS token_chars
      FROM documents d
      LEFT JOIN line_stats ls ON ls.doc_id = d.doc_id
      LEFT JOIN top_bigram tb ON tb.doc_id = d.doc_id
      LEFT JOIN tok_chars tc ON tc.doc_id = d.doc_id
    )
    SELECT d.source,
           COUNT(*) AS docs,
           CAST(SUM(CAST({_QUALITY_SQL} AS DECIMAL(18,6))) AS DOUBLE) AS sum_quality,
           MIN({_QUALITY_SQL}) AS min_quality,
           MAX({_QUALITY_SQL}) AS max_quality,
           CAST(SUM(r.line_chars) AS BIGINT) AS line_chars,
           CAST(SUM(r.dup_line_chars) AS BIGINT) AS dup_line_chars,
           CAST(SUM(r.top_bigram_chars) AS BIGINT) AS top_bigram_chars,
           CAST(SUM(r.token_chars) AS BIGINT) AS token_chars
    FROM documents d JOIN rep r ON r.doc_id = d.doc_id
    GROUP BY d.source
    ORDER BY d.source
    """,
)
def text_quality_by_source(spark, sf_dir):
    """Per-source corpus-quality rollup: heuristic quality score
    (decimal-exact sum so the float aggregate is order-independent)
    PLUS the Gopher repetition accounting summed over the source's
    documents — raw INTEGER numerators/denominators
    (``operators/textstats.py::repetition_stats(include_counts=True)``),
    which pin every per-doc line-dup and top-bigram computation with
    zero float hazard. One driver row covers both quality families."""
    from ..operators.textstats import repetition_stats

    docs = read_testdata(spark, sf_dir, "documents")
    q = tx.quality_score(F.col("text"))
    quality = (
        docs.withColumn("q", q)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.col("q").cast("decimal(18,6)")).cast("double").alias("sum_quality"),
            F.min("q").alias("min_quality"),
            F.max("q").alias("max_quality"),
        )
    )
    rep = (
        repetition_stats(docs, include_counts=True)
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.sum("line_chars").alias("line_chars"),
            F.sum("dup_line_chars").alias("dup_line_chars"),
            F.sum("top_bigram_chars").alias("top_bigram_chars"),
            F.sum("token_chars").alias("token_chars"),
        )
    )
    return quality.join(rep, "source").orderBy("source")


# Rotated out of the driver registry in r10 to free a slot for the
# dedup_minhash_incremental row: the winnowing selection rule (trigram
# md5 + window-min) is restated verbatim inside the REGISTERED
# docs_winnow_overlap oracle's g/w/sel CTEs, so the scheme stays
# driver-pinned; this per-document accounting keeps its identical SQL
# bar in tests/test_rotated_rows.py. Still timed in the bench.
TEXT_WINNOW_FINGERPRINTS_SQL = f"""
    WITH base AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    g AS (
      SELECT doc_id, i AS pos,
             md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS h
      FROM base, UNNEST(generate_series(1, len(toks) - 2)) AS t(i)
      WHERE len(toks) >= 3
    ),
    w AS (
      SELECT doc_id, h,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
      FROM g
    ),
    prof AS (
      SELECT doc_id,
             COUNT(*) AS n_kgrams,
             COUNT(DISTINCT wmin) AS n_fingerprints
      FROM w
      GROUP BY doc_id
    )
    -- selected set = DISTINCT window minima (the r11 winnowing fix);
    -- every document gets a row, zero counts for < k tokens
    SELECT d.doc_id,
           COALESCE(p.n_kgrams, 0) AS n_kgrams,
           COALESCE(p.n_fingerprints, 0) AS n_fingerprints,
           CASE WHEN COALESCE(p.n_kgrams, 0) > 0
                THEN CAST(p.n_fingerprints AS DOUBLE) / p.n_kgrams
                ELSE 0.0 END AS density
    FROM documents d LEFT JOIN prof p ON p.doc_id = d.doc_id
    ORDER BY d.doc_id
    """


def text_winnow_fingerprints(spark, sf_dir):
    """Winnowing (MOSS) rolling-hash document fingerprints: trigram
    md5s, window-4 lexicographic minima — guarantees a shared
    fingerprint for any 6-token overlap between documents. Density
    ≈ 2/(w+1); the oracle recomputes the identical scheme in SQL."""
    from ..operators.textstats import winnow_fingerprints

    docs = read_testdata(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, k=3, window=4).orderBy("doc_id")


@register(
    "docs_winnow_overlap",
    f"""
    WITH base AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    g AS (
      SELECT doc_id, i AS pos,
             md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS h
      FROM base, UNNEST(generate_series(1, len(toks) - 2)) AS t(i)
      WHERE len(toks) >= 3
    ),
    w AS (
      SELECT doc_id, h,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
      FROM g
    ),
    sel AS (
      -- selected set = DISTINCT window minima (the r11 winnowing fix)
      SELECT DISTINCT doc_id, wmin AS h FROM w
    ),
    flt AS (
      SELECT doc_id, h FROM sel
      WHERE h IN (SELECT h FROM sel GROUP BY h HAVING COUNT(*) <= 1000)
    ),
    sizes AS (
      SELECT doc_id, COUNT(*) AS n_fp FROM flt GROUP BY doc_id
    ),
    shared AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_shared
      FROM flt a JOIN flt b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2
    )
    SELECT s.id1, s.id2, s.n_shared,
           s1.n_fp AS n_fp1, s2.n_fp AS n_fp2,
           CAST(s.n_shared AS DOUBLE) / s1.n_fp AS overlap1,
           CAST(s.n_shared AS DOUBLE) / s2.n_fp AS overlap2
    FROM shared s
    JOIN sizes s1 ON s1.doc_id = s.id1
    JOIN sizes s2 ON s2.doc_id = s.id2
    ORDER BY s.id1, s.id2
    """,
)
def docs_winnow_overlap(spark, sf_dir):
    """Cross-document winnowing overlap (``overlap.winnow_overlap_pairs``,
    the MOSS scheme): pairs sharing ≥ 2 distinct selected trigram
    fingerprints under the window-4 minimum rule, with per-side
    coverage fractions. The one SQL-expressible overlap heavyweight
    that was pytest-only through r8 (r8 verdict item 4) — the oracle
    re-derives the FULL chain independently: k-gram md5s, the rolling
    window minima, fingerprint selection + df cap, the inverted-index
    self-join with id1 < id2, and both overlap ratios (exact IEEE
    division of integer counts on both sides). min_shared=2 keeps the
    row's pair set content-driven (single-fingerprint coincidences
    would dominate at 1 and verify mostly hash collisions of the
    selection rule, which text_winnow_fingerprints already covers
    per-document)."""
    from ..operators import overlap

    docs = read_testdata(spark, sf_dir, "documents")
    return overlap.winnow_overlap_pairs(
        docs, k=3, window=4, min_shared=2, max_df=1000
    ).orderBy("id1", "id2")


# Curated wordlist for the interpretable term-weight scorer row: terms
# chosen from the synthetic corpus vocabulary so matches are dense at
# every driver sf; the bigram entry exercises the bigram leg. Single
# source of truth for BOTH sides — the Spark query passes the float
# weights, the oracle inlines the identical micro quantization.
_TERM_WEIGHTS = {
    "fast": 2.0,
    "slow": -2.0,
    "small": 0.5,
    "big": -0.5,
    "spark": 1.0,
    "customer": -0.25,
    "hash table": 1.5,
}
_TERM_BIAS = 0.25


def _term_quality_oracle_sql() -> str:
    vals = ", ".join(
        f"('{t}', {int(round(w * 1_000_000))})" for t, w in _TERM_WEIGHTS.items()
    )
    bias_micro = int(round(_TERM_BIAS * 1_000_000))
    return f"""
    WITH base AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    uni AS (
      SELECT doc_id, toks[i] AS term
      FROM base, UNNEST(generate_series(1, len(toks))) AS t(i)
    ),
    big AS (
      SELECT doc_id, toks[i] || ' ' || toks[i+1] AS term
      FROM base, UNNEST(generate_series(1, len(toks) - 1)) AS t(i)
      WHERE len(toks) >= 2
    ),
    terms AS (SELECT * FROM uni UNION ALL SELECT * FROM big),
    w(term, w_micro) AS (VALUES {vals}),
    s AS (
      SELECT doc_id, COUNT(*) AS n_hits, SUM(w_micro) AS w_sum
      FROM terms JOIN w USING (term) GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(s.n_hits, 0) AS n_hits,
           CAST(COALESCE(s.w_sum, 0) + {bias_micro} AS BIGINT) AS margin_micro,
           CAST(COALESCE(s.w_sum, 0) + {bias_micro} AS DOUBLE) / 1000000.0
               AS margin
    FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
    ORDER BY d.doc_id
    """


DOCS_TERM_QUALITY_SQL = _term_quality_oracle_sql()


def docs_term_quality(spark, sf_dir):
    """Interpretable curated-wordlist quality scoring
    (``classifier.score_term_weights``): exploded unigram+bigram terms
    ⋈ broadcast term→micro-weight table → one exact integer doc-keyed
    sum — the C4-badword/Dolma-lexicon gate as relational algebra, and
    the string-keyed sibling of the hashed logistic scorer (oracled
    separately as docs_classifier_margin since r9, when the
    xxhash64-of-string SQL twin landed). Registered r8; rotated out r9
    for docs_winnow_overlap (this row is a projection-level check whose
    tokenize+join semantics also ride docs_classifier_margin); keeps
    the identical SQL bar in tests/test_rotated_rows.py."""
    from ..operators import classifier

    docs = read_testdata(spark, sf_dir, "documents")
    return classifier.score_term_weights(
        docs,
        _TERM_WEIGHTS,
        bias=_TERM_BIAS,
        toks=_toks_cached(spark, sf_dir),
        bigrams=True,
    ).orderBy("doc_id")


# Fixed hashed-logistic gate model for the driver row: term→weight
# pairs chosen to overlap the synthetic corpus vocabulary on both
# signs (so positive, negative, bigram, and absent-term legs all fire
# at every sf), micro-quantized and folded into xxhash64 feature
# buckets at import time via the pure-Python hash twin
# (testing/xxh64.py — dependency-free arithmetic, no Spark session at
# import; the same fixed-reference pattern as the DSIR and
# term-quality rows). TRAINING stays pytest-pinned
# (tests/test_classifier.py margin parity); what the driver row
# independently checks is the full production SCORING path.
_CLF_BUCKETS = 1 << 18
_CLF_BIAS_MICRO = -250_000
_CLF_TERM_WEIGHTS = {
    "spark": 0.9,
    "window": 0.55,
    "agg": 0.4,
    "join": 0.35,
    "fast": 0.6,
    "scan": -0.5,
    "slow": -0.8,
    "batch": -0.2,
    "row": -0.25,
    "dup": -1.1,
    "spark window": 1.2,
    "batch scan": -0.9,
    "hash join": 0.7,
    "slow batch": -0.6,
}


def _clf_model() -> dict:
    from ..testing.xxh64 import spark_xxhash64

    w: dict[int, int] = {}
    for term, wt in _CLF_TERM_WEIGHTS.items():
        feat = spark_xxhash64([("string", term)]) % _CLF_BUCKETS
        w[feat] = w.get(feat, 0) + int(round(wt * 1e6))
    return {
        "n_buckets": _CLF_BUCKETS,
        "bigrams": True,
        "w_micro": w,
        "bias_micro": _CLF_BIAS_MICRO,
    }


def _clf_oracle_sql() -> str:
    from .xxh64_sql import xxh64_ascii_ctes

    model = _clf_model()
    vals = ", ".join(
        f"({feat}, {w})" for feat, w in sorted(model["w_micro"].items())
    )
    d = _CLF_BUCKETS
    return f"""
    WITH base AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    uni AS (
      SELECT doc_id, UNNEST(toks) AS term FROM base
    ),
    big AS (
      SELECT doc_id, toks[i] || ' ' || toks[i+1] AS term
      FROM base, UNNEST(generate_series(1, len(toks) - 1)) AS t(i)
      WHERE len(toks) >= 2
    ),
    terms AS (SELECT * FROM uni UNION ALL SELECT * FROM big),
    src AS (SELECT DISTINCT term FROM terms),
    {xxh64_ascii_ctes('src', 'term')},
    feat_of AS (
      SELECT term, ((_hash % {d}) + {d}) % {d} AS feat FROM _xxstr
    ),
    w(feat, w_micro) AS (VALUES {vals}),
    m AS (
      SELECT t.doc_id,
             SUM(COALESCE(w.w_micro, 0)) AS w_sum
      FROM terms t
      JOIN feat_of f ON f.term = t.term
      LEFT JOIN w ON w.feat = f.feat
      GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(m.w_sum, 0) + {_CLF_BIAS_MICRO} AS DOUBLE)
               / 1000000.0 AS margin
    FROM documents d LEFT JOIN m ON m.doc_id = d.doc_id
    ORDER BY d.doc_id
    """


@register("docs_classifier_margin", _clf_oracle_sql())
def docs_classifier_margin(spark, sf_dir):
    """Hashed-logistic quality-gate margins
    (``classifier.score_hashed_logistic``) for EVERY document under a
    fixed micro-quantized model — the fastText-style hashing-trick
    scorer that was pytest-only through r8 because Spark's
    xxhash64-of-STRING had no SQL twin. r9 closes that: the oracle
    pushes every distinct unigram+bigram term through the byte-level
    xxHash64 CTE chain (plans/xxh64_sql.py::xxh64_ascii_ctes —
    stripes, words, tail bytes, avalanche, validated bit-for-bit
    against F.xxhash64), buckets with signed pmod, joins the literal
    weight VALUES, and reproduces the exact integer margin sum + bias
    per document. Feature hashing, bigram construction, the broadcast
    weight join, the left-join bias fallback for token-less docs, and
    the micro→double conversion are all hash-checked. ``prob`` is
    deliberately NOT registered (libm ``exp`` may differ across
    engines in the last ulp; the margin is the exact contract —
    sigmoid is monotone, so gating decisions depend only on margin).
    Scale: scoring is exploded terms ⋈ BROADCAST weights → one
    doc-keyed integer sum; zero corpus shuffle beyond the doc key."""
    from ..operators import classifier

    docs = read_testdata(spark, sf_dir, "documents")
    return (
        classifier.score_hashed_logistic(
            docs, _clf_model(), toks=_toks_cached(spark, sf_dir)
        )
        .select("doc_id", "margin")
        .orderBy("doc_id")
    )


# Rotated out of the driver registry in r9 to free a slot for the
# docs_exact_substring row (r7 verdict item 4): a 1-row aggregate check
# — it keeps this SAME SQL bar in tests/test_rotated_rows.py (plus the
# tolerance-checked float columns in tests/test_profile.py). Still
# timed in the bench.
DOCS_CORPUS_PROFILE_SQL = (
    f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(COALESCE(length(text), 0)) AS BIGINT) AS total_chars,
           CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS total_tokens,
           quantile_cont(length(text), 0.1) AS chars_p10,
           quantile_cont(length(text), 0.5) AS chars_p50,
           quantile_cont(length(text), 0.9) AS chars_p90,
           CAST(COUNT(CASE WHEN NOT regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]')
                            AND len(list_filter({_TOKS_SQL}, x -> x IN {_MARKER_SQL['en']})) <= 0
                            AND len(list_filter({_TOKS_SQL}, x -> x IN {_MARKER_SQL['es']})) <= 0
                            AND len(list_filter({_TOKS_SQL}, x -> x IN {_MARKER_SQL['fr']})) <= 0
                            AND len(list_filter({_TOKS_SQL}, x -> x IN {_MARKER_SQL['de']})) <= 0
                       THEN 1 END) AS BIGINT) AS und_docs,
           CAST(COUNT(DISTINCT md5({_NORM_SQL})) AS BIGINT) AS unique_docs,
           CAST(COUNT(CASE WHEN NOT regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]')
                            AND len(list_filter({_TOKS_SQL}, x -> x IN {_MARKER_SQL['en']})) <= 0
                            AND len(list_filter({_TOKS_SQL}, x -> x IN {_MARKER_SQL['es']})) <= 0
                            AND len(list_filter({_TOKS_SQL}, x -> x IN {_MARKER_SQL['fr']})) <= 0
                            AND len(list_filter({_TOKS_SQL}, x -> x IN {_MARKER_SQL['de']})) <= 0
                       THEN 1 END) AS DOUBLE) / COUNT(*) AS pct_und,
           CAST(COUNT(*) - COUNT(DISTINCT md5({_NORM_SQL})) AS DOUBLE)
               / COUNT(*) AS dup_rate,
           CAST(SUM(COALESCE(length(text), 0)) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM documents
    """
)


def docs_corpus_profile(spark, sf_dir):
    """One-pass corpus profile (``profile.corpus_profile``) projected to
    its deterministically-reproducible columns: integer counts/sums,
    exact length percentiles (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``, both linear interpolation — bit parity pinned in
    tests/test_profile.py), and single-division rates. The float-MEAN
    columns (quality_mean, quality percentiles, replacement_char_rate)
    stay OUT of the registered projection — a double SUM's value is
    partition-order dependent, the same hazard every driver row in this
    repo avoids — and remain tolerance-checked against the DuckDB
    oracle in pytest. Catalyst prunes the unprojected aggregates, so
    the registered plan is still the operator's one-scan one-shuffle
    shape. Registered r8; rotated out r9 for docs_exact_substring (the
    1-row check cedes its slot) — the identical SQL bar continues in
    tests/test_rotated_rows.py, and the bench series continues."""
    from ..operators import profile

    docs = read_testdata(spark, sf_dir, "documents")
    prof = profile.corpus_profile(docs)
    # array → scalar columns: the driver's value hash treats a Spark
    # list and a DuckDB array differently; three doubles are unambiguous
    return prof.select(
        "docs",
        "total_chars",
        "total_tokens",
        F.element_at("chars_p10_p50_p90", 1).alias("chars_p10"),
        F.element_at("chars_p10_p50_p90", 2).alias("chars_p50"),
        F.element_at("chars_p10_p50_p90", 3).alias("chars_p90"),
        "und_docs",
        "unique_docs",
        "pct_und",
        "dup_rate",
        "avg_chars",
    )


# BM25 driver row: query terms chosen from the synthetic vocabulary so
# every term matches hundreds of documents at any driver sf. The oracle
# transcribes the EXACT expression tree (operand order preserved —
# IEEE double arithmetic is association-sensitive); per-(doc, term)
# contributions micro-quantize before the doc sum, per the house
# determinism contract, so the top-k cut is an integer comparison.
_BM25_QUERY = "fast spark query join"
_BM25_K = 15


def _bm25_oracle_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_QUERY.split())
    return f"""
    WITH base AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    term_stream AS (
      SELECT doc_id, toks[i] AS term
      FROM base, UNNEST(generate_series(1, len(toks))) AS t(i)
    ),
    postings AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM term_stream WHERE term IN ({terms})
      GROUP BY doc_id, term
    ),
    dl AS (SELECT doc_id, COALESCE(len(toks), 0) AS dl FROM base),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(COALESCE(len({_TOKS_SQL}), 0)) AS DOUBLE) / COUNT(*)
                 AS avgdl
      FROM documents
    ),
    dfs AS (SELECT term, COUNT(*) AS df FROM postings GROUP BY term),
    contrib AS (
      SELECT p.doc_id,
             CAST(round(
               ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
               * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
               * 1000000.0) AS BIGINT) AS c_micro
      FROM postings p
      JOIN dfs USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(c_micro) AS BIGINT) AS score_micro,
           CAST(SUM(c_micro) AS DOUBLE) / 1000000.0 AS score
    FROM contrib GROUP BY doc_id
    ORDER BY score_micro DESC, doc_id
    LIMIT {_BM25_K}
    """


@register("docs_bm25_topk", _bm25_oracle_sql())
def docs_bm25_topk(spark, sf_dir):
    """BM25 lexical top-k (``search.bm25_topk``): inverted term index ⋈
    broadcast query-term set → per-term idf/tf-norm contributions →
    one exact micro-integer doc sum → TakeOrderedAndProject cut. The
    query-driven data-selection primitive of the curation toolbox
    (pull benchmark-adjacent documents, audit filter survivors by
    keyword). Registered r8 alongside the operator's introduction."""
    from ..operators import search

    docs = read_testdata(spark, sf_dir, "documents")
    return search.bm25_topk(
        docs, _BM25_QUERY, k=_BM25_K, toks=_toks_cached(spark, sf_dir)
    )


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------

# Rotated out of the driver registry in r9 to free a slot for the
# text_ngram_repetition row: a 1-row fingerprint-accounting check whose
# content_fingerprint ≡ md5 parity also rides the (registered, green)
# curation_funnel dedup stage — it keeps this SAME SQL bar in
# tests/test_rotated_rows.py. Still timed in the bench.
DEDUP_EXACT_SUMMARY_SQL = (
    f"""
    SELECT COUNT(*) AS total_docs,
           COUNT(DISTINCT md5({_NORM_SQL})) AS unique_docs,
           COUNT(*) - COUNT(DISTINCT md5({_NORM_SQL})) AS dup_docs
    FROM documents
    """
)


def dedup_exact_summary(spark, sf_dir):
    """Exact-dedup accounting: total vs distinct normalized
    fingerprints, plus the redundant-copy count. This single row
    subsumes the former ``dedup_exact_groups`` registration (per-group
    rows with copies > 1): the driver corpus has no exact duplicates,
    so the groups query returned 0 rows and verified nothing, while
    this row hash-checks ``content_fingerprint`` against DuckDB's md5
    over EVERY document. ``exact_dup_groups`` itself stays
    pytest-verified on corpora with planted duplicates
    (tests/test_dedup.py)."""
    docs = read_testdata(spark, sf_dir, "documents")
    fp = tx.content_fingerprint(F.col("text"))
    return docs.agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.countDistinct(fp).alias("unique_docs"),
        (F.count(F.lit(1)) - F.countDistinct(fp)).alias("dup_docs"),
    )


# Exact trigram-Jaccard pairs at threshold 0.5 — the shared oracle for
# the three near-dup plans below: they differ only in HOW candidates are
# generated (inverted index / MinHash-LSH / SimHash pigeonhole); each
# post-verifies candidates with TRUE Jaccard, so a full-recall candidate
# stage makes all three return exactly this relation.
_JACCARD_PAIRS_SQL = f"""
    WITH base AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    tri AS (
      SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
      FROM base, UNNEST(generate_series(1, len(toks) - 2)) AS t(i)
      WHERE len(toks) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tri GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
      FROM tri a JOIN tri b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id1, id2,
           CAST(i AS DOUBLE) / (s1.n + s2.n - i) AS jaccard
    FROM inter
    JOIN sizes s1 ON s1.doc_id = id1
    JOIN sizes s2 ON s2.doc_id = id2
    WHERE CAST(i AS DOUBLE) / (s1.n + s2.n - i) >= 0.5
    ORDER BY id1, id2
    """


def dedup_trigram_jaccard(spark, sf_dir):
    """Exact word-trigram Jaccard near-dup pairs via the inverted-index
    self-join — the ground-truth dedup plan (df-capped; at 100 TB run
    the MinHash path instead). Serves from the session pair cache shared
    with dedup_components / curation_funnel.

    NOT registered for the driver as of r8 (50-row cap): its exact
    relation IS the shared oracle that both dedup_minhash_lsh and
    dedup_simhash are hash-checked against every round, so the plan's
    semantics stay driver-pinned through those rows; the slot went to
    docs_containment, which covers the r7 overlap family instead. Its
    own plan stays oracled in pytest via tests/test_rotated_rows.py
    with the identical DuckDB SQL."""
    return _jaccard_pairs_cached(spark, sf_dir).orderBy("id1", "id2")


@register(
    "docs_containment",
    f"""
    WITH base AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    tri AS (
      SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
      FROM base, UNNEST(generate_series(1, len(toks) - 2)) AS t(i)
      WHERE len(toks) >= 3
    ),
    kept AS (
      SELECT doc_id, sh FROM tri
      QUALIFY COUNT(*) OVER (PARTITION BY sh) <= 1000
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
      FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id1, id2, c AS n_common, s1.n AS n1, s2.n AS n2,
           CAST(c AS DOUBLE) / LEAST(s1.n, s2.n) AS containment,
           CAST(c AS DOUBLE) / (s1.n + s2.n - c) AS jaccard
    FROM inter
    JOIN sizes s1 ON s1.doc_id = id1
    JOIN sizes s2 ON s2.doc_id = id2
    WHERE CAST(c AS DOUBLE) / LEAST(s1.n, s2.n) >= 0.5
    ORDER BY id1, id2
    """,
)
def docs_containment(spark, sf_dir):
    """Asymmetric n-gram containment (|A∩B| / min(|A|,|B|)) alongside
    Jaccard — the overlap shape whole-document Jaccard structurally
    misses (a short document embedded in a long one). Inverted-index
    join over the dedup family's shared hashed postings with the same
    df≤1000 boilerplate cap; the oracle recomputes the identical counts
    over string trigrams (the Spark side joins on 64-bit shingle hashes
    — collision odds ~n²/2⁶⁴, immaterial at any driver sf). Registered
    r8 to put the r7 overlap family (operators/overlap.py) under the
    driver's independent oracle."""
    from ..operators import overlap

    docs = read_testdata(spark, sf_dir, "documents")
    return overlap.containment_pairs(
        docs, n=3, threshold=0.5, max_df=1000, toks=_toks_cached(spark, sf_dir)
    ).orderBy("id1", "id2")


@register("dedup_minhash_lsh", _JACCARD_PAIRS_SQL)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(128) + LSH(32×4) candidates post-verified by true Jaccard
    — the 100 TB near-dup plan. Full recall here: miss probability per
    pair is (1-j⁴)³² ≤ 4.7e-8 at j ≥ 0.8, and the corpus's true pairs
    measure min j = 0.9 at sf0.01 / 0.8 at sf0.1 (a pair at exactly the
    0.5 threshold would be missed ~13% of the time — no such pair
    exists; the S-curve midpoint sits at j ≈ 0.42 by design so the
    working regime is its steep right side). Result equals the exact
    oracle.
    Tokenization comes from the session cache shared by every dedup
    family (one corpus scan, N candidate generators)."""
    docs = read_testdata(spark, sf_dir, "documents")
    return dedup.minhash_lsh_verified_pairs(
        docs, threshold=0.5, toks=_toks_cached(spark, sf_dir)
    ).orderBy("id1", "id2")


@register("dedup_simhash", _JACCARD_PAIRS_SQL)
def dedup_simhash(spark, sf_dir):
    """SimHash-64 pigeonhole candidates post-verified by true Jaccard,
    at the DERIVED defaults: ``simhash_verified_pairs`` sizes the
    chunk layout from the corpus (``simhash_chunks_for``, radius floor
    15) and screens at the derived layout's full pigeonhole radius —
    the same call is recall-complete at sf0.001/0.01/0.1 (256/256 at
    sf0.1, where the old fixed hamming ≤ 7 screen measured 241/256:
    the misses sat at hamming 8-12, above the screen, not in capped
    buckets — r12 measurement). r13: the operator now reads the
    piece-bucket populations BEFORE generating candidates and, on
    template-compressed corpora like this one (estimated collision
    volume ≫ 32·n), skips the screen for the exact inverted-index
    plan + hamming post-filter — the r12 candidate join was ~27 s of
    the ~26 s sf0.1 composite for 0.008%-precision candidates; the
    screenless plan reads 4.3 s m3 idle, hash-identical at every sf.
    The probabilistic contract at exactly the threshold stays
    documented at the operator; MinHash-LSH remains the exact-recall
    plan and is registered separately. Tokenization comes from the
    shared dedup-family session cache."""
    docs = read_testdata(spark, sf_dir, "documents")
    return dedup.simhash_verified_pairs(
        docs, threshold=0.5, toks=_toks_cached(spark, sf_dir)
    ).orderBy("id1", "id2")


# Shared oracle fragments for the dedup family (r10 review finding:
# four verbatim copies of this chain had accumulated — a threshold or
# tie-break fix applied to one copy and not the others would make the
# oracles silently disagree). _TRIGRAM_PAIRS_CTES = the exact trigram-
# Jaccard pair relation (threshold 0.5) every dedup oracle starts
# from; _COMPONENTS_CTES extends it to connected components with the
# min-id canonical label. Splice into a WITH RECURSIVE list.
_TRIGRAM_PAIRS_CTES = f"""base AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    tri AS (
      SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
      FROM base, UNNEST(generate_series(1, len(toks) - 2)) AS t(i)
      WHERE len(toks) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tri GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
      FROM tri a JOIN tri b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id1, id2 FROM inter
      JOIN sizes s1 ON s1.doc_id = id1
      JOIN sizes s2 ON s2.doc_id = id2
      WHERE CAST(i AS DOUBLE) / (s1.n + s2.n - i) >= 0.5
    )"""

_COMPONENTS_CTES = f"""{_TRIGRAM_PAIRS_CTES},
    und AS (
      SELECT id1 AS a, id2 AS b FROM pairs
      UNION SELECT id2, id1 FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM und
      UNION
      SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
    ),
    nodes AS (SELECT DISTINCT a AS id FROM und),
    comp AS (
      SELECT n.id AS doc_id, LEAST(n.id, MIN(r.b)) AS component
      FROM nodes n JOIN reach r ON r.a = n.id
      GROUP BY n.id
    )"""


@register(
    "dedup_components_incremental",
    f"""
    WITH RECURSIVE {_COMPONENTS_CTES}
    SELECT doc_id, component, doc_id = component AS keep
    FROM comp
    ORDER BY doc_id
    """,
)
def dedup_components_incremental(spark, sf_dir):
    """Incremental KEEP/DROP merge (r11 driver row for
    ``dedup.connected_components_incremental``): every 10th document
    plays the daily batch (the dedup family's batch/index split) —
    history components come from a full :func:`connected_components`
    run over pairs entirely WITHIN the index slice, then the day's
    pairs (any pair touching a batch doc) merge into those persisted
    labels through the incremental path: broadcast endpoint probe,
    root-contracted batch-sized CC, changed-roots-only relabel, the
    labels frame never shuffled.

    The oracle is the full-run recursive-CTE transitive closure over
    ALL pairs — the strongest possible check, because the operator's
    defining invariant is ``incremental(CC(hist), batch) ≡
    CC(hist ∪ batch)`` exactly, including output coverage (history ids
    ∪ batch endpoints = every paired id). The pair set comes from the
    session cache shared with dedup_trigram_jaccard /
    curation_funnel."""
    pairs, n_pairs = _jaccard_pairs_counted(spark, sf_dir)
    hist = pairs.filter(
        (F.col("id1") % 10 != 0) & (F.col("id2") % 10 != 0)
    )
    batch_pairs = pairs.filter(
        (F.col("id1") % 10 == 0) | (F.col("id2") % 10 == 0)
    )
    # n_pairs is an upper bound on the history slice — engagement only
    # needs a bound, the limit-belt collect sees the true row count
    labels = dedup.connected_components(hist, n_pairs=n_pairs)
    merged = dedup.connected_components_incremental(labels, batch_pairs)
    return (
        merged.select(
            F.col("id").alias("doc_id"),
            F.col("comp").alias("component"),
            (F.col("id") == F.col("comp")).alias("keep"),
        ).orderBy("doc_id")
    )


# Rotated out of the driver registry in r11 for
# dedup_components_incremental, which shares this IDENTICAL oracle (the
# incremental merge's defining invariant is equality with the full run)
# while exercising strictly more machinery — a full CC over the history
# slice PLUS the persisted-label merge. The SQL bar keeps running in
# tests/test_rotated_rows.py; still timed in the bench.
DEDUP_COMPONENTS_SQL = f"""
    WITH RECURSIVE {_COMPONENTS_CTES}
    SELECT doc_id, component, doc_id = component AS keep
    FROM comp
    ORDER BY doc_id
    """


def dedup_components(spark, sf_dir):
    """Connected components over the exact near-dup pairs (trigram
    Jaccard ≥ 0.5): the KEEP/DROP decision of corpus dedup — every
    member of a component duplicates the component's minimum doc_id.
    Spark side: min-label propagation with pointer jumping (O(log n)
    rounds of two joins + agg — r10, chain-component safe);
    oracle: transitive closure via a recursive CTE. The pair set comes
    from the session cache shared with dedup_trigram_jaccard /
    curation_funnel."""
    pairs, n_pairs = _jaccard_pairs_counted(spark, sf_dir)
    comp = dedup.connected_components(pairs, n_pairs=n_pairs)
    return (
        comp.select(
            F.col("id").alias("doc_id"),
            F.col("comp").alias("component"),
            (F.col("id") == F.col("comp")).alias("keep"),
        ).orderBy("doc_id")
    )


# The incremental oracle IS the exact-Jaccard relation restricted to
# pairs touching the "daily batch" (every 10th doc_id) and oriented
# new-doc-first — the batch-vs-index split as a WHERE clause over the
# dedup family's shared oracle.
_INCR_PAIRS_SQL = f"""
    SELECT CASE WHEN id1 % 10 = 0 THEN id1 ELSE id2 END AS id1,
           CASE WHEN id1 % 10 = 0 THEN id2 ELSE id1 END AS id2,
           jaccard
    FROM ({_JACCARD_PAIRS_SQL}) p
    WHERE id1 % 10 = 0 OR id2 % 10 = 0
    ORDER BY 1, 2
    """


@register("dedup_minhash_incremental", _INCR_PAIRS_SQL)
def dedup_minhash_incremental(spark, sf_dir):
    """Incremental near-dup detection (registered r10, r9 verdict item
    4): every 10th document plays the daily batch, the rest the
    persisted signature index. ``minhash_lsh_incremental`` generates
    candidates touching only the batch's texts and the index's
    (band, bucket) keys (est threshold 0 — LSH recall only), then the
    candidates are post-verified with TRUE Jaccard on the shared
    postings, so the result is exactly the new-doc-involving subset of
    the dedup family's exact oracle, oriented (new, old) — full recall
    for the same reason as dedup_minhash_lsh (miss probability
    (1-j⁴)³² ≤ 1.5e-15 at the corpus's measured min j). The whole
    plan runs off ONE shingle scan: batch and index signatures both
    derive from the shared hashed-postings frame (new_postings /
    postings= splits of the same checkpoint), and estimate=False
    skips the signature-agreement joins the verification makes
    redundant (r10 rework: 7.14 → measured below; the first
    registration re-tokenized the corpus twice inside the two
    minhash_signatures calls)."""
    docs = read_testdata(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    postings = dedup.hashed_postings(
        docs, toks=_toks_cached(spark, sf_dir)
    ).localCheckpoint(eager=False)
    index = dedup.minhash_signatures(
        k=128, postings=postings.filter(F.col("id") % 10 != 0)
    )
    cands, _ = dedup.minhash_lsh_incremental(
        batch,
        index,
        new_postings=postings.filter(F.col("id") % 10 == 0),
        estimate=False,
    )
    return dedup.true_jaccard_for_pairs(
        cands, postings, threshold=0.5
    ).orderBy("id1", "id2")


_KEEPERS_SQL = f"""
    WITH RECURSIVE {_COMPONENTS_CTES},
    q AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM base)
    SELECT c.doc_id, c.component, q.n_tokens,
           c.doc_id = FIRST_VALUE(c.doc_id) OVER (
               PARTITION BY c.component
               ORDER BY q.n_tokens DESC, c.doc_id
           ) AS keep
    FROM comp c JOIN q USING (doc_id)
    ORDER BY c.doc_id
    """


@register("dedup_component_keepers", _KEEPERS_SQL)
def dedup_component_keepers(spark, sf_dir):
    """Quality-aware canonical selection per near-dup component
    (registered r10, r9 verdict item 4): over the same exact-pair
    components as dedup_components, keep the member with the most
    tokens (the keep-the-longest policy real curation pipelines use
    when no classifier score is wired), ties to the lower doc_id.
    Spark side is ``component_keepers``' one max_by aggregation + one
    comp-keyed join — no window sort; the oracle re-derives the
    identical decision with a window over the recursive-CTE
    components."""
    pairs, n_pairs = _jaccard_pairs_counted(spark, sf_dir)
    labels = dedup.connected_components(pairs, n_pairs=n_pairs)
    toks = _toks_cached(spark, sf_dir)
    scores = toks.select("id", F.size("toks").cast("long").alias("score"))
    out = dedup.component_keepers(labels, scores)
    return (
        out.join(scores, "id")
        .select(
            F.col("id").alias("doc_id"),
            F.col("comp").alias("component"),
            F.col("score").alias("n_tokens"),
            "keep",
        )
        .orderBy("doc_id")
    )


# Decontamination oracle: 8-gram overlap (the corpus's shortest doc has
# 10 tokens, so every document contributes n-grams at n=8; the operator
# default n=13 targets real corpora with longer documents). The
# benchmark set is a deterministic held-out slice — every 20th doc_id —
# derived identically on both sides.
_DECON_N = 8
_DECON_SHINGLE_SQL = " || ' ' || ".join(
    f"toks[i+{j}]" if j else "toks[i]" for j in range(_DECON_N)
)

@register(
    "decontaminate_overlap",
    f"""
    WITH base AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id, {_DECON_SHINGLE_SQL} AS sh
      FROM base, UNNEST(generate_series(1, len(toks) - {_DECON_N - 1})) AS t(i)
      WHERE len(toks) >= {_DECON_N}
    ),
    bench AS (SELECT DISTINCT sh FROM g WHERE doc_id % 20 = 0)
    SELECT g.doc_id, COUNT(*) AS n_hits
    FROM g JOIN bench USING (sh)
    GROUP BY g.doc_id
    ORDER BY doc_id
    """,
)
def decontaminate_overlap(spark, sf_dir):
    """Benchmark decontamination: corpus documents sharing any word
    8-gram with the held-out benchmark slice (every 20th doc_id), with
    the count of distinct shared n-grams. The benchmark n-gram set is
    broadcast, so the corpus-side join is map-side — the 100 TB-scan
    shape (operators/decontam.py). The benchmark docs flag themselves
    (full self-overlap) — exactly what a pipeline wants when the crawl
    accidentally contains the eval set."""
    docs = read_testdata(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    return decontam.contamination_hits(
        docs, bench, n=_DECON_N, toks=_toks_cached(spark, sf_dir)
    ).orderBy("doc_id")


_LANG_PRED_SQL = f"""
      CASE WHEN regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]') THEN 'zh'
           WHEN greatest(
               len(list_filter({_TOKS_SQL}, x -> x IN {_MARKER_SQL['en']})),
               len(list_filter({_TOKS_SQL}, x -> x IN {_MARKER_SQL['es']})),
               len(list_filter({_TOKS_SQL}, x -> x IN {_MARKER_SQL['fr']})),
               len(list_filter({_TOKS_SQL}, x -> x IN {_MARKER_SQL['de']}))) <= 0
           THEN 'und' ELSE 'known' END
"""


@register(
    "curation_funnel",
    f"""
    WITH RECURSIVE {_TRIGRAM_PAIRS_CTES},
    und AS (
      SELECT id1 AS a, id2 AS b FROM pairs UNION SELECT id2, id1 FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM und
      UNION
      SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
    ),
    dropped AS (
      SELECT a AS doc_id FROM reach GROUP BY a HAVING MIN(LEAST(a, b)) < a
    ),
    scored AS (
      SELECT doc_id,
             ({_LANG_PRED_SQL}) <> 'und' AS lang_ok,
             {_QUALITY_SQL} >= 0.5 AS quality_ok,
             doc_id NOT IN (SELECT doc_id FROM dropped) AS dedup_ok
      FROM documents
    )
    SELECT stage, docs FROM (
      SELECT '0_all' AS stage, COUNT(*) AS docs, 0 AS ord FROM scored
      UNION ALL
      SELECT '1_lang', COUNT(*), 1 FROM scored WHERE lang_ok
      UNION ALL
      SELECT '2_quality', COUNT(*), 2 FROM scored WHERE lang_ok AND quality_ok
      UNION ALL
      SELECT '3_dedup', COUNT(*), 3 FROM scored
      WHERE lang_ok AND quality_ok AND dedup_ok
    ) t ORDER BY ord
    """,
)
def curation_funnel(spark, sf_dir):
    """The end-to-end training-data curation funnel: how many documents
    survive each gate — language identified → quality ≥ 0.5 → dedup
    keeper (not a non-canonical member of a near-dup component). One
    row per stage with the surviving count; the composition every
    corpus pipeline runs before tokenization."""
    from ..operators.textstats import lang_id_table

    docs = read_testdata(spark, sf_dir, "documents")
    flags = (
        lang_id_table(docs)
        .select(
            "doc_id",
            (F.col("predicted_lang") != "und").alias("lang_ok"),
            (tx.quality_score(F.col("text")) >= 0.5).alias("quality_ok"),
        )
    )
    pairs, n_pairs = _jaccard_pairs_counted(spark, sf_dir)
    comp = dedup.connected_components(pairs, n_pairs=n_pairs)
    dropped = comp.filter(F.col("comp") != F.col("id")).select(
        F.col("id").alias("doc_id")
    )
    flags = flags.join(dropped.withColumn("_drop", F.lit(True)), "doc_id", "left")
    flags = flags.withColumn("dedup_ok", F.col("_drop").isNull())

    # One aggregation pass computes every stage count (map-side partial,
    # single job) instead of four filtered scans — at corpus scale this
    # avoids materializing the full flags table just to re-read it 4x.
    counts = flags.agg(
        F.count(F.lit(1)).alias("all_docs"),
        F.count_if(F.col("lang_ok")).alias("lang_docs"),
        F.count_if(F.col("lang_ok") & F.col("quality_ok")).alias("quality_docs"),
        F.count_if(
            F.col("lang_ok") & F.col("quality_ok") & F.col("dedup_ok")
        ).alias("dedup_docs"),
    )
    return counts.selectExpr(
        "stack(4, '0_all', all_docs, '1_lang', lang_docs,"
        " '2_quality', quality_docs, '3_dedup', dedup_docs) AS (stage, docs)"
    ).orderBy("stage")


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_VEC_NORM_SQL = (
    "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)

@register(
    "embedding_ann_topk",
    f"""
    WITH n AS (
      SELECT vec_id, embedding, {_VEC_NORM_SQL} AS nrm FROM embeddings
    ),
    scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             round(
               list_sum(list_transform(generate_series(1, len(q.embedding)),
                        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
               / NULLIF(q.nrm * e.nrm, 0.0), 9) AS cosine
      FROM n q JOIN n e ON e.vec_id <> q.vec_id
      WHERE q.vec_id < 8
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) t
    WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def embedding_ann_topk(spark, sf_dir):
    """Brute-force cosine top-5 for query vectors vec_id < 8 — the exact
    ANN baseline (broadcast queries × one corpus scan)."""
    emb = read_testdata(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(
        emb, k=5, query_filter=F.col("vec_id") < 8
    ).orderBy("query_id", "rank")


@register(
    "embedding_pq_adc",
    f"""
    WITH n AS (
      SELECT vec_id, embedding, {_VEC_NORM_SQL} AS nrm FROM embeddings
    ),
    scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             round(
               list_sum(list_transform(generate_series(1, len(q.embedding)),
                        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
               / NULLIF(q.nrm * e.nrm, 0.0), 9) AS cosine
      FROM n q JOIN n e ON e.vec_id <> q.vec_id
      WHERE q.vec_id < 12
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) t
    WHERE rank <= 4
    ORDER BY query_id, rank
    """,
)
def embedding_pq_adc(spark, sf_dir):
    """IVF-PQ end to end under the driver's independent oracle
    (operators/pq.py; registered r9 per r7 verdict item 4, rotating out
    approx_distinct_sketch's two-boolean contract row). Configuration
    is full-probe (nprobe = n_coarse: every coarse cell scanned) and
    full-rerank (rerank derived from a corpus COUNT so rerank·k ≥ the
    corpus at ANY sf — the exactness claim is self-enforcing, not an
    sf0.01 coincidence; r9 review finding) — in that
    regime IVF-PQ's contract says the result EQUALS brute-force cosine
    top-k exactly, with true cosines and the (cosine DESC, neighbor)
    tie-break. The oracle is therefore plain brute-force SQL with no
    model replica: a hash-free independent check that the whole chain
    — deterministic sampled codebook fit, two-lane integer-scaled
    Lloyd rounds, encode, per-query ADC LUTs, candidate pruning,
    re-rank — never drops, duplicates, or mis-ranks a neighbor (any
    fit/encode/ADC defect that perturbs candidate survival or final
    ordering breaks the hash). pytest (tests/test_pq.py) pins the same
    identity on clustered data plus determinism; the driver row makes
    it independently checked, closing the r7 'heaviest operators are
    pytest-only' gap."""
    from ..operators import pq

    emb = read_testdata(spark, sf_dir, "embeddings")
    model = pq.fit_pq_codebooks(
        emb, m=4, k=16, lloyd_rounds=2, sample_rows=1000
    )
    k = 4
    rerank = -(-emb.count() // k)  # rerank·k ≥ corpus ⇒ PQ ≡ brute force
    return pq.pq_topk(
        emb,
        model,
        k=k,
        n_coarse=8,
        nprobe=8,
        rerank=rerank,
        query_filter=F.col("vec_id") < 12,
    ).orderBy("query_id", "rank")


# Constant-SAMPLE-SIZE recipe (r7): the threshold derives from the
# corpus count with pure integer floor arithmetic, so the sampled row
# count — and therefore the all-pairs cost — stays ~fixed at every sf
# (the r6 fixed-fraction form measured 6.6× wall at 3× corpus; this
# form is flat by construction). Mirrors sampling.hash_sample_target.
_NEARDUP_TARGET_ROWS = 500

_NEARDUP_THR_SQL = (
    f"LEAST(10000, CASE WHEN (SELECT COUNT(*) FROM embeddings) <= "
    f"{_NEARDUP_TARGET_ROWS} THEN 10000 ELSE "
    f"{_NEARDUP_TARGET_ROWS} * 10000 // (SELECT COUNT(*) FROM embeddings) END)"
)

_NEARDUP_SAMPLED_SQL = f"""
    WITH src AS (SELECT vec_id FROM embeddings),
    {xxh64_bucket_ctes('src', 'vec_id')},
    samp AS (
      SELECT e.vec_id, e.embedding
      FROM embeddings e
      JOIN _xxbkt b ON e.vec_id = b.vec_id
      WHERE b._bucket < {_NEARDUP_THR_SQL}
    ),
    n AS (
      SELECT vec_id, embedding, {_VEC_NORM_SQL} AS nrm FROM samp
    )
    SELECT a.vec_id AS id1, b.vec_id AS id2,
           round(
             list_sum(list_transform(generate_series(1, len(a.embedding)),
                      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
             / NULLIF(a.nrm * b.nrm, 0.0), 9) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE round(
             list_sum(list_transform(generate_series(1, len(a.embedding)),
                      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
             / NULLIF(a.nrm * b.nrm, 0.0), 9) >= 0.35
    ORDER BY id1, id2
    """


@register("embedding_neardup_pairs", _NEARDUP_SAMPLED_SQL)
def embedding_neardup_pairs(spark, sf_dir):
    """Exact near-dup pair measurement at a PERMISSIVE threshold (0.35,
    θ ≈ 70°) over a DETERMINISTIC HASH SAMPLE of the corpus — the
    scale-safe way to run exact permissive-threshold analysis, and how
    a 100 TB pipeline actually measures its near-dup rate: all-pairs on
    the full corpus is quadratic, and at θ ≈ 60-70° sign-bit LSH has
    nonzero expected misses vs an exact oracle, so a probabilistic plan
    would fail deterministically. Sampling is
    ``sampling.hash_sample_target`` (r7): the kept-bucket threshold
    derives from the corpus COUNT with integer floor arithmetic, so
    the sampled row count — and the quadratic pair cost — holds
    ~constant at every corpus size. This is the production form of the
    r6 fixed-fraction knob (which the sf0.3 measurement showed growing
    6.6× at 3× corpus); the operator's ``max_rows`` fuse stays as the
    backstop so an unguarded all-pairs plan remains unreachable.

    Oracle parity on the SAMPLE itself: the DuckDB side reproduces
    Spark's ``pmod(xxhash64(42L, vec_id), 10000)`` bucket math
    bit-for-bit via the generated CTE chain (plans/xxh64_sql.py) AND
    the count-derived threshold (same integer expression), so the
    driver hash-checks sample membership AND the pair cosines. The
    oracle models the FIXED-bucket regime, valid while count(embeddings)
    ≤ 100·target = 50 000 — every driver sf sits ≥ 8× under that bound
    (the operator's bucket-space growth above it is pytest-pinned).
    The strict-threshold scale plan remains ``embedding_lsh_neardup``."""
    from ..operators import sampling

    emb = read_testdata(spark, sf_dir, "embeddings")
    samp = sampling.hash_sample_target(emb, "vec_id", _NEARDUP_TARGET_ROWS)
    return similarity.brute_force_neardup_pairs(
        samp, threshold=0.35, max_rows=100_000
    ).orderBy("id1", "id2")


@register(
    "docs_semantic_decontam",
    f"""
    WITH n AS (
      SELECT vec_id, embedding, {_VEC_NORM_SQL} AS nrm FROM embeddings
    ),
    scored AS (
      SELECT c.vec_id, b.vec_id AS bid,
             round(
               list_sum(list_transform(generate_series(1, len(c.embedding)),
                        i -> CAST(c.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
               / NULLIF(c.nrm * b.nrm, 0.0), 9) AS cosine
      FROM n c JOIN n b ON b.vec_id % 20 = 0
      WHERE c.vec_id % 20 <> 0
    )
    SELECT vec_id, bid AS nearest_bench_id, cosine AS max_cosine FROM (
      SELECT *, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY cosine DESC, bid) AS rk
      FROM scored
    ) t
    WHERE rk = 1
    ORDER BY vec_id
    """,
)
def docs_semantic_decontam(spark, sf_dir):
    """Semantic (embedding-level) decontamination audit — r10 driver
    row for ``decontam.semantic_contamination_scores``: every corpus
    embedding's best cosine against the held-out benchmark slice
    (every 20th vec_id — the same held-out convention as
    decontaminate_overlap's n-gram test, making the two rows the
    complementary pair they are in production: paraphrased eval items
    that share no 8-gram still sit next to the benchmark in embedding
    space). The benchmark side is broadcast with a row-count fuse, the
    corpus side is one scan with a map-side expand + partial-agg
    collapse — the 100 TB shape. The oracle re-derives every cosine
    independently (same CAST-to-DOUBLE left fold, 9 dp round) and the
    (cosine DESC, bench id ASC) tie-break via a window — all three
    output columns hash-checked for all corpus rows."""
    emb = read_testdata(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % 20 == 0)
    corpus = emb.filter(F.col("vec_id") % 20 != 0)
    return decontam.semantic_contamination_scores(corpus, bench).orderBy(
        "vec_id"
    )


@register(
    "embedding_centroid_gate",
    f"""
    WITH c AS (
      SELECT list(m ORDER BY t) AS cv FROM (
        SELECT t,
               -- CAST ... AS DOUBLE first: Spark's decimal cast sees
               -- the float WIDENED TO DOUBLE; DuckDB's float->decimal
               -- goes through the float's short repr and would round
               -- differently at the 9th-12th decimal
               CAST(SUM(CAST(CAST(embedding[t] AS DOUBLE)
                             AS DECIMAL(28,12))) AS DOUBLE)
                 / COUNT(*) AS m
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(t)
        WHERE label = 0
        GROUP BY t
      )
    ),
    cn AS (
      SELECT cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS cnorm
      FROM c
    )
    SELECT e.vec_id,
           round(
             list_sum(list_transform(generate_series(1, len(e.embedding)),
                      i -> CAST(e.embedding[i] AS DOUBLE) * cn.cv[i]))
             / NULLIF({_VEC_NORM_SQL.replace('embedding', 'e.embedding')}
                      * cn.cnorm, 0.0),
             9) AS centroid_cos
    FROM embeddings e, cn
    ORDER BY e.vec_id
    """,
)
def embedding_centroid_gate(spark, sf_dir):
    """Embedding-centroid quality gate (r11 driver row for
    ``similarity.centroid_similarity_scores`` — the LAION/DataComp-
    style filter: every corpus vector's cosine to the MEAN of a
    trusted seed sample, here the ``label = 0`` slice). The fit is ONE
    aggregation with order-independent DECIMAL(28,12) coordinate sums
    (exactly reproducible under any partitioning), and scoring is a
    zero-shuffle per-row projection against the centroid as a literal
    — the plan that composes unchanged with streaming ingest.

    Oracle parity is exact by construction: DuckDB re-derives the
    centroid through the SAME decimal sums (cast-to-double, then the
    one float division Python does), the same left-to-right double
    fold for centroid norm / dot / row norm, and the same 9-dp round —
    every row's cosine hash-checked. The oracle models the driver
    corpus's regime (uniform-width, no-NULL-element embeddings; the
    seed slice is non-empty at every driver sf); the operator's
    NULL/odd-width/empty-seed contracts are pinned in
    tests/test_similarity.py."""
    emb = read_testdata(spark, sf_dir, "embeddings")
    return (
        similarity.centroid_similarity_scores(emb, F.col("label") == 0)
        .orderBy("vec_id")
    )


def embedding_lsh_neardup(spark, sf_dir):
    """Strict near-duplicate scan (cosine ≥ 0.95) — the bucketed LSH
    plan with exact-cosine verification. NOT registered for the driver
    since r6: the exact result is empty at every driver sf (the
    corpus's pair cosines top out below 0.9), so the hash check
    compared empty to empty and verified nothing — the registry slot
    went to ``with_split`` (bit-exact xxh64 oracle). Recall behavior on
    corpora where qualifying pairs DO exist is pinned by the
    planted-neighbor pytest fixtures (tests/test_similarity.py), and
    the sketch path still runs in the bench via this callable."""
    emb = read_testdata(spark, sf_dir, "embeddings")
    return similarity.lsh_neardup_pairs(
        emb, threshold=0.95, planes=16, rotations=4
    ).orderBy("id1", "id2")


_NEARDUP_INCR_PLANES = 8
_NEARDUP_INCR_ROTATIONS = 2
_NEARDUP_INCR_THRESHOLD = 0.35
_EMB_DIMS = 64  # the driver embeddings tables' width at every sf


def _neardup_incr_oracle_sql(
    planes: int = _NEARDUP_INCR_PLANES,
    rotations: int = _NEARDUP_INCR_ROTATIONS,
    dims: int = _EMB_DIMS,
    threshold: float = _NEARDUP_INCR_THRESHOLD,
) -> str:
    """Bit-exact DuckDB replica of the ENTIRE incremental LSH plan —
    no recall assumption at any threshold. Possible because
    ``similarity.hyperplane_sketches`` derives its coefficients from
    ``xxhash64(q, d)`` over INT columns (no stored model): the oracle
    bakes coef(q, d) = signed(xxhash64(q, d)) / 2⁶³ as a literal table
    via the Python twin (``xxh64_sql.spark_xxhash64_int2``,
    Spark-parity pinned in tests/test_sampling.py), then re-derives
    the integer-scaled plane dots (same float→double cast, same
    (x·c)·2⁴⁰ association, same round-half-away — the proven
    _SEM_DOT_SCALED pattern), the per-(id, rot) sign-bit buckets, the
    batch-vs-(index ∪ batch) candidate join with the operator's
    orientation rule (cross pairs keep id1 = new doc in every
    orientation; within-batch id1 < id2), and the 9-dp verify
    cosines."""
    from .xxh64_sql import spark_xxhash64_int2

    total = planes * rotations
    # scientific notation, NOT repr (r14 third review pass, verified
    # empirically): DuckDB types a plain decimal literal like
    # 0.4278592836270982 as DECIMAL(17,16), whose cast to DOUBLE is 1
    # ulp off Spark's double for 223/1024 coefficients — green only
    # while no drifted (id, q) partial sum crosses zero. An
    # exponent-form literal parses as DOUBLE directly, and 17
    # significant digits round-trip every double exactly.
    coef_rows = ",".join(
        f"({q},{d},{float(spark_xxhash64_int2(q, d)) / float(1 << 63):.17e})"
        for q in range(total)
        for d in range(dims)
    )
    qmap_rows = ",".join(
        f"({q},{q // planes},{1 << (q % planes)})" for q in range(total)
    )
    cos = """round(list_sum(list_transform(generate_series(1, len(x.embedding)),
                 i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))
                 / NULLIF(x.nrm * y.nrm, 0.0), 9)"""
    nrm = (
        "sqrt(list_sum(list_transform(embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )
    return f"""
    WITH coef(q, d, c) AS (VALUES {coef_rows}),
    qmap(q, rot, bitval) AS (VALUES {qmap_rows}),
    terms AS (
      SELECT e.vec_id, c.q,
             CAST(round((CAST(e.embedding[c.d + 1] AS DOUBLE)
                         * CAST(c.c AS DOUBLE)) * 1099511627776.0)
                  AS BIGINT) AS t
      FROM embeddings e CROSS JOIN coef c
    ),
    psums AS (SELECT vec_id, q, SUM(t) AS s FROM terms GROUP BY vec_id, q),
    bks AS (
      SELECT p.vec_id, m.rot,
             SUM(CASE WHEN p.s > 0 THEN m.bitval ELSE 0 END) AS bucket
      FROM psums p JOIN qmap m USING (q)
      GROUP BY p.vec_id, m.rot
    ),
    cand AS (
      SELECT DISTINCT b.vec_id AS id1, r.vec_id AS id2
      FROM bks b JOIN bks r ON b.rot = r.rot AND b.bucket = r.bucket
      WHERE b.vec_id % 10 = 0
        AND b.vec_id <> r.vec_id
        AND (r.vec_id % 10 <> 0 OR b.vec_id < r.vec_id)
    ),
    n AS (SELECT vec_id, embedding, {nrm} AS nrm FROM embeddings)
    SELECT c.id1, c.id2, {cos} AS cosine
    FROM cand c
    JOIN n x ON x.vec_id = c.id1
    JOIN n y ON y.vec_id = c.id2
    WHERE {cos} >= {threshold}
    ORDER BY id1, id2
    """


@register("embedding_neardup_incremental", _neardup_incr_oracle_sql())
def embedding_neardup_incremental(spark, sf_dir):
    """Incremental embedding near-dup (r13 operator,
    similarity.lsh_neardup_incremental; REGISTERED r14 per the r13
    verdict's next #4 — the last dedup family member whose correctness
    rode on pytest alone): every 10th vector plays the daily batch
    against the rest's persisted sketch index, the EMBEDDING twin of
    dedup_minhash_incremental's split. The r13 strict-threshold form
    was empty at every driver sf (hash-checking nothing); this row
    runs the PERMISSIVE regime (0.35) where pairs exist, and the
    oracle replays the whole plan bit-for-bit — coefficient
    derivation, integer-scaled sign bits, bucket collisions,
    orientation, verify cosines (see ``_neardup_incr_oracle_sql``) —
    so LSH recall at the permissive threshold is part of WHAT IS
    CHECKED, not an assumption. max_bucket=None keeps the oracle
    cap-free; the cap's subset invariant stays pytest-pinned
    (tests/test_similarity.py). Scale: the batch sketches once, the
    index is touched only through colliding (rot, bucket) keys, and
    verification probes the batch-sized frame on the id1 side — the
    daily-ingest probe shape, now driver-hash-gated at all sf."""
    from pyspark.sql import functions as _F

    emb = read_testdata(spark, sf_dir, "embeddings")
    batch = emb.filter(_F.col("vec_id") % 10 == 0)
    index = emb.filter(_F.col("vec_id") % 10 != 0)
    idx_sk = similarity.hyperplane_sketches(
        index,
        planes=_NEARDUP_INCR_PLANES,
        rotations=_NEARDUP_INCR_ROTATIONS,
    )
    pairs, _ = similarity.lsh_neardup_incremental(
        batch,
        idx_sk,
        index,
        threshold=_NEARDUP_INCR_THRESHOLD,
        planes=_NEARDUP_INCR_PLANES,
        rotations=_NEARDUP_INCR_ROTATIONS,
        max_bucket=None,
    )
    return pairs.orderBy("id1", "id2")


_SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}

# Rotated out of the driver registry in r10 for docs_split_by_component,
# which STRICTLY SUBSUMES this check: same bit-exact bucket arithmetic
# and threshold layout, keyed on the component-coalesced key instead of
# the raw doc_id (identical for every non-clustered doc). Keeps this
# SQL bar in tests/test_rotated_rows.py; still timed in the bench.
DOCS_WITH_SPLIT_SQL = f"""
    WITH src AS (SELECT doc_id FROM documents),
    {xxh64_bucket_ctes('src', 'doc_id')}
    SELECT doc_id, _bucket AS bucket,
           CASE WHEN _bucket < 9000 THEN 'train'
                WHEN _bucket < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM _xxbkt
    ORDER BY doc_id
    """


def docs_with_split(spark, sf_dir):
    """Deterministic train/val/test assignment (90/5/5) for every
    document — replayable, append-stable hash-bucket membership
    (operators/sampling.py ``with_split``). The oracle recomputes
    Spark's ``pmod(xxhash64(42L, doc_id), 10000)`` bucket bit-for-bit
    in generated DuckDB arithmetic (plans/xxh64_sql.py), so EVERY
    row's bucket and label is hash-checked — registered r7-r9;
    rotated r10 (slot and check subsumed by
    ``docs_split_by_component``)."""
    from ..operators.sampling import bucket_expr, with_split

    docs = read_testdata(spark, sf_dir, "documents")
    return (
        with_split(docs.select("doc_id"), "doc_id", _SPLIT_WEIGHTS)
        .withColumn("bucket", bucket_expr("doc_id"))
        .select("doc_id", "bucket", "split")
        .orderBy("doc_id")
    )


@register(
    "docs_split_by_component",
    f"""
    WITH RECURSIVE {_COMPONENTS_CTES},
    keys AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS split_key
      FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    src AS (SELECT DISTINCT split_key FROM keys),
    {xxh64_bucket_ctes('src', 'split_key')}
    SELECT k.doc_id, k.split_key, b._bucket AS bucket,
           CASE WHEN b._bucket < 9000 THEN 'train'
                WHEN b._bucket < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM keys k JOIN _xxbkt b USING (split_key)
    ORDER BY k.doc_id
    """,
)
def docs_split_by_component(spark, sf_dir):
    """Leakage-safe deterministic splits (registered r10, replacing
    docs_with_split whose check it strictly subsumes): every document
    buckets on its near-dup COMPONENT label (raw doc_id for
    non-clustered docs), so duplicate clusters never straddle the
    train/val/test fence. The oracle re-derives the components with
    the dedup family's recursive CTE AND the split bucket with the
    generated bit-exact xxh64 arithmetic — every row's key, bucket,
    and label hash-checked. Components come from the session pair
    cache shared with dedup_components / dedup_component_keepers."""
    from ..operators.sampling import bucket_expr, split_by_component

    docs = read_testdata(spark, sf_dir, "documents")
    pairs, n_pairs = _jaccard_pairs_counted(spark, sf_dir)
    labels = dedup.connected_components(pairs, n_pairs=n_pairs)
    out = split_by_component(docs.select("doc_id"), labels, _SPLIT_WEIGHTS)
    lab = labels.select(F.col("id").alias("doc_id"), "comp")
    key = F.coalesce(F.col("comp"), F.col("doc_id"))
    return (
        out.join(lab, "doc_id", "left")
        .select(
            "doc_id",
            key.alias("split_key"),
            bucket_expr(key).alias("bucket"),
            "split",
        )
        .orderBy("doc_id")
    )


# The incremental mixer's driver row (registered r12, the round's
# flagship-gap close): equal EXACT-binary shares over four sources so
# every float in the water-filling is reproducible bit-for-bit in SQL
# (0.25 is exact, the four-term sum is exactly 1.0, and each group's
# cap/entitlement arithmetic is integer-valued-double in, correctly-
# rounded division out — identical IEEE ops in both engines).
_MIXTURE_SHARES = {"src0": 0.25, "src1": 0.25, "src2": 0.25, "src3": 0.25}

_MIXTURE_GATE_SQL = f"""
    WITH hist AS (
      SELECT source, CAST(COUNT(*) AS DOUBLE) AS c
      FROM documents WHERE doc_id % 40 = 0 GROUP BY source
    ),
    shares(source, s0) AS (
      VALUES {", ".join(f"('{g}', {s!r})" for g, s in _MIXTURE_SHARES.items())}
    ),
    norm AS (
      SELECT source, s0 / (SELECT SUM(s0) FROM shares) AS s FROM shares
    ),
    supply AS (
      SELECT source, CAST(COUNT(*) AS DOUBLE) AS b
      FROM documents GROUP BY source
    ),
    grp AS (
      SELECT n.source, n.s, COALESCE(h.c, 0.0) AS c, COALESCE(sp.b, 0.0) AS b
      FROM norm n
      LEFT JOIN hist h USING (source)
      LEFT JOIN supply sp USING (source)
    ),
    tt AS (SELECT MIN((c + b) / s) AS t FROM grp WHERE s > 0 AND b > 0),
    fr AS (
      SELECT source,
             LEAST(GREATEST((SELECT t FROM tt) * s - c, 0.0), b) / b AS f
      FROM grp WHERE b > 0
    ),
    thr AS (
      -- int(round(f*buckets)) with PYTHON'S half-even tie rule: at an
      -- exact .5 round to the even neighbor, else ROUND agrees with
      -- nearest (stratified_hash_sample's threshold, reproduced)
      SELECT source,
             CASE WHEN f * 10000 = FLOOR(f * 10000) + 0.5
                  THEN CAST(FLOOR(f * 10000) AS BIGINT)
                       + CAST(FLOOR(f * 10000) AS BIGINT) % 2
                  ELSE CAST(ROUND(f * 10000, 0) AS BIGINT) END AS thr
      FROM fr
    ),
    src AS (SELECT DISTINCT doc_id FROM documents),
    {xxh64_bucket_ctes('src', 'doc_id')}
    SELECT d.doc_id, d.source
    FROM documents d
    JOIN thr USING (source)
    JOIN _xxbkt x ON x.doc_id = d.doc_id
    WHERE x._bucket < thr.thr
    ORDER BY d.doc_id
    """


@register("mixture_gate", _MIXTURE_GATE_SQL)
def mixture_gate(spark, sf_dir):
    """The incremental domain-mixture gate
    (``sampling.mixture_sample_incremental``) as a driver row: day-0
    ledger = the ``doc_id % 40 == 0`` slice of documents counted per
    source (entirely inside src0, so src0 enters the day
    OVER-represented and keeps a PARTIAL hash-bucket fraction — 12/25
    at the gate sf — while src1-3 bind at fraction 1.0 and unlisted
    sources drop), today's batch = the full table. The oracle solves
    the same water-filling as static CTEs — feasible total
    T = min((hist+supply)/share), per-group keep
    clamp(T·s − hist, 0, supply)/supply — with Python's half-even
    threshold rounding reproduced, and checks every admitted
    (doc_id, source) through the bit-exact xxh64 bucket arithmetic.
    Registered r12 by rotating out text_language_id (SQL bar →
    tests/test_rotated_rows.py, bench series continues)."""
    from ..operators import sampling

    docs = read_testdata(spark, sf_dir, "documents")
    ledger = (
        docs.filter(F.col("doc_id") % 40 == 0)
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("double").alias("kept_w"))
    )
    kept, _ = sampling.mixture_sample_incremental(
        docs, ledger, "source", dict(_MIXTURE_SHARES)
    )
    return kept.select("doc_id", "source").orderBy("doc_id")


def docs_per_group_cap(spark, sf_dir):
    """Per-group contribution cap: at most 5 documents per source,
    keeping the longest (ties broken by doc_id — the ordering is total,
    so the cap is deterministic). The mix-balancing step of corpus
    assembly: no one domain/source dominates the training mix. One
    exchange on the group key; rank-only window, and post-cap every
    group is ≤ k rows — the operator REMOVES downstream skew
    (operators/sampling.py per_group_cap).

    UNREGISTERED in r7 (50-row cap rotation): its row_number-top-k
    window shape is already driver-checked by
    ``window_top_orders_per_customer`` (same plan, orders table), and
    the richer fractional form (`per_group_quantile_cap`) carries a
    DuckDB window oracle in tests/test_sampling.py. Slot went to
    ``docs_dedup_lines`` — a whole operator family (C4 corpus-level
    line dedup) the driver had never checked."""
    from ..operators.sampling import per_group_cap

    docs = read_testdata(spark, sf_dir, "documents")
    capped = per_group_cap(
        docs, ["source"], [F.desc("n_chars"), F.asc("doc_id")], k=5
    )
    return capped.select("doc_id", "source", "n_chars").orderBy("source", "doc_id")


_LINES_MIN_CHARS = 10
_LINES_COPY_OFFSET = 1_000_000

# The synthetic documents carry no newlines and no corpus-duplicated
# lines, so the registered query CONSTRUCTS the regime the operator
# exists for, deterministically, from the table itself: each non-null
# document becomes four lines — its full text (unique), a per-source
# banner (duplicated across every doc of that source — the kill path),
# a short "--" separator (exempt), and its 40-char prefix (shared
# whenever templated texts share prefixes) — and the whole corpus is
# unioned with an id-shifted copy, so every line of the copy is a
# corpus-level duplicate. NULL-concat propagates NULLs identically in
# both engines (F.concat, not concat_ws, which SKIPS nulls).
_LINES_DOC_SQL = (
    "text || chr(10) || 'source banner for ' || source || chr(10) || "
    "'--' || chr(10) || substring(text, 1, 40)"
)

_DEDUP_LINES_SQL = f"""
    WITH docs2 AS (
      SELECT doc_id, {_LINES_DOC_SQL} AS text FROM documents
      UNION ALL
      SELECT doc_id + {_LINES_COPY_OFFSET} AS doc_id, {_LINES_DOC_SQL} AS text
      FROM documents
    ),
    lines AS (
      SELECT doc_id, i - 1 AS idx, ls[i] AS line
      FROM (
        SELECT doc_id,
               string_split(replace(text, chr(13) || chr(10), chr(10)), chr(10)) AS ls
        FROM docs2 WHERE text IS NOT NULL
      ), UNNEST(generate_series(1, len(ls))) AS t(i)
    ),
    ranked AS (
      SELECT doc_id, idx,
             ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, idx) AS rn
      FROM lines WHERE length(trim(line)) >= {_LINES_MIN_CHARS}
    ),
    kept AS (
      SELECT l.doc_id, l.idx, l.line,
             (r.rn IS NULL OR r.rn = 1) AS keep
      FROM lines l
      LEFT JOIN ranked r ON l.doc_id = r.doc_id AND l.idx = r.idx
    ),
    rebuilt AS (
      SELECT doc_id,
             string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY idx)
               FILTER (WHERE keep) AS clean_text,
             COUNT(*) FILTER (WHERE keep) AS n_lines_kept,
             COUNT(*) FILTER (WHERE NOT keep) AS n_lines_dropped
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           CASE WHEN d.text IS NOT NULL
                THEN md5(COALESCE(r.clean_text, '')) END AS clean_md5,
           COALESCE(r.n_lines_kept, 0) AS n_lines_kept,
           COALESCE(r.n_lines_dropped, 0) AS n_lines_dropped
    FROM docs2 d LEFT JOIN rebuilt r USING (doc_id)
    ORDER BY d.doc_id
    """


@register("docs_dedup_lines", _DEDUP_LINES_SQL)
def docs_dedup_lines(spark, sf_dir):
    """C4-style corpus-level line dedup (dedup.dedup_lines_corpus) over
    a constructed multi-line corpus (see the SQL constant's comment):
    every rebuilt document's full content is md5-checked, so the
    min-(doc, idx) keep decision, the short-line exemption, the kill
    of every cross-copy duplicate, and the positional rebuild are all
    hash-verified line-for-line. Scale: one line-key min-aggregation
    (128-bit composite key; partial agg absorbs the banner's hot key
    map-side), a no-fan-out key join, a doc-keyed rebuild."""
    from ..operators import dedup as dd

    docs = read_testdata(spark, sf_dir, "documents")
    built = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\n"),
            F.lit("source banner for "),
            F.col("source"),
            F.lit("\n--\n"),
            F.substring("text", 1, 40),
        ).alias("text"),
    )
    corpus = built.unionAll(
        built.select(
            (F.col("doc_id") + _LINES_COPY_OFFSET).alias("doc_id"), "text"
        )
    )
    out = dd.dedup_lines_corpus(corpus, min_line_chars=_LINES_MIN_CHARS)
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        "n_lines_kept",
        "n_lines_dropped",
    ).orderBy("doc_id")


# Rotated out of the driver registry in r11 for
# dedup_exact_incremental_gate (the third registered incremental —
# exact joins MinHash and components under the driver oracle); the
# bit-for-bit window-expression bar keeps running in
# tests/test_rotated_rows.py and the query stays in the bench.
DOCS_PACK_GREEDY_SQL = """
    SELECT doc_id, source, n_chars,
           CAST(floor(
             COALESCE(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), 0) / 4096.0
           ) AS BIGINT) AS bin_id
    FROM documents
    ORDER BY source, doc_id
    """


def docs_pack_greedy(spark, sf_dir):
    """Greedy sequence packing: documents fill 4096-char training bins
    contiguously in doc_id order within each source shard —
    ``bin = floor(exclusive_cumsum / budget)`` as pure window algebra
    (operators/packing.py pack_greedy; codegen, one shuffle on the
    shard key). The DuckDB oracle is the same window expression, so the
    assignment is checked bit-for-bit. The tighter FFD packer
    (applyInPandas) is pytest-verified against its invariants —
    per-group Python state is not SQL-expressible."""
    from ..operators.packing import pack_greedy

    docs = read_testdata(spark, sf_dir, "documents")
    packed = pack_greedy(
        docs, ["source"], [F.asc("doc_id")], "n_chars", budget=4096
    )
    return packed.select("doc_id", "source", "n_chars", "bin_id").orderBy(
        "source", "doc_id"
    )


# ---------------------------------------------------------------------------
# Round-7 registry rotation: the r6 operator crop under the driver
# oracle (chunking, LM scoring, semantic dedup). Slots freed by
# cr_f5/cr_b2/cr_f7 (see plans/domain_queries.py for where each one's
# coverage now lives).
# ---------------------------------------------------------------------------

_CHUNK_SIZE, _CHUNK_OVERLAP = 300, 60
_CHUNK_STEP = _CHUNK_SIZE - _CHUNK_OVERLAP


# Rotated out of the driver registry in r11 for embedding_centroid_gate
# (the one substantial operator that had a DuckDB twin in pytest but no
# driver row — r10 verdict ask #3). The identical md5-windowing SQL bar
# keeps running in tests/test_rotated_rows.py; still timed in the bench.
CHUNK_BY_CHARS_SQL = f"""
    SELECT doc_id, k AS chunk_idx,
           length(substring(text, k * {_CHUNK_STEP} + 1, {_CHUNK_SIZE})) AS chunk_chars,
           md5(substring(text, k * {_CHUNK_STEP} + 1, {_CHUNK_SIZE})) AS chunk_md5
    FROM documents, UNNEST(generate_series(0,
        CAST(ceil(greatest(length(text) - {_CHUNK_SIZE}, 0) / {_CHUNK_STEP}.0) AS BIGINT)
    )) AS t(k)
    WHERE text IS NOT NULL
    ORDER BY doc_id, chunk_idx
    """


def chunk_by_chars(spark, sf_dir):
    """Document chunking (operators/chunking.py): every document
    windowed into 300-char chunks with 60-char overlap — the stage
    between extraction and packing. The oracle recomputes the identical
    windowing in SQL (the same oracle pinned in tests/test_chunking.py)
    and every chunk's CONTENT is checked via md5 — full text equality
    without shipping the chunk bytes through the compare. Scale: the
    chunk generator runs inside the scan stage (sequence → explode →
    substr, zero shuffle) and the source text column is dropped from
    chunk rows (the O(n²/step) exchange-bloat argument at the
    operator)."""
    from ..operators import chunking

    docs = read_testdata(spark, sf_dir, "documents").select("doc_id", "text")
    ch = chunking.chunk_by_chars(docs, _CHUNK_SIZE, _CHUNK_OVERLAP)
    return ch.select(
        "doc_id",
        "chunk_idx",
        "chunk_chars",
        F.md5(F.col("chunk_text")).alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_idx")


@register(
    "dedup_exact_incremental_gate",
    f"""
    WITH fp AS (
      SELECT doc_id, md5({_NORM_SQL}) AS fingerprint FROM documents
    ),
    idx AS (
      SELECT DISTINCT fingerprint FROM fp
      WHERE doc_id % 2 = 0 AND fingerprint IS NOT NULL
    ),
    firsts AS (
      SELECT fingerprint, MIN(doc_id) AS doc_id
      FROM fp WHERE fingerprint IS NOT NULL
      GROUP BY fingerprint
    )
    -- NOT EXISTS, not NOT IN: one NULL fingerprint in idx would make
    -- NOT IN evaluate UNKNOWN for EVERY row and silently empty the
    -- oracle; and the gate's NULL-text exemption must be mirrored —
    -- NULL-fingerprint rows are admitted unconditionally (r11 review)
    SELECT doc_id, fingerprint FROM (
      SELECT f.doc_id, f.fingerprint
      FROM firsts f
      WHERE NOT EXISTS (
        SELECT 1 FROM idx i WHERE i.fingerprint = f.fingerprint
      )
      UNION ALL
      SELECT doc_id, fingerprint FROM fp WHERE fingerprint IS NULL
    ) t
    ORDER BY doc_id
    """,
)
def dedup_exact_incremental_gate(spark, sf_dir):
    """Incremental EXACT dedup vs a persisted fingerprint index (r11
    driver row for ``dedup.dedup_exact_incremental`` — the third
    registered incremental, joining MinHash candidates and component
    merge under the driver oracle). Shaped as a partial RE-FEED so the
    gate's drop path actually fires at every driver sf (the corpus has
    no exact duplicates, so a disjoint batch/index split would admit
    everything and verify only the no-false-positive side): the index
    holds the even-doc_id fingerprints — yesterday's ingest — and the
    whole table arrives as today's batch, so the gate must drop
    exactly the even half via the index anti-join and admit the odd
    half with within-batch first-seen (vacuous here — fingerprints are
    unique — and pinned with planted dups in tests/test_dedup.py,
    alongside the NULL-text exemption this round added). Output =
    admitted (doc_id, fingerprint): the md5 values themselves ride the
    hash check, so content_fingerprint parity is re-verified per
    admitted row. The Bloom-prefiltered twin admits the identical set
    by construction (grid-pinned); the plain gate is registered
    because its plan IS the oracle's shape."""
    docs = read_testdata(spark, sf_dir, "documents")
    index = docs.filter(F.col("doc_id") % 2 == 0).select(
        tx.content_fingerprint(F.col("text")).alias("fingerprint")
    )
    admitted, _ = dedup.dedup_exact_incremental(docs, index)
    return admitted.select(
        "doc_id",
        tx.content_fingerprint(F.col("text")).alias("fingerprint"),
    ).orderBy("doc_id")


# The LM-row model is fit from a FIXED reference corpus at import time
# (pure Python, no Spark) so the DuckDB oracle can embed it as a
# literal table — a data-dependent fit couldn't live in a static SQL
# string. The scoring path under test is exactly the production one:
# explode → two broadcast joins → three-level backoff → micro-nat sum.
_LM_REF = (
    "the quick brown fox jumps over the lazy dog while the rain in "
    "spain stays mainly in the plain and the cat sat on the mat as "
    "training pipelines score clean text against noisy web crawls "
    "and keep the documents whose character patterns read like the "
    "reference domain "
) * 3


def _lm_model():
    from ..operators import lm_score

    return lm_score.fit_char_lm_counts([_LM_REF], n=3, add_k=0.5)


def _lm_oracle_sql() -> str:
    m = _lm_model()
    lm_rows = ",".join(
        f"('{g}', {p!r})" for g, p in sorted(m["logp"].items())
    )
    ctx_rows = ",".join(
        f"('{c}', {p!r})" for c, p in sorted(m["ctx_floor"].items())
    )
    return f"""
    WITH lm(gram, logp) AS (VALUES {lm_rows}),
    ctxlm(ctx, ctx_logp) AS (VALUES {ctx_rows}),
    grams AS (
      SELECT doc_id, substring(text, i, 3) AS gram
      FROM documents, UNNEST(generate_series(1, length(text) - 2)) AS t(i)
      WHERE text IS NOT NULL AND length(text) >= 3
    ),
    scored AS (
      SELECT doc_id,
             -- literals parse as DECIMAL; cast to DOUBLE first (exact:
             -- repr() round-trips through the decimal text) so the
             -- micro-nat scale multiplies doubles like the Spark side
             CAST(round(CAST(COALESCE(l.logp, c.ctx_logp, {m['floor']!r}) AS DOUBLE)
                        * 1000000.0)
                  AS BIGINT) AS lp_micro
      FROM grams g
      LEFT JOIN lm l ON g.gram = l.gram
      LEFT JOIN ctxlm c ON substring(g.gram, 1, 2) = c.ctx
    ),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_grams,
             CAST(SUM(lp_micro) AS DOUBLE) / (COUNT(*) * 1000000.0) AS avg_logprob
      FROM scored GROUP BY doc_id
    )
    SELECT d.doc_id, COALESCE(p.n_grams, 0) AS n_grams, p.avg_logprob
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    ORDER BY d.doc_id
    """


@register("lm_perplexity", _lm_oracle_sql())
def lm_perplexity(spark, sf_dir):
    """CCNet-style LM quality scoring (operators/lm_score.py): every
    document's char-trigram avg log-prob under a fixed reference model.
    The model is a literal table on both sides; the oracle reproduces
    the three-level backoff (gram → context floor → global floor) and
    the micro-nat integer aggregation bit-for-bit — exact, not
    approximate, because lm_perplexity sums quantized longs (see the
    operator docstring). ``ppl = exp(-avg)`` stays out of the compared
    columns only because libm exp may differ from the JVM's in the last
    ulp; avg_logprob IS the score. Scale: both model joins are
    broadcast (vocabulary-sized), the only shuffle is the doc-keyed
    aggregation."""
    from ..operators import lm_score

    docs = read_testdata(spark, sf_dir, "documents")
    out = lm_score.lm_perplexity(docs, _lm_model())
    return out.select("doc_id", "n_grams", "avg_logprob").orderBy("doc_id")


_SEM_K = 16
_SEM_THRESHOLD = 0.35

_SEM_DOT_SCALED = """list_sum(list_transform(generate_series(1, len(e.embedding)),
                 i -> CAST(round((CAST(e.embedding[i] AS DOUBLE) *
                                  CAST(p.embedding[i] AS DOUBLE)) *
                                 1099511627776.0) AS BIGINT)))"""

_SEM_COS = """round(list_sum(list_transform(generate_series(1, len(x.embedding)),
                 i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))
                 / NULLIF(x.nrm * y.nrm, 0.0), 9)"""


def _semantic_oracle_sql() -> str:
    from .xxh64_sql import xxh64_signed_ctes

    return f"""
    WITH src AS (SELECT vec_id FROM embeddings),
    {xxh64_signed_ctes('src', 'vec_id')},
    piv AS (
      SELECT vec_id, embedding, cidx FROM (
        SELECT e.vec_id, e.embedding,
               ROW_NUMBER() OVER (ORDER BY h._hash, e.vec_id) - 1 AS cidx
        FROM embeddings e JOIN _xxh h USING (vec_id)
      ) WHERE cidx < {_SEM_K}
    ),
    pivn AS (
      SELECT cidx, embedding, {_VEC_NORM_SQL} AS nrm FROM piv
    ),
    assigned AS (
      SELECT id, cidx FROM (
        SELECT e.vec_id AS id, p.cidx,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY CAST({_SEM_DOT_SCALED} AS DOUBLE) / p.nrm DESC, p.cidx
               ) AS rnk
        FROM embeddings e CROSS JOIN pivn p
      ) WHERE rnk = 1
    ),
    n AS (SELECT vec_id, embedding, {_VEC_NORM_SQL} AS nrm FROM embeddings),
    cand AS (
      SELECT DISTINCT a.id AS id1, b.id AS id2
      FROM assigned a JOIN assigned b ON a.cidx = b.cidx AND a.id < b.id
    )
    SELECT c.id1, c.id2, {_SEM_COS} AS cosine
    FROM cand c
    JOIN n x ON x.vec_id = c.id1
    JOIN n y ON y.vec_id = c.id2
    WHERE {_SEM_COS} >= {_SEM_THRESHOLD}
    ORDER BY id1, id2
    """


@register("semantic_neardup_pairs", _semantic_oracle_sql())
def semantic_neardup_pairs(spark, sf_dir):
    """Semantic near-dup pairs (SemDeDup recipe,
    operators/similarity.py): cluster-bucketed candidates → exact
    cosine verify, at a permissive threshold so the driver compares a
    non-empty pair set. THIS row uses the hash-sampled
    ``ivf_centroids`` pivots because they are the SQL-reproducible
    choice — the oracle recomputes the pivot pick (single-arg xxhash64
    order, plans/xxh64_sql.py), the integer-scaled nearest-centroid
    assignment, the cluster-key self-join, and the 9-decimal verify
    cosines bit-for-bit. Pivot QUALITY contracts (kcenter coverage,
    the k-means|| fit, recall vs brute force) are pinned in
    tests/test_similarity.py — pivot selection is a parameter of the
    plan, not part of the bucketed-candidate machinery this row
    checks. Scale: candidates are O(Σ cluster²), never corpus²; the
    verify tail is shared with every other near-dup family.
    ``_SEM_K`` = 16 is the SemDeDup knob at this corpus size (measured
    at sf0.1: halves candidate volume vs k=8 — 125k vs 251k — and the
    result stays comfortably non-empty for the hash compare)."""
    emb = read_testdata(spark, sf_dir, "embeddings")
    cents = similarity.ivf_centroids(emb, n_centroids=_SEM_K)
    return similarity.semantic_neardup_pairs(
        emb, threshold=_SEM_THRESHOLD, n_assign=1, centroids=cents
    ).orderBy("id1", "id2")


_EXSUB_L = 13

_EXSUB_SQL = f"""
    WITH t AS (
      SELECT doc_id, text, {{toks}} AS toks FROM documents
    ),
    pos AS (
      SELECT doc_id, i - 1 AS pos, toks[i] AS tok
      FROM t, UNNEST(generate_series(1, len(toks))) AS u(i)
    ),
    grams AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(toks[i : i + {_EXSUB_L} - 1], chr(1)) AS g
      FROM t, UNNEST(generate_series(1, len(toks) - {_EXSUB_L} + 1)) AS u(i)
    ),
    dup AS (
      SELECT g, min({{{{'id': doc_id, 'pos': pos}}}}) AS first
      FROM grams GROUP BY g HAVING COUNT(*) > 1
    ),
    hits AS (
      SELECT gr.doc_id, gr.pos
      FROM grams gr JOIN dup d USING (g)
      WHERE gr.doc_id <> d.first.id OR gr.pos <> d.first.pos
    ),
    marked AS (
      SELECT doc_id, pos,
             CASE WHEN pos > COALESCE(max(pos + {_EXSUB_L}) OVER (
                 PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
             THEN 1 ELSE 0 END AS new_island
      FROM hits
    ),
    isl AS (
      SELECT doc_id, pos,
             SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM marked
    ),
    spans AS (
      SELECT doc_id, min(pos) AS span_start, max(pos) + {_EXSUB_L} AS span_end
      FROM isl GROUP BY doc_id, island
    ),
    covered AS (
      SELECT p.doc_id, p.pos, p.tok,
             max(CASE WHEN p.pos >= s.span_start AND p.pos < s.span_end
                 THEN 1 ELSE 0 END) AS cov
      FROM pos p LEFT JOIN spans s ON p.doc_id = s.doc_id
      GROUP BY p.doc_id, p.pos, p.tok
    ),
    rebuilt AS (
      SELECT doc_id,
             string_agg(CASE WHEN cov = 0 THEN tok END, ' '
                        ORDER BY pos) AS clean_text,
             COUNT(CASE WHEN cov = 0 THEN 1 END) AS n_kept,
             COUNT(CASE WHEN cov = 1 THEN 1 END) AS n_dropped
      FROM covered GROUP BY doc_id
    )
    SELECT d.doc_id,
           CASE WHEN d.text IS NOT NULL
                THEN md5(COALESCE(r.clean_text, '')) END AS clean_md5,
           CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_tokens_kept,
           CAST(COALESCE(r.n_dropped, 0) AS BIGINT) AS n_tokens_dropped
    FROM documents d LEFT JOIN rebuilt r USING (doc_id)
    ORDER BY d.doc_id
    """


@register("docs_exact_substring", _EXSUB_SQL.format(toks=_TOKS_SQL))
def docs_exact_substring(spark, sf_dir):
    """ExactSubstr dedup (Lee et al. 2022) over the documents corpus at
    a 13-token threshold (the synthetic docs run ~30-60 tokens, so the
    paper's 50-token default would find nothing to measure). Registered
    r9 (r7 verdict item 4, rotating out the 1-row docs_corpus_profile):
    the span semantics are positional-gram algebra, so the DuckDB
    oracle recomputes them with NO hashing at all — it groups the
    ACTUAL L-token sequences (chr(1)-joined), takes min (doc, pos) as
    the canonical copy, re-derives the gaps-and-islands span merge in
    window SQL, and rebuilds every document minus its covered tokens —
    independently checking the engine's two-lane xxhash64 gram keys,
    canonical exemption, island merge, and excision end to end (a
    hash-equality vs sequence-equality divergence would need a 128-bit
    collision). Every rebuilt doc is md5-checked (the docs_dedup_lines
    convention; NULL text stays NULL). The operator's API keeps the
    full clean_text; the pure-Python oracle in
    tests/test_exact_substring.py continues to pin span-level detail.
    Shares the session tokenize cache with the dedup family."""
    docs = read_testdata(spark, sf_dir, "documents")
    return (
        dedup.exact_substring_excise(
            docs, min_tokens=_EXSUB_L, toks=_toks_cached(spark, sf_dir)
        )
        .select(
            "doc_id",
            F.md5("clean_text").alias("clean_md5"),
            "n_tokens_kept",
            "n_tokens_dropped",
        )
        .orderBy("doc_id")
    )


# The DSIR-row model is fit from FIXED seed corpora at import time
# (pure Python, no Spark — operators/dsir.py::fit_term_importance) so
# the DuckDB oracle can embed the ratio table as literal VALUES — the
# same fixed-reference pattern as the lm_perplexity row. The TERM kind
# is the SQL-reproducible one (raw term strings as join keys); the
# hashed kind — DSIR's bounded-state production form — stays
# pytest-pinned (tests/test_dsir.py) for the same reason as the hashed
# classifier: Spark's xxhash64-of-string has no SQL twin. Seed vocab
# deliberately overlaps the synthetic corpus ("spark window agg join"
# side vs "slow batch scan row" side) so BOTH legs of the scoring join
# fire at every sf: matched terms hit the ratio table, the corpus's
# other terms/bigrams fall to the default ratio.
_DSIR_TARGET = [
    "spark window agg join group query vector hash",
    "window agg spark query join column sort merge",
    "group window spark agg vector join query table",
]
_DSIR_RAW = [
    "slow batch scan row line small big value",
    "batch slow row scan value line part stream",
    "scan slow batch line row big stream filter",
]


def _dsir_model():
    from ..operators import dsir

    return dsir.fit_term_importance(_DSIR_TARGET, _DSIR_RAW, add_k=0.5)


def _dsir_oracle_sql() -> str:
    m = _dsir_model()
    vals = ", ".join(
        f"('{t}', {v})" for t, v in sorted(m["ratio_micro"].items())
    )
    return f"""
    WITH base AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    uni AS (
      SELECT doc_id, toks[i] AS term
      FROM base, UNNEST(generate_series(1, len(toks))) AS t(i)
    ),
    big AS (
      SELECT doc_id, toks[i] || ' ' || toks[i+1] AS term
      FROM base, UNNEST(generate_series(1, len(toks) - 1)) AS t(i)
      WHERE len(toks) >= 2
    ),
    terms AS (SELECT * FROM uni UNION ALL SELECT * FROM big),
    r(term, r_micro) AS (VALUES {vals}),
    s AS (
      SELECT doc_id, COUNT(*) AS n_feats,
             SUM(COALESCE(r.r_micro, {m["default_micro"]})) AS lw
      FROM terms LEFT JOIN r USING (term) GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(s.n_feats, 0) AS n_feats,
           CAST(COALESCE(s.lw, 0) AS BIGINT) AS logw_micro,
           CAST(COALESCE(s.lw, 0) AS DOUBLE) / 1000000.0 AS logw
    FROM documents d LEFT JOIN s USING (doc_id)
    ORDER BY d.doc_id
    """


@register("docs_dsir_weights", _dsir_oracle_sql())
def docs_dsir_weights(spark, sf_dir):
    """DSIR importance weights (operators/dsir.py, Xie et al. 2023):
    every document's target-vs-raw log-likelihood ratio under a fixed
    seed-corpus model — the corpus-composition scorer that feeds
    Gumbel top-k selection (selection itself is pytest-pinned; scoring
    EVERY doc is the stronger driver check). Exact end to end: the
    ratio table is micro-nat longs as literals on both sides, scoring
    is exploded terms ⋈ BROADCAST table → one doc-keyed integer sum,
    and the oracle reproduces tokenize + join + default-fallback + sum
    bit-for-bit. Scale: model broadcast is vocabulary-bounded, the
    corpus never shuffles except the doc-keyed aggregation, no skew
    surface on hot terms (hash-map probe). Registered r8 by rotating
    out the 5-row events_props_json projection (its get_json_object
    surface stays pinned against the same SQL in pytest)."""
    from ..operators import dsir

    docs = read_testdata(spark, sf_dir, "documents")
    return dsir.importance_logweights(
        docs, _dsir_model(), toks=_toks_cached(spark, sf_dir)
    ).orderBy("doc_id")


def embedding_pq_topk(spark, sf_dir):
    """IVF-PQ ANN (operators/pq.py) over the embeddings table — NOT
    registered (registry at cap; PQ's guarantees are pytest-pinned on
    clustered data, tests/test_pq.py) but timed in the bench so the
    fit + encode + ADC-search cost is on record per round. The
    synthetic embeddings are isotropic (no honest coarse pruning —
    same adjudication as ivf_topk), so the timed configuration probes
    every coarse cell and lets the ADC stage + exact re-rank do the
    work; the measured cost is fit (O(lloyd_rounds) jobs) + encode +
    candidate scoring from codes."""
    from ..operators import pq

    emb = read_testdata(spark, sf_dir, "embeddings")
    model = pq.fit_pq_codebooks(
        emb, m=4, k=16, lloyd_rounds=2, sample_rows=1000
    )
    return pq.pq_topk(
        emb,
        model,
        k=5,
        n_coarse=16,
        nprobe=16,
        rerank=4,
        query_filter=F.col("vec_id") < 40,
    ).orderBy("query_id", "rank")


def _gopher_oracle_sql() -> str:
    from ..functions.text import EN_STOPWORDS

    stop_list = ", ".join(f"'{s}'" for s in EN_STOPWORDS)
    sym = r"#|\.\.\.|…"
    return f"""
    WITH base AS (
      SELECT doc_id, COALESCE(text, '') AS t FROM documents
    ),
    sig AS (
      SELECT doc_id,
             list_filter(string_split_regex(t, '\\s+'), x -> x <> '') AS words,
             list_filter(list_transform(string_split(t, chr(10)),
                                        l -> trim(l)), l -> l <> '') AS lines,
             len(regexp_extract_all(t, '{sym}')) AS n_sym,
             list_filter(string_split_regex(lower(regexp_replace(t,
                 '[^a-zA-Z0-9 ]', ' ', 'g')), '\\s+'), x -> x <> '') AS toks
      FROM base
    ),
    m AS (
      SELECT doc_id,
             len(words) AS n_words,
             CASE WHEN len(words) > 0 THEN
               CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE)
                 / len(words) ELSE 0.0 END AS mean_wlen,
             CASE WHEN len(words) > 0 THEN
               CAST(n_sym AS DOUBLE) / len(words) ELSE 0.0 END AS sym_ratio,
             CASE WHEN len(lines) > 0 THEN
               CAST(len(list_filter(lines, l -> regexp_matches(l,
                 '^[-*•▪◦]'))) AS DOUBLE) / len(lines) ELSE 0.0 END AS bullet_frac,
             CASE WHEN len(lines) > 0 THEN
               CAST(len(list_filter(lines, l -> regexp_matches(l,
                 '(\\.\\.\\.|…)$'))) AS DOUBLE) / len(lines) ELSE 0.0 END AS ellipsis_frac,
             CASE WHEN len(words) > 0 THEN
               CAST(len(list_filter(words, w -> regexp_matches(w,
                 '[A-Za-z]'))) AS DOUBLE) / len(words) ELSE 0.0 END AS alpha_frac,
             len(list_filter(list_distinct(toks),
                 x -> list_contains([{stop_list}], x))) AS stop_hits
      FROM sig
    ),
    v AS (
      SELECT doc_id, n_words,
             (n_words >= 50 AND n_words <= 100000) AS c_words,
             (mean_wlen >= 3.0 AND mean_wlen <= 10.0) AS c_wlen,
             (sym_ratio <= 0.1) AS c_sym,
             (bullet_frac <= 0.9) AS c_bullet,
             (ellipsis_frac <= 0.3) AS c_ellipsis,
             (alpha_frac >= 0.8) AS c_alpha,
             (stop_hits >= 2) AS c_stop
      FROM m
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           (c_words AND c_wlen AND c_sym AND c_bullet AND c_ellipsis
            AND c_alpha AND c_stop) AS keep,
           -- COALESCE: DuckDB's array_to_string([]) is NULL; Spark's
           -- array_join on an empty array is '' — align on ''
           COALESCE(array_to_string(list_sort(list_filter([
             CASE WHEN NOT c_words THEN 'word_count' END,
             CASE WHEN NOT c_wlen THEN 'mean_word_length' END,
             CASE WHEN NOT c_sym THEN 'symbol_word_ratio' END,
             CASE WHEN NOT c_bullet THEN 'bullet_lines' END,
             CASE WHEN NOT c_ellipsis THEN 'ellipsis_lines' END,
             CASE WHEN NOT c_alpha THEN 'alpha_words' END,
             CASE WHEN NOT c_stop THEN 'stopwords' END
           ], x -> x IS NOT NULL)), '|'), '') AS reasons
    FROM v
    ORDER BY doc_id
    """


@register("docs_gopher_gates", _gopher_oracle_sql())
def docs_gopher_gates(spark, sf_dir):
    """Gopher Table-A1 quality-gate verdicts
    (textstats.gopher_quality_gates) for EVERY document: keep boolean
    plus the failed-gate reasons array, at the paper's published
    thresholds. The oracle recomputes all seven gates independently in
    DuckDB (same regex classes, same integer-count → double-division
    arithmetic, same reason names sorted) — so word counting, line
    splitting, symbol occurrences, alpha-word detection, distinct-
    stopword hits, and the verdict conjunction are all hash-checked.
    Registered r8 by rotating out q3_shipping_priority (TPC-H joins
    stay covered by q1 + q5; Q3 keeps its oracle bar in
    tests/test_rotated_rows.py). Scale: one shuffle-free scan-stage
    projection — the gate costs a column expression at any corpus
    size.

    Registry contract: the driver's pandas canonicalizer cannot
    factorize list-valued columns (r7 red row), so the registered
    projection joins the already-sorted reasons array to a '|' scalar
    — the operator API (gopher_quality_gates) keeps the array form."""
    from ..operators import textstats

    docs = read_testdata(spark, sf_dir, "documents")
    return (
        textstats.gopher_quality_gates(docs)
        .withColumn("reasons", F.array_join("reasons", "|"))
        .orderBy("doc_id")
    )


_NGRAM_TOP_NS = (2, 3, 4)
_NGRAM_DUP_NS = (5, 6, 7, 8, 9, 10)


def _ngram_repetition_oracle_sql() -> str:
    """Gopher repetition sweep re-derived independently in DuckDB: one
    gram CTE per n; the top-n champion picked by arg_max over the SAME
    (count, gram) tie-break struct; dup-n coverage as the identical
    DISTINCT-position union (explode each duplicated gram's span, sum
    covered token lengths once). Single-division doubles both sides."""
    parts = [
        "WITH base AS (",
        f"  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents",
        "),",
        "tokstream AS (",
        "  SELECT doc_id, i - 1 AS p, length(toks[i]) AS len",
        "  FROM base, UNNEST(generate_series(1, len(toks))) AS t(i)",
        "),",
        "totals AS (",
        "  SELECT doc_id, SUM(len) AS token_chars FROM tokstream GROUP BY doc_id",
        "),",
    ]
    for n in sorted(set(_NGRAM_TOP_NS) | set(_NGRAM_DUP_NS)):
        parts += [
            f"g{n} AS (",
            f"  SELECT doc_id, i - 1 AS pos,",
            f"         array_to_string(toks[i : i + {n} - 1], ' ') AS gram",
            f"  FROM base, UNNEST(generate_series(1, len(toks) - {n} + 1)) AS t(i)",
            "),",
        ]
    for n in _NGRAM_TOP_NS:
        # Spark's max_by(value, struct(cnt, gram)) champions the
        # largest (cnt, gram) pair — highest count, ties to the
        # lexicographically LAST gram; DuckDB 1.0's arg_max rejects
        # struct keys, so the same pick runs as a two-key window
        parts += [
            f"t{n} AS (",
            "  SELECT doc_id, v FROM (",
            f"    SELECT doc_id, cnt * (length(gram) - {n - 1}) AS v,",
            "           ROW_NUMBER() OVER (PARTITION BY doc_id"
            " ORDER BY cnt DESC, gram DESC) AS rn",
            f"    FROM (SELECT doc_id, gram, COUNT(*) AS cnt FROM g{n}"
            f" GROUP BY doc_id, gram) _",
            "  ) _ WHERE rn = 1",
            "),",
        ]
    for n in _NGRAM_DUP_NS:
        parts += [
            f"d{n} AS (",
            "  SELECT cov.doc_id, SUM(ts.len) AS v FROM (",
            f"    SELECT DISTINCT g.doc_id, g.pos + u.o AS p",
            f"    FROM g{n} g",
            f"    JOIN (SELECT doc_id, gram FROM (SELECT doc_id, gram,"
            f" COUNT(*) AS c FROM g{n} GROUP BY doc_id, gram) _ WHERE c > 1) dk",
            "      ON dk.doc_id = g.doc_id AND dk.gram = g.gram,",
            f"    UNNEST(generate_series(0, {n} - 1)) AS u(o)",
            "  ) cov JOIN tokstream ts",
            "    ON ts.doc_id = cov.doc_id AND ts.p = cov.p",
            "  GROUP BY cov.doc_id",
            "),",
        ]
    sel = [
        "SELECT d.doc_id,",
        "       CAST(COALESCE(tt.token_chars, 0) AS BIGINT) AS token_chars,",
    ]
    for n in _NGRAM_TOP_NS:
        sel.append(
            f"       LEAST(1.0, CASE WHEN COALESCE(tt.token_chars, 0) > 0"
            f" THEN CAST(COALESCE(t{n}.v, 0) AS DOUBLE) / tt.token_chars"
            f" ELSE 0.0 END) AS top_{n}gram_char_frac,"
        )
    for n in _NGRAM_DUP_NS:
        comma = "," if n != _NGRAM_DUP_NS[-1] else ""
        sel.append(
            f"       CASE WHEN COALESCE(tt.token_chars, 0) > 0"
            f" THEN CAST(COALESCE(d{n}.v, 0) AS DOUBLE) / tt.token_chars"
            f" ELSE 0.0 END AS dup_{n}gram_char_frac{comma}"
        )
    joins = ["FROM documents d", "LEFT JOIN totals tt ON tt.doc_id = d.doc_id"]
    for n in _NGRAM_TOP_NS:
        joins.append(f"LEFT JOIN t{n} ON t{n}.doc_id = d.doc_id")
    for n in _NGRAM_DUP_NS:
        joins.append(f"LEFT JOIN d{n} ON d{n}.doc_id = d.doc_id")
    joins.append("ORDER BY d.doc_id")
    # drop the trailing comma of the last CTE
    parts[-1] = parts[-1].rstrip(",")
    return "\n".join(parts) + "\n" + "\n".join(sel + joins)


@register("text_ngram_repetition", _ngram_repetition_oracle_sql())
def text_ngram_repetition(spark, sf_dir):
    """Gopher n-gram repetition sweep (textstats.ngram_repetition_stats)
    over the documents table — the most scan-intensive text operator in
    the repo (Σ|ns| = 9 token-stream passes: 3 top-n + 6 dup-n).
    Registered r9 (closing the last of the r7 'heaviest operators are
    pytest-only' list; dedup_exact_summary's 1-row check ceded the
    slot): the DuckDB oracle re-derives every pass — per-n gram
    streams, the top-gram champion under the identical (count, gram)
    tie-break, and Gopher's union-of-positions duplicate coverage as
    the same DISTINCT-position sum — so all 10 columns hash-check per
    document. The Python-twin pins in tests/test_text.py stay. Shares
    the session tokenize cache with the dedup family."""
    from ..operators import textstats

    docs = read_testdata(spark, sf_dir, "documents")
    return textstats.ngram_repetition_stats(
        docs, toks=_toks_cached(spark, sf_dir)
    ).orderBy("doc_id")

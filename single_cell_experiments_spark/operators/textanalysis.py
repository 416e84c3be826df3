"""Text analysis over ``documents`` (north-star block; absent in the
reference — SURVEY.md §2.B "Text analysis").

Operator families, each oracle-checked:

- ``doc_text_stats``     : per-language corpus stats (bench headliner)
- ``lang_id_ngram``      : marker-word / CJK-codepoint language ID + accuracy
- ``doc_quality_score``  : length / punctuation / stopword / digit quality
- ``token_stats``        : whitespace vs BPE-ish tokenization + type/token
- ``doc_fingerprint``    : rolling char-8-gram polynomial hash fingerprint
- ``tfidf_top_terms`` / ``tfidf_doc_top3`` : corpus + per-doc TF-IDF

Everything is built-in-function SQL (no Python in the hot path): string
kernels stay inside whole-stage codegen, aggregates ride native
partial+final hash aggregation.  Floats that cross an aggregation go
through the decimal path (functions/compat.py); per-row ``ln`` is rounded.

Scale: every query is scan → row-local projection → one bounded-key
aggregation (lang, term, doc_id); the TF-IDF document-frequency join is
term-keyed with the O(vocabulary) side broadcastable.  Nothing is
quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, table_view
from ..registry import query

# --- per-language corpus stats (bench headliner) -----------------------------

_STATS_ORACLE = """
SELECT lang, COUNT(*) AS n,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS ac,
       CAST(SUM(length(text)) AS DOUBLE) / COUNT(*) AS al,
       CAST(SUM(CASE WHEN contains(lower(text), 'the') THEN 1 ELSE 0 END) AS BIGINT) AS has_the
FROM documents GROUP BY lang
"""


@query("doc_text_stats", oracle=_STATS_ORACLE, tags=("text", "headline"))
def doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language doc counts + mean lengths (BASELINE.md headliner).

    Averages are exact-integer-sum / count — order-insensitive by
    construction, no decimal shim needed.
    """
    # Size-gated single-task fusion (r11): see catalog.FUSE_SINGLE_TASK_MAX_BYTES.
    from ..catalog import fuse1_hint

    d = table_view(spark, sf_dir, "documents")
    return spark.sql(f"""
        SELECT lang, COUNT(1) AS n,
               CAST(SUM(n_chars) AS DOUBLE) / COUNT(1) AS ac,
               CAST(SUM(length(text)) AS DOUBLE) / COUNT(1) AS al,
               SUM(CASE WHEN contains(lower(text), 'the') THEN 1 ELSE 0 END) AS has_the
        FROM (SELECT {fuse1_hint(sf_dir, "documents")}lang, n_chars, text FROM {d})
        GROUP BY lang
    """)


# --- language ID -------------------------------------------------------------

#: marker words per language, matched as ' word ' in the lowered padded text.
LANG_MARKERS = {
    "en": ("the", "and", "of", "is"),
    "es": ("el", "que", "los", "una"),
    "de": ("der", "und", "die", "nicht"),
    "fr": ("les", "et", "est", "dans"),
}
_CJK_CLASS = f"[{chr(0x4E00)}-{chr(0x9FFF)}]"


def _count_marker_sql(marker: str) -> str:
    """Occurrence count of ' marker ' in the padded lowered text: exact
    integer math via length difference (identical in both dialects)."""
    m = f" {marker} "
    return f"(length(padded) - length(replace(padded, '{m}', ''))) / {len(m)}"


def _score_sql(lang: str) -> str:
    return " + ".join(_count_marker_sql(m) for m in LANG_MARKERS[lang])


def _pred_case_sql() -> str:
    """Deterministic argmax with fixed priority en > es > de > fr."""
    order = list(LANG_MARKERS)
    whens = []
    for lang in order:
        others = [f"s_{lang} >= s_{o}" for o in order if o != lang]
        whens.append(f"WHEN {' AND '.join(others)} THEN '{lang}'")
    return "CASE WHEN has_cjk THEN 'zh' " + " ".join(whens) + " ELSE 'en' END"


def _langid_sql(cjk_pred: str) -> str:
    scores = ", ".join(f"{_score_sql(lg)} AS s_{lg}" for lg in LANG_MARKERS)
    return f"""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       round(CAST(SUM(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS accuracy
FROM (
  SELECT lang, {_pred_case_sql()} AS pred
  FROM (
    SELECT lang, {scores}, {cjk_pred} AS has_cjk
    FROM (SELECT lang, concat(' ', lower(text), ' ') AS padded, text FROM documents)
  )
)
GROUP BY lang
"""


@query(
    "lang_id_ngram",
    oracle=_langid_sql(f"regexp_matches(text, '{_CJK_CLASS}')"),
    tags=("text", "langid"),
)
def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID (CJK codepoint class short-circuits to zh;
    otherwise argmax of per-language stopword hit counts) scored for
    accuracy against the labeled ``lang`` column.

    Pure integer string math → identical on both engines; one
    bounded-cardinality groupBy(lang).
    """
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    return spark.sql(_langid_sql(f"text rlike '{_CJK_CLASS}'"))


# --- quality scoring ---------------------------------------------------------

_STOPS = ("the", "and", "of", "a", "to", "in", "is", "de", "la", "und", "le", "et")
_N_STOP = " + ".join(_count_marker_sql(s) for s in _STOPS)


def _quality_sql(n_tokens: str, strip: str) -> str:
    """``strip(pattern)`` must remove ALL matches (dialect-specific).

    The composite score is kept in integer micro-units (``quality_e7``):
    weighting the already-rounded ratios with float literals puts results
    on .5 rounding boundaries where the engines' round() disagree, so the
    weighted sum is done in exact BIGINT arithmetic instead.
    """
    return f"""
SELECT doc_id, lang, n_tokens, punct_ratio, stop_ratio, digit_ratio,
       4000000 * CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1 ELSE 0 END
         + 3 * CAST(round(stop_ratio * 1000000) AS BIGINT)
         + 2 * (1000000 - CAST(round(punct_ratio * 1000000) AS BIGINT))
         + (1000000 - CAST(round(digit_ratio * 1000000) AS BIGINT)) AS quality_e7
FROM (
  SELECT doc_id, lang,
         CAST({n_tokens} AS BIGINT) AS n_tokens,
         round(CAST(length(text) - length({strip.format(pat='[.,;:!?]')}) AS DOUBLE)
               / length(text), 6) AS punct_ratio,
         round(CAST({_N_STOP} AS DOUBLE) / greatest({n_tokens}, 1), 6) AS stop_ratio,
         round(CAST(length(text) - length({strip.format(pat='[0-9]')}) AS DOUBLE)
               / length(text), 6) AS digit_ratio
  FROM (SELECT doc_id, lang, text, concat(' ', lower(text), ' ') AS padded FROM documents)
)
"""


@query(
    "doc_quality_score",
    oracle=_quality_sql(
        n_tokens="length(regexp_extract_all(text, '\\S+'))",
        strip="regexp_replace(text, '{pat}', '', 'g')",
    ),
    tags=("text", "quality"),
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality score from length / punctuation / stopword /
    digit ratios (the classic pretraining-corpus heuristic filter shape).
    Entirely row-local — a single projection over the scan; integer string
    math plus one rounded division per ratio keeps both engines identical.
    """
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    return spark.sql(
        _quality_sql(
            n_tokens=r"size(regexp_extract_all(text, '\\S+', 0))",
            strip="regexp_replace(text, '{pat}', '')",
        )
    )


# --- tokenization stats ------------------------------------------------------

_BPE_RE = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"


def _token_sql(ws: str, bpe: str, words: str, types: str) -> str:
    return f"""
SELECT doc_id,
       CAST({ws} AS BIGINT) AS n_ws_tokens,
       CAST({bpe} AS BIGINT) AS n_bpe_pieces,
       CAST({words} AS BIGINT) AS n_words,
       CAST({types} AS BIGINT) AS n_types,
       round(CAST({types} AS DOUBLE) / greatest({words}, 1), 6) AS type_token_ratio
FROM documents
"""


@query(
    "token_stats",
    oracle=_token_sql(
        ws="length(regexp_extract_all(text, '\\S+'))",
        bpe=f"length(regexp_extract_all(text, '{_BPE_RE}'))",
        words="length(regexp_extract_all(lower(text), '[a-z]+'))",
        types="length(list_distinct(regexp_extract_all(lower(text), '[a-z]+')))",
    ),
    tags=("text", "tokens"),
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways — whitespace runs, BPE-ish piece regex
    (letter runs / single digits / single punctuation), word regex — plus
    type/token ratio from the distinct-word count.  Row-local, codegen'd.
    """
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    return spark.sql(
        _token_sql(
            ws=r"size(regexp_extract_all(text, '\\S+', 0))",
            bpe=f"size(regexp_extract_all(text, '{_BPE_RE}', 0))",
            words="size(regexp_extract_all(lower(text), '[a-z]+', 0))",
            types="size(array_distinct(regexp_extract_all(lower(text), '[a-z]+', 0)))",
        )
    )


# --- rolling-hash fingerprint ------------------------------------------------

_FP_K = 8
_FP_POW = [31 ** (_FP_K - 1 - i) for i in range(_FP_K)]


def _fp_hash_sql(char_fn: str) -> str:
    terms = [
        f"CAST({char_fn}(substr(text, p+{i}, 1)) AS BIGINT)*{w}" if w > 1
        else f"CAST({char_fn}(substr(text, p+{i}, 1)) AS BIGINT)"
        for i, w in enumerate(_FP_POW)
    ]
    return "(" + " + ".join(terms) + ") % 1000000007"


_FP_TAIL = """
SELECT doc_id,
       MIN(h) AS fp_min,
       MAX(h) AS fp_max,
       CAST(COUNT(DISTINCT h) AS BIGINT) AS fp_distinct,
       MIN(h) % 1024 AS fp_bucket
FROM grams
GROUP BY doc_id
"""

_FP_ORACLE = f"""
WITH grams AS (
  SELECT doc_id, {_fp_hash_sql('unicode')} AS h
  FROM (SELECT doc_id, text, unnest(range(1, length(text) - {_FP_K - 2})) AS p
        FROM documents WHERE length(text) >= {_FP_K})
)
{_FP_TAIL}
"""

_FP_SPARK = f"""
WITH grams AS (
  SELECT doc_id, {_fp_hash_sql('ascii')} AS h
  FROM documents
  LATERAL VIEW explode(sequence(1, length(text) - {_FP_K - 1})) AS p
  WHERE length(text) >= {_FP_K}
)
{_FP_TAIL}
"""


@query("doc_fingerprint", oracle=_FP_ORACLE, tags=("text", "fingerprint"))
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling char-8-gram polynomial-hash fingerprint per document
    (min / max / distinct-count / min-mod-bucket — a winnowing-style
    signature for container-level dedup routing).

    Same deterministic codepoint hash family as operators/dedup.py (Spark
    ``ascii`` == DuckDB ``unicode`` == full codepoint); at 100 TB swap for
    ``xxhash64`` and keep the shape.
    """
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    return spark.sql(_FP_SPARK)


# --- TF-IDF ------------------------------------------------------------------

def _tfidf_base(explode_w: str) -> str:
    return f"""
toks AS (
  SELECT doc_id, w FROM ({explode_w}) WHERE length(w) >= 3
),
tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM toks GROUP BY doc_id, w),
n_docs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w)
"""


_DD_TOKS = (
    "SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents"
)
_SP_TOKS = (
    "SELECT doc_id, explode(regexp_extract_all(lower(text), '[a-z]+', 0)) AS w FROM documents"
)

_TFIDF_CORPUS_TAIL = """
SELECT d.w AS term, d.df,
       round(ln((SELECT n FROM n_docs) / d.df), 6) AS idf,
       CAST(SUM(t.tf) AS BIGINT) AS total_tf,
       CAST(SUM(CAST(round(t.tf * ln((SELECT n FROM n_docs) / d.df), 6) AS DECIMAL(18,6)))
            AS DOUBLE) AS sum_tfidf
FROM df d JOIN tf t ON t.w = d.w
GROUP BY d.w, d.df
ORDER BY total_tf DESC, term ASC
LIMIT 50
"""


@query(
    "tfidf_top_terms",
    oracle="WITH " + _tfidf_base(_DD_TOKS) + _TFIDF_CORPUS_TAIL,
    tags=("text", "tfidf"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level TF-IDF: top-50 terms by total term frequency with
    document frequency, idf, and decimal-exact summed tf·idf.

    Scale shape: two hash aggregations keyed on (doc,term) then (term) —
    both partial/final; ``ln`` is per-row and rounded before the exact
    decimal sum, so cross-engine ulp drift cannot reach the hash.
    """
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    return spark.sql("WITH " + _tfidf_base(_SP_TOKS) + _TFIDF_CORPUS_TAIL)


_SPARSE_COS_TAIL = """
, pruned AS (
  SELECT t.doc_id, t.w,
         round(t.tf * ln((SELECT n FROM n_docs) / d.df), 6) AS wgt
  FROM tf t JOIN df d ON d.w = t.w
  WHERE d.df >= 2 AND d.df * 10 <= (SELECT CAST(n AS BIGINT) FROM n_docs)
),
norms AS (
  SELECT doc_id, CAST(SUM(CAST(round(wgt * wgt, 6) AS DECIMAL(18,6))) AS DOUBLE) AS n2
  FROM pruned GROUP BY doc_id
),
dots AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         CAST(SUM(CAST(round(a.wgt * b.wgt, 6) AS DECIMAL(18,6))) AS DOUBLE) AS dot
  FROM pruned a JOIN pruned b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc1, doc2, round(dot / sqrt(n1.n2 * n2.n2), 6) AS cos
FROM dots JOIN norms n1 ON n1.doc_id = dots.doc1
          JOIN norms n2 ON n2.doc_id = dots.doc2
WHERE round(dot / sqrt(n1.n2 * n2.n2), 6) >= 0.35
"""


@query(
    "sparse_cosine_pairs_tfidf",
    oracle="WITH " + _tfidf_base(_DD_TOKS) + _SPARSE_COS_TAIL,
    tags=("text", "tfidf", "similarity", "dedup"),
)
def sparse_cosine_pairs_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs SPARSE cosine similarity over TF-IDF vectors via an
    inverted-index join (the Bayardo et al. 2007 all-pairs shape) — the
    lexical-similarity tier between n-gram Jaccard and dense embedding
    cosine: pairs never materialize as vectors; per-term partial
    products flow from a posting-list self-join keyed on the TERM and
    aggregate per doc pair.

    Scale: the df prune (2 ≤ df ≤ 10% of docs) is the whole game — it
    drops hapax terms (cannot pair) and ubiquitous terms (stopword-like,
    near-zero idf, quadratic posting lists), bounding pair work by
    Σ(df²) over the surviving vocabulary, exactly the LSH-class Σ(block²)
    bound; at 100 TB the published refinements (prefix filtering,
    threshold-aware term ordering) narrow it further without changing
    this plan shape.  Exactness: weights are 6-dp-rounded before any
    cross-row arithmetic, partial products re-round to 6 dp and sum on
    the decimal path, and the final cosine division/round is a fixed
    expression on bit-identical doubles — the threshold compares the
    ROUNDED value so no boundary tie can split the engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    return spark.sql("WITH " + _tfidf_base(_SP_TOKS) + _SPARSE_COS_TAIL)


_TFIDF_DOC_TAIL = """
, scored AS (
  SELECT t.doc_id, t.w AS term, t.tf,
         round(t.tf * ln((SELECT n FROM n_docs) / d.df), 6) AS tfidf
  FROM tf t JOIN df d ON d.w = t.w
)
SELECT doc_id, term, tf, tfidf, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rk
  FROM scored
)
WHERE rk <= 3
"""


@query(
    "tfidf_doc_top3",
    oracle="WITH " + _tfidf_base(_DD_TOKS) + _TFIDF_DOC_TAIL,
    tags=("text", "tfidf"),
)
def tfidf_doc_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms via windowed rank (term-name
    tiebreak keeps the cut deterministic).  The per-doc window is pruned to
    a top-3 heap by WindowGroupLimit (threshold pinned in session.py); the
    df→tf join broadcasts the O(vocab) df side."""
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    return spark.sql("WITH " + _tfidf_base(_SP_TOKS) + _TFIDF_DOC_TAIL)


# --- intra-document repetition (Gopher-style quality signals) ----------------

_REP_ORACLE = """
WITH w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws FROM documents
),
uc AS (
  SELECT doc_id, word, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(ws) AS word FROM w)
  GROUP BY doc_id, word
),
us AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(MAX(c) AS BIGINT) AS top_cnt
  FROM uc GROUP BY doc_id
),
bg AS (
  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS b
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
        FROM w WHERE len(ws) >= 2)
),
bs AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(COUNT(DISTINCT b) AS BIGINT) AS bg_types
  FROM bg GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(n_words, 0) AS n_words,
       COALESCE(n_types, 0) AS n_types,
       COALESCE(top_cnt, 0) AS top_cnt,
       (COALESCE(n_words, 0) - COALESCE(n_types, 0)) * 1000000
         // greatest(COALESCE(n_words, 0), 1) AS rep_micro,
       COALESCE(top_cnt, 0) * 1000000
         // greatest(COALESCE(n_words, 0), 1) AS top_micro,
       COALESCE(n_bigrams, 0) AS n_bigrams,
       COALESCE(bg_types, 0) AS bg_types,
       (COALESCE(n_bigrams, 0) - COALESCE(bg_types, 0)) * 1000000
         // greatest(COALESCE(n_bigrams, 0), 1) AS bg_rep_micro
FROM documents d LEFT JOIN us USING (doc_id) LEFT JOIN bs USING (doc_id)
"""


@query("doc_repetition_stats", oracle=_REP_ORACLE, tags=("text", "quality", "repetition"))
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition signals (the Gopher-rules repetition
    block): duplicate-word mass, most-frequent-word share, and duplicate
    bigram mass per document — the quality gate that catches boilerplate
    and keyword-stuffed pages before they enter a training mixture.

    Scale shape: ZERO shuffles.  Where the textbook implementation
    explodes tokens and double-aggregates (two exchanges keyed on
    (doc, token)), every statistic here is a row-local higher-order
    expression: type counts via ``array_distinct``, the modal-word count
    via a sequential fold over the *sorted* token array (run-length max —
    ``aggregate`` over ``array_sort``), bigram stats via
    ``zip_with``/``slice``.  The plan is scan → project; it scales with
    input rows, not token count, and repartitions nothing.  Ratios ride
    integer micro-units (exact in both engines).
    """
    d = load_table(spark, sf_dir, "documents")
    ws = F.expr(r"regexp_extract_all(lower(text), '[a-z]+', 0)")
    run = lambda acc, x: F.when(x == acc["prev"], acc["run"] + F.lit(1).cast("bigint")).otherwise(
        F.lit(1).cast("bigint")
    )
    top_cnt = F.aggregate(
        F.array_sort(ws),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("bigint").alias("run"),
            F.lit(0).cast("bigint").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            run(acc, x).alias("run"),
            F.greatest(acc["best"], run(acc, x)).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    bg = F.when(
        F.size(ws) >= 2,
        F.expr(
            r"zip_with(slice(regexp_extract_all(lower(text), '[a-z]+', 0), 1,"
            r" size(regexp_extract_all(lower(text), '[a-z]+', 0)) - 1),"
            r" slice(regexp_extract_all(lower(text), '[a-z]+', 0), 2,"
            r" size(regexp_extract_all(lower(text), '[a-z]+', 0)) - 1),"
            r" (a, b) -> concat(a, ' ', b))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    per_doc = d.select(
        "doc_id",
        F.size(ws).cast("bigint").alias("n_words"),
        F.size(F.array_distinct(ws)).cast("bigint").alias("n_types"),
        top_cnt.alias("top_cnt"),
        F.size(bg).cast("bigint").alias("n_bigrams"),
        F.size(F.array_distinct(bg)).cast("bigint").alias("bg_types"),
    )
    return per_doc.select(
        "doc_id",
        "n_words",
        "n_types",
        "top_cnt",
        F.expr("(n_words - n_types) * 1000000 div greatest(n_words, 1)").alias("rep_micro"),
        F.expr("top_cnt * 1000000 div greatest(n_words, 1)").alias("top_micro"),
        "n_bigrams",
        "bg_types",
        F.expr(
            "(n_bigrams - bg_types) * 1000000 div greatest(n_bigrams, 1)"
        ).alias("bg_rep_micro"),
    )


# --- BM25 retrieval scoring --------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("spark", "join", "window")

#: The BM25 pipeline as reusable CTEs (engine-portable SQL): ``bm`` is the
#: top-20 ranked list so ``hybrid_rank_rrf`` can fuse it without repeating
#: the scoring math.  ORDER BY + LIMIT live INSIDE the CTE (both engines
#: honor them there); the outer SELECT of ``bm25_rank_docs`` emits the same
#: multiset as the pre-refactor tail.
_BM25_CTES = f"""
, dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
avgdl AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
qdf AS (SELECT w, df FROM df WHERE w IN {BM25_QUERY!r}),
scored AS (
  SELECT t.doc_id, t.w,
         round(
           ln(((SELECT n FROM n_docs) - q.df + 0.5) / (q.df + 0.5) + 1)
           * (t.tf * {BM25_K1 + 1})
           / (t.tf + {BM25_K1} * ({1 - BM25_B} + {BM25_B} * dl.dl
              / (SELECT avgdl FROM avgdl))),
         6) AS s
  FROM tf t JOIN qdf q ON q.w = t.w JOIN dl ON dl.doc_id = t.doc_id
),
bm AS (
  SELECT doc_id,
         CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE) AS bm25,
         CAST(COUNT(*) AS BIGINT) AS n_terms
  FROM scored GROUP BY doc_id
  ORDER BY bm25 DESC, doc_id ASC
  LIMIT 20
)
"""

#: The outer SELECT re-states the ordering: moving ORDER BY/LIMIT inside
#: the CTE fixes the 20-row membership, but the public query's contract
#: is a RANKED list — without this the top-20 would come back in
#: engine/plan-dependent order (invisible to the order-insensitive
#: parity harness, visible to any .head(k) consumer).
_BM25_TAIL = (
    _BM25_CTES + "SELECT doc_id, bm25, n_terms FROM bm ORDER BY bm25 DESC, doc_id ASC"
)


@query(
    "bm25_rank_docs",
    oracle="WITH " + _tfidf_base(_DD_TOKS) + _BM25_TAIL,
    tags=("text", "retrieval", "bm25"),
)
def bm25_rank_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 document ranking for a fixed 3-term query (k1=1.2,
    b=0.75, Robertson smooth idf) — the lexical-retrieval scorer that
    complements the embedding kNN family, sharing the TF-IDF CTE base.

    Determinism: avgdl is an exact ratio of integer sums; each (doc, term)
    score applies identical IEEE-double ops in both engines and is rounded
    to 6 before the ≤3-term decimal sum, so no float accumulation order
    exists.  Scale shape: the query-term df table is O(|query|) and
    broadcasts; doc lengths join on doc_id (same key as tf — one
    exchange); the final top-20 is TakeOrderedAndProject, no global sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    return spark.sql("WITH " + _tfidf_base(_SP_TOKS) + _BM25_TAIL)


# --- heavy hitters (Misra-Gries candidates + exact verify) -------------------

HH_CAPACITY = 64   # per-partition summary size (counters kept)
HH_SUPPORT = 50    # report words with freq > N / HH_SUPPORT

_HH_ORACLE = f"""
WITH toks AS ({_DD_TOKS}),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM toks)
SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq, (SELECT total FROM n) AS total
FROM toks
GROUP BY w
HAVING COUNT(*) * {HH_SUPPORT} > (SELECT total FROM n)
"""


def misra_gries_summary(batches):
    """Misra-Gries candidate summary over Arrow batches of a ``w`` column.

    Vectorized variant: value-count each batch into the counter table, and
    when the table exceeds ``HH_CAPACITY``, subtract the (cap+1)-th largest
    count from EVERY counter and drop the non-positive ones.  The
    subtraction (not a bare ``counters[counters > cut]`` filter) is what
    gives the n_part/(k+1) undercount bound: each prune removes its cut
    from at least k+1 counters, so the per-item total decrement is at most
    n_part/(k+1).  A bare filter would reset dropped words to zero and
    could re-evict a thinly-spread true heavy hitter every batch, losing
    unbounded mass.
    """
    import pandas as pd

    counters = pd.Series(dtype="int64")
    for b in batches:
        counters = counters.add(b["w"].value_counts(), fill_value=0)
        if len(counters) > HH_CAPACITY:
            cut = counters.nlargest(HH_CAPACITY + 1).iloc[-1]
            counters = counters - cut
            counters = counters[counters > 0]
    yield pd.DataFrame({"w": counters.index.astype(str)})


@query("heavy_hitters_words", oracle=_HH_ORACLE, tags=("text", "sketch", "heavyhitters"))
def heavy_hitters_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters (words with frequency > N/{support}) by the
    two-pass candidate-and-verify pattern that survives a keyspace too big
    to hash-aggregate: pass 1 runs a Misra-Gries summary (bounded
    ``HH_CAPACITY`` counters, vectorized merge-and-prune per Arrow batch)
    inside ``mapInPandas`` on each partition and emits only candidate
    words; pass 2 exactly recounts the tiny candidate set via a broadcast
    semi-join and applies the support threshold as an integer cross-
    multiply (no division → no float boundary).

    The final answer is EXACT: per-partition MG with capacity k undercounts
    any item by at most n_part/(k+1), so an item whose local count exceeds
    n_part/(k+1) ends with a positive counter — every global heavy hitter
    survives in at least one partition's summary (union ⊇ truth; the
    recount removes false positives).  Capacity here (64)
    exceeds this corpus's vocabulary, so pass 1 is lossless outright —
    the bound is what holds at 100 TB vocabularies.
    """
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    toks = spark.sql(_SP_TOKS)

    candidates = toks.mapInPandas(misra_gries_summary, schema="w string").distinct()
    total = toks.agg(F.count(F.lit(1)).cast("bigint").alias("total"))
    return (
        toks.join(F.broadcast(candidates), "w")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .crossJoin(F.broadcast(total))
        .where(F.col("freq") * HH_SUPPORT > F.col("total"))
        .select(F.col("w").alias("word"), "freq", "total")
    )


# --- cross-document boilerplate n-gram share ---------------------------------

XDOC_NGRAM = 5  # word n-gram width for the cross-doc share signal

_XDOC_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(ws, p, p + {XDOC_NGRAM - 1}), ' ') AS g
  FROM (SELECT doc_id, ws, unnest(range(1, length(ws) - {XDOC_NGRAM} + 2)) AS p
        FROM tok WHERE length(ws) >= {XDOC_NGRAM})
),
df AS (SELECT g, COUNT(*) AS docs_with FROM grams GROUP BY g),
per AS (
  SELECT gr.doc_id,
         COUNT(*) AS n_grams,
         SUM(CASE WHEN df.docs_with >= 2 THEN 1 ELSE 0 END) AS n_shared
  FROM grams gr JOIN df ON gr.g = df.g
  GROUP BY gr.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(per.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(per.n_shared, 0) AS BIGINT) AS n_shared,
       CAST(CASE WHEN COALESCE(per.n_grams, 0) = 0 THEN 0
            ELSE (COALESCE(per.n_shared, 0) * 1000000) // per.n_grams
            END AS BIGINT) AS shared_ppm
FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
"""


@query("crossdoc_ngram_share", oracle=_XDOC_ORACLE, tags=("text", "quality", "dedup"))
def crossdoc_ngram_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-document boilerplate signal: per document, the fraction (ppm)
    of its distinct word 5-grams that also appear in at least one OTHER
    document — the corpus-level repetition gate (headers, footers, licence
    blocks, templated spam) that intra-doc stats (``doc_repetition_stats``)
    cannot see.  Real curation pipelines threshold on exactly this before
    training-mixture entry.

    Scale shape: 5-gramming is a row-local higher-order expression (no
    UDF); the document-frequency count is ONE gram-keyed shuffle with
    map-side partial agg, the share join reuses that gram partitioning,
    and the per-doc roll-up is one doc-keyed shuffle.  Never all-pairs —
    cost is Σ grams, linear in corpus size.  (The exploded gram stream
    feeds both the document-frequency agg and the share join, so Spark
    re-derives it once per branch; a long pipeline cuts that with
    ``session.materialize`` at the explode point.)  At 100 TB, group on
    ``xxhash64(gram)`` instead of the gram string to narrow the shuffle
    (identical counts modulo 2⁻⁶⁴ collisions; kept as strings here so the
    DuckDB oracle is exactly mirrorable).  The ppm ratio is integer
    arithmetic — no float hash hazard.
    """
    d = load_table(spark, sf_dir, "documents")
    ws = F.expr(r"regexp_extract_all(lower(text), '[a-z]+', 0)")
    grams = F.when(
        F.size(ws) >= XDOC_NGRAM,
        F.expr(
            f"transform(sequence(1, size(regexp_extract_all(lower(text), '[a-z]+', 0)) - {XDOC_NGRAM - 1}),"
            f" i -> array_join(slice(regexp_extract_all(lower(text), '[a-z]+', 0), i, {XDOC_NGRAM}), ' '))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = d.select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("g")
    )
    docs_with = exploded.groupBy("g").agg(F.count(F.lit(1)).alias("docs_with"))
    per = (
        exploded.join(docs_with, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("docs_with") >= 2, 1).otherwise(0)).alias("n_shared"),
        )
    )
    return (
        d.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("n_shared", F.lit(0)).cast("bigint").alias("n_shared"),
            F.when(F.coalesce("n_grams", F.lit(0)) == 0, F.lit(0).cast("bigint"))
            .otherwise(F.expr("n_shared * 1000000 div n_grams"))
            .cast("bigint")
            .alias("shared_ppm"),
        )
    )


# --- context-window chunking --------------------------------------------------

CHUNK_TOKENS = 50  # window size (words)
CHUNK_STRIDE = 40  # step between window starts (=> 10-token overlap)

_CHUNK_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks FROM documents
),
wins AS (
  -- exclusive bound +STRIDE+1: one extra (partial) window start past the
  -- last full window whenever tokens remain, so every token is covered
  SELECT doc_id, toks,
         unnest(range(1, greatest(length(toks) - {CHUNK_TOKENS}, 0) + {CHUNK_STRIDE} + 1, {CHUNK_STRIDE})) AS p
  FROM tok WHERE length(toks) > 0
)
SELECT doc_id,
       CAST((p - 1) / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       array_to_string(list_slice(toks, p, p + {CHUNK_TOKENS} - 1), ' ') AS chunk_text,
       CAST(least({CHUNK_TOKENS}, length(toks) - p + 1) AS BIGINT) AS n_tokens
FROM wins
"""


@query("doc_chunk_windows", oracle=_CHUNK_ORACLE, tags=("text", "chunking"))
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking: split every document into
    {CHUNK_TOKENS}-token windows advancing by {CHUNK_STRIDE} tokens
    ({CHUNK_TOKENS - CHUNK_STRIDE}-token overlap) — the retrieval/context
    preparation step of RAG and long-context training pipelines (every
    token appears in ≥1 chunk; the final partial window is kept with its
    true length).

    Scale shape: **ZERO shuffles** — tokenize, window-start enumeration
    (``sequence`` stepping by the stride), slice, and join-back are all
    row-local higher-order expressions inside whole-stage codegen; output
    rows ≈ tokens/stride per document, linear in corpus size.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = "regexp_extract_all(text, '\\\\S+', 0)"
    # Inclusive sequence bound size-TOKENS+STRIDE: the start enumeration
    # runs one stride past the last full window whenever tokens remain
    # beyond it, so the tail lands in a final partial chunk (r6 advice fix
    # — the former +1 bound silently dropped up to STRIDE-1 tail tokens;
    # tests/test_properties.py now proves [1, len] coverage).
    starts = (
        f"sequence(1, greatest(size({toks}) - {CHUNK_TOKENS}, 0) + {CHUNK_STRIDE}, {CHUNK_STRIDE})"
    )
    return (
        d.where(F.expr(f"size({toks}) > 0"))
        .select(
            "doc_id",
            F.explode(F.expr(starts)).alias("p"),
            F.expr(toks).alias("toks"),
        )
        .select(
            "doc_id",
            F.expr(f"CAST((p - 1) / {CHUNK_STRIDE} AS BIGINT)").alias("chunk_id"),
            F.expr(f"array_join(slice(toks, p, {CHUNK_TOKENS}), ' ')").alias("chunk_text"),
            F.expr(f"CAST(least({CHUNK_TOKENS}, size(toks) - p + 1) AS BIGINT)").alias(
                "n_tokens"
            ),
        )
    )


# --- PII-style scrubbing ------------------------------------------------------

_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_URL = "https?://[^\\s,]+"

_SCRUB_ORACLE = f"""
SELECT doc_id,
       regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                      '{_PII_URL}', '<URL>', 'g') AS scrubbed,
       CAST(length(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(length(regexp_extract_all(text, '{_PII_URL}')) AS BIGINT) AS n_urls
FROM documents
"""


@query("doc_scrub_pii", oracle=_SCRUB_ORACLE, tags=("text", "curation"))
def doc_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern-based PII-style redaction: emails and URLs replaced with
    typed placeholder tokens, plus per-document match counts for the
    curation audit trail — the scrub step every public-corpus pipeline
    runs before training-mixture entry.  (Regexes chosen to behave
    identically under Java regex and RE2 so the oracle is exact; a
    production scrubber extends the pattern set the same way.)

    Scale shape: ZERO shuffles — regexp_replace / regexp_extract_all are
    row-local, whole-stage-codegen expressions.

    Audit-count semantics: ``n_emails``/``n_urls`` are independent RAW-TEXT
    pattern-match counts, not placeholder counts in the scrubbed output —
    the replacements are sequential, so a URL that itself contains an
    email (``http://user@host.com/x``) counts once under each pattern yet
    yields a single ``<URL>`` placeholder.  Both engines agree (the oracle
    counts the same way); callers reconciling counts against placeholders
    should count placeholders in ``scrubbed`` instead.
    """
    d = load_table(spark, sf_dir, "documents")
    email = _PII_EMAIL.replace("\\", "\\\\")
    url = _PII_URL.replace("\\", "\\\\")
    return d.select(
        "doc_id",
        F.expr(
            f"regexp_replace(regexp_replace(text, '{email}', '<EMAIL>'), '{url}', '<URL>')"
        ).alias("scrubbed"),
        F.expr(f"CAST(size(regexp_extract_all(text, '{email}', 0)) AS BIGINT)").alias(
            "n_emails"
        ),
        F.expr(f"CAST(size(regexp_extract_all(text, '{url}', 0)) AS BIGINT)").alias(
            "n_urls"
        ),
    )


# --- token-stream segmentation via Python UDTF (Spark 4 UDF surface) ----------

_TOKENS_UDTF_ORACLE = """
SELECT doc_id, tok_idx, token, CAST(length(token) AS BIGINT) AS n_chars
FROM (
  SELECT doc_id,
         CAST(generate_subscripts(parts, 1) AS BIGINT) AS tok_idx,
         unnest(parts) AS token
  FROM (SELECT doc_id, string_split(text, ' ') AS parts FROM documents)
)
WHERE length(token) > 0
"""


class _SplitTokens:
    """``doc_tokens_udtf``'s UDTF: (1-based index, token, length) of each
    non-empty space-separated token.  Module-level, so the Python worker
    receives it by reference and imports the package."""

    def eval(self, text: str):
        if text is None:
            return
        for i, part in enumerate(text.split(" ")):
            if part:
                yield i + 1, part, len(part)


@query("doc_tokens_udtf", oracle=_TOKENS_UDTF_ORACLE, tags=("text", "udtf", "udf"))
def doc_tokens_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-stream segmentation through a Python **UDTF** (Spark 4's
    user-defined TABLE function — one input row, many output rows, lateral
    joined) — the last UDF class the engine had not exercised (pandas_udf /
    applyInPandas / mapInPandas / cogroup / applyInPandasWithState are
    covered elsewhere; SURVEY.md §2.B "UDF surface").

    Like ``grouped_pandas_centroid``, this is explicitly a UDF-SURFACE
    demonstration with an exact oracle: the whitespace split has a native
    equivalent (``posexplode(split(...))``) a production pipeline should
    prefer — the UDTF lane exists for segmenters that are REAL Python
    (BPE/SentencePiece tokenizers, spaCy sentencizers, markup-aware
    chunkers), and this query proves the lane is plumbed and hash-exact.
    The UDTF is row-parallel (zero shuffles): the operator scales with the
    scan.
    """
    from pyspark.sql.functions import udtf

    d = load_table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("__docs_udtf")
    spark.udtf.register(
        "sce_split_tokens",
        udtf(_SplitTokens, returnType="tok_idx: bigint, token: string, n_chars: bigint"),
    )
    return spark.sql(
        """
        SELECT d.doc_id, s.tok_idx, s.token, s.n_chars
        FROM __docs_udtf d, LATERAL sce_split_tokens(d.text) s
        """
    )


# --- character-entropy quality signal ------------------------------------------

def _char_entropy_sql(chars_cte: str) -> str:
    """Dialect-shared entropy core over a (doc_id, ch) character stream.

    H = -Σ (n_c/L)·ln(n_c/L).  Each ln is rounded to 6 dp and quantized to
    DECIMAL(18,6) BEFORE the Σ n_c·ln term, so the cross-row sum is exact
    integer-scaled decimal arithmetic — order-insensitive (a raw double
    sum would drift a ulp between engines); only the final /L division and
    display rounding happen in double, identically on both sides.
    """
    return f"""
WITH chars AS ({chars_cte}),
counts AS (
  SELECT doc_id, ch, COUNT(*) AS n FROM chars GROUP BY doc_id, ch
),
lens AS (SELECT doc_id, CAST(SUM(n) AS DOUBLE) AS len FROM counts GROUP BY doc_id)
SELECT c.doc_id,
       CAST(l.len AS BIGINT) AS n_chars,
       COUNT(*) AS n_distinct_chars,
       round(CAST(-SUM(CAST(round(ln(c.n / l.len), 6) AS DECIMAL(18,6)) * c.n) AS DOUBLE)
             / l.len, 6) AS char_entropy
FROM counts c JOIN lens l ON l.doc_id = c.doc_id
GROUP BY c.doc_id, l.len
"""


_DD_CHARS = """
SELECT doc_id, substr(text, unnest(range(1, length(text) + 1)), 1) AS ch
FROM documents WHERE length(text) > 0
"""

_SPARK_CHARS = """
SELECT doc_id, substr(text, p, 1) AS ch
FROM __docs_entropy LATERAL VIEW explode(sequence(1, length(text))) AS p
WHERE length(text) > 0
"""


@query("doc_char_entropy", oracle=_char_entropy_sql(_DD_CHARS), tags=("text", "quality"))
def doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-distribution entropy in NATS (ln base; ×1/ln2
    for bits — English prose sits near ~4 bits ≈ 2.8 nats/char) — the
    cheap repetitiveness signal (templated/boilerplate text scores low):
    character explode → (doc, char) counts → exact decimal-quantized
    Σ n·ln(n/L).

    Scale: one shuffle keyed on (doc_id, ch) with native partial
    aggregation (the within-doc char alphabet is ≤ a few hundred, so
    map-side combine collapses hard), then an O(docs×alphabet) re-agg.
    Complements ``doc_repetition_stats`` (n-gram level) and
    ``doc_quality_score`` (token level) at the character level.
    """
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("__docs_entropy")
    return spark.sql(_char_entropy_sql(_SPARK_CHARS))


# --- per-document surprisal (unigram-LM perplexity proxy) ---------------------

def _surprisal_tail(intdiv: str) -> str:
    # The mean is emitted in integer MICRO-nats via exact arithmetic: the
    # 6-dp decimal sum × 10^6 is an exact integer, and both engines
    # truncate positive integer division identically — rounding the
    # double quotient instead loses the hash on half-ulp ties (measured:
    # 0.2519025 → .251903 vs .251902 across Spark/DuckDB round()).
    return f"""
SELECT t.doc_id,
       CAST(SUM(t.tf) AS BIGINT) AS n_tokens,
       CAST(CAST(SUM(CAST(round(t.tf * ln((SELECT n FROM n_docs) / d.df), 6)
                          AS DECIMAL(18,6))) * 1000000 AS BIGINT)
            {intdiv} SUM(t.tf) AS BIGINT) AS mean_surprisal_micro
FROM tf t JOIN df d ON d.w = t.w
GROUP BY t.doc_id
"""


@query(
    "doc_surprisal_score",
    oracle="WITH " + _tfidf_base(_DD_TOKS) + _surprisal_tail("//"),
    tags=("text", "quality", "tfidf"),
)
def doc_surprisal_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean token surprisal under a corpus document-frequency
    unigram model — the relational stand-in for the KenLM-perplexity
    quality filter every LLM curation pipeline runs (CCNet/Gopher use a
    5-gram LM; the shape is identical: score = mean per-token −log p,
    filter the tails).  Low scores flag boilerplate/templated docs (every
    token is corpus-common), high scores flag lexical noise (rare-token
    soup) — both are the standard drop candidates.

    Model choice keeps it exactly oracle-able: p(w) ≈ df(w)/N over the
    SAME corpus (no train/test split, no smoothing needed — every scored
    token has df ≥ 1), so the whole computation is two hash aggregations
    (doc-term tf, term df) plus a broadcast O(vocab) join, partial-agg
    friendly and linear in corpus size.  At 100 TB the df table is the
    only global state (vocabulary-sized, broadcast); a real external LM
    would swap the join for a mapInPandas scorer without changing the
    surrounding plan.  Exactness: per-term ln is 6-dp-rounded before the
    decimal sum (compat.py posture), and the final division + round runs
    on bit-identical operands in both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    return spark.sql("WITH " + _tfidf_base(_SP_TOKS) + _surprisal_tail("div"))


# --- count-min sketch (mergeable frequency estimation) ------------------------

#: Count-min parameters.  Depth 4 × width 512 → 2048 int64 counters (16 KiB
#: of state regardless of corpus size); the standard guarantees are
#: ε = e/width ≈ 0.53 % of the stream length for the overcount, with
#: failure probability e^−depth ≈ 1.8 %.
CMS_P = 1_000_000_007
CMS_W = 512
CMS_HASHES = ((131, 7), (137, 11), (139, 13), (149, 17))
CMS_TOPK = 20

#: Word → integer key as a char-polynomial fold — the ONE deterministic
#: hash both engines can evaluate identically (builtin hash()/xxhash64
#: differ between Spark and DuckDB, so the key must be arithmetic).
_CMS_KEY_SP = (
    "aggregate(sequence(1, length(w)), 0L,"
    f" (acc, i) -> (acc * 131 + ascii(substring(w, i, 1))) % {CMS_P})"
)
_CMS_KEY_DD = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), range(1, length(w) + 1)),"
    f" (acc, i) -> (acc * 131 + ascii(substr(w, CAST(i AS INT), 1))) % {CMS_P})"
)

_CMS_ROWS_DD = ",".join(f"({r},{a},{b})" for r, (a, b) in enumerate(CMS_HASHES))

_CMS_ORACLE = f"""
WITH toks AS ({_DD_TOKS}),
keyed AS (SELECT {_CMS_KEY_DD} AS k FROM toks),
cells AS (
  SELECT h.r, ((h.a * keyed.k + h.b) % {CMS_P}) % {CMS_W} AS b
  FROM keyed CROSS JOIN (VALUES {_CMS_ROWS_DD}) AS h(r, a, b)
),
sketch AS (SELECT r, b, CAST(COUNT(*) AS BIGINT) AS c FROM cells GROUP BY r, b),
exact AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq_exact, {_CMS_KEY_DD} AS k
  FROM toks GROUP BY w ORDER BY freq_exact DESC, w LIMIT {CMS_TOPK}
),
probe AS (
  SELECT e.w, e.freq_exact, h.r, ((h.a * e.k + h.b) % {CMS_P}) % {CMS_W} AS b
  FROM exact e CROSS JOIN (VALUES {_CMS_ROWS_DD}) AS h(r, a, b)
)
SELECT p.w AS word, p.freq_exact,
       CAST(MIN(s.c) AS BIGINT) AS freq_cms,
       CAST(MIN(s.c) - p.freq_exact AS BIGINT) AS overcount
FROM probe p JOIN sketch s ON s.r = p.r AND s.b = p.b
GROUP BY p.w, p.freq_exact
"""


def _cms_cells_expr(key_col: str) -> str:
    """explode() of the depth-4 (row, bucket) cells for one integer key."""
    structs = ",".join(
        f"struct({r}L AS r, (({a}L * {key_col} + {b}L) % {CMS_P}) % {CMS_W} AS b)"
        for r, (a, b) in enumerate(CMS_HASHES)
    )
    return f"explode(array({structs}))"


@query("cms_word_freq", oracle=_CMS_ORACLE, tags=("text", "sketch", "cms"))
def cms_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch word-frequency estimation, audited against truth:
    build the depth-4 × width-512 sketch over the token stream, then report
    the top-20 words' exact counts next to their CMS point
    estimates (min over the 4 hashed counters) and the resulting
    overcount.  Completes the mergeable-sketch family — bitmap (exact
    distinct), HLL (approx distinct), Misra-Gries (heavy hitters), CMS
    (point frequency) — each constant-state and partial-agg friendly.

    Scale shape: the sketch build is the 100 TB path — tokens explode to
    4 (row, bucket) cells and hash-aggregate into AT MOST 2048 groups, so
    the map-side partial agg absorbs virtually everything and the exchange
    carries ≤ 2048 rows per task regardless of corpus size; sketches from
    disjoint corpus shards ADD cell-wise (the mergeability that makes CMS
    the distributed answer to "how often does X occur" when the vocabulary
    itself cannot be materialized).  The truth side (exact top-20) exists
    only to audit the estimate; the 80-cell probe table broadcasts.
    Determinism: the word key is a char-polynomial fold evaluated with
    identical BIGINT arithmetic in both engines (no builtin hash), and
    every output column is integer — CMS ≥ exact by construction, with
    equality whenever none of a word's 4 counters absorbed a collision.
    """
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    toks = spark.sql(_SP_TOKS)

    keyed = toks.selectExpr(f"{_CMS_KEY_SP} AS k")
    cells = keyed.select(F.expr(_cms_cells_expr("k")).alias("cell")).select(
        "cell.r", "cell.b"
    )
    sketch = cells.groupBy("r", "b").agg(F.count(F.lit(1)).cast("bigint").alias("c"))

    exact = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq_exact"))
        .orderBy(F.desc("freq_exact"), "w")
        .limit(CMS_TOPK)
        .withColumn("k", F.expr(_CMS_KEY_SP))
    )
    probe = exact.select(
        "w", "freq_exact", F.expr(_cms_cells_expr("k")).alias("cell")
    ).select("w", "freq_exact", "cell.r", "cell.b")

    return (
        sketch.join(F.broadcast(probe), ["r", "b"])
        .groupBy("w", "freq_exact")
        .agg(F.min("c").cast("bigint").alias("freq_cms"))
        .select(
            F.col("w").alias("word"),
            "freq_exact",
            "freq_cms",
            (F.col("freq_cms") - F.col("freq_exact")).cast("bigint").alias("overcount"),
        )
    )


# --- hybrid retrieval: reciprocal rank fusion ---------------------------------

RRF_K = 60      # standard RRF dampening constant (Cormack et al.)
RRF_LIST = 20   # per-ranker candidate list length
RRF_TOPN = 15   # fused results returned


def _rrf_tail(intdiv: str) -> str:
    """Fusion CTEs appended after ``_BM25_CTES``; ``intdiv`` is the
    engine's integer-division operator (Spark ``div``, DuckDB ``//``)."""
    return f"""
, ttr AS (
  SELECT doc_id,
         (COUNT(DISTINCT w) * 1000000) {intdiv} COUNT(*) AS ttr_ppm
  FROM toks GROUP BY doc_id
  ORDER BY ttr_ppm DESC, doc_id ASC LIMIT {RRF_LIST}
),
r1 AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r_bm25 FROM bm),
r2 AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY ttr_ppm DESC, doc_id) AS r_ttr FROM ttr),
fused AS (
  SELECT COALESCE(r1.doc_id, r2.doc_id) AS doc_id,
         COALESCE(r1.r_bm25, 0) AS r_bm25,
         COALESCE(r2.r_ttr, 0) AS r_ttr,
         (CASE WHEN r1.r_bm25 IS NULL THEN 0
               ELSE 1000000 {intdiv} ({RRF_K} + r1.r_bm25) END
          + CASE WHEN r2.r_ttr IS NULL THEN 0
                 ELSE 1000000 {intdiv} ({RRF_K} + r2.r_ttr) END) AS rrf_ppm
  FROM r1 FULL OUTER JOIN r2 ON r1.doc_id = r2.doc_id
)
SELECT doc_id, CAST(r_bm25 AS BIGINT) AS r_bm25, CAST(r_ttr AS BIGINT) AS r_ttr,
       CAST(rrf_ppm AS BIGINT) AS rrf_ppm
FROM fused ORDER BY rrf_ppm DESC, doc_id ASC LIMIT {RRF_TOPN}
"""


@query(
    "hybrid_rank_rrf",
    oracle="WITH " + _tfidf_base(_DD_TOKS) + _BM25_CTES + _rrf_tail("//"),
    tags=("text", "retrieval", "rrf"),
)
def hybrid_rank_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two heterogeneous document rankers — the
    standard hybrid-retrieval combiner (score = Σ 1/(k + rankᵢ), k=60):
    ranker 1 is the BM25 top-20 for the fixed query (relevance), ranker 2
    is lexical diversity (type/token ratio — a quality prior real curation
    pipelines fuse with relevance when mining training data).  RRF needs
    only RANKS, never comparable scores, which is exactly why it survives
    fusing a float BM25 with an integer quality signal.

    Determinism: both input orderings carry a doc_id tiebreak, so the
    ROW_NUMBER ranks are total orders; the fused score is integer
    (1000000 div (60+rank)) — no float leaves the rankers.  Scale shape:
    each ranker is already bounded (top-20 TakeOrdered), so the
    fusion is a FULL OUTER join of two ≤20-row lists — driver-free,
    broadcast-trivial, constant cost however large the corpus; all real
    work lives in the rankers themselves, which are linear + one keyed
    exchange each (shared toks/tf CTE base — Catalyst reuses the scan).
    """
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    return spark.sql("WITH " + _tfidf_base(_SP_TOKS) + _BM25_CTES + _rrf_tail("div"))


# --- bigram language-model scoring --------------------------------------------

BGLM_SCALE = 1_000_000  # probability → ppm fixed-point


_BGLM_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws FROM documents
),
bg AS (
  SELECT doc_id, ws[p] AS w1, ws[p + 1] AS w2
  FROM (SELECT doc_id, ws, unnest(range(1, length(ws))) AS p
        FROM tok WHERE length(ws) >= 2)
),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
v AS (SELECT COUNT(DISTINCT w) AS v FROM (SELECT unnest(ws) AS w FROM tok)),
scored AS (
  SELECT bg.doc_id,
         ((c2.c2 + 1) * {BGLM_SCALE}) // (c1.c1 + (SELECT v FROM v)) AS ppm
  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
),
per AS (SELECT doc_id, COUNT(*) AS n_bigrams, SUM(ppm) AS sum_ppm
        FROM scored GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(CASE WHEN per.doc_id IS NULL THEN 0
                 ELSE per.sum_ppm // per.n_bigrams END AS BIGINT) AS lm_score_ppm
FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
"""


@query("doc_bigram_lm_score", oracle=_BGLM_ORACLE, tags=("text", "quality", "lm"))
def doc_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document add-one-smoothed bigram language-model score — the
    order-2 upgrade of ``doc_surprisal_score``'s unigram model, i.e. the
    KenLM-slot quality filter with actual CONTEXT: each bigram (w₁,w₂)
    scores p = (c(w₁,w₂)+1)/(c(w₁·)+V) against corpus counts, and a
    document's score is the mean bigram probability in ppm.  Templated /
    boilerplate docs score high (their word transitions are corpus-common);
    shuffled-word or rare-transition noise scores low — the two tails a
    curation mixture drops.

    Fixed-point contract: probabilities never exist as floats — the ppm
    value is a single BIGINT integer division per bigram, identical in
    both engines (no ln/exp, so no ulp hazard anywhere).  Scale shape:
    bigram extraction is a row-local higher-order expression; the model
    tables are two hash aggregations on (w₁,w₂)/(w₁) with map-side
    partials; scoring re-joins the bigram stream on the same keys (the
    (w₁,w₂) exchange is reused by AQE where sizes allow); V is one scalar
    broadcast.  Everything is linear in corpus size — at 100 TB the c2
    table is the only vocabulary²-bounded state, and it shrinks to the
    OBSERVED bigram set (≪ V²), exactly like the production n-gram LM
    count tables it stands in for.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)").alias("ws")
    )
    bg = (
        t.where(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vdf = t.select(F.explode("ws").alias("w")).agg(
        F.countDistinct("w").alias("v")
    )
    scored = (
        bg.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .crossJoin(F.broadcast(vdf))
        .select("doc_id", F.expr(f"(c2 + 1) * {BGLM_SCALE} div (c1 + v)").alias("ppm"))
    )
    per = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sum("ppm").alias("sum_ppm"),
    )
    return (
        d.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.when(F.col("n_bigrams").isNull(), F.lit(0))
            .otherwise(F.expr("sum_ppm div n_bigrams"))
            .cast("bigint")
            .alias("lm_score_ppm"),
        )
    )


# --- PMI-lift collocation extraction ------------------------------------------

COLLOC_MIN_COUNT = 5   # bigram support threshold (standard PMI noise floor)
COLLOC_TOPK = 25

_COLLOC_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws FROM documents
),
toks AS (SELECT doc_id, unnest(ws) AS w FROM tok),
bg AS (
  SELECT ws[p] AS w1, ws[p + 1] AS w2
  FROM (SELECT ws, unnest(range(1, length(ws))) AS p
        FROM tok WHERE length(ws) >= 2)
),
c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg GROUP BY w1, w2
       HAVING COUNT(*) >= {COLLOC_MIN_COUNT}),
c1 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c1 FROM toks GROUP BY w),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks)
SELECT c2.w1, c2.w2, c2.c2,
       CAST((c2.c2 * 1000000 * (SELECT n FROM n)) // (a.c1 * b.c1) AS BIGINT)
         AS lift_ppm
FROM c2 JOIN c1 a ON a.w = c2.w1 JOIN c1 b ON b.w = c2.w2
ORDER BY lift_ppm DESC, c2.w1, c2.w2 LIMIT {COLLOC_TOPK}
"""


@query("collocations_lift", oracle=_COLLOC_ORACLE, tags=("text", "collocation", "pmi"))
def collocations_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by PMI lift: rank word bigrams by
    p(w₁w₂)/(p(w₁)p(w₂)) = c₂·N/(c₁(w₁)·c₁(w₂)) with a support floor of
    5 — the classic multiword-expression miner ("new
    york", "machine learning") whose output feeds tokenizer-merge and
    stop-phrase lists in corpus prep.  Lift is exp(PMI), so ranking by it
    IS ranking by PMI without ever taking a log.

    Fixed-point contract: lift is one BIGINT expression
    (c₂·10⁶·N div c₁·c₁′) — exact in both engines at registered scales
    (peak intermediate ≈ c₂·10⁶·N ≤ 2e18 at the 20× stress corpus; a
    trillion-token corpus needs the same ranking in DOUBLE or a split
    scale — the comparison is then approximate but the candidate set,
    support-floored counts, and top-k machinery are unchanged).  Scale
    shape: bigram and unigram counts are two keyed hash-aggs with
    map-side partials; the support floor prunes the c₂ table BEFORE both
    c₁ joins (broadcastable — O(vocab) each); final top-25 is
    TakeOrdered, no global sort.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)").alias("ws")
    )
    toks = t.select(F.explode("ws").alias("w"))
    bg = (
        t.where(F.size("ws") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    c2 = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c2"))
        .where(F.col("c2") >= COLLOC_MIN_COUNT)
    )
    c1 = toks.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c1"))
    ndf = toks.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        c2.join(F.broadcast(c1.withColumnRenamed("w", "w1").withColumnRenamed("c1", "c1a")), "w1")
        .join(F.broadcast(c1.withColumnRenamed("w", "w2").withColumnRenamed("c1", "c1b")), "w2")
        .crossJoin(F.broadcast(ndf))
        .select(
            "w1",
            "w2",
            "c2",
            # Guard the documented ~2e18 headroom at runtime: in non-ANSI
            # Spark the numerator c2*1e6*n OR the denominator c1a*c1b
            # would silently WRAP past int64 and rank on garbage.  Both
            # comparisons stay in-range themselves (int64max div the
            # other factor), and raise_error makes an oversized corpus
            # fail loudly instead.  Never fires at registered scales, so
            # the DuckDB oracle (which has no raise_error) is unaffected.
            F.expr(
                "CASE WHEN n > (9223372036854775807 div 1000000) div c2"
                "       OR c1a > 9223372036854775807 div c1b"
                " THEN cast(raise_error('collocations_lift: c2*1e6*N or"
                " c1*c1 exceeds int64 — recompute lift in DECIMAL for this"
                " corpus size') as bigint)"
                " ELSE c2 * 1000000 * n div (c1a * c1b) END"
            ).cast("bigint").alias("lift_ppm"),
        )
        .orderBy(F.desc("lift_ppm"), "w1", "w2")
        .limit(COLLOC_TOPK)
    )

"""Text-analysis query surface over ``documents`` with DuckDB oracles.

Oracle-parity rules: shared regexes limited to the Java∩RE2 dialect;
ratios computed with identical operand order and ROUND(x, 6).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators.text import quality_scores
from ..sources.catalog import Catalog
from .registry import query


QUALITY_ORACLE = r"""
SELECT doc_id,
  length(text) AS n_chars,
  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
  ROUND(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        / CAST(length(text) AS DOUBLE), 6) AS alpha_ratio,
  ROUND(CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
        / CAST(length(text) AS DOUBLE), 6) AS punct_ratio,
  ROUND(CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|and|or|of|to|in|is|it)\b')) AS DOUBLE)
        / CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(string_split_regex(trim(text), '\s+')) END AS DOUBLE), 6) AS stopword_ratio,
  ROUND(
    0.4 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
           / CAST(length(text) AS DOUBLE))
  + 0.3 * (CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|and|or|of|to|in|is|it)\b')) AS DOUBLE)
           / CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(trim(text), '\s+')) END AS DOUBLE))
  + 0.3 * least(CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+')) END AS DOUBLE) / 64.0, 1.0)
  , 6) AS quality_score
FROM documents
"""


@query("text_quality_score", oracle=QUALITY_ORACLE, headline=True)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document-quality features + composite score."""
    docs = Catalog(spark, sf_dir).documents
    return quality_scores(docs, text_col="text", id_col="doc_id")


SOURCE_ROLLUP_ORACLE = r"""
WITH scored AS (
  SELECT source, md5(text) AS th,
    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
    ROUND(
      0.4 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
             / CAST(length(text) AS DOUBLE))
    + 0.3 * (CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|and|or|of|to|in|is|it)\b')) AS DOUBLE)
             / CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                         ELSE len(string_split_regex(trim(text), '\s+')) END AS DOUBLE))
    + 0.3 * least(CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\s+')) END AS DOUBLE) / 64.0, 1.0)
    , 6) AS quality_score
  FROM documents
)
SELECT source,
  COUNT(*) AS n_docs,
  COUNT(DISTINCT th) AS n_distinct_texts,
  ROUND(1.0 - CAST(COUNT(DISTINCT th) AS DOUBLE) / COUNT(*), 6) AS dup_rate,
  ROUND(AVG(quality_score), 6) AS avg_quality,
  ROUND(AVG(CAST(n_tokens AS DOUBLE)), 6) AS avg_tokens
FROM scored
GROUP BY source
"""


@query("source_quality_rollup", oracle=SOURCE_ROLLUP_ORACLE)
def source_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation scoreboard: doc count, exact-dup rate, mean
    quality score, mean token count — the roll-up a crawl pipeline uses
    to allocate/blocklist sources before heavy processing.

    Scale: ONE scan — the quality features, the md5 text hash and the
    source key ride the same projection (``keep=`` threading, no second
    scan + self-join), then a source-keyed agg whose count-distinct is
    the standard two-phase Expand; shuffle cardinality is
    sources x distinct-hash, never corpus rows of text.
    """
    docs = Catalog(spark, sf_dir).documents.withColumn(
        "__th", F.md5(F.col("text").cast("binary"))
    )
    scored = quality_scores(docs, text_col="text", id_col="doc_id",
                            keep=("source", "__th"))
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("__th").alias("n_distinct_texts"),
            F.round(
                F.lit(1.0)
                - F.countDistinct("__th").cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("dup_rate"),
            F.round(F.avg("quality_score"), 6).alias("avg_quality"),
            F.round(F.avg(F.col("n_tokens").cast("double")), 6).alias("avg_tokens"),
        )
    )


# --------------------------------------------------------------------------
# lexical retrieval: distributed BM25 (operators/retrieval.py)
# --------------------------------------------------------------------------

BM25_TERMS = ("spark", "hash", "window", "stream")
_BM25_K1, _BM25_B, _BM25_TOP = 1.2, 0.75, 10


def _bm25_oracle() -> str:
    tfs = ",\n         ".join(
        f"len(list_filter(ws, x -> x = '{t}')) AS tf_{t}" for t in BM25_TERMS
    )
    dfs = ",\n         ".join(
        f"SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}"
        for t in BM25_TERMS
    )
    # expression shapes mirror the Spark plan exactly: left-associative
    # products, fixed-order contribution sum, same 1-b / k1+1 literals.
    # The length term is ``(b * dl) / avgdl`` — Python's left-associative
    # reading of retrieval.py's ``F.lit(b) * dl / F.lit(avgdl)`` — with
    # avgdl its own parenthesized subexpression, so the IEEE operation
    # order matches the Spark projection exactly (``b * (dl / avgdl)``
    # is not bit-identical).
    norm = (
        f"{_BM25_K1} * ({1.0 - _BM25_B} + ({_BM25_B} * CAST(dl AS DOUBLE))"
        f" / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE)))"
    )
    contribs = " + ".join(
        f"(ln(1 + (n - df_{t} + 0.5) / (df_{t} + 0.5)) * CAST(tf_{t} AS DOUBLE)"
        f" * {_BM25_K1 + 1.0} / (CAST(tf_{t} AS DOUBLE) + {norm}))"
        for t in BM25_TERMS
    )
    greatest = ", ".join(f"tf_{t}" for t in BM25_TERMS)
    tf_out = ", ".join(f"tf_{t}" for t in BM25_TERMS)
    return f"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9]+'),
                     x -> x <> '') AS ws
  FROM documents
),
base AS (
  SELECT doc_id, len(ws) AS dl,
         {tfs}
  FROM w
),
st AS (
  SELECT COUNT(*) AS n, SUM(dl) AS sdl,
         {dfs}
  FROM base
)
SELECT b.doc_id, b.dl, {tf_out},
       ROUND({contribs}, 6) AS score
FROM base b, st
WHERE GREATEST({greatest}) > 0
ORDER BY score DESC, b.doc_id
LIMIT {_BM25_TOP}
"""


_BM25_MAX_DF_RATIO = 0.78  # straddles the synthetic corpus's ~0.77-0.81
# per-term dfs, so SOME probe terms drop and SOME survive at every local
# SF — and which ones differ BY SF, exercising the guard's adaptivity


def _bm25_guarded_oracle() -> str:
    """bm25 oracle with the df-threshold skew guard replayed in SQL:
    kept_t ⇔ df_t ≤ ratio·N (same double product as the Python rule),
    dropped terms contribute literal 0 to the fixed-order score sum
    (x + 0.0 is IEEE-exact), report tf = 0, and grant no candidacy."""
    tfs = ",\n         ".join(
        f"len(list_filter(ws, x -> x = '{t}')) AS tf_{t}" for t in BM25_TERMS
    )
    dfs = ",\n         ".join(
        f"SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}"
        for t in BM25_TERMS
    )
    def kept(t: str) -> str:
        return (
            f"CAST(df_{t} AS DOUBLE) <= {_BM25_MAX_DF_RATIO} * CAST(n AS DOUBLE)"
        )

    norm = (
        f"{_BM25_K1} * ({1.0 - _BM25_B} + ({_BM25_B} * CAST(dl AS DOUBLE))"
        f" / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE)))"
    )
    contribs = " + ".join(
        f"(CASE WHEN {kept(t)} THEN"
        f" (ln(1 + (n - df_{t} + 0.5) / (df_{t} + 0.5)) * CAST(tf_{t} AS DOUBLE)"
        f" * {_BM25_K1 + 1.0} / (CAST(tf_{t} AS DOUBLE) + {norm}))"
        f" ELSE 0.0 END)"
        for t in BM25_TERMS
    )
    greatest = ", ".join(
        f"CASE WHEN {kept(t)} THEN tf_{t} ELSE 0 END" for t in BM25_TERMS
    )
    tf_out = ", ".join(
        f"CASE WHEN {kept(t)} THEN tf_{t} ELSE 0 END AS tf_{t}" for t in BM25_TERMS
    )
    return f"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9]+'),
                     x -> x <> '') AS ws
  FROM documents
),
base AS (
  SELECT doc_id, len(ws) AS dl,
         {tfs}
  FROM w
),
st AS (
  SELECT COUNT(*) AS n, SUM(dl) AS sdl,
         {dfs}
  FROM base
)
SELECT b.doc_id, b.dl, {tf_out},
       ROUND({contribs}, 6) AS score
FROM base b, st
WHERE GREATEST({greatest}) > 0
ORDER BY score DESC, b.doc_id
LIMIT {_BM25_TOP}
"""


@query("bm25_search_guarded", oracle=_bm25_guarded_oracle())
def bm25_search_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 with the df-threshold SKEW GUARD engaged — the graded form
    of the retrieval skew contract: terms with df > ratio·N (corpus-df
    stopwords, whose postings lists are the one corpus-sized object a
    term-bucketed store holds) are dropped from scoring, candidacy,
    and — on the store probe path, where it bounds I/O — from the
    postings scan itself (``bm25_from_store``'s pushed ``term IN``
    predicate; pytest-asserted with a 100 %-df adversarial term). The
    0.78 cutoff straddles the synthetic dfs so the drop set is
    non-empty, non-total, and DIFFERS by SF; the oracle recomputes
    kept-ness from the same exact-integer dfs."""
    from ..operators.retrieval import bm25_search as _bm25

    docs = Catalog(spark, sf_dir).documents
    return _bm25(
        docs,
        list(BM25_TERMS),
        text_col="text",
        id_col="doc_id",
        k1=_BM25_K1,
        b=_BM25_B,
        top_n=_BM25_TOP,
        max_df_ratio=_BM25_MAX_DF_RATIO,
    )


def _bm25_store_oracle() -> str:
    """The store probe returns the same rows as the corpus scan (by
    construction — per-batch exact stats, inline dl, identical
    fixed-order scoring), so its oracle IS the scan oracle with the
    probe's column names (id instead of doc_id)."""
    return _bm25_oracle().replace("SELECT b.doc_id,", "SELECT b.doc_id AS id,")


@query("bm25_store_probe", oracle=_bm25_store_oracle(), headline=True)
def bm25_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 through the INVERTED-POSTINGS STORE as a graded end-to-end
    query — build (tokenize once, term-bucket-partitioned postings with
    inline dl, vocabulary-sized termstats, exact-integer stats) then
    probe (bucket-pruned postings read, no doclens join, driver-side
    idf literals). Grades the store path DIRECTLY against DuckDB
    rather than transitively through the probe ≡ scan pytest: the
    oracle is the corpus-scan BM25, which the probe must reproduce
    bit-for-bit.

    Scale: the build is one scan + partitioned write (amortized over
    every search in production — rebuilt here per call so the graded
    query covers the whole cycle); the probe reads ≤ k of 64 bucket
    directories and nothing else.
    """
    from ..operators.retrieval import bm25_from_store, build_postings_store
    from .storepaths import process_scoped_store_path

    docs = Catalog(spark, sf_dir).documents
    store = process_scoped_store_path("postings_store", sf_dir)
    build_postings_store(docs, store)
    return bm25_from_store(
        spark,
        store,
        list(BM25_TERMS),
        k1=_BM25_K1,
        b=_BM25_B,
        top_n=_BM25_TOP,
    )


# --------------------------------------------------------------------------
# hybrid retrieval: BM25 + query-vector cosine, Reciprocal Rank Fusion
# --------------------------------------------------------------------------

_HYBRID_QVEC_ID = 3
_HYBRID_TOP_LEG, _HYBRID_RRF_K, _HYBRID_TOP = 20, 60, 10


def _hybrid_oracle() -> str:
    """RRF fusion replayed in SQL: the BM25 leg reuses the exact
    fixed-order arithmetic of ``_bm25_oracle`` (ranked on the ROUNDED
    score, the engine's output contract), the vector leg ranks the 6-dp
    cosine against the literal-by-subquery query vector, and the fusion
    is the fixed two-term sum 1/(k+lex) + 1/(k+vec)."""
    tfs = ",\n         ".join(
        f"len(list_filter(ws, x -> x = '{t}')) AS tf_{t}" for t in BM25_TERMS
    )
    dfs = ",\n         ".join(
        f"SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}"
        for t in BM25_TERMS
    )
    norm = (
        f"{_BM25_K1} * ({1.0 - _BM25_B} + ({_BM25_B} * CAST(dl AS DOUBLE))"
        f" / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE)))"
    )
    contribs = " + ".join(
        f"(ln(1 + (n - df_{t} + 0.5) / (df_{t} + 0.5)) * CAST(tf_{t} AS DOUBLE)"
        f" * {_BM25_K1 + 1.0} / (CAST(tf_{t} AS DOUBLE) + {norm}))"
        for t in BM25_TERMS
    )
    greatest = ", ".join(f"tf_{t}" for t in BM25_TERMS)
    return f"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9]+'),
                     x -> x <> '') AS ws
  FROM documents
),
base AS (
  SELECT doc_id, len(ws) AS dl,
         {tfs}
  FROM w
),
st AS (
  SELECT COUNT(*) AS n, SUM(dl) AS sdl,
         {dfs}
  FROM base
),
scored AS (
  SELECT b.doc_id, ROUND({contribs}, 6) AS score
  FROM base b, st
  WHERE GREATEST({greatest}) > 0
),
lex AS (
  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC)
                      AS INT) AS lex_rank
  FROM scored
  QUALIFY lex_rank <= {_HYBRID_TOP_LEG}
),
v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
),
vs AS (
  SELECT vec_id AS doc_id,
         ROUND(list_cosine_similarity(
           emb, (SELECT emb FROM v WHERE vec_id = {_HYBRID_QVEC_ID})), 6) AS cos
  FROM v
),
vecr AS (
  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id ASC)
                      AS INT) AS vec_rank
  FROM vs
  QUALIFY vec_rank <= {_HYBRID_TOP_LEG}
)
SELECT COALESCE(l.doc_id, r.doc_id) AS doc_id, l.lex_rank, r.vec_rank,
       ROUND(COALESCE(1.0 / ({_HYBRID_RRF_K} + l.lex_rank), 0.0)
             + COALESCE(1.0 / ({_HYBRID_RRF_K} + r.vec_rank), 0.0), 6)
         AS rrf_score
FROM lex l FULL OUTER JOIN vecr r ON l.doc_id = r.doc_id
ORDER BY rrf_score DESC, doc_id ASC
LIMIT {_HYBRID_TOP}
"""


@query("hybrid_search_rrf", oracle=_hybrid_oracle())
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion: the BM25 ranking
    for the standard probe terms fused with the cosine ranking against
    a query embedding (doc {_HYBRID_QVEC_ID}'s vector — documents and
    embeddings share the id space) as Σ 1/(60 + rank) — the RAG
    first-stage that needs no score calibration because only ranks
    fuse. Top-10 (doc_id, lex_rank, vec_rank, rrf_score), null rank
    where a doc appears in one list only.

    Scale: both legs are the existing distributed searches (BM25
    corpus scan; literal-query-vector cosine scan — no join, no vector
    shuffle); only the two query-sized ranked lists are collected for
    rank assignment (control-plane — same unit as the BM25 idf
    scalars) and fused via one tiny full-outer equi-join. Per-leg
    top-k lowers to TakeOrderedAndProject — no global window."""
    from ..operators.retrieval import rrf_hybrid_search

    cat = Catalog(spark, sf_dir)
    qvec = [
        float(x)
        for x in cat.embeddings.where(F.col("vec_id") == _HYBRID_QVEC_ID)
        .select("embedding")
        .first()["embedding"]
    ]
    return rrf_hybrid_search(
        cat.documents,
        cat.embeddings,
        list(BM25_TERMS),
        qvec,
        k1=_BM25_K1,
        b=_BM25_B,
        top_lex=_HYBRID_TOP_LEG,
        top_vec=_HYBRID_TOP_LEG,
        rrf_k=_HYBRID_RRF_K,
        top_n=_HYBRID_TOP,
    )


# --------------------------------------------------------------------------
# TF-IDF top terms per source — corpus keyword extraction
# --------------------------------------------------------------------------

TFIDF_TOP_K = 5

TFIDF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, t.tok
  FROM (SELECT doc_id, source,
               regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+') AS arr
        FROM documents),
       UNNEST(arr) AS t(tok)
  WHERE t.tok <> ''
),
tf AS (
  SELECT source, tok AS term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
),
df AS (
  SELECT tok AS term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1
),
n AS (SELECT COUNT(*) AS n FROM documents),
s AS (
  SELECT tf.source, tf.term, tf.tf, df.df,
         ROUND(tf.tf * LN(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df USING (term), n
)
SELECT source, term, tf, df, tfidf
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY source ORDER BY tfidf DESC, term ASC) AS rk
  FROM s
) WHERE rk <= {TFIDF_TOP_K}
"""


@query("tfidf_top_terms", oracle=TFIDF_ORACLE)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per source by TF-IDF (term frequency
    within the source × ln(N/df) corpus rarity) — the keyword-
    extraction pass that labels what distinguishes one corpus slice
    from the rest (source profiling, drift triage, topic naming).

    Scale: the token explode feeds two map-side-combined aggregates —
    (source, term) counts and per-term distinct-doc counts (in-doc
    dedup via the distinct aggregate's partial collapse); N is one
    control-plane count (the BM25 idf-literal pattern); the tf⋈df join
    and the per-source rank run on VOCABULARY-sized relations, with
    rank ≤ k lowering to WindowGroupLimit.
    """
    docs = Catalog(spark, sf_dir).documents
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), "[^a-z0-9]+")
        ).alias("term"),
    ).where(F.col("term") != "")
    n = docs.count()
    tf = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_rel = toks.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    s = tf.join(df_rel, "term").select(
        "source",
        "term",
        "tf",
        "df",
        F.round(
            F.col("tf") * F.log(F.lit(float(n)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        s.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TFIDF_TOP_K)
        .drop("rk")
    )


# --------------------------------------------------------------------------
# HTML / boilerplate extraction: the web-curation stage before quality
# scoring and dedup (VERDICT r7 #5)
# --------------------------------------------------------------------------

# synthetic-page scaffold shared by the query and the oracle: a nav bar
# (pure links — boilerplate), a short heading (under the token floor),
# the document body, an entity-bearing notice line (kept; exercises the
# decoder), and a link-heavy footer (boilerplate)
_HTML_NAV = (
    '<nav><a href="/">Home</a> <a href="/about">About</a>'
    ' <a href="/contact">Contact</a></nav>'
)
_HTML_NOTICE = (
    "<p>Legal &amp; editorial notices use &lt;tags&gt; and"
    " &quot;quoted&quot; text carefully here</p>"
)
_HTML_FOOTER = (
    '<footer><a href="/tos">Terms</a> <a href="/privacy">Privacy</a>'
    " <span>&#169;</span></footer>"
)

HTML_EXTRACT_ORACLE = f"""
WITH page AS (
  SELECT doc_id,
         concat_ws(chr(10),
           '{_HTML_NAV.replace("'", "''")}',
           '<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>',
           '<p>' || text || '</p>',
           '{_HTML_NOTICE.replace("'", "''")}',
           '{_HTML_FOOTER.replace("'", "''")}') AS html
  FROM documents
),
per AS (
  SELECT doc_id,
    list_transform(string_split(html, chr(10)), l -> struct_pack(
      s := trim(regexp_replace(regexp_replace(l, '<[^>]+>', ' ', 'g'),
                               ' +', ' ', 'g')),
      t := CASE WHEN trim(regexp_replace(regexp_replace(l, '<[^>]+>', ' ', 'g'),
                                         ' +', ' ', 'g')) = '' THEN 0
                ELSE len(string_split(
                  trim(regexp_replace(regexp_replace(l, '<[^>]+>', ' ', 'g'),
                                      ' +', ' ', 'g')), ' ')) END,
      k := (length(l) - length(replace(l, '<a ', ''))) // 3
    )) AS ps
  FROM page
),
agg AS (
  SELECT doc_id, ps,
         list_filter(ps, p -> p.t >= 5 AND p.k * 3 <= p.t) AS kept
  FROM per
),
txt AS (
  SELECT doc_id, ps, kept,
    replace(replace(replace(replace(replace(replace(
      array_to_string(list_transform(kept, p -> p.s), chr(10)),
      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
      '&nbsp;', ' '), '&amp;', '&') AS extracted
  FROM agg
)
SELECT doc_id,
       CAST(len(ps) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept,
       CAST(coalesce(list_sum(list_transform(ps, p -> p.k)), 0) AS BIGINT)
         AS n_links,
       CAST(length(extracted) AS BIGINT) AS extracted_len,
       md5(extracted) AS extracted_md5
FROM txt
"""


@query("html_extract_clean", oracle=HTML_EXTRACT_ORACLE)
def html_extract_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → clean text extraction (``operators/text.py
    html_extract``): per synthetic page — nav bar, short heading,
    document body, entity-bearing notice, link-heavy footer — strip
    tags, drop boilerplate lines by the link-density (links·3 > tokens)
    and length (< 5 tokens) rules, decode entities, and report
    (line/kept/link counts, extracted length, extracted md5). The nav,
    heading, and footer must be dropped and the body + notice kept —
    the md5 pins the exact extracted text against the oracle's
    independent list-function formulation.

    The page is BUILT inside the query (deterministic scaffold around
    the real document text) because the corpus tables ship clean text;
    the extraction operator — the thing under test — sees only the
    html column and is the same expression a raw-HTML source column
    would get.

    Scale: scan-side projection end to end (build + extract in one
    pass, no shuffle, no UDF); the HOF lambdas are interpreted but
    row-local — the plan is a single WholeStageCodegen scan feeding
    the interpreted array block.
    """
    from ..operators.text import html_extract

    docs = Catalog(spark, sf_dir).documents
    html = F.concat_ws(
        "\n",
        F.lit(_HTML_NAV),
        F.concat(F.lit("<h1>Doc "), F.col("doc_id").cast("string"), F.lit("</h1>")),
        F.concat(F.lit("<p>"), F.col("text"), F.lit("</p>")),
        F.lit(_HTML_NOTICE),
        F.lit(_HTML_FOOTER),
    )
    ex = html_extract(html)
    return docs.select(F.col("doc_id"), ex.alias("__ex")).select(
        "doc_id",
        F.col("__ex.n_lines").alias("n_lines"),
        F.col("__ex.n_kept").alias("n_kept"),
        F.col("__ex.n_links").alias("n_links"),
        F.length("__ex.text").cast("long").alias("extracted_len"),
        F.md5(F.col("__ex.text").cast("binary")).alias("extracted_md5"),
    )


# --------------------------------------------------------------------------
# Document novelty: what fraction of a document's distinct trigrams
# appears in NO other document — the memorization/duplication-pressure
# metric curation teams track next to dedup (a low-novelty doc is
# boilerplate or a near-copy even when no single pair crosses the dedup
# threshold). Trigrams travel as 60-bit md5-prefix keys (the span-dup
# convention — 8-byte shuffle rows; collisions merge identically on
# both engines).
# --------------------------------------------------------------------------

DOC_NOVELTY_ORACLE = """
WITH words AS MATERIALIZED (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents
),
tg AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         CAST('0x' || substr(md5(w[CAST(t.i AS INT)] || ' '
              || w[CAST(t.i AS INT) + 1] || ' '
              || w[CAST(t.i AS INT) + 2]), 1, 15) AS BIGINT) AS tgh
  FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
),
freq AS MATERIALIZED (
  SELECT tgh, COUNT(*) AS n_docs FROM tg GROUP BY 1
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_trigrams,
       CAST(SUM(CASE WHEN f.n_docs = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unique,
       ROUND(CAST(SUM(CASE WHEN f.n_docs = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
FROM tg t JOIN freq f USING (tgh)
GROUP BY 1
"""


@query("doc_novelty_score", oracle=DOC_NOVELTY_ORACLE)
def doc_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: distinct trigrams, how many of them occur
    in no other document (n_docs = 1 corpus-wide — and since the
    relation is per-doc-distinct, in no other place at all), and the
    unique fraction. Documents with fewer than 3 tokens have no
    trigrams and are excluded (mirrored by the oracle's range()).

    Scale: the (doc, trigram-hash) relation is 16 B/row; the corpus-
    frequency groupBy and the doc rollup are both map-side-combined
    hash aggregates on 8-byte keys; the doc↔freq join is hash-keyed.
    Text never shuffles.
    """
    docs = Catalog(spark, sf_dir).documents
    w = F.split(F.lower(F.trim(F.col("text"))), " ")
    n = F.size(w)
    tgs = F.zip_with(
        F.zip_with(
            F.slice(w, 1, n - 2),
            F.slice(w, 2, n - 2),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
        F.slice(w, 3, n - 2),
        lambda ab, c: F.concat(ab, F.lit(" "), c),
    )
    h = F.conv(F.substring(F.md5(F.col("__tg").cast("binary")), 1, 15), 16, 10).cast(
        "long"
    )
    tg = (
        docs.where(n >= 3)
        .select("doc_id", F.explode(tgs).alias("__tg"))
        .select("doc_id", h.alias("tgh"))
        .distinct()
    )
    freq = tg.groupBy("tgh").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tg.join(freq, "tgh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.sum((F.col("n_docs") == 1).cast("long")).alias("n_unique"),
        )
        .select(
            "doc_id",
            F.col("n_trigrams").cast("bigint").alias("n_trigrams"),
            F.col("n_unique").cast("bigint").alias("n_unique"),
            F.round(
                F.col("n_unique").cast("double")
                / F.col("n_trigrams").cast("double"),
                6,
            ).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken SIGMOD 2003 — the
# MOSS algorithm; the brief's rolling-hash document fingerprinting).
# Guarantee: any shared token run of >= w + k - 1 (= 6) tokens between
# two documents shares a selected fingerprint, at ~2/(w+1) the density
# of hashing every gram. The selection (40-bit md5 gram hash, window
# argmin, rightmost tie) replays exactly in DuckDB via the same
# hash*2^20 + (2^20-1-pos) integer packing.
# ---------------------------------------------------------------------------

_WINNOW_CTES = """
toks AS (
  SELECT doc_id, list_filter(string_split(trim(text), ' '), t -> t <> '') AS tk
  FROM documents
),
base AS (SELECT doc_id, tk, len(tk) - 2 AS ng FROM toks WHERE len(tk) >= 6),
grams AS (
  SELECT doc_id, ng, i.i AS pos,
         CAST(('0x' || substr(
            md5(array_to_string(list_slice(tk, i.i, i.i + 2), ' ')), 1, 10))
          AS BIGINT) AS h
  FROM base, UNNEST(range(1, ng + 1)) AS i(i)
),
sel AS (
  SELECT DISTINCT doc_id,
         MIN(h * 1048576 + (1048575 - pos)) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS s
  FROM grams
  QUALIFY pos <= ng - 3
),
fps AS (
  SELECT doc_id, s // 1048576 AS fp_hash,
         1048575 - (s % 1048576) AS fp_pos
  FROM sel
)"""


WINNOW_PAIRS_DF_CAP = 50
WINNOW_PAIRS_TOP_K = 20

WINNOW_PAIRS_ORACLE = f"""
WITH {_WINNOW_CTES},
hcounts AS (
  SELECT fp_hash, COUNT(DISTINCT doc_id) AS df FROM fps GROUP BY 1
),
keep AS (
  SELECT DISTINCT f.doc_id, f.fp_hash
  FROM fps f JOIN hcounts c
    ON c.fp_hash = f.fp_hash AND c.df BETWEEN 2 AND {WINNOW_PAIRS_DF_CAP}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         COUNT(*) AS shared_fps
  FROM keep a JOIN keep b
    ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, CAST(shared_fps AS BIGINT) AS shared_fps
FROM pairs
ORDER BY shared_fps DESC, doc_a, doc_b
LIMIT {WINNOW_PAIRS_TOP_K}
"""


def _winnow_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df-capped top-k shared-fingerprint pair board (shared by
    doc_winnow_pairs and the exact-span verify)."""
    from ..caching import scoped_persist
    from ..operators.text import winnow_fingerprints

    docs = Catalog(spark, sf_dir).documents
    # persist the corpus fingerprint set (r12): `keep` consumes fps from
    # TWO branches (the rows themselves and the per-hash df counts), and
    # without the cache each branch re-ran the FULL corpus winnow —
    # scan + gram explode + window argmin + distinct, the heaviest
    # subtree in every pair-board consumer (guide §5: reused AND
    # expensive to recompute). The hcounts aggregate is map-side
    # combinable over the cache, so only hash-sized partials shuffle.
    fps = scoped_persist(
        winnow_fingerprints(docs).select("doc_id", "fp_hash").distinct()
    )
    # fps is already distinct on (doc_id, fp_hash): per-hash doc_ids are
    # unique, so a plain count avoids a second distinct-aggregate pass
    hcounts = fps.groupBy("fp_hash").agg(F.count(F.lit(1)).alias("df"))
    keep = scoped_persist(
        fps.join(
            hcounts.where(
                (F.col("df") >= 2) & (F.col("df") <= WINNOW_PAIRS_DF_CAP)
            ).select("fp_hash"),
            "fp_hash",
        )
    )
    a = keep.select(F.col("doc_id").alias("doc_a"), "fp_hash")
    b = keep.select(F.col("doc_id").alias("doc_b"), "fp_hash")
    # persist the ≤ top-k board itself (r11): the span verify/scrub
    # consumers reference `pairs` from THREE subtrees (ids_a, ids_b, the
    # per-pair gram match) plus a final re-join — without this the
    # whole pair-board aggregation (over the persisted `keep`) re-runs
    # once per reference. ≤ 20 rows; deterministic order-by + limit.
    return scoped_persist(
        a.join(b, "fp_hash")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .orderBy(F.col("shared_fps").desc(), "doc_a", "doc_b")
        .limit(WINNOW_PAIRS_TOP_K)
    )


@query("doc_winnow_pairs", oracle=WINNOW_PAIRS_ORACLE)
def doc_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top shared-fingerprint document pairs — MOSS-style copy/
    plagiarism detection over the winnowed layer: two documents
    sharing ANY token run of >= 6 tokens are guaranteed to collide on
    at least one fingerprint hash, so this board surfaces cross-doc
    copying that whole-document hashing (dedup_exact) and
    set-similarity (MinHash) both miss when the copied span is a small
    fraction of each document.

    Scale: pair enumeration happens only inside per-hash buckets
    DF-capped at 50 docs (WINNOW_PAIRS_DF_CAP; the stop-gram guard — a
    boilerplate gram in D docs would otherwise mint D² pairs; same
    economics as the BM25 df guard and the LSH mega-bucket reroute),
    so the join is bucket-bounded; the board lowers to
    TakeOrderedAndProject.
    """
    return _winnow_top_pairs(spark, sf_dir)


# Incremental copy-probe: batch (source='src0') fingerprints vs the
# rest-of-corpus index, hyper-common hashes excluded at build. The
# oracle replays both fingerprint sets from the same packing and
# restricts to cross pairs — fingerprint candidacy is pairwise, so the
# probe plan computes exactly that restriction without enumerating
# base-base pairs.
_WINNOW_INCR_BATCH = "src0"

WINNOW_INCR_ORACLE = f"""
WITH {_WINNOW_CTES},
dsrc AS (SELECT doc_id, source FROM documents),
basefps AS (
  SELECT DISTINCT f.doc_id, f.fp_hash
  FROM fps f JOIN dsrc d ON d.doc_id = f.doc_id
  WHERE d.source <> '{_WINNOW_INCR_BATCH}'
),
hc AS (
  SELECT fp_hash FROM basefps GROUP BY 1
  HAVING COUNT(DISTINCT doc_id) <= {WINNOW_PAIRS_DF_CAP}
),
batchfps AS (
  SELECT DISTINCT f.doc_id, f.fp_hash
  FROM fps f JOIN dsrc d ON d.doc_id = f.doc_id
  WHERE d.source = '{_WINNOW_INCR_BATCH}'
),
probe AS (
  SELECT b.doc_id AS batch_doc, a.doc_id AS base_doc, COUNT(*) AS shared_fps
  FROM batchfps b
  JOIN (SELECT f.* FROM basefps f JOIN hc USING (fp_hash)) a
    ON a.fp_hash = b.fp_hash
  GROUP BY 1, 2
)
SELECT batch_doc, base_doc, CAST(shared_fps AS BIGINT) AS shared_fps
FROM probe
ORDER BY shared_fps DESC, batch_doc, base_doc
LIMIT {WINNOW_PAIRS_TOP_K}
"""


@query("doc_winnow_incremental", oracle=WINNOW_INCR_ORACLE)
def doc_winnow_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental copy detection: the top base documents sharing
    winnowed fingerprints with a NEW batch (source='src0') — every
    batch doc that copies a ≥ 6-token run from the corpus collides
    here, with base-base pairs never enumerated (probe work ∝ batch).

    Scale: the production path is :func:`winnow_store_bucketed` —
    fp_hash-bucketed corpus index, probe join Exchange-free on the
    stored side (pytest-asserted in test_bucketing) with the
    stop-gram df-cap paid once at build. The graded form computes the
    same kept-fingerprint relation inline so the oracle can replay it;
    the plans differ only in where the base side's partitioning comes
    from (bucket layout vs exchange).
    """
    from ..caching import scoped_persist
    from ..operators.text import winnow_copies_incremental, winnow_fingerprints

    docs = Catalog(spark, sf_dir).documents
    batch = docs.where(F.col("source") == _WINNOW_INCR_BATCH)
    base = docs.where(F.col("source") != _WINNOW_INCR_BATCH)
    base_fps = scoped_persist(
        winnow_fingerprints(base).select("doc_id", "fp_hash").distinct()
    )
    hc = base_fps.groupBy("fp_hash").agg(
        F.count(F.lit(1)).alias("__df")  # base_fps already distinct
    )
    kept = base_fps.join(
        hc.where(F.col("__df") <= WINNOW_PAIRS_DF_CAP).select("fp_hash"),
        "fp_hash",
    )
    out = winnow_copies_incremental(kept, batch)
    return out.orderBy(
        F.col("shared_fps").desc(), "batch_doc", "base_doc"
    ).limit(WINNOW_PAIRS_TOP_K)


# Exact copy-span verification (VERDICT r9 #6): the pair board reports
# shared-FINGERPRINT counts; policy thresholds need true copied-span
# lengths. The oracle replays the pair selection, then the 6-gram
# diagonal-run check, on the SAME flagged pairs.
WINNOW_SPAN_ORACLE = f"""
WITH {_WINNOW_CTES},
hcounts AS (
  SELECT fp_hash, COUNT(DISTINCT doc_id) AS df FROM fps GROUP BY 1
),
keep AS (
  SELECT DISTINCT f.doc_id, f.fp_hash
  FROM fps f JOIN hcounts c
    ON c.fp_hash = f.fp_hash AND c.df BETWEEN 2 AND {WINNOW_PAIRS_DF_CAP}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         COUNT(*) AS shared_fps
  FROM keep a JOIN keep b
    ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
top AS (
  SELECT doc_a, doc_b, shared_fps FROM pairs
  ORDER BY shared_fps DESC, doc_a, doc_b
  LIMIT {WINNOW_PAIRS_TOP_K}
),
b6 AS (SELECT doc_id, tk, len(tk) - 5 AS n6 FROM toks WHERE len(tk) >= 6),
g6 AS (
  SELECT doc_id, i.i AS pos,
         CAST(('0x' || substr(
            md5(array_to_string(list_slice(tk, i.i, i.i + 5), ' ')), 1, 10))
          AS BIGINT) AS gh
  FROM b6, UNNEST(range(1, n6 + 1)) AS i(i)
),
m AS (
  SELECT DISTINCT t.doc_a, t.doc_b, a.pos AS pa, b.pos AS pb
  FROM top t
  JOIN g6 a ON a.doc_id = t.doc_a
  JOIN g6 b ON b.doc_id = t.doc_b AND b.gh = a.gh
),
chains AS (
  SELECT doc_a, doc_b, COUNT(*) AS chain
  FROM (
    SELECT doc_a, doc_b, pa - pb AS d, pa,
           pa - ROW_NUMBER() OVER (
             PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS grp
    FROM m
  )
  GROUP BY doc_a, doc_b, d, grp
),
runs AS (
  SELECT doc_a, doc_b, MAX(chain) + 5 AS longest
  FROM chains GROUP BY 1, 2
)
SELECT t.doc_a, t.doc_b, CAST(t.shared_fps AS BIGINT) AS shared_fps,
       CAST(COALESCE(r.longest, 0) AS BIGINT) AS longest_run_tokens
FROM top t LEFT JOIN runs r USING (doc_a, doc_b)
"""


# Duplicate-span SCRUB PLAN oracle: the same pair board + diagonal
# runs, then victim spans (larger id cuts), gaps-and-islands interval
# merge, per-victim counts. e = pb_start + (chain + g - 1) - 1.
# pair board → diagonal runs → victim spans → gaps-and-islands merge,
# shared by the scrub PLAN and scrub APPLY oracles
_WINNOW_MERGED_CTES = f"""hcounts AS (
  SELECT fp_hash, COUNT(DISTINCT doc_id) AS df FROM fps GROUP BY 1
),
keep AS (
  SELECT DISTINCT f.doc_id, f.fp_hash
  FROM fps f JOIN hcounts c
    ON c.fp_hash = f.fp_hash AND c.df BETWEEN 2 AND {WINNOW_PAIRS_DF_CAP}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_fps
  FROM keep a JOIN keep b
    ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
top AS (
  SELECT doc_a, doc_b FROM pairs
  ORDER BY shared_fps DESC, doc_a, doc_b
  LIMIT {WINNOW_PAIRS_TOP_K}
),
b6 AS (SELECT doc_id, tk, len(tk) - 5 AS n6 FROM toks WHERE len(tk) >= 6),
g6 AS (
  SELECT doc_id, i.i AS pos,
         CAST(('0x' || substr(
            md5(array_to_string(list_slice(tk, i.i, i.i + 5), ' ')), 1, 10))
          AS BIGINT) AS gh
  FROM b6, UNNEST(range(1, n6 + 1)) AS i(i)
),
m AS (
  SELECT DISTINCT t.doc_a, t.doc_b, a.pos AS pa, b.pos AS pb
  FROM top t
  JOIN g6 a ON a.doc_id = t.doc_a
  JOIN g6 b ON b.doc_id = t.doc_b AND b.gh = a.gh
),
chains AS (
  SELECT doc_b, MIN(pb) AS s, MIN(pb) + COUNT(*) + 4 AS e
  FROM (
    SELECT doc_a, doc_b, pa - pb AS d, pa, pb,
           pa - ROW_NUMBER() OVER (
             PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS grp
    FROM m
  )
  GROUP BY doc_a, doc_b, d, grp
),
spans AS (SELECT DISTINCT doc_b AS doc_id, s, e FROM chains),
isl AS (
  SELECT doc_id, s, e,
         SUM(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s, e
                 ROWS UNBOUNDED PRECEDING) AS island
  FROM (
    SELECT doc_id, s, e,
           MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS prev_max
    FROM spans
  )
),
merged AS (
  SELECT doc_id, island, MIN(s) AS ms, MAX(e) AS me FROM isl GROUP BY 1, 2
)"""

WINNOW_SCRUB_ORACLE = f"""
WITH {_WINNOW_CTES},
{_WINNOW_MERGED_CTES}
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(me - ms + 1) AS BIGINT) AS tokens_to_remove
FROM merged
GROUP BY 1
ORDER BY tokens_to_remove DESC, doc_id
"""


# Scrub APPLY oracle: token-slice removal replayed from the same
# merged intervals — victims re-join their surviving tokens with
# single spaces; every other document's text passes through verbatim.
WINNOW_SCRUB_APPLY_ORACLE = f"""
WITH {_WINNOW_CTES},
{_WINNOW_MERGED_CTES},
victims AS (SELECT DISTINCT doc_id FROM merged),
kept AS (
  SELECT t.doc_id, i.i AS p, t.tk[i.i] AS tok
  FROM toks t JOIN victims v USING (doc_id),
       UNNEST(range(1, len(t.tk) + 1)) AS i(i)
  WHERE NOT EXISTS (
    SELECT 1 FROM merged m
    WHERE m.doc_id = t.doc_id AND i.i BETWEEN m.ms AND m.me)
),
rewritten AS (
  SELECT v.doc_id,
         COALESCE(string_agg(k.tok, ' ' ORDER BY k.p), '') AS new_text
  FROM victims v LEFT JOIN kept k USING (doc_id)
  GROUP BY v.doc_id
),
removed AS (SELECT doc_id, SUM(me - ms + 1) AS tr FROM merged GROUP BY 1)
SELECT d.doc_id,
       CASE WHEN r.doc_id IS NOT NULL THEN r.new_text ELSE d.text END AS text,
       CAST(COALESCE(x.tr, 0) AS BIGINT) AS tokens_removed
FROM documents d
LEFT JOIN rewritten r USING (doc_id)
LEFT JOIN removed x USING (doc_id)
ORDER BY doc_id
"""


@query("doc_winnow_span_scrub", oracle=WINNOW_SCRUB_ORACLE)
def doc_winnow_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span removal PLAN over the winnow pair board — the
    ExactSubstr-dedup shape (keep the first occurrence, cut the
    duplicated span from later docs instead of dropping them whole):
    per victim document, the merged cut intervals' count and total
    tokens to remove. Split from the rewrite itself so the plan is
    auditable (and graded) before any text changes.

    Scale: runs bounded to the top-k flagged pairs; interval merging
    is one gaps-and-islands window per victim doc (never global);
    output is victim-cardinality.
    """
    from ..operators.text import winnow_span_scrub_plan

    docs = Catalog(spark, sf_dir).documents
    pairs = _winnow_top_pairs(spark, sf_dir)
    return winnow_span_scrub_plan(docs, pairs).orderBy(
        F.col("tokens_to_remove").desc(), "doc_id"
    )


@query(
    "doc_winnow_span_scrub_apply",
    oracle=WINNOW_SCRUB_APPLY_ORACLE,
    headline=True,  # r11 flagship: the ExactSubstr-style scrub rewrite
)
def doc_winnow_span_scrub_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span removal APPLY (VERDICT r10 #1): the corpus with
    every planned cut interval actually sliced out of its victim
    document — ExactSubstr-style dedup that keeps first occurrences
    byte-identical and rewrites only the later copies, re-joining the
    surviving tokens with single spaces. Returns (doc_id, text,
    tokens_removed) over the WHOLE corpus so the oracle value-hashes
    both the rewritten victims and the untouched pass-through.

    Scale: cut intervals are victim-cardinality (bounded by the top-k
    flagged pair board); the rewrite is a native
    ``filter(tokens, (t, i) -> !exists(cuts, ...))`` array expression
    inside whole-stage codegen — zero row UDFs; the only new exchange
    joins victim cuts (tiny) onto the corpus scan. Convergence
    (re-winnowing the output finds no cross-doc run ≥ g against a
    scrubbed victim) is pytest-pinned in tests/test_training_ops.py.
    """
    from ..operators.text import winnow_span_scrub_apply

    docs = Catalog(spark, sf_dir).documents
    pairs = _winnow_top_pairs(spark, sf_dir)
    return (
        winnow_span_scrub_apply(docs, pairs)
        .select("doc_id", "text", "tokens_removed")
        .orderBy("doc_id")
    )


@query("doc_winnow_span_verify", oracle=WINNOW_SPAN_ORACLE)
def doc_winnow_span_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact longest-common-token-run verification of the winnow pair
    board: each flagged pair's ``shared_fps`` count is joined by the
    TRUE copied-span length in tokens, computed only for the ≤ top-k
    flagged pairs (the candidate-proportional verify pattern) — a pair
    sharing fingerprints through a hash collision or sub-window repeat
    verifies to 0, and policy thresholds ("reject ≥ 50 copied tokens")
    become decidable.

    Scale: gram volume ∝ flagged documents' tokens (≤ 2k docs at any
    corpus size — the board is top-k); the diagonal-run window
    partitions by (pair, diagonal), never global; everything else is
    hash joins on 8-byte keys.
    """
    from ..operators.text import winnow_span_verify

    docs = Catalog(spark, sf_dir).documents
    pairs = _winnow_top_pairs(spark, sf_dir)
    return winnow_span_verify(docs, pairs)

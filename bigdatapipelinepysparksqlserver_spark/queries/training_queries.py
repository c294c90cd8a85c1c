"""Training-data pipeline query surface — repetition filtering, packing,
token-budget mixing, PII scrubbing, benchmark decontamination.

These extend the reference's ELT capability set (SURVEY §2) with the
operations a 100 TB LLM-corpus pipeline runs between raw ingest and
training: quality gates (repetition), example prep (sequence packing),
mix control (token-budget selection), compliance
(PII scrub), and eval hygiene (n-gram decontamination). Every query has
a DuckDB oracle; the shared tokenizer is single-space word split, the
shared regex dialect is Java∩RE2.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.text import (
    EMAIL_REGEX,
    PHONE_REGEX,
    chunk_documents,
    ngram_probe_hits,
    repetition_scores,
    scrub_pii,
)
from ..sources.catalog import Catalog
from .registry import query

REPETITION_ORACLE = """
WITH words AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents
),
stats AS (
  SELECT doc_id, len(w) AS n_words,
         ROUND(CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE), 6)
           AS distinct_word_ratio
  FROM words
),
bg AS (
  SELECT doc_id, w[CAST(t.i AS INT)] || ' ' || w[CAST(t.i AS INT) + 1] AS bigram
  FROM words, UNNEST(range(1, len(w))) AS t(i)
),
bgc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram),
bgt AS (
  SELECT doc_id,
         ROUND(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
           AS top_bigram_fraction
  FROM bgc GROUP BY doc_id
)
SELECT s.doc_id, s.n_words, s.distinct_word_ratio, b.top_bigram_fraction
FROM stats s LEFT JOIN bgt b USING (doc_id)
"""


@query("text_repetition_score", oracle=REPETITION_ORACLE, headline=True)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality gate: distinct-word ratio +
    top-bigram dominance per document."""
    docs = Catalog(spark, sf_dir).documents
    return repetition_scores(docs, text_col="text", id_col="doc_id")


CHUNK_W, CHUNK_S = 32, 16


SCRUB_ORACLE = f"""
SELECT doc_id,
  len(regexp_extract_all(text, '{EMAIL_REGEX}')) AS n_emails,
  len(regexp_extract_all(text, '{PHONE_REGEX}')) AS n_phones,
  md5(regexp_replace(regexp_replace(text, '{EMAIL_REGEX}', '<EMAIL>', 'g'),
                     '{PHONE_REGEX}', '<PHONE>', 'g')) AS scrubbed_md5
FROM documents
"""


@query("scrub_pii", oracle=SCRUB_ORACLE)
def scrub_pii_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/phone redaction with per-doc hit counts (compliance gate;
    scan-speed regex, no shuffle)."""
    docs = Catalog(spark, sf_dir).documents
    return scrub_pii(docs, text_col="text", id_col="doc_id")


PROBE_N = 8

DECONTAMINATE_ORACLE = f"""
WITH probes AS (
  SELECT array_to_string((string_split(trim(text), ' '))[1:{PROBE_N}], ' ') AS probe
  FROM documents WHERE doc_id < 3
),
grams AS (
  SELECT doc_id,
         array_to_string(w[CAST(t.i AS INT) : CAST(t.i AS INT) + {PROBE_N} - 1], ' ') AS gram
  FROM (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
       UNNEST(range(1, len(w) - {PROBE_N} + 2)) AS t(i)
)
SELECT g.doc_id, COUNT(DISTINCT p.probe) AS n_probe_hits
FROM grams g JOIN probes p ON g.gram = p.probe
GROUP BY g.doc_id
"""


@query("decontaminate", oracle=DECONTAMINATE_ORACLE, headline=True)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: flag documents containing any probe
    8-gram (here: the first 8 words of docs 0-2 stand in for an eval
    set). Broadcast hash join on exploded n-grams — one corpus pass
    regardless of probe count.

    .. deprecated:: r11
        Prefer :func:`decontaminate_spans` for screening: the exact
        8-gram probe misses one-token-edited contamination that the
        winnow-based span probe catches (pytest-pinned in
        tests/test_training_ops.py). This exact form remains for
        byte-identical-leak audits, where a hit is proof, not signal.
    """
    docs = Catalog(spark, sf_dir).documents
    probes = docs.where(F.col("doc_id") < 3).select(
        F.concat_ws(
            " ", F.slice(F.split(F.trim(F.col("text")), " "), 1, PROBE_N)
        ).alias("probe")
    )
    return ngram_probe_hits(
        docs, probes, text_col="text", id_col="doc_id", n=PROBE_N
    )


SPANS_DF_CAP = 50
SPANS_TOP_K = 20

DECONT_SPANS_ORACLE = """
WITH toks AS (
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
fps AS (SELECT DISTINCT doc_id, s // 1048576 AS fp_hash FROM sel),
eval AS (SELECT doc_id AS eval_id, fp_hash FROM fps WHERE doc_id < 3),
surv AS (
  SELECT f.doc_id, f.fp_hash
  FROM fps f JOIN (SELECT DISTINCT fp_hash FROM eval) e USING (fp_hash)
),
hc AS (SELECT fp_hash FROM surv GROUP BY 1 HAVING COUNT(*) <= {cap}),
hits AS (
  SELECT s.doc_id, e.eval_id
  FROM surv s JOIN hc USING (fp_hash) JOIN eval e USING (fp_hash)
)
SELECT doc_id, eval_id, CAST(COUNT(*) AS BIGINT) AS shared_fps
FROM hits
GROUP BY 1, 2
ORDER BY shared_fps DESC, doc_id, eval_id
LIMIT {k}
""".format(cap=SPANS_DF_CAP, k=SPANS_TOP_K)


@query("decontaminate_spans", oracle=DECONT_SPANS_ORACLE, headline=True)
def decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level (fuzzy) decontamination — the winnowing upgrade of
    :func:`decontaminate`: a corpus document sharing ANY ≥ 6-token run
    with an eval item (docs 0-2 stand in for the eval set) collides on
    a winnowed fingerprint, so contamination survives edits that break
    the exact 8-gram probe (one changed token inside the probe window
    blinds ``ngram_probe_hits``; the MOSS guarantee has no such single
    point of failure — only spans shorter than w+k−1 escape).

    Scale: eval fingerprints BROADCAST (eval sets are KBs–MBs); the
    corpus is fingerprinted and probed in one pass — no corpus-wide
    shuffle before the join, and post-join rows ∝ contamination. The
    df-cap stop-gram guard (50) keeps an eval item quoting boilerplate
    from flagging the whole corpus; it is computed over join survivors
    (provably equal to the corpus df for surviving hashes), never as a
    corpus-wide frequency pass.
    """
    from ..operators.text import decontaminate_spans as _spans

    docs = Catalog(spark, sf_dir).documents
    eval_docs = docs.where(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    out = _spans(docs, eval_docs, df_cap=SPANS_DF_CAP)
    return out.orderBy(
        F.col("shared_fps").desc(), "doc_id", "eval_id"
    ).limit(SPANS_TOP_K)


# Stored-index probe twin: the oracle replays the BUILD-time stop-gram
# cap (df over the FULL corpus fps <= cap), which keeps a superset of
# the inline form's survivor-cap for eval-matching hashes — identical
# join results, as the equivalence pytest also pins.
DECONT_STORE_ORACLE = """
WITH toks AS (
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
fps AS (SELECT DISTINCT doc_id, s // 1048576 AS fp_hash FROM sel),
capped AS (
  SELECT f.doc_id, f.fp_hash
  FROM fps f JOIN (
    SELECT fp_hash FROM fps GROUP BY 1 HAVING COUNT(*) <= {cap}
  ) k USING (fp_hash)
),
eval AS (SELECT doc_id AS eval_id, fp_hash FROM fps WHERE doc_id < 3)
SELECT c.doc_id, e.eval_id, CAST(COUNT(*) AS BIGINT) AS shared_fps
FROM capped c JOIN eval e USING (fp_hash)
GROUP BY 1, 2
ORDER BY shared_fps DESC, doc_id, eval_id
LIMIT {k}
""".format(cap=SPANS_DF_CAP, k=SPANS_TOP_K)


@query("decontaminate_spans_store_probe", oracle=DECONT_STORE_ORACLE)
def decontaminate_spans_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REPEATED-USE decontamination path graded end-to-end: build
    the corpus winnow index as a bucketed catalog table (stop-gram
    df-cap paid once at build), probe the eval set's broadcast
    fingerprints against it — the same economics as bm25_store_probe:
    build-per-call dominates the graded wall, while the probe alone is
    one broadcast hash join over the stored relation, Exchange-free,
    with the corpus never re-fingerprinted across eval suites.
    """
    from ..operators.text import (
        decontaminate_spans_stored,
        winnow_store_bucketed,
    )
    from .storepaths import process_scoped_store_path

    docs = Catalog(spark, sf_dir).documents
    eval_docs = docs.where(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    # process-scoped PATH (shared tmp, swept across dead harnesses) +
    # session-scoped table name (catalogs are per-process); the table
    # is left registered so the returned plan stays lazy — the next
    # call's write_bucketed_table replaces it
    winnow_store_bucketed(
        spark, docs, "decont_span_store", df_cap=SPANS_DF_CAP,
        path=process_scoped_store_path("decont_span_store", sf_dir),
    )
    out = decontaminate_spans_stored(spark, "decont_span_store", eval_docs)
    return out.orderBy(
        F.col("shared_fps").desc(), "doc_id", "eval_id"
    ).limit(SPANS_TOP_K)


DECONT_APPLY_ORACLE = """
WITH toks AS (
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
fps AS (SELECT DISTINCT doc_id, s // 1048576 AS fp_hash FROM sel),
eval AS (SELECT doc_id AS eval_id, fp_hash FROM fps WHERE doc_id < 3),
surv AS (
  SELECT f.doc_id, f.fp_hash
  FROM fps f JOIN (SELECT DISTINCT fp_hash FROM eval) e USING (fp_hash)
),
hc AS (SELECT fp_hash FROM surv GROUP BY 1 HAVING COUNT(*) <= {cap}),
flagged AS (
  SELECT DISTINCT s.doc_id
  FROM surv s JOIN hc USING (fp_hash)
)
SELECT d.source AS source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(f.doc_id) AS BIGINT) AS n_flagged,
       CAST(COUNT(*) - COUNT(f.doc_id) AS BIGINT) AS n_surviving
FROM documents d LEFT JOIN flagged f ON f.doc_id = d.doc_id
GROUP BY 1
""".format(cap=SPANS_DF_CAP)


@query("decontaminate_spans_apply", oracle=DECONT_APPLY_ORACLE)
def decontaminate_spans_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY form of span decontamination: per-source corpus
    census after dropping every document that shares a winnowed
    fingerprint span with the eval set — the funnel report a training
    pipeline publishes next to the drop itself (the surviving corpus
    is the same anti-join without the aggregate).

    Scale: everything up to the flagged set is the decontaminate_spans
    plan (one corpus fingerprint pass, broadcast eval probe); the
    census is one left-anti-shaped aggregate keyed on 8-byte doc ids.
    """
    from ..operators.text import decontaminate_spans as _spans

    docs = Catalog(spark, sf_dir).documents
    eval_docs = docs.where(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    flagged = (
        _spans(docs, eval_docs, df_cap=SPANS_DF_CAP)
        .select("doc_id")
        .distinct()
    )
    return (
        docs.select("doc_id", "source")
        .join(flagged.withColumn("__f", F.lit(1)), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("__f").alias("n_flagged"),
            (F.count(F.lit(1)) - F.count("__f")).alias("n_surviving"),
        )
    )


PACK_BUDGET = 256

PACK_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split(trim(text), ' ') AS words,
         len(string_split(trim(text), ' ')) AS n
  FROM documents
),
c AS (
  SELECT doc_id, words, n,
         CASE WHEN n <= {CHUNK_W} THEN 1
              ELSE CAST(CEIL(CAST(n - {CHUNK_W} AS DOUBLE) / {CHUNK_S}) AS INT) + 1
         END AS n_chunks
  FROM w
),
chunks AS (
  SELECT doc_id,
         CAST(t.i AS INT) AS chunk_index,
         CAST(LEAST({CHUNK_W}, n - t.i * {CHUNK_S}) AS INT) AS chunk_tokens,
         md5(array_to_string(
               words[CAST(t.i * {CHUNK_S} + 1 AS INT) : CAST(t.i * {CHUNK_S} + {CHUNK_W} AS INT)],
               ' ')) AS chunk_md5
  FROM c, UNNEST(range(0, n_chunks)) AS t(i)
),
laid AS (
  SELECT substr(chunk_md5, 1, 1) AS shard, chunk_tokens,
         SUM(chunk_tokens) OVER (
           PARTITION BY substr(chunk_md5, 1, 1)
           ORDER BY chunk_md5, doc_id, chunk_index
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM chunks
)
SELECT shard,
       CAST(FLOOR((cum - chunk_tokens) / {PACK_BUDGET}.0) AS BIGINT) AS seq_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(chunk_tokens) AS BIGINT) AS seq_tokens
FROM laid
GROUP BY shard, seq_id
"""


@query("doc_pack_plan", oracle=PACK_ORACLE)
def doc_pack_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing plan: lay chunks out in content-addressed (md5)
    order and draw a sequence boundary every 256 tokens — the example-prep
    step that turns variable-length chunks into fixed-budget training
    sequences. Prefix-sum packing instead of best-fit keeps it one window
    per md5 shard (16^k independent shards), and the md5 ordering doubles
    as the corpus shuffle."""
    from ..operators.text import pack_chunks

    docs = Catalog(spark, sf_dir).documents
    chunks = chunk_documents(
        docs, text_col="text", id_col="doc_id", window=CHUNK_W, stride=CHUNK_S
    )
    return pack_chunks(chunks, budget=PACK_BUDGET, shard_hex_chars=1)


# Budgets straddle the per-source supply at every local SF (25 docs ×
# ~100 tokens per source at sf0.01, ~10× either way at the neighbors):
# src0 is cut mid-bucket at all SFs, src1 exhausts below budget at the
# small SFs, src2's zero budget keeps nothing, src5 is cut deep.
MIX_BUDGETS = {"src0": 800, "src1": 2500, "src2": 0, "src5": 5000}

TOKEN_BUDGET_MIX_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source,
    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
      AS tokens,
    md5('mix:' || CAST(doc_id AS VARCHAR)) AS okey
  FROM documents
  WHERE source IN ('src0', 'src1', 'src2', 'src5')
),
b (source, budget) AS (
  VALUES ('src0', 800), ('src1', 2500), ('src2', 0), ('src5', 5000)
),
c AS (
  SELECT d.doc_id, d.source, d.tokens, b.budget,
    SUM(d.tokens) OVER (PARTITION BY d.source ORDER BY d.okey, d.doc_id)
      - d.tokens AS pre
  FROM d JOIN b ON b.source = d.source
)
SELECT doc_id, source, tokens FROM c WHERE pre < budget
"""


@query("token_budget_mix", oracle=TOKEN_BUDGET_MIX_ORACLE)
def token_budget_mix_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix construction by TOKEN BUDGET: per source, keep
    documents in deterministic md5 order until the budget is filled
    (the crossing document included — coverage ≥ budget when supply
    suffices). A rate-based mix answers "keep X% of each source";
    this answers the question a data-mixing recipe
    actually states — "N billion tokens of web, M of books".

    Scale: NOT a per-source running-sum window (that serializes a 10 TB
    source through one task). Selection is split on the order key's hex
    prefix: a sources × 256 bucket-sum aggregate is prefix-summed
    driver-side, whole buckets pass/drop at the scan, and only the one
    BOUNDARY bucket per source — 1/256 of it — runs the window (see
    ``operators/sampling.py:token_budget_mix``).
    """
    from ..operators.sampling import token_budget_mix

    docs = Catalog(spark, sf_dir).documents
    return token_budget_mix(docs, MIX_BUDGETS)


LM_PROBE_DOCS = 20


# train/val/test hex boundaries: ~95.7% / ~2.0% / ~2.3% of md5 space
SPLIT_BOUNDS = (("train", "f5"), ("val", "fa"), ("test", None))


# --------------------------------------------------------------------------
# trigram LM with stupid backoff — the order-3 upgrade of the stored
# bigram gate (VERDICT r7 #7)
# --------------------------------------------------------------------------

TRIGRAM_OOV_TEXT = "zzqa zzqb zzqa zzqc zzqd"  # every trigram fully OOV

TRIGRAM_LM_STORE_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents
),
st AS (
  SELECT COUNT(u.w) AS n_tokens, COUNT(DISTINCT u.w) AS vocab
  FROM w, UNNEST(w.ws) AS u(w)
),
ctg AS (
  SELECT CAST('0x' || substr(
           md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 15) AS BIGINT)
         AS tgh
  FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i)
  WHERE len(ws) >= 3
),
c3 AS (SELECT tgh, COUNT(*) AS c3 FROM ctg GROUP BY tgh),
cbg AS (
  SELECT CAST('0x' || substr(md5(ws[i] || ' ' || ws[i+1]), 1, 15) AS BIGINT)
           AS bgh
  FROM w, UNNEST(range(1, len(ws))) AS t(i)
  WHERE len(ws) >= 2
),
c2 AS (SELECT bgh, COUNT(*) AS c2 FROM cbg GROUP BY bgh),
cug AS (
  SELECT CAST('0x' || substr(md5(u.w), 1, 15) AS BIGINT) AS ugh
  FROM w, UNNEST(w.ws) AS u(w)
),
c1 AS (SELECT ugh, COUNT(*) AS c1 FROM cug GROUP BY ugh),
batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id < {LM_PROBE_DOCS}
  UNION ALL SELECT -1 AS doc_id, '{TRIGRAM_OOV_TEXT}' AS text
  UNION ALL SELECT -2 AS doc_id, 'zzqa ' || text AS text
             FROM documents WHERE doc_id = 0
),
bw AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM batch
),
btg AS (
  SELECT doc_id,
    CAST('0x' || substr(
      md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 15) AS BIGINT)
      AS tgh,
    CAST('0x' || substr(md5(ws[i] || ' ' || ws[i+1]), 1, 15) AS BIGINT)
      AS c12h,
    CAST('0x' || substr(md5(ws[i+1] || ' ' || ws[i+2]), 1, 15) AS BIGINT)
      AS b23h,
    CAST('0x' || substr(md5(ws[i+1]), 1, 15) AS BIGINT) AS c2h,
    CAST('0x' || substr(md5(ws[i+2]), 1, 15) AS BIGINT) AS w3h
  FROM bw, UNNEST(range(1, len(ws) - 1)) AS t(i)
  WHERE len(ws) >= 3
),
m AS (
  SELECT b.doc_id,
    COALESCE(t3.c3, 0) AS c3, COALESCE(p12.c2, 0) AS c12,
    COALESCE(p23.c2, 0) AS c23, COALESCE(u2.c1, 0) AS cw2,
    COALESCE(u3.c1, 0) AS cw3
  FROM btg b
  LEFT JOIN c3 t3 ON t3.tgh = b.tgh
  LEFT JOIN c2 p12 ON p12.bgh = b.c12h
  LEFT JOIN c2 p23 ON p23.bgh = b.b23h
  LEFT JOIN c1 u2 ON u2.ugh = b.c2h
  LEFT JOIN c1 u3 ON u3.ugh = b.w3h
),
sc AS (
  SELECT doc_id,
    CASE WHEN c3 > 0 THEN 3 WHEN c23 > 0 THEN 2 ELSE 1 END AS br,
    CAST(ROUND(
      CASE
        WHEN c3 > 0 THEN log2(CAST(c3 AS DOUBLE) / CAST(c12 AS DOUBLE))
        WHEN c23 > 0 THEN log2(0.4 * (CAST(c23 AS DOUBLE)
                                      / CAST(cw2 AS DOUBLE)))
        ELSE log2(0.16000000000000003 * ((CAST(cw3 AS DOUBLE) + 1.0)
             / CAST((SELECT n_tokens + vocab FROM st) AS DOUBLE)))
      END * 1000000.0, 0) AS BIGINT) AS milli
  FROM m
)
SELECT doc_id,
  COUNT(*) AS n_trigrams,
  CAST(SUM(CASE WHEN br = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits3,
  CAST(SUM(CASE WHEN br = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff2,
  CAST(SUM(CASE WHEN br = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_floor,
  ROUND(CAST(SUM(milli) AS DOUBLE) / COUNT(*) / 1000000.0, 6) AS avg_log2p
FROM sc GROUP BY doc_id
"""


@query("trigram_lm_store_probe", oracle=TRIGRAM_LM_STORE_ORACLE)
def trigram_lm_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram LM with stupid backoff (Brants et al. 2007), stored and
    probed end to end — the order-3 upgrade of a stored bigram LM
    and the honest distributed step toward the CCNet-style 5-gram KenLM
    gate. The probe batch exercises EVERY branch: the first 20 corpus
    docs hit the trigram conditional (self-trained, every trigram
    stored), a literal all-OOV doc (-1) takes the α²·add-1 unigram
    floor, and doc 0 prefixed with one OOV token (-2) forces exactly
    one α·bigram backoff (trigram 'zzqa w1 w2' unseen, bigram 'w1 w2'
    seen) with the rest trigram hits — the per-doc branch counts
    (n_hits3/n_backoff2/n_floor) make the routing itself graded.

    Determinism: every branch is one fixed-operand-order double
    expression over exact integer counts, integer-scaled per trigram
    (round·10⁶ → BIGINT) before the order-free per-doc sum (the bigram
    family's contract, one order up — α² is spelled 0.4*0.4's exact
    double 0.16000000000000003 in BOTH engines).

    Scale: build = three hash-keyed map-side-combined counts + one
    scalar row, each hash-sorted for row-group pruning; probe =
    broadcast batch against five count relations; nothing grows with
    batch count. Build+probe per call (graded-cycle convention).
    """
    from ..operators.text import (
        build_trigram_lm_store,
        trigram_lm_score_from_store,
    )
    from .storepaths import process_scoped_store_path

    docs = Catalog(spark, sf_dir).documents
    store = process_scoped_store_path("trigram_lm_store", sf_dir)
    build_trigram_lm_store(docs, store)
    batch = (
        docs.where(F.col("doc_id") < LM_PROBE_DOCS)
        .select("doc_id", "text")
        .unionByName(
            spark.createDataFrame(
                [(-1, TRIGRAM_OOV_TEXT)], "doc_id long, text string"
            )
        )
        .unionByName(
            docs.where(F.col("doc_id") == 0).select(
                F.lit(-2).cast("long").alias("doc_id"),
                F.concat(F.lit("zzqa "), F.col("text")).alias("text"),
            )
        )
    )
    return trigram_lm_score_from_store(spark, store, batch)


# ---------------------------------------------------------------------------
# BPE tokenizer training (operators/text.py bpe_train) — an 8-round
# iterative vocabulary build replayed EXACTLY by the oracle as unrolled
# MATERIALIZED CTEs (inlined CTEs would re-expand the round chain
# exponentially — each round references the previous one several
# times; MATERIALIZED keeps the oracle linear in rounds, the same
# reason the PageRank oracle stays 3 rounds deep but this one can
# afford 8). Merge application is a literal space-padded replace —
# byte-identical semantics in Spark and DuckDB (left-to-right,
# non-overlapping, scan resumes after the replacement).
# ---------------------------------------------------------------------------

BPE_ROUNDS = 8


def _bpe_round_sql(r: int) -> str:
    prev = f"s{r - 1}"
    return f"""
p{r} AS MATERIALIZED (
  SELECT pr.a AS a, pr.b AS b, SUM(freq) AS pc
  FROM (
    SELECT freq,
           unnest(list_transform(range(1, len(l)),
                  i -> struct_pack(a := l[i], b := l[i + 1]))) AS pr
    FROM (SELECT freq, string_split(state, ' ') AS l FROM {prev})
  )
  GROUP BY 1, 2
),
m{r} AS MATERIALIZED (SELECT a, b, pc FROM p{r} ORDER BY pc DESC, a, b LIMIT 1),
s{r} AS MATERIALIZED (
  SELECT word, freq,
         trim(COALESCE(replace(' ' || state || ' ',
              ' ' || (SELECT a FROM m{r}) || ' ' || (SELECT b FROM m{r}) || ' ',
              ' ' || (SELECT a FROM m{r}) || (SELECT b FROM m{r}) || ' '),
              state)) AS state
  FROM {prev}
)"""


# the wc/s0/round CTE chain
_BPE_CTES = f"""
WITH wc AS MATERIALIZED (
  SELECT tok AS word, COUNT(*) AS freq FROM (
    SELECT unnest(string_split(trim(text), ' ')) AS tok FROM documents
  ) WHERE tok <> '' GROUP BY 1
),
s0 AS MATERIALIZED (
  SELECT word, freq, rtrim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS state
  FROM wc
),{",".join(_bpe_round_sql(r) for r in range(1, BPE_ROUNDS + 1))}
"""


BPE_VOCAB_ORACLE = _BPE_CTES + f"""
SELECT tok AS token, CAST(SUM(freq) AS BIGINT) AS corpus_count,
       CAST(COUNT(DISTINCT word) AS BIGINT) AS n_words
FROM (SELECT word, freq, unnest(string_split(state, ' ')) AS tok FROM s{BPE_ROUNDS})
GROUP BY 1 ORDER BY corpus_count DESC, token LIMIT 20
"""


def _bpe_trained(spark: SparkSession, sf_dir: str):
    from ..caching import scoped_persist
    from ..operators.text import bpe_train, word_counts

    docs = Catalog(spark, sf_dir).documents
    wc = scoped_persist(word_counts(docs))
    return bpe_train(wc, BPE_ROUNDS)


@query("bpe_vocab_top", oracle=BPE_VOCAB_ORACLE)
def bpe_vocab_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus tokens under the trained 8-merge BPE vocabulary —
    the fully distributed consumer of the merge table: the final
    segmentation state is a lazy chain of 8 literal replaces over the
    persisted dictionary, exploded and re-aggregated with exact
    integer weights. A wrong merge at ANY round changes this table, so
    the oracle transitively pins the whole training loop.
    """
    _, state = _bpe_trained(spark, sf_dir)
    return (
        state.select("word", "freq", F.explode(F.split("state", " ")).alias("token"))
        .groupBy("token")
        .agg(
            F.sum("freq").alias("corpus_count"),
            F.count_distinct("word").alias("n_words"),
        )
        .orderBy(F.desc("corpus_count"), "token")
        .limit(20)
    )

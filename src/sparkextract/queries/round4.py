"""Round-4 operators: eval-set decontamination, the deterministic
analogs of the reference's last two RAG behaviors (citation assembly,
query expansion), the driver-visible manifest-state query, and the
end-to-end extract->quality->dedup corpus-clean composition.

Shared discipline (queries/base.py): md5-derived pseudo-randomness,
ROUND(...,6) before any float compare/order, tie-breaking ORDER BY under
every LIMIT, identical aliases in both engines.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sparkextract.queries.base import load, md5_bucket, md5_bucket_sql, register, session_root

# --------------------------------------------------------------------------
# q91: N-GRAM EVAL-SET DECONTAMINATION — the benchmark-contamination
# check every serious training-data pipeline runs (the 13-gram overlap
# test popularized by GPT-3/PaLM data cards): any training document
# sharing >= 1 length-K word n-gram with an evaluation document is
# suspect; docs above a contaminated-fraction threshold are dropped.
# Reference analog: per-chunk content hashing for duplicate detection
# (/root/reference/src/rag/text_processor.py:534) applied at token-
# window grain instead of chunk grain.
#
# Corpus construction: the eval set is the md5-bucket(doc_id)%20==0
# slice of documents (deterministic, engine-portable); the training
# corpus is every other document PLUS an injected verbatim copy of each
# eval doc at doc_id+3000000 (the q68 injection pattern), so the
# operator sees both the sparse natural-collision regime (~31-token
# vocabulary => some genuine shared 13-grams) and true contamination
# (copies with contam_frac 1.0 that the keep rule must reject).
#
# Shape: k-gram generation is DOC-LOCAL (transform over sequence +
# array_join of a slice — q88's no-shuffle pair-generation lesson);
# k-grams are md5-keyed; the overlap join is an equi-join on the k-gram
# hash. Scale shape: the eval side is a benchmark suite — tiny and
# broadcast — while the corpus side only ever shuffles for the per-doc
# rollup on doc_id; nothing is quadratic and no corpus self-join exists.
_Q91_K = 13
_Q91_MAX_FRAC = 0.2
_Q91_EVAL_BUCKETS = 20

_Q91_CORPUS = f"""
  SELECT doc_id, text FROM documents
  WHERE {md5_bucket_sql("doc_id", _Q91_EVAL_BUCKETS)} <> 0
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id, text FROM documents
  WHERE {md5_bucket_sql("doc_id", _Q91_EVAL_BUCKETS)} = 0
"""

_Q91_ORACLE = f"""
WITH eval_docs AS (
  SELECT doc_id, text FROM documents
  WHERE {md5_bucket_sql("doc_id", _Q91_EVAL_BUCKETS)} = 0
),
corpus AS (
  {_Q91_CORPUS}
),
ekg AS (
  SELECT DISTINCT md5(kgram) AS kh FROM (
    SELECT unnest(list_transform(range(1, len(a) - {_Q91_K} + 2),
                  i -> array_to_string(a[i:i+{_Q91_K - 1}], ' '))) AS kgram
    FROM (SELECT list_filter(string_split(text, ' '), t -> t <> '') AS a
          FROM eval_docs)
    WHERE len(a) >= {_Q91_K})
),
ckg AS (
  SELECT DISTINCT doc_id, md5(kgram) AS kh FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(a) - {_Q91_K} + 2),
                  i -> array_to_string(a[i:i+{_Q91_K - 1}], ' '))) AS kgram
    FROM (SELECT doc_id,
                 list_filter(string_split(text, ' '), t -> t <> '') AS a
          FROM corpus)
    WHERE len(a) >= {_Q91_K})
)
SELECT c.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_kgrams,
       CAST(COUNT(e.kh) AS BIGINT) AS n_contam,
       ROUND(COUNT(e.kh) * 1.0 / COUNT(*), 6) AS contam_frac,
       (ROUND(COUNT(e.kh) * 1.0 / COUNT(*), 6) <= {_Q91_MAX_FRAC}) AS keep
FROM ckg c LEFT JOIN ekg e ON e.kh = c.kh
GROUP BY c.doc_id
"""


def _kgram_hashes(df, k: int):
    """(doc_id, text) -> (doc_id, kh): distinct md5 keys of the doc's
    word k-grams, generated doc-locally (no shuffle until the consumer's
    own agg/join)."""
    a = F.filter(F.split("text", " "), lambda t: t != F.lit(""))
    kgrams = F.when(
        F.size(a) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(a) - k + 1),
            lambda i: F.array_join(F.slice(a, i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select("doc_id", F.explode(F.array_distinct(kgrams)).alias("kgram"))
        .select("doc_id", F.md5("kgram").alias("kh"))
    )


@register("q91_ngram_decontamination", oracle=_Q91_ORACLE)
def q91_ngram_decontamination(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    is_eval = md5_bucket(F.col("doc_id"), _Q91_EVAL_BUCKETS) == 0
    eval_docs = docs.filter(is_eval)
    corpus = docs.filter(~is_eval).unionByName(
        eval_docs.select((F.col("doc_id") + 3000000).alias("doc_id"), "text")
    )
    # the eval side is a benchmark suite: tiny at any scale -> broadcast
    ekg = F.broadcast(_kgram_hashes(eval_docs, _Q91_K).select("kh").distinct())
    ckg = _kgram_hashes(corpus, _Q91_K)
    hit = ekg.withColumn("contam", F.lit(1))
    counts = (
        ckg.join(hit, "kh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kgrams"),
            F.coalesce(F.sum("contam"), F.lit(0)).cast("long").alias("n_contam"),
        )
    )
    frac = F.round(F.col("n_contam").cast("double") / F.col("n_kgrams"), 6)
    return counts.select(
        "doc_id",
        "n_kgrams",
        "n_contam",
        frac.alias("contam_frac"),
        (frac <= _Q91_MAX_FRAC).alias("keep"),
    )

# --------------------------------------------------------------------------
# q92: CITATION ASSEMBLY — the deterministic analog of the reference's
# source-attribution step (_generate_citations,
# /root/reference/src/rag/rag_pipeline.py:620-638, and _build_context's
# "Source N (filename, Page P, Type):" formatting at :587-607): the
# retrieved+reranked+budgeted chunks from q58 are ranked, hydrated from
# the documents table, and rendered as one citation row each. Field
# analogs on this corpus: filename = 'doc_<id>.pdf'; page_number the
# deterministic doc_id%40+1 (the flat corpus carries no page metadata);
# content_type = source; similarity_score = rerank_score;
# confidence_score = the repo's q47 convention least(n_chars/1000, 1).
# Scale shape: q58's output is a <=10-row context set -> every join
# here broadcasts it; the big documents table never shuffles.
_Q92_ORACLE = None  # assigned below (needs wave5's q58 oracle)


def _q92_oracle() -> str:
    from sparkextract.queries.wave5 import _Q58_ORACLE

    return f"""
WITH retrieved AS (
  {_Q58_ORACLE}
),
ranked AS (
  SELECT vec_id, rerank_score,
         CAST(ROW_NUMBER() OVER (ORDER BY rerank_score DESC, vec_id ASC) AS INT)
           AS cite_index
  FROM retrieved
)
SELECT r.cite_index,
       'doc_' || CAST(r.vec_id AS VARCHAR) || '.pdf' AS filename,
       CAST(r.vec_id % 40 + 1 AS INT) AS page_number,
       d.source AS content_type,
       r.rerank_score AS similarity_score,
       ROUND(LEAST(d.n_chars / 1000.0, 1.0), 6) AS confidence_score,
       'Source ' || CAST(r.cite_index AS VARCHAR)
         || ' (doc_' || CAST(r.vec_id AS VARCHAR) || '.pdf, Page '
         || CAST(r.vec_id % 40 + 1 AS VARCHAR) || ', ' || d.source || ')'
         AS citation
FROM ranked r JOIN documents d ON d.doc_id = r.vec_id
"""


@register("q92_citation_assembly", oracle=_q92_oracle())
def q92_citation_assembly(spark, sf_dir):
    from sparkextract.queries.wave5 import q58_retrieval_pipeline

    retrieved = q58_retrieval_pipeline(spark, sf_dir)
    w = Window.orderBy(F.desc("rerank_score"), F.asc("vec_id"))
    ranked = retrieved.select(
        "vec_id", "rerank_score", F.row_number().over(w).cast("int").alias("cite_index")
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    page = (F.col("vec_id") % 40 + 1).cast("int")
    filename = F.concat(F.lit("doc_"), F.col("vec_id").cast("string"), F.lit(".pdf"))
    return docs.join(
        F.broadcast(ranked), docs["doc_id"] == ranked["vec_id"]
    ).select(
        "cite_index",
        filename.alias("filename"),
        page.alias("page_number"),
        F.col("source").alias("content_type"),
        F.col("rerank_score").alias("similarity_score"),
        F.round(F.least(F.col("n_chars") / 1000.0, F.lit(1.0)), 6).alias(
            "confidence_score"
        ),
        F.concat(
            F.lit("Source "), F.col("cite_index").cast("string"),
            F.lit(" ("), filename, F.lit(", Page "), page.cast("string"),
            F.lit(", "), F.col("source"), F.lit(")"),
        ).alias("citation"),
    )


# --------------------------------------------------------------------------
# q93: QUERY EXPANSION — the deterministic analog of the reference's
# LLM query expansion (generate_query_expansion,
# /root/reference/src/rag/ollama_client.py:323-348): the LLM's "2-3
# alternative phrasings" become the top-2 corpus-co-occurring tokens per
# query term (presence-based document co-occurrence, df_ab desc with
# token tie-break), each appended to the original query; the original
# query rides along as variant 0 exactly like the reference's
# [original] + expansions. The q74/F8 porting pattern: deterministic
# heuristic in, LLM serving out.
# Scale shape: the query-term table is tiny -> broadcast into the
# token-presence table; the only shuffles are the (term, tok)
# co-occurrence agg and the per-term top-k window — both key-partitioned.
_Q93_QUERY = "table join window filter merge"
_Q93_TOPK = 2

_Q93_ORACLE = f"""
WITH dt AS (
  SELECT DISTINCT doc_id, t AS tok FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
  ) WHERE t != ''
),
qt AS (SELECT unnest(string_split('{_Q93_QUERY}', ' ')) AS term),
hits AS (
  SELECT q.term, d.doc_id FROM qt q JOIN dt d ON d.tok = q.term
),
co AS (
  SELECT h.term, d.tok, CAST(COUNT(*) AS BIGINT) AS df_ab
  FROM hits h JOIN dt d ON d.doc_id = h.doc_id
  WHERE d.tok <> h.term AND d.tok NOT IN (SELECT term FROM qt)
  GROUP BY h.term, d.tok
),
ranked AS (
  SELECT term, tok, df_ab,
         ROW_NUMBER() OVER (PARTITION BY term ORDER BY df_ab DESC, tok ASC) AS rk
  FROM co
)
SELECT CAST(0 AS INT) AS variant_rank, '' AS base_term, '' AS added_token,
       CAST(0 AS BIGINT) AS df_ab, '{_Q93_QUERY}' AS expanded_query
UNION ALL
SELECT CAST(rk AS INT) AS variant_rank, term AS base_term, tok AS added_token,
       df_ab, '{_Q93_QUERY} ' || tok AS expanded_query
FROM ranked WHERE rk <= {_Q93_TOPK}
"""


@register("q93_query_expansion", oracle=_Q93_ORACLE)
def q93_query_expansion(spark, sf_dir):
    from sparkextract.queries.base import checkpoint_memo

    # the token-presence table feeds BOTH the term-hit join and the
    # co-occurrence join (sibling subtrees — AQE shares no exchange
    # across them), so it is materialized once per session+input; at
    # real scale this is the inverted-index build a retrieval system
    # persists anyway
    dt = checkpoint_memo(
        spark,
        sf_dir,
        "q93_dt",
        lambda: load(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct(),
    )
    terms = _Q93_QUERY.split(" ")
    qt = F.broadcast(
        dt.sparkSession.createDataFrame([(t,) for t in terms], "term string")
    )
    hits = qt.join(dt.withColumnRenamed("tok", "term"), "term").select(
        "term", "doc_id"
    )
    co = (
        hits.join(dt, "doc_id")
        .filter(F.col("tok") != F.col("term"))
        .filter(~F.col("tok").isin(terms))
        .groupBy("term", "tok")
        .agg(F.count("*").alias("df_ab"))
    )
    w = Window.partitionBy("term").orderBy(F.desc("df_ab"), F.asc("tok"))
    ranked = (
        co.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _Q93_TOPK)
        .select(
            F.col("rk").cast("int").alias("variant_rank"),
            F.col("term").alias("base_term"),
            F.col("tok").alias("added_token"),
            "df_ab",
            F.concat(F.lit(_Q93_QUERY + " "), F.col("tok")).alias("expanded_query"),
        )
    )
    original = dt.sparkSession.createDataFrame(
        [(0, "", "", 0, _Q93_QUERY)],
        "variant_rank int, base_term string, added_token string, "
        "df_ab long, expanded_query string",
    )
    return original.unionByName(ranked)


# --------------------------------------------------------------------------
# q94: END-TO-END CORPUS CLEAN — the flagship composition: REAL
# extraction (mapInPandas over the interleaved input_hint shape, with
# q68's near-dup injection) -> token-count quality gate -> 48-bit
# simhash signatures -> banded near-dup pairs -> connected components ->
# survivor application, one driver-checked row per extracted document.
# This proves the extraction engine and the dedup family compose without
# a materialization seam: extraction output is checkpointed ONCE
# (checkpoint_memo — at real scale this is the corpus write to the
# lake) and the quality gate, signature table, and final survivor join
# all derive from that single frame; no stage collects to the driver
# (the label-propagation loop's eager label-sized checkpoints are the
# documented q71 discipline). Reference analog: the full
# extract->chunk->hash->dedup chain of
# /root/reference/src/pdf_extractor.py + src/rag/text_processor.py:534.
# Scale shape: the only corpus-payload shuffles are the banded
# signature self-join (key cardinality 6*2^8) and the bigram votes agg;
# the survivor join broadcasts the label frame (clustered nodes only, a
# tiny fraction of the corpus).
_Q94_MIN_TOKENS = 20

_Q94_EXTRACTED = """
  SELECT doc_id, text,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens
  FROM (
    SELECT doc_id, text FROM documents WHERE n_chars >= 100
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id,
           'xxxxxxxxxx' || SUBSTRING(text, 11) AS text
    FROM documents WHERE doc_id % 11 = 0 AND n_chars >= 100
  )
"""


def _q94_oracle() -> str:
    from sparkextract.queries.dedup2 import simhash_pairs_sql

    good = f"SELECT doc_id, text FROM extracted WHERE n_tokens >= {_Q94_MIN_TOKENS}"
    return f"""
WITH RECURSIVE extracted AS (
  {_Q94_EXTRACTED}
),
{simhash_pairs_sql(good)},
edges AS (
  SELECT left_id AS a, right_id AS b FROM dup_pairs
  UNION ALL
  SELECT right_id, left_id FROM dup_pairs
),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach AS (
  SELECT id, id AS lbl FROM nodes
  UNION
  SELECT e.b AS id, r.lbl FROM reach r JOIN edges e ON e.a = r.id
),
comp AS (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id)
SELECT x.doc_id,
       CAST(x.n_tokens AS BIGINT) AS n_tokens,
       CASE WHEN x.n_tokens < {_Q94_MIN_TOKENS} THEN 'dropped_quality'
            WHEN c.component IS NOT NULL AND c.component <> x.doc_id
              THEN 'dropped_dup'
            ELSE 'kept' END AS stage,
       CASE WHEN x.n_tokens < {_Q94_MIN_TOKENS} THEN NULL
            ELSE COALESCE(c.component, x.doc_id) END AS survivor_id
FROM extracted x LEFT JOIN comp c ON c.id = x.doc_id
"""


def _q94_base(spark, sf_dir):
    """Extraction output (doc_id, text, n_tokens), materialized once per
    (session, input) — the corpus-write seam a real pipeline has."""
    from sparkextract.queries.base import checkpoint_memo
    from sparkextract.queries.extraction import wrap_docs
    from sparkextract.spark.job import extract_exploded

    def build():
        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        injected = docs.filter(F.col("doc_id") % 11 == 0).select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.concat(
                F.lit("xxxxxxxxxx"), F.expr("substring(text, 11)")
            ).alias("text"),
        )
        spans = extract_exploded(wrap_docs(docs.unionByName(injected)))
        toks = F.filter(F.split("text", " "), lambda t: t != F.lit(""))
        return spans.filter(F.col("kind") == "text").select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "text",
            F.size(toks).cast("long").alias("n_tokens"),
        )

    return checkpoint_memo(spark, sf_dir, "q94_base", build)


@register("q94_corpus_clean_pipeline", oracle=_q94_oracle())
def q94_corpus_clean_pipeline(spark, sf_dir):
    from sparkextract.queries.base import checkpoint_memo, session_memo
    from sparkextract.queries.dedup2 import _simhash48_col, simhash_banded_pairs
    from sparkextract.queries.round3 import label_propagation

    base = _q94_base(spark, sf_dir)
    is_quality = F.col("n_tokens") >= _Q94_MIN_TOKENS
    good = base.filter(is_quality).select("doc_id", "text")
    # signature table materialized before the banded self-join (q68
    # lesson); derives from the checkpointed base, not a re-extraction
    sigs = checkpoint_memo(
        spark, sf_dir, "q94_sigs", lambda: _simhash48_col(good)
    )
    labels = session_memo(  # label_propagation's labels are checkpointed
        spark,
        sf_dir,
        "q94_labels",
        lambda: label_propagation(simhash_banded_pairs(sigs)),
    ).select(F.col("id").alias("l_id"), F.col("lbl").alias("component"))
    out = base.join(
        F.broadcast(labels), base["doc_id"] == labels["l_id"], "left"
    )
    stage = (
        F.when(~is_quality, F.lit("dropped_quality"))
        .when(
            F.col("component").isNotNull()
            & (F.col("component") != F.col("doc_id")),
            F.lit("dropped_dup"),
        )
        .otherwise(F.lit("kept"))
    )
    survivor = F.when(~is_quality, F.lit(None).cast("long")).otherwise(
        F.coalesce("component", "doc_id")
    )
    return out.select(
        "doc_id",
        "n_tokens",
        stage.alias("stage"),
        survivor.alias("survivor_id"),
    )


# --------------------------------------------------------------------------
# q95: MANIFEST STATE AFTER CRASH + RESUME — the S9/A9 checkpoint tier
# made driver-visible: a manifest-committed extraction run is killed
# after committing 4 of 8 buckets (fail_after_buckets — data written,
# manifest rows absent), a second run resumes via the J2 broadcast
# anti-join and commits the rest, and the query returns the winning
# manifest rollup per bucket. Reference analog: the SHA-256
# skip-if-ingested resume probe (/root/reference/src/rag/
# rag_pipeline.py:97-105) generalized to per-bucket lineage.
# The bucket function is the engine-portable md5 bucket (bucket_col
# override) so the DuckDB oracle reproduces the assignment exactly;
# span counts are SQL-derivable because the interleaved corpus has the
# q40 passthrough property (1 text span iff n_chars>=100, 1 image_ocr
# span iff doc_id%3==0, never a table span).
# Scale shape: the manifest is <= num_buckets rows per run — every
# join against it broadcasts; the only corpus-sized work is the
# extraction write itself, once per bucket across ALL runs combined
# (that is the point of the resume).
_Q95_BUCKETS = 8
_Q95_FAIL_AFTER = 4

_Q95_ORACLE = f"""
WITH b AS (
  SELECT {md5_bucket_sql("doc_id", _Q95_BUCKETS)} AS doc_id_bucket,
         n_chars, doc_id
  FROM documents
)
SELECT CAST(doc_id_bucket AS INT) AS doc_id_bucket,
       CAST(COUNT(*) AS BIGINT) AS doc_count,
       CAST(SUM(CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END
                + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS span_count,
       CAST(0 AS BIGINT) AS table_count,
       'done' AS status,
       CAST(CASE WHEN doc_id_bucket < {_Q95_FAIL_AFTER} THEN 1 ELSE 2 END AS INT)
         AS run_seq
FROM b
GROUP BY doc_id_bucket
"""

# one crash+resume simulation per (session, input): the writes land in a
# session-keyed tmp root, so repeated invocations (panel rebuilds, plan
# dumps) re-read the committed manifest instead of re-running the job
_Q95_DONE: set[tuple[str, str]] = set()


@register("q95_manifest_resume_state", oracle=_Q95_ORACLE)
def q95_manifest_resume_state(spark, sf_dir):
    import shutil

    from sparkextract.queries.extraction import interleaved_docs
    from sparkextract.spark.manifest import read_manifest, run_extraction_job

    root = session_root(spark, sf_dir, "q95")
    memo_key = (spark.sparkContext.applicationId, sf_dir)
    if memo_key not in _Q95_DONE:
        shutil.rmtree(root, ignore_errors=True)
        docs = interleaved_docs(spark, sf_dir)
        bucket = md5_bucket(F.col("doc_id"), _Q95_BUCKETS)
        run_extraction_job(
            spark, docs, root, run_id="r1", num_buckets=_Q95_BUCKETS,
            fail_after_buckets=_Q95_FAIL_AFTER, bucket_col=bucket,
        )
        run_extraction_job(
            spark, docs, root, run_id="r2", num_buckets=_Q95_BUCKETS,
            bucket_col=bucket,
        )
        _Q95_DONE.add(memo_key)
    m = read_manifest(spark, root).filter(F.col("status") == "done")
    return m.select(
        "doc_id_bucket",
        "doc_count",
        "span_count",
        "table_count",
        "status",
        F.when(F.col("job_run_id") == "r1", 1).otherwise(2).cast("int").alias(
            "run_seq"
        ),
    )


# --------------------------------------------------------------------------
# q96: C4-STYLE BLOCK-LEVEL CORPUS DEDUP — the C4 pipeline's exact
# duplicate removal at sub-document grain (C4 dedups three-sentence
# spans corpus-wide and keeps the first occurrence): the corpus is cut
# into consecutive B-token blocks, a block is KEPT iff its (doc_id,
# block_idx) is the first occurrence of its md5 across the whole corpus
# (order by doc_id, then block_idx), and each document reports its
# kept fraction plus the md5 of the reassembled kept text. Reference
# analog: chunk content-hash dedup
# (/root/reference/src/rag/text_processor.py:534) pushed from chunk
# grain down to fixed-token-block grain.
# Scale shape: block generation is doc-local (transform over the token
# array, q88's no-shuffle lesson). First-occurrence is a MAP-SIDE-
# COMBINABLE min — groupBy(block_hash).agg(min(struct(doc_id,
# block_idx, block))) — NOT a window over the content hash: on a real
# web corpus ultra-common boilerplate blocks make content-hash keys
# heavy, and a window (unlike a partial agg) shuffles EVERY row of a
# hot key to one task; the min-agg ships one partial row per map task
# regardless of how many billion times a block repeats (round-4 VERDICT
# item 1). The per-doc rollup then runs on the FIRSTS table only (one
# row per distinct block) and joins back to doc-local totals on the
# uniform doc_id key. Nothing quadratic, no hot-key concentration.
# The plan reads documents twice (PLANS.md: 2 scans) — deliberate, the
# q42 trade: the doc-local totals branch re-scans the pruned
# (doc_id, text) columns instead of materializing the exploded block
# table, because checkpointing ~1x corpus of exploded rows to executor
# storage at 100 TB costs more (storage pressure, eviction risk) than a
# second columnar scan that Parquet serves with pushdown and pruning.
_Q96_BLOCK = 8

_Q96_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS a
  FROM documents
),
blocks AS (
  SELECT doc_id, i - 1 AS block_idx,
         array_to_string(a[(i - 1) * {_Q96_BLOCK} + 1 : i * {_Q96_BLOCK}], ' ')
           AS block
  FROM toks, unnest(range(1, CAST(ceil(len(a) / {_Q96_BLOCK}.0) AS BIGINT) + 1))
         AS u(i)
),
marked AS (
  SELECT doc_id, block_idx, block,
         ROW_NUMBER() OVER (PARTITION BY md5(block)
                            ORDER BY doc_id, block_idx) = 1 AS kept
  FROM blocks
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       ROUND(SUM(CASE WHEN kept THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
         AS kept_frac,
       md5(COALESCE(string_agg(block, ' ' ORDER BY block_idx)
                      FILTER (WHERE kept), '')) AS kept_text_md5
FROM marked
GROUP BY doc_id
"""


@register("q96_block_dedup", oracle=_Q96_ORACLE)
def q96_block_dedup(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    a = F.filter(F.split("text", " "), lambda t: t != F.lit(""))
    # size==0 guard: F.sequence(1, 0) is DESCENDING in Spark (the q84
    # advice bug class) — zero-token docs must yield an empty block list
    blocks = F.when(
        F.size(a) >= 1,
        F.transform(
            F.sequence(F.lit(1), F.ceil(F.size(a) / _Q96_BLOCK).cast("int")),
            lambda i: F.array_join(
                F.slice(a, (i - 1) * _Q96_BLOCK + 1, _Q96_BLOCK), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # posexplode drops zero-token docs — matching the oracle's empty range
    exploded = docs.select(
        "doc_id", F.posexplode(blocks).alias("block_idx", "block")
    )
    # first occurrence of each block = min(struct(doc_id, block_idx)) —
    # struct comparison is lexicographic, exactly the oracle's ORDER BY
    # doc_id, block_idx; (doc_id, block_idx) is unique so the trailing
    # block field never decides. min() partial-aggregates map-side: a
    # block repeated 10^9 times contributes ONE row per map task to the
    # shuffle, where the previous row_number() window shipped all 10^9.
    firsts = (
        exploded.groupBy(F.md5("block").alias("bh"))
        .agg(F.min(F.struct("doc_id", "block_idx", "block")).alias("f"))
        .select(
            F.col("f.doc_id").alias("doc_id"),
            F.col("f.block_idx").alias("i"),
            F.col("f.block").alias("b"),
        )
    )
    # kept rollup runs on the firsts table (one row per DISTINCT block)
    kept_per_doc = firsts.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "b"))), lambda s: s["b"]
            ),
            " ",
        ).alias("kept_text"),
    )
    # doc-local totals (no shuffle until the final uniform doc_id join);
    # docs whose every block first occurred elsewhere keep n_kept=0 and
    # hash the empty string, matching the oracle's COALESCE('')
    doc_stats = docs.select(
        "doc_id", F.size(blocks).cast("long").alias("n_blocks")
    ).filter(F.col("n_blocks") >= 1)
    n_kept = F.coalesce("n_kept", F.lit(0)).cast("long")
    return doc_stats.join(kept_per_doc, "doc_id", "left").select(
        "doc_id",
        "n_blocks",
        n_kept.alias("n_kept"),
        F.round(n_kept.cast("double") / F.col("n_blocks"), 6).alias("kept_frac"),
        F.md5(F.coalesce("kept_text", F.lit(""))).alias("kept_text_md5"),
    )


# --------------------------------------------------------------------------
# q97: PII REDACTION — the scrub pass every public-web training corpus
# runs before tokenization: emails and phone-shaped strings are replaced
# by typed placeholder tags and counted per document. The corpus carries
# no natural PII, so deterministic PII is injected first (doc_id%7 adds
# an email, doc_id%13 adds a phone — the q68 injection pattern); the
# operator is the redaction itself. Patterns stay in the portable
# regex subset (character classes, +, {m,n}, \b) that Java regex (Spark)
# and RE2 (DuckDB) evaluate identically. Reference analog: the OCR
# text-clean regex chain (/root/reference/src/utils/validation.py via
# core/normalize.py:42) applied to privacy scrubbing.
# Scale shape: map-only — one scan, zero shuffles at any corpus size.
_Q97_EMAIL_RE = r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}"
_Q97_PHONE_RE = r"\b555-[0-9]{4}\b"

_Q97_CORPUS = """
  SELECT doc_id,
         text || CASE WHEN doc_id % 7 = 0
                      THEN ' contact user' || CAST(doc_id AS VARCHAR)
                           || '@example.com now'
                      ELSE '' END
              || CASE WHEN doc_id % 13 = 0
                      THEN ' call 555-' || SUBSTRING(
                             CAST(10000 + doc_id % 10000 AS VARCHAR), 2, 4)
                      ELSE '' END AS text
  FROM documents
"""

_Q97_ORACLE = f"""
WITH corpus AS (
  {_Q97_CORPUS}
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_Q97_EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_Q97_PHONE_RE}')) AS INT) AS n_phones,
       (len(regexp_extract_all(text, '{_Q97_EMAIL_RE}'))
        + len(regexp_extract_all(text, '{_Q97_PHONE_RE}'))) > 0 AS has_pii,
       md5(regexp_replace(regexp_replace(text, '{_Q97_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_Q97_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
FROM corpus
"""


@register("q97_pii_redaction", oracle=_Q97_ORACLE)
def q97_pii_redaction(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    phone4 = F.substring(
        (10000 + F.col("doc_id") % 10000).cast("string"), 2, 4
    )
    text = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 13 == 0, F.concat(F.lit(" call 555-"), phone4))
        .otherwise(F.lit("")),
    )
    n_emails = F.regexp_count(text, F.lit(_Q97_EMAIL_RE)).cast("int")
    n_phones = F.regexp_count(text, F.lit(_Q97_PHONE_RE)).cast("int")
    redacted = F.regexp_replace(
        F.regexp_replace(text, _Q97_EMAIL_RE, "<EMAIL>"), _Q97_PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        ((n_emails + n_phones) > 0).alias("has_pii"),
        F.md5(redacted).alias("redacted_md5"),
    )


# --------------------------------------------------------------------------
# q98: DOMAIN-LEVEL FILTERING + ROLLUP — the web-pipeline step that
# scores and gates whole domains (spam/SEO domains are dropped as a
# unit, per-domain quotas cap crawl skew). Each doc carries a
# deterministic synthetic URL; the DOMAIN IS PARSED FROM THE URL STRING
# (split on '/'), never recomputed from doc_id — string parsing is the
# operator. The blocklist is the md5-bucket(domain)%11==0 slice,
# applied as a BROADCAST ANTI-JOIN (a real blocklist is a curated list,
# not a predicate). Output: per surviving domain, doc count, total
# chars, mean quality. Reference analog: content-type/min-confidence
# retrieval filters (/root/reference/src/rag/vector_store.py filters)
# lifted to domain grain.
# Scale shape: one groupBy(domain) keyed shuffle; the blocklist is a
# CURATED EXTERNAL LIST (built driver-side from the known domain
# universe, exactly how a real blocklist arrives) so the corpus is
# scanned once — deriving it from the corpus would either re-scan or
# rely on ReuseExchange firing across sibling subtrees (it doesn't
# under AQE). The anti-join broadcasts the list; at web scale
# (~millions of domains) it still broadcasts, or at worst falls back
# to a keyed join on the ALREADY-AGGREGATED domain grain, never the
# doc grain.
_Q98_DOMAINS = 97
_Q98_BLOCK_BUCKETS = 11

_Q98_URLS = f"""
  SELECT doc_id, n_chars,
         'https://site' || CAST(doc_id % {_Q98_DOMAINS} AS VARCHAR)
           || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
"""

_Q98_ORACLE = f"""
WITH urls AS (
  {_Q98_URLS}
),
parsed AS (
  SELECT doc_id, n_chars, split_part(url, '/', 3) AS domain FROM urls
),
per_domain AS (
  SELECT domain,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         ROUND(SUM(n_chars) * 1.0 / COUNT(*), 6) AS mean_chars
  FROM parsed GROUP BY domain
)
SELECT domain, n_docs, total_chars, mean_chars
FROM per_domain
WHERE {md5_bucket_sql("domain", _Q98_BLOCK_BUCKETS)} <> 0
"""


@register("q98_domain_rollup", oracle=_Q98_ORACLE)
def q98_domain_rollup(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.concat(
            F.lit("https://site"),
            (F.col("doc_id") % _Q98_DOMAINS).cast("string"),
            F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    parsed = docs.select(
        "n_chars", F.element_at(F.split("url", "/"), 3).alias("domain")
    )
    per_domain = parsed.groupBy("domain").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.sum("n_chars").cast("double") / F.count("*"), 6).alias(
            "mean_chars"
        ),
    )
    import hashlib

    blocked = [
        (d,)
        for i in range(_Q98_DOMAINS)
        for d in [f"site{i}.example.com"]
        if int(hashlib.md5(d.encode()).hexdigest()[:8], 16) % _Q98_BLOCK_BUCKETS == 0
    ]
    blocklist = spark.createDataFrame(blocked, "domain string")
    return per_domain.join(F.broadcast(blocklist), "domain", "left_anti")


# --------------------------------------------------------------------------
# q99: EXACT-SUBSTRING SELF-DEDUP — the ExactSubstr check of
# "Deduplicating Training Data Makes Language Models Better" (Lee et
# al., 2022) at K-token-window grain: a window is duplicated if the
# SAME K tokens appear in ANY OTHER document; each doc reports the
# duplicated fraction of its windows. Complements q91 (corpus vs eval
# set) with corpus vs itself. The full suffix-array construction is
# replaced by the standard scalable approximation: overlapping K-token
# window hashes + a corpus-wide document-frequency count.
# Scale shape: window generation is doc-local (stride 1, linear). The
# (doc_id, kh) window table is materialized ONCE (checkpoint_memo — the
# analog of Lee et al.'s materialized suffix/window table) and every
# aggregate derives from it:
#   n_windows per doc  = groupBy(doc_id).count()            (uniform key)
#   unique windows     = groupBy(kh).agg(count, min(doc))    (map-side
#                        combinable partial agg — a boilerplate window
#                        shared by 10^9 docs ships ONE partial row per
#                        map task, never 10^9 rows to one task)
#   n_dup per doc      = n_windows - n_uniq  (c==1 khs name their only
#                        doc via min(doc_id), so uniqueness folds back
#                        to the doc without re-shuffling the corpus)
# The previous COUNT(*) OVER (PARTITION BY kh) analytic shuffled every
# row of a hot content-hash key to a single task — the one audited plan
# that degraded on a realistically skewed corpus (round-4 VERDICT item
# 1). Nothing quadratic, no self-join, no hot-key concentration.
_Q99_K = 20
_Q99_FLAG_FRAC = 0.5

_Q99_ORACLE = f"""
WITH wk AS (
  SELECT DISTINCT doc_id, md5(kgram) AS kh FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(a) - {_Q99_K} + 2),
                  i -> array_to_string(a[i:i+{_Q99_K - 1}], ' '))) AS kgram
    FROM (SELECT doc_id,
                 list_filter(string_split(text, ' '), t -> t <> '') AS a
          FROM documents)
    WHERE len(a) >= {_Q99_K})
),
counted AS (
  SELECT doc_id, COUNT(*) OVER (PARTITION BY kh) AS n_docs FROM wk
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       ROUND(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
         AS dup_frac,
       (ROUND(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
          > {_Q99_FLAG_FRAC}) AS flagged
FROM counted
GROUP BY doc_id
"""


@register("q99_exact_substring_dedup", oracle=_Q99_ORACLE)
def q99_exact_substring_dedup(spark, sf_dir):
    from sparkextract.queries.base import checkpoint_memo

    # the window table feeds two aggregates; materialize it once instead
    # of re-tokenizing the corpus per subtree (at real scale this is the
    # window-table write every ExactSubstr pipeline performs anyway)
    wk = checkpoint_memo(
        spark,
        sf_dir,
        "q99_wk",
        lambda: _kgram_hashes(
            load(spark, sf_dir, "documents").select("doc_id", "text"), _Q99_K
        ),
    )
    n_win = wk.groupBy("doc_id").agg(F.count("*").alias("n_windows"))
    # a kh is unique iff exactly one (doc_id, kh) row exists; min(doc_id)
    # then IS that row's doc — both aggregates partial-combine map-side
    uniq_per_doc = (
        wk.groupBy("kh")
        .agg(F.count("*").alias("c"), F.min("doc_id").alias("doc_id"))
        .filter(F.col("c") == 1)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_uniq"))
    )
    n_dup = (F.col("n_windows") - F.coalesce("n_uniq", F.lit(0))).cast("long")
    frac = F.round(n_dup.cast("double") / F.col("n_windows"), 6)
    return n_win.join(uniq_per_doc, "doc_id", "left").select(
        "doc_id",
        F.col("n_windows").cast("long").alias("n_windows"),
        n_dup.alias("n_dup"),
        frac.alias("dup_frac"),
        (frac > _Q99_FLAG_FRAC).alias("flagged"),
    )


# --------------------------------------------------------------------------
# q100: SEQUENCE PACKING — the GPT-style pretraining layout pass:
# documents are concatenated into a token stream per shard and the
# stream is cut into fixed CTX-token training windows; the operator
# reports each document's position in the stream and which windows it
# spans (a doc straddling a window boundary is split across examples —
# the packing bookkeeping a data loader needs). Shard = md5 bucket of
# doc_id; within a shard the order is (n_tokens DESC, doc_id) —
# deterministic, and size-descending keeps long docs from straddling
# more windows than necessary.
# Scale shape: ONE keyed shuffle (shard) + an in-shard sort window for
# the running sum; shard count scales with the corpus so per-shard
# state is bounded. No joins, no driver state.
_Q100_CTX = 256
_Q100_SHARDS = 8

_Q100_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         {md5_bucket_sql("doc_id", _Q100_SHARDS)} AS shard,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
  FROM documents
),
pos AS (
  SELECT doc_id, CAST(shard AS INT) AS shard, CAST(n_tokens AS BIGINT) AS n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard
                             ORDER BY n_tokens DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM t WHERE n_tokens >= 1
)
SELECT doc_id, shard, n_tokens,
       CAST(cum - n_tokens AS BIGINT) AS start_pos,
       CAST((cum - n_tokens) // {_Q100_CTX} AS INT) AS first_window,
       CAST((cum - 1) // {_Q100_CTX} AS INT) AS last_window,
       CAST((cum - 1) // {_Q100_CTX} - (cum - n_tokens) // {_Q100_CTX} + 1 AS INT)
         AS n_windows
FROM pos
"""


@register("q100_sequence_packing", oracle=_Q100_ORACLE)
def q100_sequence_packing(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != F.lit(""))
    t = docs.select(
        "doc_id",
        md5_bucket(F.col("doc_id"), _Q100_SHARDS).cast("int").alias("shard"),
        F.size(toks).cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") >= 1)
    w = (
        Window.partitionBy("shard")
        .orderBy(F.desc("n_tokens"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    start = (cum - F.col("n_tokens")).cast("long")
    first_w = F.floor(start / _Q100_CTX).cast("int")
    last_w = F.floor((cum - 1) / _Q100_CTX).cast("int")
    return t.select(
        "doc_id",
        "shard",
        "n_tokens",
        start.alias("start_pos"),
        first_w.alias("first_window"),
        last_w.alias("last_window"),
        (last_w - first_w + 1).cast("int").alias("n_windows"),
    )


# --------------------------------------------------------------------------
# q101: LEAKAGE-SAFE TRAIN/VAL/TEST SPLIT — a naive per-doc random
# split leaks near-duplicates across the boundary (the test set scores
# inflate because a sibling of every test doc sits in train); the
# correct split assigns the WHOLE near-dup cluster one way, keyed on
# the cluster's survivor id. Reuses q71's connected components over
# the q53 banded-LSH pairs (memoized per session+input) and q78's
# md5-bucket determinism: buckets 0-7 train, 8 val, 9 test.
# Scale shape: the label frame is clustered nodes only (a tiny
# fraction of the corpus) -> broadcast left join; the split assignment
# is map-only on top.
_Q101_BUCKETS = 10

_Q101_ORACLE = None  # built below from q71's recursive-CTE components


def _q101_oracle() -> str:
    from sparkextract.queries.round3 import _Q71_ORACLE

    split_case = f"""CASE
      WHEN {md5_bucket_sql("COALESCE(c.component, e.vec_id)", _Q101_BUCKETS)} <= 7
        THEN 'train'
      WHEN {md5_bucket_sql("COALESCE(c.component, e.vec_id)", _Q101_BUCKETS)} = 8
        THEN 'val'
      ELSE 'test' END"""
    return f"""
WITH comp AS (
  SELECT vec_id, component FROM ({_Q71_ORACLE}) _c
)
SELECT e.vec_id,
       COALESCE(c.component, e.vec_id) AS cluster_id,
       (c.component IS NOT NULL) AS in_cluster,
       {split_case} AS split
FROM embeddings e
LEFT JOIN comp c ON c.vec_id = e.vec_id
"""


@register("q101_leakage_safe_split", oracle=_q101_oracle())
def q101_leakage_safe_split(spark, sf_dir):
    from sparkextract.queries.round3 import _dup_components

    labels = _dup_components(spark, sf_dir).select(
        F.col("id").alias("c_vec_id"), F.col("lbl").alias("component")
    )
    emb = load(spark, sf_dir, "embeddings")
    cluster = F.coalesce("component", "vec_id")
    b = md5_bucket(cluster, _Q101_BUCKETS)
    split = (
        F.when(b <= 7, F.lit("train")).when(b == 8, F.lit("val")).otherwise(
            F.lit("test")
        )
    )
    return emb.join(
        F.broadcast(labels), emb["vec_id"] == labels["c_vec_id"], "left"
    ).select(
        "vec_id",
        cluster.alias("cluster_id"),
        F.col("component").isNotNull().alias("in_cluster"),
        split.alias("split"),
    )


# --------------------------------------------------------------------------
# q102: INT8 EMBEDDING QUANTIZATION — the memory-scale path for
# similarity search (a 100 TB embedding store is 4x smaller at int8;
# FAISS SQ8 / pgvector halfvec ship exactly this): per-vector min/max
# scalar quantization to 8-bit codes, midpoint dequantization, and the
# top-10 neighbors ranked by QUANTIZED cosine with the exact cosine
# alongside — the ranking-degradation evidence a recall report needs.
# Reference analog: the pgvector embedding store + cosine retrieval
# (/root/reference/src/rag/vector_store.py) with the storage format
# dropped from float32 to int8.
# Determinism: codes are floor((x-min)/scale) over doubles — identical
# IEEE ops in both engines (never round(), whose tie rule differs);
# cosines fold in element order and are ROUND(...,6)-ed before the
# ORDER BY with a vec_id tie-break.
# Scale shape: quantization is map-only; the query vector broadcasts
# (1 row); top-k is TakeOrderedAndProject — the q27 no-shuffle shape.
_Q102_LEVELS = 255

_Q102_DEQ = f"""
  SELECT vec_id, label,
         CASE WHEN list_max(embedding) = list_min(embedding)
              THEN list_transform(embedding, x -> CAST(list_min(embedding) AS DOUBLE))
              ELSE list_transform(embedding, x ->
                CAST(list_min(embedding) AS DOUBLE)
                + (LEAST({_Q102_LEVELS}, GREATEST(0, floor(
                     (CAST(x AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE))
                     / ((CAST(list_max(embedding) AS DOUBLE)
                         - CAST(list_min(embedding) AS DOUBLE)) / {_Q102_LEVELS}))))
                   + 0.5)
                  * ((CAST(list_max(embedding) AS DOUBLE)
                      - CAST(list_min(embedding) AS DOUBLE)) / {_Q102_LEVELS}))
         END AS deq,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ex
  FROM embeddings
"""


def _q102_cos_sql(a: str, b: str) -> str:
    from sparkextract.queries.vector import _DIM

    def dot(u, v):
        return (
            f"list_sum(list_transform(range(1, {_DIM + 1}),"
            f" i -> {u}[i] * {v}[i]))"
        )

    return f"ROUND({dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)})), 6)"


_Q102_ORACLE = f"""
WITH deq AS (
  {_Q102_DEQ}
),
q AS (SELECT deq AS qd, ex AS qe FROM deq WHERE vec_id = 0)
SELECT d.vec_id, d.label,
       {_q102_cos_sql("d.deq", "q.qd")} AS cos_quant,
       {_q102_cos_sql("d.ex", "q.qe")} AS cos_exact
FROM deq d, q
WHERE d.vec_id != 0
ORDER BY cos_quant DESC, d.vec_id ASC
LIMIT 10
"""


def _q102_deq_col():
    lo = F.array_min("embedding").cast("double")
    hi = F.array_max("embedding").cast("double")
    scale = (hi - lo) / _Q102_LEVELS
    code = lambda x: F.least(  # noqa: E731
        F.lit(_Q102_LEVELS),
        F.greatest(F.lit(0), F.floor((x.cast("double") - lo) / scale)),
    )
    return F.when(hi == lo, F.transform("embedding", lambda x: lo)).otherwise(
        F.transform("embedding", lambda x: lo + (code(x) + 0.5) * scale)
    )


@register("q102_int8_quantization", oracle=_Q102_ORACLE)
def q102_int8_quantization(spark, sf_dir):
    from sparkextract.queries.vector import _dot, _norm

    emb = load(spark, sf_dir, "embeddings")
    deq = emb.select(
        "vec_id",
        "label",
        _q102_deq_col().alias("deq"),
        F.transform("embedding", lambda x: x.cast("double")).alias("ex"),
    )
    q = F.broadcast(
        deq.filter(F.col("vec_id") == 0).select(
            F.col("deq").alias("qd"), F.col("ex").alias("qe")
        )
    )

    def cos(a, b):
        return F.round(_dot(F.col(a), F.col(b)) / (_norm(F.col(a)) * _norm(F.col(b))), 6)

    return (
        deq.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            "vec_id",
            "label",
            cos("deq", "qd").alias("cos_quant"),
            cos("ex", "qe").alias("cos_exact"),
        )
        .orderBy(F.desc("cos_quant"), F.asc("vec_id"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# q103: SNAPSHOT DIFF (CDC) — the incremental-ingest primitive of a
# lakehouse corpus: given the previous snapshot and the current one,
# classify every doc as added / changed / unchanged by content hash and
# emit the change manifest the downstream pipeline consumes (only
# added+changed re-enter extraction — the q95 resume idea at content
# grain). The previous snapshot is simulated deterministically: docs in
# md5 bucket 0 are missing from it (-> added), docs in bucket 1 carried
# a different text (-> changed). Reference analog: the SHA-256
# skip-if-ingested probe (/root/reference/src/rag/rag_pipeline.py:97-105)
# upgraded from skip/no-skip to a three-way diff.
# Scale shape: ONE equi-join on doc_id between two corpus-sized sides —
# co-partitioned keyed shuffle (or zero shuffle when both snapshots are
# bucketed by doc_id in the lake); the hash compare is map-side.
_Q103_BUCKETS = 10

_Q103_OLD = f"""
  SELECT doc_id,
         CASE WHEN {md5_bucket_sql("doc_id", _Q103_BUCKETS)} = 1
              THEN 'stale ' || text ELSE text END AS text
  FROM documents
  WHERE {md5_bucket_sql("doc_id", _Q103_BUCKETS)} <> 0
"""

_Q103_ORACLE = f"""
WITH old AS (
  {_Q103_OLD}
)
SELECT n.doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN md5(o.text) <> md5(n.text) THEN 'changed'
            ELSE 'unchanged' END AS status,
       md5(n.text) AS content_md5,
       (o.doc_id IS NULL OR md5(o.text) <> md5(n.text)) AS needs_extraction
FROM documents n LEFT JOIN old o ON o.doc_id = n.doc_id
"""


@register("q103_snapshot_diff", oracle=_Q103_ORACLE)
def q103_snapshot_diff(spark, sf_dir):
    new = load(spark, sf_dir, "documents").select("doc_id", "text")
    b = md5_bucket(F.col("doc_id"), _Q103_BUCKETS)
    old = (
        new.filter(b != 0)
        .select(
            "doc_id",
            F.when(b == 1, F.concat(F.lit("stale "), F.col("text")))
            .otherwise(F.col("text"))
            .alias("old_text"),
        )
    )
    j = new.join(old, "doc_id", "left")
    changed = F.col("old_text").isNotNull() & (
        F.md5("old_text") != F.md5("text")
    )
    status = (
        F.when(F.col("old_text").isNull(), F.lit("added"))
        .when(changed, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        "doc_id",
        status.alias("status"),
        F.md5("text").alias("content_md5"),
        (F.col("old_text").isNull() | changed).alias("needs_extraction"),
    )


# --------------------------------------------------------------------------
# q104: BROADCAST BLOOM-FILTER PROBE — the join-pruning primitive that
# makes contamination/dedup checks cheap at 100 TB (Spark's own runtime
# row-level filtering, Iceberg bloom columns, and semi-join pushdown all
# reduce to this): the eval set's k-gram keys are folded into a 1024-bit
# Bloom filter (16 x 64-bit words, 2 md5-derived hash functions, fully
# mergeable bit_or aggregation), the filter broadcasts, and the corpus
# is probed map-side; only bloom-positive k-grams would ever reach the
# expensive exact join. The query reports per-doc bloom-positive vs
# exact-hit counts — false positives >= 0 by construction, false
# negatives exactly 0 (the test invariant of a correct Bloom filter).
# The corpus carries the q91 injected verbatim eval copies so true
# hits exist and the zero-false-negative claim is exercised.
# Reference analog: the SHA-256 ingest probe
# (/root/reference/src/rag/rag_pipeline.py:97-105) as a probabilistic
# prefilter instead of an exact lookup.
# Scale shape: filter build is a <=32-row mergeable agg over the tiny
# eval side; both probe lookups are broadcast joins on the 16-row word
# table; the exact check is the same broadcast-kh join as q91. The
# corpus shuffles only for the final doc_id rollup.
_Q104_K = 13
_Q104_BITS = 131072
_Q104_WORDS = _Q104_BITS // 64
_Q104_EVAL_BUCKETS = 20  # same eval slice as q91


def _q104_pos_sql(kh: str, j: int) -> str:
    return (
        f"CAST(('0x' || SUBSTRING(md5({kh} || ':{j}'), 1, 8)) AS UBIGINT)"
        f" % {_Q104_BITS}"
    )


_Q104_ORACLE = f"""
WITH ekh AS (
  SELECT DISTINCT md5(kgram) AS kh FROM (
    SELECT unnest(list_transform(range(1, len(a) - {_Q104_K} + 2),
                  i -> array_to_string(a[i:i+{_Q104_K - 1}], ' '))) AS kgram
    FROM (SELECT list_filter(string_split(text, ' '), t -> t <> '') AS a
          FROM documents
          WHERE {md5_bucket_sql("doc_id", _Q104_EVAL_BUCKETS)} = 0)
    WHERE len(a) >= {_Q104_K})
),
positions AS (
  SELECT {_q104_pos_sql("kh", 0)} AS pos FROM ekh
  UNION ALL
  SELECT {_q104_pos_sql("kh", 1)} AS pos FROM ekh
),
words AS (
  SELECT CAST(pos // 64 AS INT) AS w,
         bit_or(CAST(1 AS UBIGINT) << CAST(pos % 64 AS INT)) AS bits
  FROM positions GROUP BY 1
),
corpus AS (
  SELECT doc_id, text FROM documents
  WHERE {md5_bucket_sql("doc_id", _Q104_EVAL_BUCKETS)} <> 0
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id, text FROM documents
  WHERE {md5_bucket_sql("doc_id", _Q104_EVAL_BUCKETS)} = 0
),
ckh AS (
  SELECT DISTINCT doc_id, md5(kgram) AS kh FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(a) - {_Q104_K} + 2),
                  i -> array_to_string(a[i:i+{_Q104_K - 1}], ' '))) AS kgram
    FROM (SELECT doc_id,
                 list_filter(string_split(text, ' '), t -> t <> '') AS a
          FROM corpus)
    WHERE len(a) >= {_Q104_K})
),
probed AS (
  SELECT c.doc_id,
         (w0.bits IS NOT NULL
          AND (w0.bits >> CAST({_q104_pos_sql("c.kh", 0)} % 64 AS INT))
              & 1 = 1
          AND w1.bits IS NOT NULL
          AND (w1.bits >> CAST({_q104_pos_sql("c.kh", 1)} % 64 AS INT))
              & 1 = 1) AS bloom_hit,
         (e.kh IS NOT NULL) AS exact_hit
  FROM ckh c
  LEFT JOIN words w0 ON w0.w = CAST({_q104_pos_sql("c.kh", 0)} // 64 AS INT)
  LEFT JOIN words w1 ON w1.w = CAST({_q104_pos_sql("c.kh", 1)} // 64 AS INT)
  LEFT JOIN ekh e ON e.kh = c.kh
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_kgrams,
       CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom,
       CAST(SUM(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN bloom_hit AND NOT exact_hit THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_pos
FROM probed
GROUP BY doc_id
"""


def _q104_pos(kh, j: int):
    """Bit position j of key kh — the Spark twin of _q104_pos_sql."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(kh, F.lit(f":{j}"))), 1, 8), 16, 10
        ).cast("long")
        % _Q104_BITS
    )


@register("q104_bloom_filter_probe", oracle=_Q104_ORACLE)
def q104_bloom_filter_probe(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    is_eval = md5_bucket(F.col("doc_id"), _Q104_EVAL_BUCKETS) == 0
    ekh = _kgram_hashes(docs.filter(is_eval), _Q104_K).select("kh").distinct()
    # both hash positions from ONE pass over the eval keys (an unionAll
    # of two projections re-scans the eval subtree)
    positions = ekh.select(
        F.explode(
            F.array(_q104_pos(F.col("kh"), 0), _q104_pos(F.col("kh"), 1))
        ).alias("pos")
    )
    # the word is built as a signed long whose BIT PATTERN matches
    # DuckDB's UBIGINT bit_or; shift builtins need F.expr (the PySpark
    # wrappers accept only literal shift amounts)
    words = positions.groupBy(
        (F.col("pos") / 64).cast("int").alias("w")
    ).agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
        ).alias("bits")
    )
    corpus = docs.filter(~is_eval).unionByName(
        docs.filter(is_eval).select(
            (F.col("doc_id") + 3000000).alias("doc_id"), "text"
        )
    )
    ckh = (
        _kgram_hashes(corpus, _Q104_K)
        .withColumn("p0", _q104_pos(F.col("kh"), 0))
        .withColumn("p1", _q104_pos(F.col("kh"), 1))
    )
    w0 = words.select(F.col("w").alias("w0"), F.col("bits").alias("bits0"))
    w1 = words.select(F.col("w").alias("w1"), F.col("bits").alias("bits1"))
    probed = (
        ckh.join(
            F.broadcast(w0), (F.col("p0") / 64).cast("int") == F.col("w0"), "left"
        )
        .join(
            F.broadcast(w1), (F.col("p1") / 64).cast("int") == F.col("w1"), "left"
        )
        .join(F.broadcast(ekh.withColumn("exact", F.lit(1))), "kh", "left")
    )
    # unsigned shift then & 1: reads the BIT. Never %2 — a zero shift
    # leaves the sign bit set and Spark's % takes the DIVIDEND's sign,
    # so an odd NEGATIVE word gives -1, a silent false negative (bit 63
    # keys only — caught by the sf0.01 gate)
    bit0 = F.expr(
        "(shiftrightunsigned(bits0, CAST(p0 % 64 AS INT)) & 1) = 1"
    )
    bit1 = F.expr(
        "(shiftrightunsigned(bits1, CAST(p1 % 64 AS INT)) & 1) = 1"
    )
    bloom_hit = (
        F.col("bits0").isNotNull()
        & bit0
        & F.col("bits1").isNotNull()
        & bit1
    )
    exact_hit = F.col("exact").isNotNull()
    return probed.groupBy("doc_id").agg(
        F.count("*").alias("n_kgrams"),
        F.sum(F.when(bloom_hit, 1).otherwise(0)).cast("long").alias("n_bloom"),
        F.sum(F.when(exact_hit, 1).otherwise(0)).cast("long").alias("n_exact"),
        F.sum(F.when(bloom_hit & ~exact_hit, 1).otherwise(0))
        .cast("long")
        .alias("n_false_pos"),
    )


# --------------------------------------------------------------------------
# q105: DETERMINISTIC CORPUS SHUFFLE — pretraining needs the corpus in a
# reproducible pseudo-random global order, but a global ORDER BY is a
# single-sort bottleneck at 100 TB. The scalable equivalent is
# two-level: the md5 order key's HIGH BITS are the shard (so shard is a
# prefix of the global order), ranks are computed within each shard, and
# shard sizes (a <=SHARDS-row agg) are cumulated into offsets;
# global_pos = shard_offset + in-shard rank. The oracle PROVES the
# two-level result equals the true global ROW_NUMBER over the corpus.
# Scale shape: ONE corpus shuffle (keyed on shard) + an in-shard sort;
# the offset table is tiny and broadcast. No single-partition window,
# no global sort.
_Q105_SHARDS = 64
_Q105_SPAN = (1 << 32) // _Q105_SHARDS


def _q105_h_sql(col: str) -> str:
    return f"CAST(('0x' || SUBSTRING(md5(CAST({col} AS VARCHAR)), 1, 8)) AS UBIGINT)"


_Q105_ORACLE = f"""
WITH h AS (
  SELECT doc_id, {_q105_h_sql("doc_id")} AS hk FROM documents
)
SELECT doc_id,
       CAST(hk // {_Q105_SPAN} AS INT) AS shard,
       CAST(ROW_NUMBER() OVER (ORDER BY hk, doc_id) - 1 AS BIGINT)
         AS global_pos
FROM h
"""


@register("q105_deterministic_shuffle", oracle=_Q105_ORACLE)
def q105_deterministic_shuffle(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    hk = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    h = docs.select("doc_id", hk.alias("hk"), F.floor(hk / _Q105_SPAN).cast("int").alias("shard"))
    w = Window.partitionBy("shard").orderBy("hk", "doc_id")
    # the ranked frame is materialized ONCE (checkpoint_memo): its two
    # consumers (shard-size agg, offset join) are sibling subtrees, and
    # AQE does not reuse exchanges across siblings (the repo-wide q68
    # finding) — without it the corpus is scanned, shuffled, and
    # window-ranked twice. At real scale this materialization IS the
    # job's output artifact (the shuffled-corpus manifest).
    from sparkextract.queries.base import checkpoint_memo

    ranked = checkpoint_memo(
        spark,
        sf_dir,
        "q105_ranked",
        lambda: h.withColumn("rk", F.row_number().over(w).cast("long")),
    )
    # shard size == max in-shard rank: derived from ranked, no re-scan
    sizes = ranked.groupBy("shard").agg(F.max("rk").alias("cnt"))
    # <=SHARDS rows: the offset cumsum runs on the tiny aggregated grain
    wo = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select(
        "shard", F.coalesce(F.sum("cnt").over(wo), F.lit(0)).alias("offset")
    )
    return ranked.join(F.broadcast(offsets), "shard").select(
        "doc_id",
        "shard",
        (F.col("offset") + F.col("rk") - 1).alias("global_pos"),
    )


# --------------------------------------------------------------------------
# q106: INCREMENTAL EXTRACTION (CDC -> EXTRACT) — the composition the
# q103 diff exists for: ONLY docs the snapshot diff marks
# needs_extraction (added + changed) re-enter the real extraction
# pipeline; unchanged docs never leave the lake. Mirrors q94's
# composition proof for the incremental path, and the reference's
# skip-if-ingested resume (/root/reference/src/rag/rag_pipeline.py:
# 97-105) at content grain. Span counts are SQL-derivable from the q95
# passthrough property of the interleaved wrap (1 text span iff
# n_chars >= 100, 1 media span iff doc_id % 3 == 0, never a table
# span on this corpus).
# Scale shape: the diff is map-only (q103); the extraction runs over
# the needs_extraction SUBSET only; the status join is one keyed
# equi-join on doc_id. Nothing touches the unchanged majority.
_Q106_ORACLE = f"""
WITH status AS (
  SELECT doc_id,
         CASE WHEN {md5_bucket_sql("doc_id", _Q103_BUCKETS)} = 0 THEN 'added'
              ELSE 'changed' END AS status,
         n_chars
  FROM documents
  WHERE {md5_bucket_sql("doc_id", _Q103_BUCKETS)} IN (0, 1)
)
SELECT doc_id, status,
       CAST(CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END
            + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
         AS span_count
FROM status
"""


@register("q106_incremental_extraction", oracle=_Q106_ORACLE)
def q106_incremental_extraction(spark, sf_dir):
    from sparkextract.queries.extraction import wrap_docs
    from sparkextract.spark.job import extract_exploded

    diff = q103_snapshot_diff(spark, sf_dir)
    todo = diff.filter("needs_extraction").select("doc_id")
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    ext_in = docs.join(todo, "doc_id")
    spans = extract_exploded(wrap_docs(ext_in))
    counts = spans.groupBy(F.col("doc_id").cast("long").alias("doc_id")).agg(
        F.count("*").alias("span_count")
    )
    # left join from the todo list: a doc whose extraction yields ZERO
    # spans (short text, no media) still belongs in the change manifest.
    # status is functionally dependent on doc_id (the q103 bucket rule),
    # so it is re-derived map-side here instead of joining the diff a
    # second time — one fewer pass over both snapshot subtrees.
    status = F.when(
        md5_bucket(F.col("doc_id"), _Q103_BUCKETS) == 0, F.lit("added")
    ).otherwise(F.lit("changed"))
    return todo.join(counts, "doc_id", "left").select(
        "doc_id",
        status.alias("status"),
        F.coalesce("span_count", F.lit(0)).cast("long").alias("span_count"),
    )


# --------------------------------------------------------------------------
# q107: LSH PRECISION/RECALL EVAL — the quality harness every
# approximate-dedup deployment needs: banded-LSH candidate pairs (q53)
# are scored against EXACT all-pairs cosine ground truth on a bounded
# evaluation subset (the standard sampled-ground-truth protocol: exact
# all-pairs is O(S^2) and runs only on the sample, exactly like q50's
# ANN recall query set). The subset is base vec_id < 250 of q53's
# corpus INCLUDING its injected perturbed twins (+1,000,000 ids,
# first coordinate +0.25 — dedup2.py:236-247; the natural corpus has
# zero >=0.8 pairs, measured) so both precision and recall are
# exercised against real positives.
# Scale shape: the q53 candidate side keeps its banded shape; the
# exact side is a broadcast self-join of the <=S+S/7-row sample.
_Q107_SUB = 250

_Q107_ORACLE = f"""
WITH sub AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings WHERE vec_id < {_Q107_SUB}
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(range(1, 65),
           i -> CASE WHEN i = 1 THEN CAST(embedding[1] AS DOUBLE) + 0.25
                     ELSE CAST(embedding[i] AS DOUBLE) END)
  FROM embeddings WHERE vec_id % 7 = 0 AND vec_id < {_Q107_SUB}
),
truth AS (
  SELECT x.vec_id AS l, y.vec_id AS r
  FROM sub x JOIN sub y ON x.vec_id < y.vec_id
  WHERE ROUND(
    list_sum(list_transform(range(1, 65), i -> x.e[i] * y.e[i]))
    / (sqrt(list_sum(list_transform(range(1, 65), i -> x.e[i] * x.e[i])))
     * sqrt(list_sum(list_transform(range(1, 65), i -> y.e[i] * y.e[i])))),
    6) >= 0.8
),
cand AS (
  SELECT left_id AS l, right_id AS r FROM ({{Q53}}) _q53
  WHERE left_id % 1000000 < {_Q107_SUB} AND right_id % 1000000 < {_Q107_SUB}
),
hit AS (SELECT t.l, t.r FROM truth t JOIN cand c ON t.l = c.l AND t.r = c.r)
SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
       CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
       CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_hit,
       ROUND((SELECT COUNT(*) FROM hit) * 1.0
             / GREATEST((SELECT COUNT(*) FROM cand), 1), 6) AS precision,
       ROUND((SELECT COUNT(*) FROM hit) * 1.0
             / GREATEST((SELECT COUNT(*) FROM truth), 1), 6) AS recall
"""


def _q107_oracle() -> str:
    from sparkextract.queries.dedup2 import _Q53_ORACLE

    return _Q107_ORACLE.replace("{Q53}", _Q53_ORACLE)


@register("q107_lsh_recall_eval", oracle=_q107_oracle())
def q107_lsh_recall_eval(spark, sf_dir):
    from sparkextract.queries.dedup2 import (
        _banded_corpus,
        q53_banded_lsh_near_dup,
    )
    from sparkextract.queries.vector import _dot, _norm

    sub = _banded_corpus(spark, sf_dir).filter(
        F.col("vec_id") % 1000000 < _Q107_SUB
    )
    x = sub.select(F.col("vec_id").alias("l"), F.col("e").alias("ex"))
    y = sub.select(F.col("vec_id").alias("r"), F.col("e").alias("ey"))
    cos = F.round(
        _dot(F.col("ex"), F.col("ey")) / (_norm(F.col("ex")) * _norm(F.col("ey"))),
        6,
    )
    # the three count aggregates below each re-evaluate their subtree
    # (hit references both), so the sample-sized truth and candidate
    # frames are materialized once (checkpoint_memo)
    from sparkextract.queries.base import checkpoint_memo

    truth = checkpoint_memo(
        spark,
        sf_dir,
        "q107_truth",
        lambda: x.join(F.broadcast(y), F.col("l") < F.col("r"))
        .filter(cos >= 0.8)
        .select("l", "r"),
    )
    cand = checkpoint_memo(
        spark,
        sf_dir,
        "q107_cand",
        lambda: q53_banded_lsh_near_dup(spark, sf_dir)
        .filter(
            (F.col("left_id") % 1000000 < _Q107_SUB)
            & (F.col("right_id") % 1000000 < _Q107_SUB)
        )
        .select(F.col("left_id").alias("l"), F.col("right_id").alias("r")),
    )
    hit = truth.join(cand, ["l", "r"])
    counts = (
        truth.agg(F.count("*").alias("n_truth"))
        .crossJoin(cand.agg(F.count("*").alias("n_candidates")))
        .crossJoin(hit.agg(F.count("*").alias("n_hit")))
    )
    return counts.select(
        "n_truth",
        "n_candidates",
        "n_hit",
        F.round(
            F.col("n_hit").cast("double")
            / F.greatest(F.col("n_candidates"), F.lit(1)),
            6,
        ).alias("precision"),
        F.round(
            F.col("n_hit").cast("double") / F.greatest(F.col("n_truth"), F.lit(1)),
            6,
        ).alias("recall"),
    )

"""Round-5 operators: the structured-streaming tier made driver-visible
(q108 — the incremental AvailableNow drain's committed output, full-row
oracle-checked like q95 did for the manifest) and the multimodal
pseudo-OCR decode surface (q109 — binary payload -> cleaned OCR text
through ``mapInPandas``, reference src/image_extractor.py:337-549).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from sparkextract.queries.base import load, register, session_root
from sparkextract.queries.extraction import ocr_sql

# --------------------------------------------------------------------------
# q108: STREAMING INCREMENTAL EXTRACTION, DRIVER-CHECKED — two
# Trigger.AvailableNow drains over a growing file source (first the even
# half of the interleaved corpus, then the odd half lands and only IT is
# processed — the checkpoint, not a manifest, carries the resume state),
# then the exactly-once committed output is read back through the sink's
# _spark_metadata log and compared full-row against the same SQL-derived
# expectation as q40 (the passthrough property of the interleaved wrap).
# Reference analog: idempotent re-ingest (/root/reference/src/rag/
# rag_pipeline.py:97-105) as a *continuous arrival* pipeline instead of
# a rerun loop.
# Scale shape: the drain is the batch whole-doc map (zero shuffles after
# the scan); each incremental run touches only newly-arrived files, so
# steady-state cost tracks the arrival rate, never the corpus size.
_Q108_ORACLE = f"""
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'text' AS kind, text,
           CAST(NULL AS VARCHAR) AS media_ref, 0 AS offset
    FROM documents WHERE n_chars >= 100
    UNION ALL
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'image_ocr' AS kind,
           {ocr_sql("'img://' || CAST(doc_id AS VARCHAR) || '/1'")} AS text,
           'img://' || CAST(doc_id AS VARCHAR) || '/1' AS media_ref,
           CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END AS offset
    FROM documents WHERE doc_id % 3 = 0
"""

# one two-drain simulation per (session, input); repeated invocations
# (panel rebuilds, plan dumps) re-read the committed sink
_Q108_DONE: set[tuple[str, str]] = set()


@register("q108_streaming_incremental", oracle=_Q108_ORACLE)
def q108_streaming_incremental(spark, sf_dir):
    import shutil

    from sparkextract.queries.extraction import interleaved_docs
    from sparkextract.streaming.incremental import incremental_extract

    root = session_root(spark, sf_dir, "q108")
    inp = os.path.join(root, "in")
    outp = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    memo_key = (spark.sparkContext.applicationId, sf_dir)
    if memo_key not in _Q108_DONE:
        shutil.rmtree(root, ignore_errors=True)
        docs = interleaved_docs(spark, sf_dir)
        even = F.col("doc_id").cast("long") % 2 == 0
        docs.filter(even).write.parquet(inp)
        incremental_extract(spark, inp, outp, ckpt).awaitTermination()
        docs.filter(~even).write.mode("append").parquet(inp)
        incremental_extract(spark, inp, outp, ckpt).awaitTermination()
        _Q108_DONE.add(memo_key)
    # batch read honors the sink's _spark_metadata commit log: only
    # exactly-once-committed files are visible
    return spark.read.parquet(outp).select(
        "doc_id", "kind", "text", "media_ref", "offset"
    )


# --------------------------------------------------------------------------
# q109: MEDIA OCR DECODE — binary payloads -> cleaned pseudo-OCR text
# rows via the Arrow-batched ``ocr_media`` surface. The OCR engine is
# the deterministic stub (core/ocr.py) so the DuckDB oracle reproduces
# the text byte-for-byte from the payload construction; the Spark
# plumbing (map-only over scan splits, payload bytes never leave the
# reading executor, only the short text moves on) is the real shape.
# Reference analog: tesseract/easyocr OCR + whitespace cleanup,
# /root/reference/src/image_extractor.py:337-549,533-549.
_Q109_ORACLE = f"""
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           (['image','audio','video','pdf'])[(doc_id % 4) + 1] AS media_type,
           {ocr_sql("substr(text, 1, 200)")} AS ocr_text,
           CAST(29 AS INT) AS n_ocr_chars
    FROM documents
"""


@register("q109_media_ocr", oracle=_Q109_ORACLE)
def q109_media_ocr(spark, sf_dir):
    from sparkextract.queries.wave3 import _media_df
    from sparkextract.spark.multimodal import ocr_media

    out = ocr_media(_media_df(spark, sf_dir, 200))
    return out.select("media_id", "media_type", "ocr_text", "n_ocr_chars")


# --------------------------------------------------------------------------
# q110: SEMANTIC DEDUP (SemDeDup, Abbas et al. 2023, arXiv:2303.09540) —
# the cluster-then-dedup composition: k-means-style assignment of every
# embedding to its nearest centroid, then pairwise cosine ONLY within a
# cluster; a vector is a semantic duplicate when any lower-id cluster
# mate sits at cosine >= threshold (greedy first-writer-wins sweep, the
# deterministic analog of the paper's keep-one-per-tight-group rule).
# Output is the per-cluster dedup ledger the pipeline reports.
#
# Scale shape: assignment is a broadcast of k tiny centroids + a
# map-side-combinable max_by groupBy (the de-skew form, NOT a window —
# the same lesson as the round-5 q96/q99 fix); the pairwise stage is an
# equi-join keyed by cluster id, so cost is sum(|cluster|^2), bounded by
# the paper's knob: k grows with N (k ~ N / target_cluster_size), never
# all-pairs. Here k = 8 (the q46 centroid table) for a ~630-vector
# corpus; twins are injected exactly like q53 so real near-dups exist.
# Reference intent: near-identical retrieval suppression,
# /root/reference/src/rag/vector_database.py:184-189.
_Q110_THRESHOLD = 0.95


def _cos_pair_sql(a: str, b: str, dim: int) -> str:
    return (
        f"list_sum(list_transform(range(1, {dim + 1}), i -> {a}[i] * {b}[i]))"
        f" / ( sqrt(list_sum(list_transform(range(1, {dim + 1}), i -> {a}[i] * {a}[i])))"
        f"   * sqrt(list_sum(list_transform(range(1, {dim + 1}), i -> {b}[i] * {b}[i]))) )"
    )


def _q110_oracle() -> str:
    from sparkextract.queries.dedup2 import _DIM

    return f"""
    WITH corpus AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(range(1, {_DIM + 1}),
               i -> CASE WHEN i = 1 THEN CAST(embedding[1] AS DOUBLE) + 0.25
                         ELSE CAST(embedding[i] AS DOUBLE) END)
      FROM embeddings WHERE vec_id % 7 = 0
    ),
    cents AS (
      SELECT vec_id AS cent_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings WHERE vec_id BETWEEN 1 AND 8
    ),
    assign AS (
      SELECT c.vec_id, c.e, ct.cent_id AS cell
      FROM corpus c, cents ct
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY c.vec_id
        ORDER BY ROUND({_cos_pair_sql('c.e', 'ct.cv', _DIM)}, 6) DESC,
                 ct.cent_id ASC) = 1
    ),
    dups AS (
      SELECT DISTINCT b.vec_id
      FROM assign a JOIN assign b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE ROUND({_cos_pair_sql('a.e', 'b.e', _DIM)}, 6) >= {_Q110_THRESHOLD}
    )
    SELECT a.cell, COUNT(*) AS n_members, COUNT(d.vec_id) AS n_dups,
           COUNT(*) - COUNT(d.vec_id) AS n_survivors
    FROM assign a LEFT JOIN dups d ON a.vec_id = d.vec_id
    GROUP BY a.cell
    ORDER BY a.cell
    """


@register("q110_semantic_dedup", oracle=_q110_oracle())
def q110_semantic_dedup(spark, sf_dir):
    from sparkextract.queries.base import checkpoint_memo
    from sparkextract.queries.dedup2 import _banded_corpus, _dot, _norm

    def build_assign():
        corpus = _banded_corpus(spark, sf_dir)
        cents = (
            load(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id").between(1, 8))
            .select(
                F.col("vec_id").alias("cent_id"),
                F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
            )
        )
        ccos = F.round(
            _dot(F.col("e"), F.col("cv")) / (_norm(F.col("e")) * _norm(F.col("cv"))), 6
        )
        # argmax via map-side-combinable max_by (ROUND-6 score, cent_id
        # asc tie-break = max of (ccos, -cent_id)), not a window over
        # vec_id
        return (
            corpus.crossJoin(F.broadcast(cents))
            .withColumn("ccos", ccos)
            .groupBy("vec_id")
            .agg(
                F.max_by(
                    F.col("cent_id"),
                    F.struct(F.col("ccos").alias("c"), (-F.col("cent_id")).alias("t")),
                ).alias("cell"),
                F.first("e").alias("e"),
            )
        )

    # The assignment table feeds three subtrees (pair-join left/right +
    # the ledger join); materialize it ONCE (at real scale this is the
    # cluster-assignment write every SemDeDup implementation persists
    # before the within-cluster pass).
    assign = checkpoint_memo(spark, sf_dir, "q110_assign", build_assign)
    a = assign.select(
        F.col("vec_id").alias("l"), F.col("cell").alias("cl"), F.col("e").alias("ea")
    )
    b = assign.select(
        F.col("vec_id").alias("r"), F.col("cell").alias("cr"), F.col("e").alias("eb")
    )
    pcos = F.round(
        _dot(F.col("ea"), F.col("eb")) / (_norm(F.col("ea")) * _norm(F.col("eb"))), 6
    )
    dups = (
        a.join(b, (F.col("cl") == F.col("cr")) & (F.col("l") < F.col("r")))
        .withColumn("cos", pcos)
        .filter(F.col("cos") >= _Q110_THRESHOLD)
        .select(F.col("r").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return (
        assign.join(dups, "vec_id", "left")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.count("is_dup").alias("n_dups"),
        )
        .withColumn("n_survivors", F.col("n_members") - F.col("n_dups"))
        .orderBy("cell")
    )


# --------------------------------------------------------------------------
# q111: PRODUCT QUANTIZATION + ADC TOP-K (PQ, Jegou et al. 2011, "Product
# Quantization for Nearest Neighbor Search") — the compression rung the
# ANN ladder (q27 brute -> q28/q53 LSH -> q46 IVF -> q102 int8) was
# missing: split each 64-d embedding into M=4 contiguous 16-d subspaces,
# quantize every subvector to its nearest of K=8 sub-centroids (the
# deterministic codebook = subvectors of vec_id 1..8, the same seeding
# trick as q46/q110), so a vector compresses to 4 code bytes; then
# answer a query via ASYMMETRIC DISTANCE COMPUTATION — a 4x8 lookup
# table of query-subvector-to-centroid distances, approx distance =
# sum of 4 table entries — and report the ADC top-20 with each hit
# flagged against the exact-L2 top-20 (the recall surface, like q107
# did for LSH banding).
#
# Numeric discipline: every subspace distance is scaled to BIGINT
# micro-units (ROUND(l2sq * 1e6)) the moment it is computed, so the
# ADC sum is exact integer arithmetic — no cross-engine double-sum
# ordering hazard at all (stricter than the ROUND-after-sum pattern).
#
# Scale shape: codes = one scan + one map-side-combinable argmin
# groupBy (the codebook is 32 broadcast rows); at real scale the codes
# table is the persisted index artifact (64 bytes -> 4 bytes per
# vector, the point of PQ) and queries never touch raw embeddings —
# ADC probe = broadcast 32-row lookup join + map-side-combinable sum +
# TakeOrderedAndProject. Nothing all-pairs, nothing windowed.
# Reference intent: pgvector ANN retrieval,
# /root/reference/src/rag/vector_database.py:156-189.
_Q111_M = 4
_Q111_SUB = 16
_Q111_K = 8
_Q111_TOPK = 20


def _l2sq_u(a, b):
    """Squared L2 distance between two double arrays in exact BIGINT
    micro-units (see the q111 numeric-discipline note)."""
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        * F.lit(1000000.0)
    ).cast("long")


def _l2sq_u_sql(a: str, b: str, dim: int) -> str:
    return (
        f"CAST(ROUND(list_sum(list_transform(range(1, {dim + 1}),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) * 1000000) AS BIGINT)"
    )


def _q111_oracle() -> str:
    m, sub, k, topk = _Q111_M, _Q111_SUB, _Q111_K, _Q111_TOPK
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    sub AS (
      SELECT vec_id, m, list_transform(range(1, {sub + 1}), i -> e[m*{sub} + i]) AS sv
      FROM e CROSS JOIN (SELECT UNNEST(range(0, {m})) AS m)
    ),
    cb AS (
      SELECT m, vec_id AS k, sv AS cv FROM sub WHERE vec_id BETWEEN 1 AND {k}
    ),
    codes AS (
      SELECT s.vec_id, s.m, c.k AS code,
             {_l2sq_u_sql('s.sv', 'c.cv', sub)} AS d2u
      FROM sub s JOIN cb c ON s.m = c.m
      QUALIFY ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                                 ORDER BY d2u ASC, c.k ASC) = 1
    ),
    qtab AS (
      SELECT c.m, c.k, {_l2sq_u_sql('q.sv', 'c.cv', sub)} AS qd2u
      FROM cb c JOIN sub q ON q.vec_id = 0 AND q.m = c.m
    ),
    adc AS (
      SELECT codes.vec_id, CAST(SUM(qt.qd2u) AS BIGINT) AS adc_d2u
      FROM codes JOIN qtab qt ON codes.m = qt.m AND codes.code = qt.k
      GROUP BY codes.vec_id
    ),
    exact AS (
      SELECT a.vec_id, {_l2sq_u_sql('a.e', 'q.e', sub * m)} AS exact_d2u
      FROM e a CROSS JOIN (SELECT e FROM e WHERE vec_id = 0) q
    ),
    top_adc AS (
      SELECT adc.vec_id, adc.adc_d2u, exact.exact_d2u
      FROM adc JOIN exact USING (vec_id)
      ORDER BY adc.adc_d2u, adc.vec_id LIMIT {topk}
    ),
    exact_top AS (
      SELECT vec_id, 1 AS hit FROM exact ORDER BY exact_d2u, vec_id LIMIT {topk}
    )
    SELECT t.vec_id, t.adc_d2u, t.exact_d2u,
           COALESCE(et.hit, 0) AS in_exact_topk
    FROM top_adc t LEFT JOIN exact_top et ON t.vec_id = et.vec_id
    ORDER BY t.adc_d2u, t.vec_id
    """


@register("q111_pq_adc_topk", oracle=_q111_oracle())
def q111_pq_adc_topk(spark, sf_dir):
    m, sub, k, topk = _Q111_M, _Q111_SUB, _Q111_K, _Q111_TOPK
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    subv = (
        emb.withColumn("m", F.explode(F.sequence(F.lit(0), F.lit(m - 1))))
        .withColumn("sv", F.expr(f"slice(e, m*{sub} + 1, {sub})"))
        .select("vec_id", "m", "sv")
    )
    cb = subv.filter(F.col("vec_id").between(1, k)).select(
        "m", F.col("vec_id").alias("k"), F.col("sv").alias("cv")
    )
    qsub = subv.filter(F.col("vec_id") == 0).select(
        F.col("m").alias("qm"), F.col("sv").alias("qv")
    )
    # per-(vector, subspace) argmin over the 32-row broadcast codebook —
    # map-side-combinable min_by, never a window over the corpus
    codes = (
        subv.join(F.broadcast(cb), "m")
        .withColumn("d2u", _l2sq_u(F.col("sv"), F.col("cv")))
        .groupBy("vec_id", "m")
        .agg(F.min_by("k", F.struct(F.col("d2u"), F.col("k"))).alias("code"))
    )
    # the 4x8 ADC lookup table: query subvector vs every sub-centroid
    qtab = (
        cb.join(F.broadcast(qsub), F.col("m") == F.col("qm"))
        .select("m", "k", _l2sq_u(F.col("cv"), F.col("qv")).alias("qd2u"))
    )
    adc = (
        codes.join(
            F.broadcast(qtab),
            (codes["m"] == qtab["m"]) & (codes["code"] == qtab["k"]),
        )
        .groupBy("vec_id")
        .agg(F.sum("qd2u").alias("adc_d2u"))
    )
    qvec = emb.filter(F.col("vec_id") == 0).select(F.col("e").alias("qe"))
    exact = emb.crossJoin(F.broadcast(qvec)).select(
        "vec_id", _l2sq_u(F.col("e"), F.col("qe")).alias("exact_d2u")
    )
    # cut to top-k FIRST (TakeOrderedAndProject over the corpus), then
    # annotate the 20 winners with exact distance via a broadcast join —
    # never a corpus-sized sort-merge join just to decorate the output
    top_ids = adc.orderBy("adc_d2u", "vec_id").limit(topk)
    top_adc = exact.join(F.broadcast(top_ids), "vec_id").select(
        "vec_id", "adc_d2u", "exact_d2u"
    )
    exact_top = (
        exact.orderBy("exact_d2u", "vec_id")
        .limit(topk)
        .select("vec_id", F.lit(1).alias("hit"))
    )
    return (
        top_adc.join(F.broadcast(exact_top), "vec_id", "left")
        .select(
            "vec_id",
            "adc_d2u",
            "exact_d2u",
            F.coalesce(F.col("hit"), F.lit(0)).alias("in_exact_topk"),
        )
        .orderBy("adc_d2u", "vec_id")
    )


# --------------------------------------------------------------------------
# q112: DSIR IMPORTANCE RESAMPLING — hashed-bigram importance weights
# (Xie et al. 2023, "Data Selection for Language Models via Importance
# Resampling"): estimate a target-domain feature distribution (here the
# lang='en' slice stands in for the curated target) and the raw-corpus
# distribution over B=64 md5-hashed bigram buckets, score every document
# by the log-likelihood ratio of its features under target vs raw, and
# keep the top-scoring docs. Beyond-reference training-pipeline op (the
# reference stops at extraction; this is the selection step a 100 TB
# pretraining corpus runs next).
#
# Numeric discipline: the per-bucket log-ratio is ROUND(...,6)-ed and
# frozen as DECIMAL(12,6) on the 64-row bucket table, so the per-doc
# score is an EXACT decimal sum (engine-order-independent) of
# count * ratio — the only float op is one ln over a ratio of doubles
# built from exact integer counts, each factor cast to double BEFORE
# multiplying (IEEE-identical in both engines, and immune to int64
# overflow at 10^12-token scale where a bigint product would wrap).
# Scale shape: tokenize once (checkpoint_memo), one mergeable
# (doc_id, bucket) count, bucket marginals derived FROM those counts
# (no second corpus pass), the 64-row ratio table broadcast back, and
# the final selection is TakeOrderedAndProject — no window, no
# corpus-wide sort, nothing keyed on a skewable value.
_Q112_BUCKETS = 64
_Q112_TOPK = 40

_Q112_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, list_filter(string_split(text, ' '), t -> t <> '') AS a
  FROM documents
),
inst AS (
  SELECT doc_id, lang,
    unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1])) AS bigram
  FROM toks
),
instb AS (
  SELECT doc_id, lang,
    CAST(CAST(('0x' || SUBSTRING(md5(CAST(bigram AS VARCHAR)), 1, 8)) AS UBIGINT)
         % {_Q112_BUCKETS} AS BIGINT) AS b
  FROM inst
),
docb AS (
  SELECT doc_id, lang, b, CAST(COUNT(*) AS BIGINT) AS c
  FROM instb GROUP BY doc_id, lang, b
),
raw AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cr FROM docb GROUP BY b),
tgt AS (SELECT b, CAST(SUM(c) AS BIGINT) AS ct FROM docb WHERE lang = 'en' GROUP BY b),
tot AS (
  SELECT (SELECT CAST(SUM(cr) AS BIGINT) FROM raw) AS tr,
         (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) FROM tgt) AS tt
),
lr AS (
  SELECT r.b,
    CAST(ROUND(ln(
      (CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE) * CAST(tot.tr + {_Q112_BUCKETS} AS DOUBLE))
      / (CAST(tot.tt + {_Q112_BUCKETS} AS DOUBLE) * CAST(r.cr + 1 AS DOUBLE))
    ), 6) AS DECIMAL(12,6)) AS lw
  FROM raw r LEFT JOIN tgt t USING (b) CROSS JOIN tot
)
SELECT d.doc_id, d.lang,
       CAST(SUM(d.c) AS BIGINT) AS n_features,
       CAST(SUM(d.c * l.lw) AS DOUBLE) AS dsir_weight
FROM docb d JOIN lr l USING (b)
GROUP BY d.doc_id, d.lang
ORDER BY dsir_weight DESC, d.doc_id
LIMIT {_Q112_TOPK}
"""


@register("q112_dsir_resampling", oracle=_Q112_ORACLE)
def q112_dsir_resampling(spark, sf_dir):
    from sparkextract.queries.base import checkpoint_memo, md5_bucket

    b = _Q112_BUCKETS
    # the memoized grain is the COUNTED (doc, bucket) table, not the raw
    # hashed instances: three subtrees (raw marginal, target marginal,
    # final score) reuse it, and it is bounded by docs * B rather than
    # by token count — the explode+md5 pass runs exactly once
    docb = checkpoint_memo(
        spark,
        sf_dir,
        "q112_docb",
        lambda: load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            F.filter(F.split("text", " "), lambda t: t != F.lit("")).alias("a"),
        )
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.when(
                    F.size("a") >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size("a") - 1),
                        lambda i: F.concat_ws(
                            " ", F.element_at("a", i), F.element_at("a", i + 1)
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("bigram"),
        )
        .select("doc_id", "lang", md5_bucket(F.col("bigram"), b).alias("b"))
        .groupBy("doc_id", "lang", "b")
        .agg(F.count("*").alias("c")),
    )
    # bucket marginals derive from the (doc, bucket) counts — no second
    # pass over the instance table; both are 64-row results
    raw = docb.groupBy("b").agg(F.sum("c").alias("cr"))
    tgt = (
        docb.filter(F.col("lang") == "en").groupBy("b").agg(F.sum("c").alias("ct"))
    )
    tot = (
        raw.agg(F.sum("cr").alias("tr"))
        .crossJoin(
            tgt.agg(F.coalesce(F.sum("ct"), F.lit(0).cast("long")).alias("tt"))
        )
    )
    num = (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double") * (
        F.col("tr") + b
    ).cast("double")
    den = (F.col("tt") + b).cast("double") * (F.col("cr") + 1).cast("double")
    lr = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select("b", F.round(F.log(num / den), 6).cast("decimal(12,6)").alias("lw"))
    )
    return (
        docb.join(F.broadcast(lr), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").alias("n_features"),
            F.sum(F.col("c") * F.col("lw")).cast("double").alias("dsir_weight"),
        )
        .orderBy(F.desc("dsir_weight"), "doc_id")
        .limit(_Q112_TOPK)
    )


# --------------------------------------------------------------------------
# q113: VOCABULARY COVERAGE CURVE — what fraction of all token
# occurrences the top-V most frequent types cover, at the vocab sizes a
# tokenizer-budget decision actually compares. The op behind "how big
# must the vocabulary be": token-type frequencies (one mergeable
# groupBy), the top 1024 types via TakeOrderedAndProject (count desc,
# token asc — a total order, so the 1024-boundary cut is identical in
# both engines), then the cumulative curve over that BOUNDED table
# (the single-partition window touches <= 1024 rows by construction —
# the q90 tiny-grain global-window shape, never a corpus-wide window).
_Q113_SIZES = (16, 64, 256, 1024)

_Q113_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS t FROM documents
),
tc AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM tok WHERE t <> '' GROUP BY t),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS s FROM tc),
ranked AS (
  SELECT t, c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rn FROM tc
),
top AS (SELECT * FROM ranked WHERE rn <= {max(_Q113_SIZES)})
SELECT CAST(v.vocab_size AS INT) AS vocab_size,
       CAST(SUM(top.c) AS BIGINT) AS covered_tokens,
       ROUND(CAST(SUM(top.c) AS DOUBLE) / CAST(MAX(tot.s) AS DOUBLE), 6) AS coverage
FROM (VALUES {", ".join(f"({v})" for v in _Q113_SIZES)}) AS v(vocab_size)
JOIN top ON top.rn <= v.vocab_size
CROSS JOIN tot
GROUP BY v.vocab_size
ORDER BY vocab_size
"""


@register("q113_vocab_coverage", oracle=_Q113_ORACLE)
def q113_vocab_coverage(spark, sf_dir):
    from pyspark.sql import Window

    top_n = max(_Q113_SIZES)
    tc = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count("*").alias("c"))
    )
    tot = tc.agg(F.sum("c").alias("s"))
    # bounded: orderBy+limit is TakeOrderedAndProject; the row_number
    # window then runs over <= top_n rows, not the corpus vocabulary
    top = (
        tc.orderBy(F.desc("c"), "t")
        .limit(top_n)
        .withColumn("rn", F.row_number().over(Window.orderBy(F.desc("c"), "t")))
    )
    sizes = spark.range(1).select(
        F.explode(F.array(*[F.lit(v) for v in _Q113_SIZES])).alias("vocab_size")
    )
    return (
        top.join(F.broadcast(sizes), F.col("rn") <= F.col("vocab_size"))
        .crossJoin(F.broadcast(tot))
        .groupBy("vocab_size")
        .agg(
            F.sum("c").alias("covered_tokens"),
            F.round(
                F.sum("c").cast("double") / F.max("s").cast("double"), 6
            ).alias("coverage"),
        )
        .orderBy("vocab_size")
    )


# --------------------------------------------------------------------------
# q114: SNAPSHOT TOKEN-DISTRIBUTION DRIFT — the corpus-refresh QA step
# that runs right after the q103 CDC diff: how far did the refreshed
# corpus's token distribution move from the previous snapshot's?
# Smoothed Jensen-Shannon divergence over token types (add-one over the
# union vocabulary, so no zero-probability ln), reporting the total JSD
# plus the top drift-contributing tokens. The previous snapshot is
# q103's deterministic rule (md5 bucket 0 of doc_id missing, bucket 1
# text prefixed 'stale ') so the two ops compose into one monitoring
# pipeline.
#
# Numeric discipline (the q112 pattern): shares p/q are single
# divisions of exact integer-valued doubles (IEEE-identical in both
# engines); each token's JS contribution is ROUND(...,9)-frozen as
# DECIMAL(18,9) so the corpus-total JSD is an EXACT decimal sum —
# engine- and partition-order-independent — and ordering under the
# LIMIT is by the rounded magnitude with a token tie-break.
# Scale shape: two mergeable token-grain counts, ONE full-outer
# equi-join on the token key (co-partitioned), the 1-row totals frame
# broadcast back, top-k via TakeOrderedAndProject; the joined
# token-grain table is memoized because the totals and the scoring
# pass both read it. Nothing is keyed on a skewable value (token keys
# carry counts, not rows).
_Q114_TOPK = 25

_Q114_OLD = """
  SELECT doc_id,
         CASE WHEN CAST(('0x' || SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   AS UBIGINT) % 10 = 1
              THEN 'stale ' || text ELSE text END AS text
  FROM documents
  WHERE CAST(('0x' || SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 8))
             AS UBIGINT) % 10 <> 0
"""

_Q114_ORACLE = f"""
WITH old_toks AS (
  SELECT unnest(string_split(text, ' ')) AS t FROM ({_Q114_OLD})
),
new_toks AS (
  SELECT unnest(string_split(text, ' ')) AS t FROM documents
),
co_ AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS co FROM old_toks WHERE t <> '' GROUP BY t),
cn_ AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cn FROM new_toks WHERE t <> '' GROUP BY t),
u AS (
  SELECT COALESCE(co_.t, cn_.t) AS token,
         COALESCE(co, 0) AS co, COALESCE(cn, 0) AS cn
  FROM co_ FULL OUTER JOIN cn_ ON co_.t = cn_.t
),
tot AS (
  SELECT CAST(SUM(co) AS BIGINT) AS tot_o, CAST(SUM(cn) AS BIGINT) AS tot_n,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM u
),
pq AS (
  SELECT token, co, cn,
         CAST(co + 1 AS DOUBLE) / CAST(tot.tot_o + tot.v AS DOUBLE) AS p,
         CAST(cn + 1 AS DOUBLE) / CAST(tot.tot_n + tot.v AS DOUBLE) AS q
  FROM u CROSS JOIN tot
),
scored AS (
  SELECT token, co, cn,
         ROUND(q - p, 9) AS delta_share,
         CAST(ROUND(0.5 * (p * ln(p / ((p + q) / 2)) + q * ln(q / ((p + q) / 2))), 9)
              AS DECIMAL(18,9)) AS contrib
  FROM pq
),
total AS (SELECT CAST(SUM(contrib) AS DOUBLE) AS jsd_total FROM scored)
SELECT s.token, s.co AS c_old, s.cn AS c_new, s.delta_share,
       CAST(s.contrib AS DOUBLE) AS js_contrib, total.jsd_total
FROM scored s CROSS JOIN total
ORDER BY ROUND(ABS(s.delta_share), 9) DESC, s.token
LIMIT {_Q114_TOPK}
"""


@register("q114_snapshot_token_drift", oracle=_Q114_ORACLE)
def q114_snapshot_token_drift(spark, sf_dir):
    from sparkextract.queries.base import checkpoint_memo, md5_bucket

    def build():
        new = load(spark, sf_dir, "documents").select("doc_id", "text")
        b = md5_bucket(F.col("doc_id"), 10)
        old = new.filter(b != 0).select(
            F.when(b == 1, F.concat(F.lit("stale "), F.col("text")))
            .otherwise(F.col("text"))
            .alias("text")
        )

        def counts(df, name):
            return (
                df.select(F.explode(F.split("text", " ")).alias("t"))
                .filter(F.col("t") != "")
                .groupBy("t")
                .agg(F.count("*").alias(name))
            )

        return (
            counts(old, "co")
            .join(counts(new, "cn"), "t", "full_outer")
            .select(
                F.col("t").alias("token"),
                F.coalesce("co", F.lit(0)).alias("co"),
                F.coalesce("cn", F.lit(0)).alias("cn"),
            )
        )

    u = checkpoint_memo(spark, sf_dir, "q114_union_counts", build)
    tot = u.agg(
        F.sum("co").alias("tot_o"),
        F.sum("cn").alias("tot_n"),
        F.count("*").alias("v"),
    )
    p = (F.col("co") + 1).cast("double") / (F.col("tot_o") + F.col("v")).cast(
        "double"
    )
    q = (F.col("cn") + 1).cast("double") / (F.col("tot_n") + F.col("v")).cast(
        "double"
    )
    m = (p + q) / F.lit(2.0)
    contrib = F.round(
        F.lit(0.5) * (p * F.log(p / m) + q * F.log(q / m)), 9
    ).cast("decimal(18,9)")
    scored = u.crossJoin(F.broadcast(tot)).select(
        "token",
        "co",
        "cn",
        F.round(q - p, 9).alias("delta_share"),
        contrib.alias("contrib"),
    )
    total = scored.agg(F.sum("contrib").cast("double").alias("jsd_total"))
    return (
        scored.crossJoin(F.broadcast(total))
        .select(
            "token",
            F.col("co").alias("c_old"),
            F.col("cn").alias("c_new"),
            "delta_share",
            F.col("contrib").cast("double").alias("js_contrib"),
            "jsd_total",
        )
        .orderBy(F.round(F.abs(F.col("delta_share")), 9).desc(), "token")
        .limit(_Q114_TOPK)
    )


# --------------------------------------------------------------------------
# q115: ZIPF SLOPE — the corpus-health diagnostic behind "does this
# corpus look like natural language": least-squares slope of
# ln(frequency) vs ln(rank) over the top-256 token types (natural text
# sits near -1; heavily templated/duplicated corpora flatten or
# steepen). All regression sums run over the BOUNDED top-256 table
# (TakeOrderedAndProject under the total order (count desc, token asc),
# same cut rule as q113), so the fit costs one mergeable token count
# plus O(1) arithmetic; slope/intercept are computed with the identical
# formula shape in both engines and ROUND(...,6)-ed (ln ulp + 256-term
# sum reorder stay ~1e-13, far under the rounding grain).
_Q115_TOPN = 256

_Q115_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS t FROM documents
),
tc AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM tok WHERE t <> '' GROUP BY t),
ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rn FROM tc
),
top AS (
  SELECT ln(CAST(rn AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
  FROM ranked WHERE rn <= {_Q115_TOPN}
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM top
)
SELECT n AS n_points,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         AS intercept
FROM s
"""


@register("q115_zipf_slope", oracle=_Q115_ORACLE)
def q115_zipf_slope(spark, sf_dir):
    from pyspark.sql import Window

    tc = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count("*").alias("c"))
    )
    top = (
        tc.orderBy(F.desc("c"), "t")
        .limit(_Q115_TOPN)
        .withColumn("rn", F.row_number().over(Window.orderBy(F.desc("c"), "t")))
        .select(
            F.log(F.col("rn").cast("double")).alias("x"),
            F.log(F.col("c").cast("double")).alias("y"),
        )
    )
    s = top.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope_raw = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").alias("n_points"),
        F.round(slope_raw, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope_raw * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
    )


# --------------------------------------------------------------------------
# q116: INCREMENTAL IVF INDEX MAINTENANCE — the vector-index side of the
# q103 CDC story: after a corpus refresh, ONLY the added/changed vectors
# re-enter nearest-centroid assignment (broadcast centroids + the q110
# map-side-combinable max_by argmax, never a window); the unchanged
# majority keeps its existing index cell (NULL here = untouched entry).
# At 100 TB the index is never rebuilt — assignment cost tracks the CDC
# delta (~20% under this deterministic rule: md5 bucket 0 of vec_id =
# added, bucket 1 = changed), and the status pass is map-only.
# Composes with q103 (same snapshot rule) and q46 (same IVF cells).
def _q116_oracle() -> str:
    from sparkextract.queries.base import md5_bucket_sql
    from sparkextract.queries.dedup2 import _DIM

    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
      FROM embeddings
    ),
    st AS (
      SELECT vec_id, ev,
             CASE WHEN CAST({md5_bucket_sql("vec_id", 10)} AS BIGINT) = 0
                    THEN 'added'
                  WHEN CAST({md5_bucket_sql("vec_id", 10)} AS BIGINT) = 1
                    THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM e
    ),
    cents AS (
      SELECT vec_id AS cent_id, ev AS cv FROM e WHERE vec_id BETWEEN 1 AND 8
    ),
    assign AS (
      SELECT s.vec_id, ct.cent_id AS cell
      FROM st s, cents ct
      WHERE s.status <> 'unchanged'
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY s.vec_id
        ORDER BY ROUND({_cos_pair_sql('s.ev', 'ct.cv', _DIM)}, 6) DESC,
                 ct.cent_id ASC) = 1
    )
    SELECT s.vec_id, s.status,
           (s.status <> 'unchanged') AS needs_index,
           a.cell
    FROM st s LEFT JOIN assign a ON a.vec_id = s.vec_id
    """


@register("q116_incremental_ivf", oracle=_q116_oracle())
def q116_incremental_ivf(spark, sf_dir):
    from sparkextract.queries.base import md5_bucket
    from sparkextract.queries.dedup2 import _dot, _norm

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("ev"),
    )
    b = md5_bucket(F.col("vec_id"), 10)
    st = emb.select(
        "vec_id",
        "ev",
        F.when(b == 0, F.lit("added"))
        .when(b == 1, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )
    cents = emb.filter(F.col("vec_id").between(1, 8)).select(
        F.col("vec_id").alias("cent_id"), F.col("ev").alias("cv")
    )
    ccos = F.round(
        _dot(F.col("ev"), F.col("cv")) / (_norm(F.col("ev")) * _norm(F.col("cv"))),
        6,
    )
    assign = (
        st.filter(F.col("status") != "unchanged")
        .crossJoin(F.broadcast(cents))
        .withColumn("ccos", ccos)
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.col("cent_id"),
                F.struct(F.col("ccos").alias("c"), (-F.col("cent_id")).alias("t")),
            ).alias("cell")
        )
    )
    return st.join(assign, "vec_id", "left").select(
        "vec_id",
        "status",
        (F.col("status") != "unchanged").alias("needs_index"),
        "cell",
    )


# --------------------------------------------------------------------------
# q117: CORPUS-REFRESH PIPELINE — the composed CDC flagship (the q94
# pattern applied to the refresh path): one query chaining the four
# operators a periodic corpus refresh actually runs, reported as a
# stage summary: (1) q103 snapshot diff (added/changed/unchanged
# counts), (2) q106 incremental extraction (spans re-extracted for the
# delta only), (3) q114 token-drift monitor (total JS divergence), and
# (4) q116 incremental IVF maintenance (vectors reassigned). Each stage
# aggregates the SAME registered operator the standalone entry gates,
# so the composition proves the stages agree end-to-end, not just in
# isolation. Scale shape inherits from the parts: everything is keyed
# or broadcast, and only the CDC delta re-enters extraction/indexing.
_Q117_ORACLE = None  # built lazily below (needs round4 oracles)


def _q117_oracle() -> str:
    from sparkextract.queries.round4 import _Q103_ORACLE, _Q106_ORACLE

    return f"""
    SELECT 'diff' AS stage, status AS probe,
           CAST(COUNT(*) AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS metric
    FROM ({_Q103_ORACLE}) GROUP BY status
    UNION ALL
    SELECT 'extract', 'spans_reextracted',
           CAST(SUM(span_count) AS BIGINT), CAST(NULL AS DOUBLE)
    FROM ({_Q106_ORACLE})
    UNION ALL
    SELECT 'drift', 'jsd_total',
           CAST(COUNT(*) AS BIGINT), MAX(jsd_total)
    FROM ({_Q114_ORACLE})
    UNION ALL
    SELECT 'index', 'reassigned',
           CAST(SUM(CASE WHEN needs_index THEN 1 ELSE 0 END) AS BIGINT),
           CAST(NULL AS DOUBLE)
    FROM ({_q116_oracle()})
    """


@register("q117_corpus_refresh_pipeline", oracle=_q117_oracle())
def q117_corpus_refresh_pipeline(spark, sf_dir):
    from sparkextract.queries.round4 import (
        q103_snapshot_diff,
        q106_incremental_extraction,
    )

    null_metric = F.lit(None).cast("double")
    diff = (
        q103_snapshot_diff(spark, sf_dir)
        .groupBy("status")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("diff").alias("stage"),
            F.col("status").alias("probe"),
            F.col("n").cast("long").alias("n"),
            null_metric.alias("metric"),
        )
    )
    extract = q106_incremental_extraction(spark, sf_dir).agg(
        F.lit("extract").alias("stage"),
        F.lit("spans_reextracted").alias("probe"),
        F.sum("span_count").cast("long").alias("n"),
        null_metric.alias("metric"),
    )
    drift = q114_snapshot_token_drift(spark, sf_dir).agg(
        F.lit("drift").alias("stage"),
        F.lit("jsd_total").alias("probe"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("jsd_total").alias("metric"),
    )
    index = q116_incremental_ivf(spark, sf_dir).agg(
        F.lit("index").alias("stage"),
        F.lit("reassigned").alias("probe"),
        F.sum(F.col("needs_index").cast("long")).cast("long").alias("n"),
        null_metric.alias("metric"),
    )
    return diff.unionByName(extract).unionByName(drift).unionByName(index)


# --------------------------------------------------------------------------
# q118: INCREMENTAL DEDUP — near-dup detection for a corpus refresh
# WITHOUT re-hashing the corpus: only the CDC delta (q103's added/
# changed rule) computes fresh q19 MinHash band signatures; the
# unchanged majority is represented by its persisted signature index
# (memoized here, a stored table at scale — signatures are computed
# once at ingest and never again). Candidates are (1) delta-vs-index
# and (2) delta-vs-delta band collisions, reported per pair with how
# many of the 4 bands matched.
#
# Scale shape: the delta side is ~20% (and in steady state ~arrival
# rate); band matching is the UNPIVOTED form — (band, sig) equi-join —
# never an OR-of-bands join (which both engines would execute as a
# nested loop over the corpus); pair aggregation is a mergeable
# groupBy. The index side is scanned once to build the memo and then
# reused by both candidate joins.
def _q118_sigs_sql() -> str:
    import sparkextract.queries.text  # noqa: F401 — registers q19 first

    from sparkextract.queries.base import ORACLE_SQL

    return ORACLE_SQL["q19_minhash_signature"]


def _q118_oracle() -> str:
    from sparkextract.queries.base import md5_bucket_sql

    return f"""
    WITH sigs AS (
      {_q118_sigs_sql()}
    ),
    st AS (
      SELECT s.*,
             CAST({md5_bucket_sql("doc_id", 10)} AS BIGINT) < 2 AS is_delta
      FROM sigs s
    ),
    bands AS (
      SELECT doc_id, is_delta, 0 AS b, sig0 AS sig FROM st
      UNION ALL SELECT doc_id, is_delta, 1, sig1 FROM st
      UNION ALL SELECT doc_id, is_delta, 2, sig2 FROM st
      UNION ALL SELECT doc_id, is_delta, 3, sig3 FROM st
    ),
    delta_bands AS (SELECT doc_id, b, sig FROM bands WHERE is_delta),
    index_bands AS (SELECT doc_id, b, sig FROM bands WHERE NOT is_delta),
    cand AS (
      SELECT d.doc_id AS new_doc_id, i.doc_id AS dup_of, 'index' AS kind, d.b
      FROM delta_bands d JOIN index_bands i ON d.b = i.b AND d.sig = i.sig
      UNION ALL
      SELECT a.doc_id, bb.doc_id, 'delta', a.b
      FROM delta_bands a JOIN delta_bands bb
        ON a.b = bb.b AND a.sig = bb.sig AND a.doc_id < bb.doc_id
    )
    SELECT new_doc_id, dup_of, kind,
           CAST(COUNT(DISTINCT b) AS BIGINT) AS n_bands
    FROM cand
    GROUP BY new_doc_id, dup_of, kind
    """


@register("q118_incremental_dedup", oracle=_q118_oracle())
def q118_incremental_dedup(spark, sf_dir):
    from sparkextract.queries.base import checkpoint_memo, md5_bucket
    from sparkextract.queries.text import q19_minhash_signature

    def build():
        sigs = q19_minhash_signature(spark, sf_dir)
        is_delta = md5_bucket(F.col("doc_id"), 10) < 2
        return sigs.select(
            "doc_id",
            is_delta.alias("is_delta"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("b"), F.col(f"sig{b}").alias("sig")
                        )
                        for b in range(4)
                    ]
                )
            ).alias("bs"),
        ).select("doc_id", "is_delta", F.col("bs.b").alias("b"), F.col("bs.sig").alias("sig"))

    # the banded signature table is the persisted index at scale; both
    # candidate joins read it, so materialize once
    bands = checkpoint_memo(spark, sf_dir, "q118_bands", build)
    delta = bands.filter("is_delta").select("doc_id", "b", "sig")
    index = bands.filter(~F.col("is_delta")).select(
        F.col("doc_id").alias("dup_of"), "b", "sig"
    )
    vs_index = delta.join(index, ["b", "sig"]).select(
        F.col("doc_id").alias("new_doc_id"), "dup_of", F.lit("index").alias("kind"), "b"
    )
    right = delta.select(F.col("doc_id").alias("dup_of"), "b", "sig")
    vs_delta = (
        delta.join(right, ["b", "sig"])
        .filter(F.col("doc_id") < F.col("dup_of"))
        .select(
            F.col("doc_id").alias("new_doc_id"),
            "dup_of",
            F.lit("delta").alias("kind"),
            "b",
        )
    )
    return (
        vs_index.unionByName(vs_delta)
        .groupBy("new_doc_id", "dup_of", "kind")
        .agg(F.countDistinct("b").alias("n_bands"))
    )

"""Round-5 continuation wave 2: model-based quality filtering and its
evaluation loop, plus synthetic-text (watermark) detection.

q135 — LINEAR QUALITY-CLASSIFIER INFERENCE (the fastText / logistic
"quality classifier" stage every production LLM corpus pipeline runs:
GPT-3's WebText-similarity logistic regression, LLaMA's fastText
filter, CCNet's linear LM gate). A frozen broadcast weight vector is
applied to deterministic per-doc features; the gate is the sign of the
logit. The sigmoid is deliberately NOT computed: it is monotone, so
``keep = logit >= 0`` is the identical decision with zero
transcendental ops on the output surface.

Features (all doc-local, snapped to exact BIGINT micro-units the
moment a double appears — the q128/q111 discipline):
    f_len_u  = round(ln(1 + n_tokens) * 1e6)        (length prior)
    f_mwl_u  = round(sum_len / n_tokens * 1e6)      (mean word length)
    f_uniq_u = round(n_distinct / n_tokens * 1e6)   (type/token ratio)
    f_stop_u = round(n_stop / n_tokens * 1e6)       (stopword fraction)
    logit_u  = 2*f_len_u + f_mwl_u + 3*f_uniq_u - 4*f_stop_u - 13_700_000

The bias centers the gate near the corpus median (measured at sf0.01)
so both classes are populated at every SF. After the four snaps the
logit is pure 64-bit integer arithmetic — bit-identical across engines.
Reference intent: the quality/confidence scoring pass of
/root/reference/src/table_evaluator.py (rule scores folded into one
accept decision), upgraded to the learned-linear-filter shape a 100 TB
corpus actually uses.

Scale shape: ONE map-only scan of documents — tokenization, feature
extraction and the dot product are all array expressions inside
whole-stage codegen; no explode, no shuffle, no UDF. The weight
"vector" is 5 literals (a real model would broadcast it; at 5 terms
the literal form IS the broadcast).

q136 — LLM-WATERMARK GREEN-LIST DETECTION (Kirchenbauer et al. 2023,
"A Watermark for Large Language Models"): a watermarked generator
boosts tokens whose hash with the previous token lands in a "green
list" of fraction gamma; a detector recomputes the green fraction g/n
over the token stream and flags documents whose one-proportion z-score

    z = (g - gamma*n) / sqrt(n * gamma * (1 - gamma)),   gamma = 1/4

exceeds 2 — the synthetic-text screening pass a training-data pipeline
runs to keep model output out of the next model's corpus. Green
membership is the engine-portable md5 bucket of ``prev||'|'||tok``
(exactly the reference's keyed-hash scheme with md5 as the PRF).
gamma = 1/4 and gamma*(1-gamma) = 3/16 are exact binary fractions, g
and n are integers, and sqrt/division are correctly-rounded IEEE ops,
so z is bit-identical across engines before the micro-unit snap.

Scale shape: ONE map-only scan — bigrams, hashing and the green count
are array lambda expressions; no explode, no shuffle. Docs with fewer
than 2 tokens have no scored bigram and are excluded (WHERE mirrored
in both engines).

q137 — BINNED ROC-AUC (Mann-Whitney form). Evaluates the q135
classifier against a deterministic reference label (lang = 'en').
AUC = P(s_pos > s_neg) + P(tie)/2 is computed exactly over scores
quantized into fixed 0.5-logit-unit bins:

    b = clamp(floor(logit_u / 500_000), -40, 40)     (<= 81 bins)
    AUC*2*P*N = sum_b [ 2 * pos_b * cumneg_<b  +  pos_b * neg_b ]

The per-bin (pos, neg) histogram is a map-side-combinable groupBy; the
cumulative sits on a PROVABLY TINY grain (<= 81 rows — the documented
exception to the no-global-window rule, see CLAUDE.md), and the final
ratio is one IEEE division of exact integers. This is how AUC is
actually computed at corpus scale (a global sort of 100 TB of scores
is never run; every production metric stack bins first).

q138 — PRECISION/RECALL/F1 THRESHOLD SWEEP over the same binned
histogram: 7 fixed thresholds (multiples of the bin width, so
``logit_u >= t  <=>  b >= t/500_000`` holds EXACTLY for integer
logits), each threshold's confusion counts reduced from the <= 81-row
histogram — the tiny-side cross join costs 81*7 rows. Counts are
integers; the P/R/F1 ratios are single IEEE divisions snapped to
micro-units; empty denominators yield the panel sentinel -1.
q139 — BLOCKED CROSS-LINGUAL CANDIDATE MINING (the record-linkage /
bitext-mining shape: CCMatrix/CCAligned candidate generation, and the
classic blocking technique of the entity-resolution literature —
Papadakis et al., "Blocking and Filtering Techniques for Entity
Resolution", CSUR 2020). All-pairs comparison of an English side
against a non-English side is O(N^2) and impossible at corpus scale;
the standard fix is an inverted index over RARE blocking keys — here
5-gram token shingles with global document frequency in [2, 10] — so
each key joins at most C(10,2) pairs and hot shingles (boilerplate)
are excluded by the df cap itself. Candidates sharing >= 1 rare key
are then scored EXACTLY (full token-set Jaccard) by two doc_id-keyed
joins against the token-set table — never a token-keyed join over the
full inverted index, which is where the hot-key blowup lives.

Scale shape: the shingle table is built once per (session, input) via
checkpoint_memo (three subtrees read it: the df filter, the en side,
the xx side); the df cap bounds per-key fan-out; candidate scoring is
doc_id-keyed. Every shuffle key is either a rare shingle or a doc_id.

q140 — DELETE-GROUP JACKKNIFE CONFIDENCE INTERVAL for the corpus keep
rate (the error bar every data-quality report needs; Efron 1982). The
corpus is md5-split into F = 32 folds; fold i's replicate is the keep
rate with fold i deleted, p_i = (K - k_i)/(N - n_i), and

    se^2 = (F-1)/F * sum_i (p_i - mean(p_i))^2,   CI = p +- 1.96*se

Per-fold (n_i, k_i) is ONE map-side-combinable groupBy over the q135
gate; everything after runs on the 32-row fold table (tiny grain).
Numeric discipline: replicates and squared deviations are
ROUND(..., 12)-frozen and summed as DECIMAL(18,12) before the final
sqrt — the established exact-decimal-sum recipe for anything fed by
IEEE division.
"""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from sparkextract.queries.base import (
    checkpoint_memo,
    load,
    md5_bucket,
    md5_bucket_sql,
    register,
)

# --------------------------------------------------------------------------
# q135: linear quality-classifier inference

_Q135_STOP = ("a", "the", "of", "to")
_Q135_BIAS = -13_700_000  # centers keep near the sf0.01 corpus median
# weights on the micro-unit features: (f_len, f_mwl, f_uniq, f_stop)
_Q135_W = (2, 1, 3, -4)

_Q135_STOP_SQL = ", ".join(f"'{s}'" for s in _Q135_STOP)

# shared core: doc_id, lang, n_tokens, n_stop, logit_u, keep
# (q137/q138 re-select from this same text)
def _q135_core_sql(src: str = "documents") -> str:
    """The classifier-core SQL over any (doc_id, lang, text) relation —
    q162 scores an injected-clone corpus with the same formula."""
    return f"""
  SELECT doc_id, lang, n_tokens, n_stop,
         CAST({_Q135_W[0]}
                * CAST(ROUND(ln(1 + n_tokens) * 1000000.0) AS BIGINT)
              + {_Q135_W[1]}
                * CAST(ROUND(CAST(sum_len AS DOUBLE) / n_tokens
                             * 1000000.0) AS BIGINT)
              + {_Q135_W[2]}
                * CAST(ROUND(CAST(n_distinct AS DOUBLE) / n_tokens
                             * 1000000.0) AS BIGINT)
              + ({_Q135_W[3]})
                * CAST(ROUND(CAST(n_stop AS DOUBLE) / n_tokens
                             * 1000000.0) AS BIGINT)
              + ({_Q135_BIAS}) AS BIGINT) AS logit_u
  FROM (
    SELECT doc_id, lang,
           CAST(len(l) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(l)) AS BIGINT) AS n_distinct,
           CAST(list_sum(list_transform(l, x -> length(x))) AS BIGINT)
             AS sum_len,
           CAST(len(list_filter(l, x -> x IN ({_Q135_STOP_SQL})))
                AS BIGINT) AS n_stop
    FROM (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), x -> x <> '') AS l
      FROM {src}
    )
    WHERE len(l) >= 1
  )
"""


_Q135_CORE_SQL = _q135_core_sql()

_Q135_ORACLE = f"""
SELECT doc_id, n_tokens, n_stop, logit_u, (logit_u >= 0) AS keep
FROM ({_Q135_CORE_SQL})
"""


def _q135_features(spark, sf_dir):
    """doc_id, lang, n_tokens, n_stop, logit_u — the shared classifier
    core (map-only: one documents scan, array exprs, no shuffle)."""
    return _q135_features_of(load(spark, sf_dir, "documents"))


def _q135_features_of(docs):
    """Classifier core over any (doc_id, lang, text) frame — the Spark
    twin of :func:`_q135_core_sql`'s ``src`` parameter."""
    toks = F.filter(F.split("text", " "), lambda x: x != F.lit(""))
    t = docs.select(
        "doc_id", "lang", toks.alias("l")
    ).filter(F.size("l") >= 1)
    l = F.col("l")

    # OR-chain membership test (portable inside array lambdas)
    def _is_stop(x):
        e = x == F.lit(_Q135_STOP[0])
        for s in _Q135_STOP[1:]:
            e = e | (x == F.lit(s))
        return e

    n_tokens = F.size(l).cast("long")
    n_distinct = F.size(F.array_distinct(l)).cast("long")
    sum_len = F.aggregate(
        l, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    n_stop = F.size(F.filter(l, _is_stop)).cast("long")

    def _u(x):
        return F.round(x * F.lit(1000000.0)).cast("long")

    nt_d = n_tokens.cast("double")
    f_len = _u(F.log(F.lit(1) + n_tokens))
    f_mwl = _u(sum_len.cast("double") / nt_d)
    f_uniq = _u(n_distinct.cast("double") / nt_d)
    f_stop = _u(n_stop.cast("double") / nt_d)
    logit = (
        F.lit(_Q135_W[0]).cast("long") * f_len
        + F.lit(_Q135_W[1]).cast("long") * f_mwl
        + F.lit(_Q135_W[2]).cast("long") * f_uniq
        + F.lit(_Q135_W[3]).cast("long") * f_stop
        + F.lit(_Q135_BIAS).cast("long")
    )
    return t.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        n_stop.alias("n_stop"),
        logit.alias("logit_u"),
    )


@register("q135_quality_classifier", oracle=_Q135_ORACLE)
def q135_quality_classifier(spark, sf_dir):
    f = _q135_features(spark, sf_dir)
    return f.select(
        "doc_id",
        "n_tokens",
        "n_stop",
        "logit_u",
        (F.col("logit_u") >= 0).alias("keep"),
    )


# --------------------------------------------------------------------------
# q136: LLM-watermark green-list detection

_Q136_GAMMA_DEN = 4  # gamma = 1/4; gamma*(1-gamma) = 3/16 = 0.1875
_Q136_Z_FLAG_U = 2_000_000  # flag at z >= 2

_Q136_ORACLE = f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
  FROM documents
),
b AS (
  SELECT doc_id,
         list_transform(range(2, len(l) + 1),
                        i -> l[i - 1] || '|' || l[i]) AS bg
  FROM t WHERE len(l) >= 2
),
g AS (
  SELECT doc_id,
         CAST(len(bg) AS BIGINT) AS n_bigrams,
         CAST(len(list_filter(bg,
              x -> {md5_bucket_sql('x', _Q136_GAMMA_DEN)} = 0))
              AS BIGINT) AS n_green
  FROM b
)
SELECT doc_id, n_bigrams, n_green,
       CAST(ROUND((n_green - 0.25 * n_bigrams)
                  / sqrt(0.1875 * n_bigrams) * 1000000.0) AS BIGINT) AS z_u,
       (CAST(ROUND((n_green - 0.25 * n_bigrams)
                   / sqrt(0.1875 * n_bigrams) * 1000000.0) AS BIGINT)
        >= {_Q136_Z_FLAG_U}) AS flagged
FROM g
"""


@register("q136_watermark_detect", oracle=_Q136_ORACLE)
def q136_watermark_detect(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != F.lit(""))
    t = docs.select("doc_id", toks.alias("l")).filter(F.size("l") >= 2)
    l = F.col("l")
    bg = F.transform(
        F.sequence(F.lit(2), F.size(l)),
        lambda i: F.concat(
            F.element_at(l, i - F.lit(1)), F.lit("|"), F.element_at(l, i)
        ),
    )
    b = t.select("doc_id", bg.alias("bg"))
    n = F.size("bg").cast("long")
    g = F.size(
        F.filter("bg", lambda x: md5_bucket(x, _Q136_GAMMA_DEN) == 0)
    ).cast("long")
    scored = b.select(
        "doc_id", n.alias("n_bigrams"), g.alias("n_green")
    )
    nb = F.col("n_bigrams").cast("double")
    z = F.round(
        (F.col("n_green") - F.lit(0.25) * nb)
        / F.sqrt(F.lit(0.1875) * nb)
        * F.lit(1000000.0)
    ).cast("long")
    return scored.select(
        "doc_id",
        "n_bigrams",
        "n_green",
        z.alias("z_u"),
        (z >= _Q136_Z_FLAG_U).alias("flagged"),
    )


# --------------------------------------------------------------------------
# q137 / q138: classifier evaluation over the binned score histogram

_Q137_BIN_U = 500_000  # histogram bin width in logit micro-units
_Q137_BIN_CLAMP = 40  # bins clamp to [-40, 40] -> <= 81 rows, provably tiny

# shared histogram: (b, pos_b, neg_b) — label is lang = 'en'
_Q137_HIST_SQL = f"""
  SELECT LEAST(GREATEST(CAST(FLOOR(logit_u / {_Q137_BIN_U}.0) AS INTEGER),
                        -{_Q137_BIN_CLAMP}), {_Q137_BIN_CLAMP}) AS b,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
           AS pos_b,
         CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT)
           AS neg_b
  FROM ({_Q135_CORE_SQL})
  GROUP BY 1
"""

_Q137_ORACLE = f"""
WITH bkt AS ({_Q137_HIST_SQL}),
c AS (
  SELECT b, pos_b, neg_b,
         COALESCE(SUM(neg_b) OVER (ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cumneg_lt
  FROM bkt
)
SELECT CAST(SUM(pos_b) AS BIGINT) AS n_pos,
       CAST(SUM(neg_b) AS BIGINT) AS n_neg,
       CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST(ROUND(CAST(SUM(2 * pos_b * cumneg_lt + pos_b * neg_b)
                       AS DOUBLE) * 1000000.0
                  / (2.0 * SUM(pos_b) * SUM(neg_b))) AS BIGINT) AS auc_u
FROM c
"""


def _q137_hist(spark, sf_dir):
    f = _q135_features(spark, sf_dir)
    b = F.least(
        F.greatest(
            F.floor(F.col("logit_u") / F.lit(float(_Q137_BIN_U))).cast("int"),
            F.lit(-_Q137_BIN_CLAMP),
        ),
        F.lit(_Q137_BIN_CLAMP),
    )
    pos = F.when(F.col("lang") == "en", 1).otherwise(0)
    return f.groupBy(b.alias("b")).agg(
        F.sum(pos).cast("long").alias("pos_b"),
        F.sum(1 - pos).cast("long").alias("neg_b"),
    )


@register("q137_roc_auc", oracle=_Q137_ORACLE)
def q137_roc_auc(spark, sf_dir):
    bkt = _q137_hist(spark, sf_dir)
    # <= 81 rows: the documented tiny-grain exception to the
    # no-global-window rule (CLAUDE.md) — identical shape to the oracle
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    c = bkt.select(
        "b",
        "pos_b",
        "neg_b",
        F.coalesce(F.sum("neg_b").over(w), F.lit(0)).alias("cumneg_lt"),
    )
    num2 = F.sum(
        2 * F.col("pos_b") * F.col("cumneg_lt")
        + F.col("pos_b") * F.col("neg_b")
    )
    p = F.sum("pos_b")
    n = F.sum("neg_b")
    return c.agg(
        p.cast("long").alias("n_pos"),
        n.cast("long").alias("n_neg"),
        F.count("*").cast("long").alias("n_bins"),
        F.round(
            num2.cast("double") * F.lit(1000000.0)
            / (F.lit(2.0) * p * n)
        )
        .cast("long")
        .alias("auc_u"),
    )


# thresholds: multiples of the bin width, so logit_u >= t <=> b >= t/width
_Q138_THRESHOLDS_U = (
    -2_000_000,
    -1_500_000,
    -1_000_000,
    -500_000,
    0,
    500_000,
    1_000_000,
)


def _q138_ratio_sql(num: str, den: str) -> str:
    return (
        f"CASE WHEN {den} = 0 THEN CAST(-1 AS BIGINT) "
        f"ELSE CAST(ROUND(CAST({num} AS DOUBLE) * 1000000.0 "
        f"/ ({den})) AS BIGINT) END"
    )


_Q138_ORACLE = f"""
WITH bkt AS ({_Q137_HIST_SQL}),
thr AS (
  SELECT UNNEST([{", ".join(str(t) for t in _Q138_THRESHOLDS_U)}])
    AS threshold_u
),
cm AS (
  SELECT t.threshold_u,
         CAST(SUM(CASE WHEN b.b >= t.threshold_u / {_Q137_BIN_U}
                       THEN b.pos_b ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN b.b >= t.threshold_u / {_Q137_BIN_U}
                       THEN b.neg_b ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN b.b >= t.threshold_u / {_Q137_BIN_U}
                       THEN 0 ELSE b.pos_b END) AS BIGINT) AS fn
  FROM thr t CROSS JOIN bkt b
  GROUP BY 1
)
SELECT threshold_u, tp, fp, fn,
       {_q138_ratio_sql('tp', 'tp + fp')} AS precision_u,
       {_q138_ratio_sql('tp', 'tp + fn')} AS recall_u,
       {_q138_ratio_sql('2 * tp', '2 * tp + fp + fn')} AS f1_u
FROM cm
"""


@register("q138_pr_thresholds", oracle=_Q138_ORACLE)
def q138_pr_thresholds(spark, sf_dir):
    bkt = _q137_hist(spark, sf_dir)
    thr = spark.createDataFrame(
        [(t,) for t in _Q138_THRESHOLDS_U], "threshold_u long"
    )
    # tiny x tiny: <= 81-row histogram against 7 broadcast thresholds
    k = (F.col("threshold_u") / _Q137_BIN_U).cast("int")
    hit = F.col("b") >= k
    cm = (
        bkt.crossJoin(F.broadcast(thr))
        .groupBy("threshold_u")
        .agg(
            F.sum(F.when(hit, F.col("pos_b")).otherwise(0))
            .cast("long")
            .alias("tp"),
            F.sum(F.when(hit, F.col("neg_b")).otherwise(0))
            .cast("long")
            .alias("fp"),
            F.sum(F.when(hit, F.lit(0)).otherwise(F.col("pos_b")))
            .cast("long")
            .alias("fn"),
        )
    )

    def _ratio(num, den):
        return F.when(den == 0, F.lit(-1).cast("long")).otherwise(
            F.round(num.cast("double") * F.lit(1000000.0) / den).cast("long")
        )

    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return cm.select(
        "threshold_u",
        "tp",
        "fp",
        "fn",
        _ratio(tp, tp + fp).alias("precision_u"),
        _ratio(tp, tp + fn).alias("recall_u"),
        _ratio(2 * tp, 2 * tp + fp + fn).alias("f1_u"),
    )


# --------------------------------------------------------------------------
# q139: blocked cross-lingual candidate mining

_Q139_K = 5  # blocking key: 5-gram token shingle
_Q139_DF_LO = 2  # a key seen once links nothing
_Q139_DF_HI = 10  # df cap: <= C(10,2) pairs per key, hot keys excluded

_Q139_GRAM_SQL = "||'|'||".join(
    f"l[i - {_Q139_K - 1 - j}]" for j in range(_Q139_K)
)

_Q139_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS l
  FROM documents
),
gr AS (
  SELECT DISTINCT doc_id, lang,
         unnest(list_transform(range({_Q139_K}, len(l) + 1),
                               i -> {_Q139_GRAM_SQL})) AS g
  FROM t WHERE len(l) >= {_Q139_K}
),
keys AS (
  SELECT g FROM gr GROUP BY g
  HAVING count(*) BETWEEN {_Q139_DF_LO} AND {_Q139_DF_HI}
),
cand AS (
  SELECT a.doc_id AS left_id, b.doc_id AS right_id,
         CAST(count(*) AS BIGINT) AS n_shared_keys
  FROM gr a JOIN keys USING (g) JOIN gr b USING (g)
  WHERE a.lang = 'en' AND b.lang <> 'en'
  GROUP BY 1, 2
),
s AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))
           AS s
  FROM documents
)
SELECT c.left_id, c.right_id, c.n_shared_keys,
       CAST(ROUND(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                  * 1000000.0
                  / len(list_distinct(list_concat(sa.s, sb.s))))
            AS BIGINT) AS jaccard_u
FROM cand c
JOIN s sa ON sa.doc_id = c.left_id
JOIN s sb ON sb.doc_id = c.right_id
"""


@register("q139_bitext_candidates", oracle=_Q139_ORACLE)
def q139_bitext_candidates(spark, sf_dir):
    def _build_grams():
        docs = load(spark, sf_dir, "documents")
        toks = F.filter(F.split("text", " "), lambda x: x != F.lit(""))
        t = docs.select("doc_id", "lang", toks.alias("l")).filter(
            F.size("l") >= _Q139_K
        )
        l = F.col("l")
        gram = F.transform(
            F.sequence(F.lit(_Q139_K), F.size(l)),
            lambda i: F.concat_ws(
                "|",
                *[
                    F.element_at(l, i - F.lit(_Q139_K - 1 - j))
                    for j in range(_Q139_K)
                ],
            ),
        )
        return t.select(
            "doc_id", "lang", F.explode(F.array_distinct(gram)).alias("g")
        )

    # three subtrees consume the shingle table (df filter, en side, xx
    # side) — materialize it once per (session, input)
    gr = checkpoint_memo(spark, sf_dir, "q139_grams", _build_grams)
    keys = (
        gr.groupBy("g")
        .count()
        .filter(F.col("count").between(_Q139_DF_LO, _Q139_DF_HI))
        .select("g")
    )
    en = gr.filter(F.col("lang") == "en").select(
        F.col("doc_id").alias("left_id"), "g"
    )
    xx = gr.filter(F.col("lang") != "en").select(
        F.col("doc_id").alias("right_id"), "g"
    )
    cand = (
        en.join(keys, "g")
        .join(xx, "g")
        .groupBy("left_id", "right_id")
        .agg(F.count("*").cast("long").alias("n_shared_keys"))
    )
    sets = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_distinct(
            F.filter(F.split("text", " "), lambda x: x != F.lit(""))
        ).alias("s"),
    )
    sa = sets.select(F.col("doc_id").alias("a_id"), F.col("s").alias("sa"))
    sb = sets.select(F.col("doc_id").alias("b_id"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size(F.array_union("sa", "sb"))
    jac = F.round(
        inter.cast("double") * F.lit(1000000.0) / union
    ).cast("long")
    return (
        cand.join(sa, cand["left_id"] == sa["a_id"])
        .join(sb, cand["right_id"] == sb["b_id"])
        .select(
            "left_id", "right_id", "n_shared_keys", jac.alias("jaccard_u")
        )
    )


# --------------------------------------------------------------------------
# q140: delete-group jackknife CI for the corpus keep rate

_Q140_FOLDS = 32

_Q140_ORACLE = f"""
WITH f AS ({_Q135_CORE_SQL}),
d AS (
  SELECT {md5_bucket_sql("doc_id", _Q140_FOLDS)} AS fold,
         (logit_u >= 0) AS keep
  FROM f
),
per AS (
  SELECT fold, CAST(count(*) AS BIGINT) AS n_i,
         CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS k_i
  FROM d GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_i) AS BIGINT) AS n, CAST(SUM(k_i) AS BIGINT) AS k,
         CAST(COUNT(*) AS BIGINT) AS nf
  FROM per
),
rep AS (
  SELECT p.fold, t.n, t.k, t.nf,
         CAST(t.k - p.k_i AS DOUBLE) / (t.n - p.n_i) AS p_i
  FROM per p CROSS JOIN tot t
),
m AS (
  SELECT n, k, nf,
         CAST(SUM(CAST(ROUND(p_i, 12) AS DECIMAL(18,12))) AS DOUBLE) / nf
           AS pbar
  FROM rep GROUP BY n, k, nf
),
dev AS (
  SELECT r.n, r.k, r.nf,
         CAST(SUM(CAST(ROUND((r.p_i - m.pbar) * (r.p_i - m.pbar), 12)
                       AS DECIMAL(18,12))) AS DOUBLE) AS ss
  FROM rep r CROSS JOIN m
  GROUP BY r.n, r.k, r.nf
)
SELECT n AS n_docs, k AS n_keep, nf AS n_folds,
       CAST(ROUND(CAST(k AS DOUBLE) / n * 1000000.0) AS BIGINT)
         AS keep_rate_u,
       CAST(ROUND(sqrt((nf - 1.0) / nf * ss) * 1000000.0) AS BIGINT)
         AS se_u,
       CAST(ROUND((CAST(k AS DOUBLE) / n
                   - 1.96 * sqrt((nf - 1.0) / nf * ss)) * 1000000.0)
            AS BIGINT) AS ci_lo_u,
       CAST(ROUND((CAST(k AS DOUBLE) / n
                   + 1.96 * sqrt((nf - 1.0) / nf * ss)) * 1000000.0)
            AS BIGINT) AS ci_hi_u
FROM dev
"""


@register("q140_jackknife_ci", oracle=_Q140_ORACLE)
def q140_jackknife_ci(spark, sf_dir):
    f = _q135_features(spark, sf_dir)
    d = f.select(
        md5_bucket(F.col("doc_id"), _Q140_FOLDS).alias("fold"),
        (F.col("logit_u") >= 0).alias("keep"),
    )
    per = d.groupBy("fold").agg(
        F.count("*").cast("long").alias("n_i"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0))
        .cast("long")
        .alias("k_i"),
    )
    tot = per.agg(
        F.sum("n_i").cast("long").alias("n"),
        F.sum("k_i").cast("long").alias("k"),
        F.count("*").cast("long").alias("nf"),
    )
    rep = per.crossJoin(F.broadcast(tot)).select(
        "fold",
        "n",
        "k",
        "nf",
        ((F.col("k") - F.col("k_i")).cast("double") / (F.col("n") - F.col("n_i")))
        .alias("p_i"),
    )
    m = rep.groupBy("n", "k", "nf").agg(
        (
            F.sum(F.round("p_i", 12).cast("decimal(18,12)")).cast("double")
            / F.col("nf")
        ).alias("pbar")
    )
    dev = (
        rep.crossJoin(F.broadcast(m.select("pbar")))
        .groupBy("n", "k", "nf")
        .agg(
            F.sum(
                F.round(
                    (F.col("p_i") - F.col("pbar"))
                    * (F.col("p_i") - F.col("pbar")),
                    12,
                ).cast("decimal(18,12)")
            )
            .cast("double")
            .alias("ss")
        )
    )
    n_d = F.col("n").cast("double")
    rate = F.col("k").cast("double") / n_d
    se = F.sqrt((F.col("nf") - F.lit(1.0)) / F.col("nf") * F.col("ss"))
    return dev.select(
        F.col("n").alias("n_docs"),
        F.col("k").alias("n_keep"),
        F.col("nf").alias("n_folds"),
        F.round(rate * 1000000.0).cast("long").alias("keep_rate_u"),
        F.round(se * 1000000.0).cast("long").alias("se_u"),
        F.round((rate - 1.96 * se) * 1000000.0).cast("long").alias("ci_lo_u"),
        F.round((rate + 1.96 * se) * 1000000.0).cast("long").alias("ci_hi_u"),
    )


# --------------------------------------------------------------------------
# q141: CREDENTIAL/SECRET SCAN WITH DETECTOR EVALUATION — the
# secret-filtering pass a code/web corpus runs before training
# (Copilot-era pipelines strip API keys; the capability is detection +
# redaction + a measured detector). Ground truth is INJECTED
# deterministically (the q97/q68 injection pattern): doc_id % 11 == 0
# receives a real 32-hex 'sk-' secret, doc_id % 9 == 0 receives an
# 8-hex lookalike that a sloppy detector false-positives on. Two
# detectors run over the same scan — 'strict' (exact 32-hex) and
# 'sloppy' (any hex run) — and the output is each detector's confusion
# counts + precision/recall against the injected truth: the
# detector-eval loop, not just the redaction.
# Patterns stay in the portable regex subset (classes, +, {m,n}) that
# Java regex (Spark) and RE2 (DuckDB) evaluate identically (q97).
# Scale shape: map-only scan; per-doc detector rows explode 2x and
# reduce map-side to 2 groups. No corpus-sized shuffle.

_Q141_SECRET_RE = "sk-[0-9a-f]{32}"
_Q141_SLOPPY_RE = "sk-[0-9a-f]+"

_Q141_CORPUS = """
  SELECT doc_id,
         text || CASE WHEN doc_id % 11 = 0
                      THEN ' key sk-' || md5(CAST(doc_id AS VARCHAR))
                      ELSE '' END
              || CASE WHEN doc_id % 9 = 0
                      THEN ' id sk-' || SUBSTRING(
                             md5('x' || CAST(doc_id AS VARCHAR)), 1, 8)
                      ELSE '' END AS text,
         (doc_id % 11 = 0) AS truth
  FROM documents
"""

_Q141_ORACLE = f"""
WITH corpus AS ({_Q141_CORPUS}),
d AS (
  SELECT truth,
         regexp_matches(text, '{_Q141_SECRET_RE}') AS det_strict,
         regexp_matches(text, '{_Q141_SLOPPY_RE}') AS det_sloppy
  FROM corpus
),
u AS (
  SELECT 'strict' AS detector, truth, det_strict AS det FROM d
  UNION ALL
  SELECT 'sloppy' AS detector, truth, det_sloppy AS det FROM d
),
cm AS (
  SELECT detector,
         CAST(SUM(CASE WHEN det AND truth THEN 1 ELSE 0 END) AS BIGINT)
           AS tp,
         CAST(SUM(CASE WHEN det AND NOT truth THEN 1 ELSE 0 END) AS BIGINT)
           AS fp,
         CAST(SUM(CASE WHEN truth AND NOT det THEN 1 ELSE 0 END) AS BIGINT)
           AS fn
  FROM u GROUP BY detector
)
SELECT detector, tp, fp, fn,
       {_q138_ratio_sql('tp', 'tp + fp')} AS precision_u,
       {_q138_ratio_sql('tp', 'tp + fn')} AS recall_u
FROM cm
"""


@register("q141_secret_scan_eval", oracle=_Q141_ORACLE)
def q141_secret_scan_eval(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    text = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" key sk-"), F.md5(F.col("doc_id").cast("string"))
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat(
                F.lit(" id sk-"),
                F.substring(
                    F.md5(F.concat(F.lit("x"), F.col("doc_id").cast("string"))),
                    1,
                    8,
                ),
            ),
        ).otherwise(F.lit("")),
    )
    truth = F.col("doc_id") % 11 == 0
    d = docs.select(
        truth.alias("truth"),
        (F.regexp_count(text, F.lit(_Q141_SECRET_RE)) > 0).alias("det_strict"),
        (F.regexp_count(text, F.lit(_Q141_SLOPPY_RE)) > 0).alias("det_sloppy"),
    )
    u = d.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("strict").alias("detector"),
                    F.col("det_strict").alias("det"),
                ),
                F.struct(
                    F.lit("sloppy").alias("detector"),
                    F.col("det_sloppy").alias("det"),
                ),
            )
        ).alias("e"),
        "truth",
    ).select(F.col("e.detector").alias("detector"), F.col("e.det").alias("det"), "truth")
    cm = u.groupBy("detector").agg(
        F.sum(F.when(F.col("det") & F.col("truth"), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when(F.col("det") & ~F.col("truth"), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when(F.col("truth") & ~F.col("det"), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
    )

    def _ratio(num, den):
        return F.when(den == 0, F.lit(-1).cast("long")).otherwise(
            F.round(num.cast("double") * F.lit(1000000.0) / den).cast("long")
        )

    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return cm.select(
        "detector",
        "tp",
        "fp",
        "fn",
        _ratio(tp, tp + fp).alias("precision_u"),
        _ratio(tp, tp + fn).alias("recall_u"),
    )


# --------------------------------------------------------------------------
# q142: STRIDE-SCHEDULED MIXTURE INTERLEAVE — executing mixture weights
# (q90 computes them; this MATERIALIZES the epoch order). Classic
# stride scheduling (Waldspurger & Weihl, OSDI 1994; the same
# deterministic weighted interleave MosaicML StreamingDataset uses):
# each language gets an integer stride inversely proportional to its
# char share; the k-th doc of language s is scheduled at key
# (2k+1)*stride_s, and ascending key order interleaves languages in
# weight proportion, deterministically.
#
# The per-language ordinal k is computed WITHOUT a per-language global
# window (5 hot keys at corpus scale = 5 single-task sorts): the q105
# two-level rank — rank within (lang, md5-shard), then offsets from
# the tiny (lang x 64-shard) size table — and the ORACLE proves it
# equals the true per-language ROW_NUMBER. Output is the first 100
# schedule slots (TakeOrderedAndProject; the full schedule would be
# the job's output artifact, not a query result). The slot number is
# a window over the selected 100 rows (tiny grain).
# Stride arithmetic is exact integers; GREATEST(...,1) guards the
# stride against rounding to zero when a language's char mass exceeds
# the scale constant.

_Q142_SHARDS = 64
_Q142_SPAN = (1 << 32) // _Q142_SHARDS
_Q142_SCALE = 1_000_000_000_000  # must exceed per-language char mass
_Q142_TOPN = 100


def _q142_h_sql(col: str) -> str:
    return (
        f"CAST(('0x' || SUBSTRING(md5(CAST({col} AS VARCHAR)), 1, 8))"
        f" AS UBIGINT)"
    )


_Q142_ORACLE = f"""
WITH w AS (
  SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS wc
  FROM documents GROUP BY lang
),
r AS (
  SELECT doc_id, lang,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY {_q142_h_sql("doc_id")}, doc_id) - 1 AS BIGINT) AS k
  FROM documents
),
keyed AS (
  SELECT r.doc_id, r.lang, r.k,
         (2 * r.k + 1)
           * GREATEST(CAST(ROUND({_Q142_SCALE}.0 / w.wc) AS BIGINT), 1)
           AS sched_key
  FROM r JOIN w USING (lang)
),
top AS (
  SELECT * FROM keyed ORDER BY sched_key, lang, k LIMIT {_Q142_TOPN}
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY sched_key, lang, k) AS BIGINT)
         AS slot,
       doc_id, lang, k, sched_key
FROM top
"""


@register("q142_stride_schedule", oracle=_Q142_ORACLE)
def q142_stride_schedule(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    hk = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    h = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        hk.alias("hk"),
        F.floor(hk / _Q142_SPAN).cast("int").alias("shard"),
    )
    wr = Window.partitionBy("lang", "shard").orderBy("hk", "doc_id")
    ranked = checkpoint_memo(
        spark,
        sf_dir,
        "q142_ranked",
        lambda: h.withColumn("rk", F.row_number().over(wr).cast("long")),
    )
    sizes = ranked.groupBy("lang", "shard").agg(F.max("rk").alias("cnt"))
    # lang x shard grain (<= 5*64 rows): tiny cumulative for the offsets
    wo = (
        Window.partitionBy("lang")
        .orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sizes.select(
        "lang",
        "shard",
        F.coalesce(F.sum("cnt").over(wo), F.lit(0)).alias("offset"),
    )
    k = (F.col("offset") + F.col("rk") - 1).cast("long")
    weights = ranked.groupBy("lang").agg(
        F.sum("n_chars").cast("long").alias("wc")
    )
    stride = F.greatest(
        F.round(F.lit(float(_Q142_SCALE)) / F.col("wc")).cast("long"),
        F.lit(1).cast("long"),
    )
    keyed = (
        ranked.join(F.broadcast(offsets), ["lang", "shard"])
        .join(F.broadcast(weights), "lang")
        .select(
            "doc_id",
            "lang",
            k.alias("k"),
            ((2 * k + 1) * stride).alias("sched_key"),
        )
    )
    top = keyed.orderBy("sched_key", "lang", "k").limit(_Q142_TOPN)
    ws = Window.orderBy("sched_key", "lang", "k")  # 100 rows: tiny grain
    return top.select(
        F.row_number().over(ws).cast("long").alias("slot"),
        "doc_id",
        "lang",
        "k",
        "sched_key",
    )


# --------------------------------------------------------------------------
# q143: TRIANGLE COUNT + GLOBAL CLUSTERING COEFFICIENT over the q119
# citation graph — the second classic distributed-graph diagnostic a
# crawl-corpus pipeline runs next to PageRank (community density /
# spam-farm detection). The naive adjacency self-join has the
# "curse of the last reducer" (Suri & Vassilvitskii, WWW 2011): a hub
# of degree d generates d^2 wedge candidates on one key. The standard
# fix, implemented here, is DEGREE ORIENTATION: each undirected edge
# points from its lower-(degree, id) endpoint to the higher one, so
# every node's OUT-degree is O(sqrt(m)) on any graph and the wedge
# self-join is per-key bounded; each triangle is then counted exactly
# once (at its lowest-ordered vertex) by one keyed join against the
# canonical edge set. All counting is BIGINT; gcc = 3T / #wedges is
# one IEEE division of exact integers snapped to micro-units.
# Scale shape: edges are generated map-side (3 per doc, the q119
# scheme); the undirected edge set and the oriented adjacency are
# materialized once via checkpoint_memo (each feeds two subtrees);
# every join is keyed (node or canonical edge), nothing broadcasts a
# corpus-sized side, no window anywhere.

_Q143_FANOUT = 3
_Q143_TOPK = 10


def _q143_oracle() -> str:
    from sparkextract.queries.round5b import _cite_bucket_sql

    edges_sel = " UNION ALL ".join(
        f"SELECT doc_id AS src, {_cite_bucket_sql(j)} AS dst"
        f" FROM documents, n"
        for j in range(_Q143_FANOUT)
    )
    return f"""
WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
edges0 AS ({edges_sel}),
eu AS (
  SELECT DISTINCT LEAST(src, dst) AS lo, GREATEST(src, dst) AS hi
  FROM edges0 WHERE src <> dst
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT lo AS node FROM eu UNION ALL SELECT hi FROM eu)
  GROUP BY 1
),
ori AS (
  SELECT CASE WHEN (dl.d, e.lo) < (dh.d, e.hi) THEN e.lo ELSE e.hi END AS u,
         CASE WHEN (dl.d, e.lo) < (dh.d, e.hi) THEN e.hi ELSE e.lo END AS v
  FROM eu e
  JOIN deg dl ON dl.node = e.lo
  JOIN deg dh ON dh.node = e.hi
),
wedge AS (
  SELECT a.u AS w, a.v AS x, b.v AS y
  FROM ori a JOIN ori b ON a.u = b.u AND a.v < b.v
),
tri AS (
  SELECT w.w AS a, w.x AS b, w.y AS c
  FROM wedge w
  JOIN eu ON eu.lo = LEAST(w.x, w.y) AND eu.hi = GREATEST(w.x, w.y)
),
pernode AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM (SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
  GROUP BY 1
),
globals AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM eu) AS n_edges,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM tri) AS total_triangles,
         (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg)
           AS n_wedges
)
SELECT p.node, p.n_triangles, g.n_nodes, g.n_edges, g.total_triangles,
       CAST(ROUND(CAST(3 * g.total_triangles AS DOUBLE) * 1000000.0
                  / g.n_wedges) AS BIGINT) AS gcc_u
FROM pernode p CROSS JOIN globals g
ORDER BY p.n_triangles DESC, p.node ASC
LIMIT {_Q143_TOPK}
"""


@register("q143_triangle_count", oracle=_q143_oracle())
def q143_triangle_count(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id")
    n_docs = docs.count()

    def _cite(j):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"), F.lit(f"#{j}")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % n_docs
        )

    def _build_eu():
        parts = [
            docs.select(
                F.col("doc_id").alias("src"), _cite(j).alias("dst")
            )
            for j in range(_Q143_FANOUT)
        ]
        e = parts[0]
        for p in parts[1:]:
            e = e.unionByName(p)
        e = e.filter(F.col("src") != F.col("dst"))
        return e.select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
        ).distinct()

    # eu feeds three subtrees (degree table, orientation, closing join)
    eu = checkpoint_memo(spark, sf_dir, "q143_eu", _build_eu)

    def _build_ori():
        deg = (
            eu.select(F.col("lo").alias("node"))
            .unionByName(eu.select(F.col("hi").alias("node")))
            .groupBy("node")
            .agg(F.count("*").cast("long").alias("d"))
        )
        dl = deg.select(F.col("node").alias("lo"), F.col("d").alias("d_lo"))
        dh = deg.select(F.col("node").alias("hi"), F.col("d").alias("d_hi"))
        j = eu.join(dl, "lo").join(dh, "hi")
        lo_first = (F.col("d_lo") < F.col("d_hi")) | (
            (F.col("d_lo") == F.col("d_hi")) & (F.col("lo") < F.col("hi"))
        )
        return j.select(
            F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("u"),
            F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("v"),
        )

    # the oriented adjacency self-joins with itself — materialize once
    ori = checkpoint_memo(spark, sf_dir, "q143_ori", _build_ori)
    a = ori.select(F.col("u").alias("w"), F.col("v").alias("x"))
    b = ori.select(F.col("u").alias("w"), F.col("v").alias("y"))
    wedge = a.join(b, "w").filter(F.col("x") < F.col("y"))
    tri = wedge.join(
        eu,
        (eu["lo"] == F.least("x", "y")) & (eu["hi"] == F.greatest("x", "y")),
    ).select("w", "x", "y")
    tri = checkpoint_memo(spark, sf_dir, "q143_tri", lambda: tri)
    pernode = (
        tri.select(F.col("w").alias("node"))
        .unionByName(tri.select(F.col("x").alias("node")))
        .unionByName(tri.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    deg_und = (
        eu.select(F.col("lo").alias("node"))
        .unionByName(eu.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("d"))
    )
    globals_df = (
        deg_und.agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum(
                (F.col("d") * (F.col("d") - 1) / 2).cast("long")
            ).alias("n_wedges"),
        )
        .crossJoin(eu.agg(F.count("*").cast("long").alias("n_edges")))
        .crossJoin(
            tri.agg(F.count("*").cast("long").alias("total_triangles"))
        )
    )
    gcc = F.round(
        (3 * F.col("total_triangles")).cast("double")
        * F.lit(1000000.0)
        / F.col("n_wedges")
    ).cast("long")
    return (
        pernode.crossJoin(F.broadcast(globals_df))
        .select(
            "node",
            "n_triangles",
            "n_nodes",
            "n_edges",
            "total_triangles",
            gcc.alias("gcc_u"),
        )
        .orderBy(F.desc("n_triangles"), F.asc("node"))
        .limit(_Q143_TOPK)
    )


# --------------------------------------------------------------------------
# q144: DEDUP-METHOD VENN AUDIT — the meta-analysis a corpus team runs
# before picking its dedup stack: how much do the cheap and expensive
# methods AGREE? Ground truth is injected (the q11/q97 pattern): exact
# clones (doc_id % 13 -> +1M) and tail-perturbed near-clones
# (doc_id % 7 -> +2M, one token appended). Three detectors of
# increasing looseness flag "document participates in a duplicate
# group":
#   exact    — md5(text) group with > 1 member (catches exact clones
#              only; the near-clones differ in the last token),
#   minhash1 — single-hash MinHash over bigram shingles (min md5 of
#              the doc's bigrams; near-clones almost always share the
#              min bigram — and unrelated docs occasionally collide:
#              the honest false-positive behavior of a 1-hash sketch),
#   prefix   — first-8-token block key (catches both clone kinds,
#              because the perturbation appends at the tail; the
#              standard cheap blocking heuristic).
# Output: one row of Venn counts — per-method totals, the three
# pairwise intersections, and the triple — the numbers the audit
# report actually shows.
# Scale shape: three groupBys over method keys (map-side combinable)
# + doc_id-keyed semi-joins for the intersections; the flagged sets
# are corpus-fraction sized; nothing is all-pairs.

_Q144_CORPUS = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text
  FROM documents WHERE doc_id % 13 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text || ' extra' AS text
  FROM documents WHERE doc_id % 7 = 0
"""

_Q144_PREFIX_K = 8

_Q144_ORACLE = f"""
WITH corpus AS ({_Q144_CORPUS}),
t AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), x -> x <> '') AS l
  FROM corpus
),
feat AS (
  SELECT doc_id,
         md5(text) AS ek,
         CASE WHEN len(l) >= 2 THEN
           list_min(list_transform(range(2, len(l) + 1),
                                   i -> md5(l[i - 1] || '|' || l[i])))
         ELSE md5(text) END AS mk,
         md5(array_to_string(l[1:{_Q144_PREFIX_K}], ' ')) AS pk
  FROM t
),
fe AS (SELECT doc_id FROM feat
       WHERE ek IN (SELECT ek FROM feat GROUP BY ek HAVING COUNT(*) > 1)),
fm AS (SELECT doc_id FROM feat
       WHERE mk IN (SELECT mk FROM feat GROUP BY mk HAVING COUNT(*) > 1)),
fp AS (SELECT doc_id FROM feat
       WHERE pk IN (SELECT pk FROM feat GROUP BY pk HAVING COUNT(*) > 1))
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM fe) AS n_exact,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM fm) AS n_minhash,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM fp) AS n_prefix,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM fe WHERE doc_id IN
     (SELECT doc_id FROM fm)) AS n_em,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM fe WHERE doc_id IN
     (SELECT doc_id FROM fp)) AS n_ep,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM fm WHERE doc_id IN
     (SELECT doc_id FROM fp)) AS n_mp,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM fe WHERE doc_id IN
     (SELECT doc_id FROM fm) AND doc_id IN
     (SELECT doc_id FROM fp)) AS n_emp
"""


@register("q144_dedup_venn_audit", oracle=_Q144_ORACLE)
def q144_dedup_venn_audit(spark, sf_dir):
    def _build_feat():
        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        clones = docs.filter(F.col("doc_id") % 13 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
        near = docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extra")).alias("text"),
        )
        corpus = docs.unionByName(clones).unionByName(near)
        l = F.filter(F.split("text", " "), lambda x: x != F.lit(""))
        c = corpus.select("doc_id", "text", l.alias("l"))
        lcol = F.col("l")
        bigram_mins = F.array_min(
            F.transform(
                F.sequence(F.lit(2), F.size(lcol)),
                lambda i: F.md5(
                    F.concat(
                        F.element_at(lcol, i - F.lit(1)),
                        F.lit("|"),
                        F.element_at(lcol, i),
                    )
                ),
            )
        )
        mk = F.when(F.size(lcol) >= 2, bigram_mins).otherwise(F.md5("text"))
        pk = F.md5(
            F.array_join(F.slice(lcol, 1, _Q144_PREFIX_K), " ")
        )
        return c.select(
            "doc_id",
            F.md5("text").alias("ek"),
            mk.alias("mk"),
            pk.alias("pk"),
        )

    # the feature table feeds six subtrees (3 dup-key filters + the
    # intersection joins) — materialize once per (session, input)
    feat = checkpoint_memo(spark, sf_dir, "q144_feat", _build_feat)

    def _flagged(key):
        dupkeys = (
            feat.groupBy(key)
            .count()
            .filter(F.col("count") > 1)
            .select(key)
        )
        return feat.join(dupkeys, key).select("doc_id")

    fe = checkpoint_memo(
        spark, sf_dir, "q144_fe", lambda: _flagged("ek")
    )
    fm = checkpoint_memo(
        spark, sf_dir, "q144_fm", lambda: _flagged("mk")
    )
    fp = checkpoint_memo(
        spark, sf_dir, "q144_fp", lambda: _flagged("pk")
    )

    def _n(df):
        return df.agg(F.count("*").cast("long"))

    def _n2(a, b):
        return a.join(b, "doc_id", "semi").agg(F.count("*").cast("long"))

    em = fe.join(fm, "doc_id", "semi")
    out = (
        _n(fe).toDF("n_exact")
        .crossJoin(_n(fm).toDF("n_minhash"))
        .crossJoin(_n(fp).toDF("n_prefix"))
        .crossJoin(_n2(fe, fm).toDF("n_em"))
        .crossJoin(_n2(fe, fp).toDF("n_ep"))
        .crossJoin(_n2(fm, fp).toDF("n_mp"))
        .crossJoin(_n2(em, fp).toDF("n_emp"))
    )
    return out


# --------------------------------------------------------------------------
# q145: STATEFUL STREAMING DEDUP, DRIVER-CHECKED — the last streaming
# shape (applyInPandasWithState first-writer-wins dedup,
# streaming/stateful.py) promoted from pytest-only to a driver
# CORRECTNESS row, the q108 harness pattern: drain 1 delivers the base
# corpus (every content hash's first arrival -> emitted, numeric-min
# keeper within the batch); drain 2 delivers exact clones
# (doc_id % 5 -> +1M, same text) whose hashes are already in state ->
# suppressed, nothing re-emitted. The committed sink after both drains
# is therefore exactly "one row per content hash, keeper = numeric-min
# doc_id over base UNION clones" (clone ids exceed base ids), which is
# the SQL-expressible oracle. The checkpoint, not a manifest, carries
# the dedup state across drains — restart durability is what the
# pytest covers; this query pins the emitted VALUES.
# Scale shape: the only shuffle is the content-hash groupBy (the same
# key layout as batch q11); state is one tiny row per distinct hash,
# sharded by that key exactly as a 1000-executor cluster would.
_Q145_ORACLE = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text
  FROM documents WHERE doc_id % 5 = 0
)
SELECT md5(text) AS content_hash,
       CAST(MIN(doc_id) AS VARCHAR) AS doc_id,
       CAST(MIN(LENGTH(text)) AS INT) AS first_len
FROM corpus
GROUP BY md5(text)
"""

_Q145_DONE: set[tuple[str, str]] = set()


@register("q145_streaming_stateful_dedup", oracle=_Q145_ORACLE)
def q145_streaming_stateful_dedup(spark, sf_dir):
    import shutil

    from sparkextract.queries.base import session_root
    from sparkextract.spark.session import ensure_workers_can_import
    from sparkextract.streaming.stateful import streaming_dedup

    root = session_root(spark, sf_dir, "q145")
    inp = os.path.join(root, "in")
    outp = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")

    def _drain():
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            inp
        )
        q = (
            streaming_dedup(stream)
            .writeStream.format("parquet")
            .option("path", outp)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    memo_key = (spark.sparkContext.applicationId, sf_dir)
    if memo_key not in _Q145_DONE:
        ensure_workers_can_import(spark)
        shutil.rmtree(root, ignore_errors=True)
        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        docs.write.parquet(inp)
        _drain()
        docs.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        ).write.mode("append").parquet(inp)
        _drain()
        _Q145_DONE.add(memo_key)
    return spark.read.parquet(outp).select(
        "content_hash", "doc_id", "first_len"
    )

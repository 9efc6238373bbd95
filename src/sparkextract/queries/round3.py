"""Round-3 operators: form-field grouping (F6), similarity-scored
cross-extraction comparison (soft J4), and near-dup pair -> cluster
connected components.

- q69: the reference's keyword classifier that buckets form fields into
  personal_info / address / contact / general
  (/root/reference/src/rag/text_processor.py:466-492), run over REAL
  extraction form output (q64-style corpus) as a when/contains chain.
- q70: the reference's text-validation comparison — a similarity score
  between two extraction methods' outputs for the same document,
  thresholded at 0.8 (/root/reference/src/utils/validation.py:208-244,
  threshold /root/reference/src/config/settings.py:99-104). difflib's
  SequenceMatcher.ratio() is not SQL-expressible; the engine analog both
  Spark and DuckDB share natively is the edit-distance ratio
  ``1 - levenshtein(a, b) / max(len(a), len(b))``.
- q71: transitive closure of q53's near-dup pairs into duplicate
  CLUSTERS via iterated min-label propagation, so a pipeline can pick
  one survivor per group (the step the pair-emitting joins q38/q53/q68
  stop short of).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Window
from pyspark.sql import functions as F

from sparkextract.queries.base import load, md5_bucket, md5_bucket_sql, register
from sparkextract.queries.dedup2 import _Q53_ORACLE, q53_banded_lsh_near_dup

# --------------------------------------------------------------------------
# q69: form-field grouping (F6). Keyword lists and their precedence are
# the reference's, verbatim (text_processor.py:466-492): personal_info
# is checked FIRST, so 'username' (contains 'name') and 'full_address'
# (contains 'full') both land in personal_info, and 'statement'
# (contains 'state') lands in address — substring containment, not word
# match, exactly like the reference's `keyword in field_name`.
_GROUP_KEYWORDS = [
    ("personal_info", ["name", "first", "last", "full"]),
    ("address", ["address", "street", "city", "state", "zip"]),
    ("contact", ["phone", "email", "contact"]),
]

# (rendered form line, None when unconditional | modulus when the field
# is present only for doc_id % m == 0). Every doc keeps >= 4
# unconditional lines so the run always clears FORM_MIN_RUN.
_Q69_FIELDS = [
    ("first_name: a", None),  # personal_info
    ("username: u", 2),  # personal_info ('name' substring, precedence)
    ("full_address: f", 6),  # personal_info ('full' beats 'address')
    ("street_address: s", None),  # address
    ("zip:", 3),  # address, empty value -> '[Empty]'
    ("statement: x", 4),  # address ('state' substring)
    ("email: e", None),  # contact
    ("phone:", 5),  # contact, empty value
    ("notes: n", None),  # general
]


def _q69_docs(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    parts = [F.col("text")]
    for prefix, mod in _Q69_FIELDS:
        line = F.concat(F.lit(prefix), d) if prefix[-1] != ":" else F.lit(prefix)
        if mod is None:
            parts.append(line)
        else:
            # concat_ws drops NULLs, so an excluded field leaves no line
            parts.append(F.when(F.col("doc_id") % mod == 0, line))
    spans = F.array(
        F.struct(
            F.lit("pdf_layout").alias("kind"),
            F.concat_ws("\n", *parts).alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).alias("offset"),
        )
    )
    return docs.select(d.alias("doc_id"), spans.alias("spans"))


def _q69_oracle() -> str:
    # derive each group's per-doc field count straight from the corpus
    # construction (the gate's usual exact-construction oracle style)
    group_mods = {"personal_info": [], "address": [], "contact": [], "general": []}
    group_base = {g: 0 for g in group_mods}
    for prefix, mod in _Q69_FIELDS:
        name = prefix.split(":")[0].lower()
        grp = "general"
        for g, kws in _GROUP_KEYWORDS:
            if any(k in name for k in kws):
                grp = g
                break
        if mod is None:
            group_base[grp] += 1
        else:
            group_mods[grp].append(mod)
    selects = []
    for g in ("personal_info", "address", "contact", "general"):
        per_doc = " + ".join(
            [str(group_base[g])]
            + [f"CASE WHEN doc_id % {m} = 0 THEN 1 ELSE 0 END" for m in group_mods[g]]
        )
        names = " + ".join(
            [str(group_base[g])]
            + [
                f"MAX(CASE WHEN doc_id % {m} = 0 THEN 1 ELSE 0 END)"
                for m in group_mods[g]
            ]
        )
        selects.append(
            f"SELECT '{g}' AS field_group, "
            f"CAST(SUM({per_doc}) AS BIGINT) AS n_fields, "
            f"CAST({names} AS BIGINT) AS n_names FROM documents"
        )
    return " UNION ALL ".join(selects)


@register("q69_field_groups", oracle=_q69_oracle())
def q69_field_groups(spark, sf_dir):
    """F6: extract form spans, then classify each `name: value` field by
    the reference keyword chain and count per group. The classifier is a
    pure when/contains column chain (JVM-side); only the extraction
    itself crosses into Python (Arrow-batched, as everywhere)."""
    from sparkextract.spark.job import extract_exploded

    # _q69_docs wraps every doc as exactly ONE input span, so the mega-doc
    # split can never trigger; skew_threshold=None skips the small/mega
    # source split and its second parquet scan (PLANS.md showed 2 scans)
    out = extract_exploded(_q69_docs(spark, sf_dir), skew_threshold=None)
    fields = out.filter(F.col("kind") == "form").select(
        F.explode(F.split("text", "\n")).alias("line")
    )
    name = F.lower(F.trim(F.substring_index("line", ":", 1)))
    grp = None
    for g, kws in _GROUP_KEYWORDS:
        cond = reduce(lambda a, b: a | b, [name.contains(k) for k in kws])
        grp = (grp if grp is not None else F).when(cond, F.lit(g))
    grp = grp.otherwise(F.lit("general"))
    return (
        fields.select(name.alias("name"), grp.alias("field_group"))
        .groupBy("field_group")
        .agg(
            F.count("*").alias("n_fields"),
            F.countDistinct("name").alias("n_names"),
        )
    )


# --------------------------------------------------------------------------
# q70: similarity-scored cross-extraction comparison (soft J4). Two
# "methods" produce text for the same doc: method A = the document text,
# method B = the same text with its first (doc_id % 13) chars rewritten —
# the deterministic stand-in for two extractors disagreeing on a prefix.
# score = 1 - levenshtein/maxlen, pass = score >= 0.8 (reference
# threshold). Both texts are capped at 120 chars: levenshtein is O(n*m)
# per pair in BOTH engines, so a real pipeline compares bounded prefixes
# (or hashes equal-length blocks) rather than whole documents — the cap
# is the documented scale guard, not a convenience.
_Q70_CAP = 120

_Q70_ORACLE = f"""
    WITH m AS (
      SELECT doc_id,
             substr(text, 1, {_Q70_CAP}) AS a,
             substr(repeat('x', CAST(doc_id % 13 AS INT))
                    || substr(text, CAST(doc_id % 13 AS INT) + 1),
                    1, {_Q70_CAP}) AS b
      FROM documents
    )
    SELECT doc_id,
           ROUND(1.0 - CAST(levenshtein(a, b) AS DOUBLE)
                       / GREATEST(LENGTH(a), LENGTH(b), 1), 6) AS similarity,
           (1.0 - CAST(levenshtein(a, b) AS DOUBLE)
                  / GREATEST(LENGTH(a), LENGTH(b), 1)) >= 0.8 AS agree
    FROM m
"""


@register("q70_text_similarity", oracle=_Q70_ORACLE)
def q70_text_similarity(spark, sf_dir):
    """Soft J4: per-doc edit-distance similarity between two method
    variants, thresholded at the reference's 0.8. Map-only: every
    expression is a JVM built-in over one scan, no shuffle at all."""
    docs = load(spark, sf_dir, "documents")
    a = F.substring("text", 1, _Q70_CAP)
    b = F.substring(
        F.concat(
            F.expr("repeat('x', CAST(doc_id % 13 AS INT))"),
            F.expr("substring(text, CAST(doc_id % 13 AS INT) + 1)"),
        ),
        1,
        _Q70_CAP,
    )
    sim = 1.0 - F.levenshtein(a, b).cast("double") / F.greatest(
        F.length(a), F.length(b), F.lit(1)
    )
    return docs.select(
        "doc_id",
        F.round(sim, 6).alias("similarity"),
        (sim >= 0.8).alias("agree"),
    )


# --------------------------------------------------------------------------
# q71: duplicate-pair -> duplicate-cluster connected components over
# q53's near-dup pair output, via iterated min-label propagation (each
# node repeatedly adopts the minimum label among itself and its
# neighbors until a fixed point — the classic distributed
# connected-components loop; see also q52/q57's iterative shape).
# Scale shape: each iteration is ONE shuffle of label-sized rows on the
# node id plus an edge join on the same key; iteration count is the
# component diameter (tiny for near-dup clusters). The label frame is
# localCheckpoint()ed every iteration so lineage (and replay cost) stays
# O(1) per round instead of O(rounds) — the same persist-between-
# iterations discipline a 100 TB Lloyd's run needs (q57 docstring).
# Oracle: DuckDB recursive CTE computing min reachable id per node.
_Q71_ORACLE = f"""
WITH RECURSIVE pairs AS (
  {_Q53_ORACLE}
),
edges AS (
  SELECT left_id AS a, right_id AS b FROM pairs
  UNION ALL
  SELECT right_id, left_id FROM pairs
),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach AS (
  SELECT id, id AS lbl FROM nodes
  UNION
  SELECT e.b AS id, r.lbl FROM reach r JOIN edges e ON e.a = r.id
)
SELECT vec_id, component,
       CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size
FROM (
  SELECT id AS vec_id, MIN(lbl) AS component FROM reach GROUP BY id
)
"""


def label_propagation(pair_df):
    """(left_id, right_id) dup pairs -> (id, lbl) connected-component
    labels via iterated min-label propagation. Each iteration is ONE
    shuffle of label-sized rows; per-iteration localCheckpoint keeps
    lineage O(1). Shared by q71/q72 and the q94 end-to-end composition."""
    edges = pair_df.select(F.col("left_id").alias("a"), F.col("right_id").alias("b"))
    edges = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).persist()
    labels = (
        edges.select(F.col("a").alias("id")).distinct()
        .select("id", F.col("id").alias("lbl"))
        .localCheckpoint()
    )
    # bounded fixed-point loop: near-dup components have tiny diameters,
    # but the convergence test (not the bound) is what terminates — the
    # cap only guards against a pathological chain corpus
    for _ in range(30):
        neighbor_min = (
            edges.join(labels, edges["a"] == labels["id"])
            .groupBy(F.col("b").alias("id"))
            .agg(F.min("lbl").alias("nl"))
        )
        joined = labels.join(neighbor_min, "id", "left").select(
            "id",
            F.col("lbl").alias("old"),
            F.least("lbl", F.coalesce("nl", "lbl")).alias("lbl"),
        )
        joined = joined.localCheckpoint()
        if joined.filter(F.col("lbl") < F.col("old")).count() == 0:
            break
        labels = joined.drop("old")
    else:
        raise RuntimeError("label propagation did not converge in 30 rounds")
    labels = joined.drop("old")
    edges.unpersist()
    return labels


def _dup_components(spark, sf_dir):
    # the propagation loop runs actions eagerly (convergence tests), so
    # when q71 and q72 share one session+input (the panel view unions
    # both) the fixed point is memoized instead of recomputed; the memo
    # key's input token makes an in-session parquet rewrite recompute
    # (regression-tested in test_round5.py); label_propagation returns
    # checkpointed labels, so the memo adds no checkpoint of its own
    from sparkextract.queries.base import session_memo

    return session_memo(
        spark, sf_dir, "q71_components",
        lambda: label_propagation(q53_banded_lsh_near_dup(spark, sf_dir)),
    )


@register("q71_dup_components", oracle=_Q71_ORACLE)
def q71_dup_components(spark, sf_dir):
    labels = _dup_components(spark, sf_dir)
    w = F.count("*").over(Window.partitionBy("lbl"))
    return labels.select(
        F.col("id").alias("vec_id"),
        F.col("lbl").alias("component"),
        w.alias("cluster_size"),
    )


# --------------------------------------------------------------------------
# q72: apply the q71 clusters back to the corpus — the step a real
# training-data dedup pipeline actually ends with: every vector keeps a
# canonical ``survivor_id`` (its component's min id under min-label
# propagation, i.e. the component label itself; unclustered rows survive
# as themselves) and non-survivor cluster members are the rows a cleaned
# corpus drops. Scale shape: the labels side holds ONLY clustered nodes
# (a tiny fraction of the corpus), so the left join is broadcast; the
# corpus is never shuffled.
_Q72_ORACLE = f"""
WITH comp AS (
  SELECT vec_id, component FROM ({_Q71_ORACLE}) _c
)
SELECT e.vec_id,
       COALESCE(c.component, e.vec_id) AS survivor_id,
       (c.component IS NULL OR c.component = e.vec_id) AS is_survivor
FROM embeddings e
LEFT JOIN comp c ON c.vec_id = e.vec_id
"""


@register("q72_dup_survivors", oracle=_Q72_ORACLE)
def q72_dup_survivors(spark, sf_dir):
    from pyspark.sql.functions import broadcast

    labels = _dup_components(spark, sf_dir).select(
        F.col("id").alias("c_vec_id"), F.col("lbl").alias("component")
    )
    emb = load(spark, sf_dir, "embeddings")
    survivor = F.coalesce("component", "vec_id")
    return emb.join(
        broadcast(labels), emb["vec_id"] == labels["c_vec_id"], "left"
    ).select(
        "vec_id",
        survivor.alias("survivor_id"),
        (F.col("component").isNull() | (F.col("component") == F.col("vec_id"))).alias(
            "is_survivor"
        ),
    )


# --------------------------------------------------------------------------
# q73: TF-IDF top-3 terms per document — keyword extraction, the text-
# analysis op a training-data pipeline runs corpus-wide. idf uses natural
# log of (N+1)/(df+1); scores are ROUND(...,6)-ed BEFORE ordering (the
# repo's float-compare discipline: Java Math.log and DuckDB ln may differ
# in the last ulp) with the token string as the total-order tie-break.
# Scale shape: explode -> (doc,token) partial-agg groupBy (1 shuffle) ->
# token-grain df agg (1 shuffle over vocab-sized data) -> equi-join tf
# with df on token (vocab-keyed shuffle join; no broadcast assumption, a
# web-corpus vocabulary is large) -> per-doc window (1 shuffle on
# doc_id). Every shuffle is key-partitioned; nothing is quadratic.
_Q73_K = 3

_Q73_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, t AS token
  FROM (
    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS t
    FROM documents
  ) WHERE LENGTH(t) >= 2
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token
),
df AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf,
         ROUND(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
  FROM tf JOIN df USING (token) CROSS JOIN n
)
SELECT doc_id, token, tf, tfidf
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn
  FROM scored
) WHERE rn <= {_Q73_K}
"""


@register("q73_tfidf_topk", oracle=_Q73_ORACLE)
def q73_tfidf_topk(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("token"),
    ).filter(F.length("token") >= 2)
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    # N as a lazy broadcast 1-row aggregate (the oracle's CROSS JOIN n
    # shape) — an eager docs.count() here would run an extra full-scan
    # driver action at plan-BUILD time on every invocation
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = tf.join(df, "token").crossJoin(F.broadcast(n)).select(
        "doc_id",
        "token",
        "tf",
        F.round(
            F.col("tf")
            * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
            6,
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _Q73_K)
        .select("doc_id", "token", "tf", "tfidf")
    )


# --------------------------------------------------------------------------
# q74: F8 — the reference's LLM-answer confidence heuristic
# (/root/reference/src/rag/ollama_client.py:271-321). The LLM itself is
# out of scope (no model serving in an extraction engine), but the
# heuristic is pure string math over the answer text: presence (not
# occurrence count) of each phrase in four indicator lists, +/- fixed
# deltas from a 0.7 base, short/long length penalties, clamp to [0,1].
# All deltas are multiples of 0.05, so the score is computed in INTEGER
# centi-points (70 - 10*u - 5*h + 5*c + 10*ci - len_penalty, clamped to
# [0,100]) and divided by 100 once at the end — bit-identical across
# engines with no float-summation-order hazard. Answers are synthesized
# deterministically from document text with phrase/length injections
# keyed on doc_id so every branch of the formula is exercised.
# Scale shape: map-only single scan; every predicate is a JVM built-in
# `contains` — Catalyst keeps the whole projection in codegen.
_Q74_PHRASES = {
    # (category, delta_centi_per_present_phrase, phrases) — lists verbatim
    # from the reference, order immaterial (presence counts are summed)
    "uncertainty": (-10, ["not sure", "unclear", "might be", "possibly", "uncertain"]),
    "hedging": (-5, ["perhaps", "maybe", "likely", "appears", "seems"]),
    "certainty": (5, ["clearly", "definitely", "specifically", "exactly", "precisely"]),
    "citation": (10, ["according to", "as stated", "the document shows", "mentioned in"]),
}

# doc_id-keyed injections: (modulus, appended phrase)
_Q74_INJECT = [
    (5, " not sure"),
    (6, " possibly"),
    (7, " clearly"),
    (11, " according to"),
    (13, " maybe"),
    (17, " definitely precisely"),
]


def _q74_answer_sql() -> str:
    base = (
        "CASE WHEN doc_id % 4 = 0 THEN substr(text, 1, 30) "
        "WHEN doc_id % 9 = 0 THEN substr(repeat(text || ' ', 30), 1, 1100) "
        "ELSE substr(text, 1, 200) END"
    )
    parts = [base] + [
        f"CASE WHEN doc_id % {m} = 0 THEN '{p}' ELSE '' END" for m, p in _Q74_INJECT
    ]
    return " || ".join(parts)


def _q74_oracle() -> str:
    cats = {}
    for cat, (_delta, phrases) in _Q74_PHRASES.items():
        cats[cat] = " + ".join(
            f"CASE WHEN position('{p}' IN ans) > 0 THEN 1 ELSE 0 END" for p in phrases
        )
    return f"""
WITH answers AS (
  SELECT doc_id, {_q74_answer_sql()} AS ans FROM documents
),
counted AS (
  SELECT doc_id,
         LENGTH(ans) AS answer_len,
         {cats['uncertainty']} AS n_uncertain,
         {cats['hedging']} AS n_hedge,
         {cats['certainty']} AS n_certain,
         {cats['citation']} AS n_cite
  FROM answers
)
SELECT doc_id, n_uncertain, n_hedge, n_certain, n_cite,
       CAST(answer_len AS BIGINT) AS answer_len,
       GREATEST(0, LEAST(100,
         70 - 10*n_uncertain - 5*n_hedge + 5*n_certain + 10*n_cite
           - CASE WHEN answer_len < 50 THEN 10
                  WHEN answer_len > 1000 THEN 5 ELSE 0 END)) / 100.0
         AS confidence
FROM counted
"""


@register("q74_answer_confidence", oracle=_q74_oracle())
def q74_answer_confidence(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    base = (
        F.when(F.col("doc_id") % 4 == 0, F.substring("text", 1, 30))
        .when(
            F.col("doc_id") % 9 == 0,
            F.substring(F.repeat(F.concat(F.col("text"), F.lit(" ")), 30), 1, 1100),
        )
        .otherwise(F.substring("text", 1, 200))
    )
    ans = F.concat(
        base,
        *[
            F.when(F.col("doc_id") % m == 0, F.lit(p)).otherwise(F.lit(""))
            for m, p in _Q74_INJECT
        ],
    )
    d = docs.select("doc_id", ans.alias("ans"))
    counts = {}
    for cat, (_delta, phrases) in _Q74_PHRASES.items():
        c = None
        for p in phrases:
            t = F.when(F.col("ans").contains(p), 1).otherwise(0)
            c = t if c is None else c + t
        counts[cat] = c
    centi = (
        F.lit(70)
        - 10 * counts["uncertainty"]
        - 5 * counts["hedging"]
        + 5 * counts["certainty"]
        + 10 * counts["citation"]
        - F.when(F.length("ans") < 50, 10)
        .when(F.length("ans") > 1000, 5)
        .otherwise(0)
    )
    return d.select(
        "doc_id",
        counts["uncertainty"].alias("n_uncertain"),
        counts["hedging"].alias("n_hedge"),
        counts["certainty"].alias("n_certain"),
        counts["citation"].alias("n_cite"),
        F.length("ans").cast("long").alias("answer_len"),
        (F.greatest(F.lit(0), F.least(F.lit(100), centi)) / 100.0).alias("confidence"),
    )


# --------------------------------------------------------------------------
# q75: rule-based document-quality filter — the C4/Gopher-style cleaning
# pass a web-scale training-data pipeline runs before anything else:
# per-document word count bounds, mean-word-length band, and lexical-
# diversity floor, each doc tagged keep/reject with the FIRST failing
# rule as its reject_reason (rules are ordered, like the published
# pipelines' cascades). Complements q25 (weighted quality score,
# source-grain): this is the hard per-doc verdict.
# Float discipline: diversity and mean_word_len are each ONE IEEE
# division of exact integers (identical in both engines); threshold
# compares run on the raw quotient, ROUND only for display.
# Scale shape: map-only over one scan — no shuffle, fully codegen'd.
_Q75_MIN_WORDS = 50
_Q75_MAX_WORDS = 5000
_Q75_WLEN_LO = 2.0
_Q75_WLEN_HI = 12.0
_Q75_MIN_DIVERSITY = 0.05

# shared word-metric definitions: q75's rule filter and q76's composed
# pipeline MUST tokenize identically in BOTH engines, so each metric has
# exactly one SQL fragment and one Spark builder (drift between the two
# queries would be invisible to the oracle gate — both engines would
# drift together)
_SQL_N_WORDS = "CAST(LENGTH(regexp_extract_all(text, '\\S+')) AS BIGINT)"
_SQL_N_DISTINCT = (
    "CAST(LENGTH(list_distinct(list_filter("
    "regexp_split_to_array(text, '\\s+'), x -> x <> ''))) AS BIGINT)"
)


def _n_words_col():
    return F.regexp_count("text", F.lit(r"\S+")).cast("long")


def _n_distinct_col():
    return F.size(
        F.array_distinct(F.filter(F.split("text", r"\s+"), lambda x: x != ""))
    ).cast("long")


_Q75_ORACLE = f"""
WITH m AS (
  SELECT doc_id,
         {_SQL_N_WORDS} AS n_words,
         {_SQL_N_DISTINCT} AS n_distinct,
         CAST(LENGTH(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS n_nonspace
  FROM documents
),
v AS (
  SELECT doc_id, n_words, n_distinct,
         CAST(n_distinct AS DOUBLE) / n_words AS diversity,
         CAST(n_nonspace AS DOUBLE) / n_words AS mean_wlen
  FROM m
)
SELECT doc_id, n_words, n_distinct,
       ROUND(diversity, 6) AS diversity,
       ROUND(mean_wlen, 6) AS mean_word_len,
       CASE WHEN n_words < {_Q75_MIN_WORDS} THEN 'too_short'
            WHEN n_words > {_Q75_MAX_WORDS} THEN 'too_long'
            WHEN mean_wlen < {_Q75_WLEN_LO} OR mean_wlen > {_Q75_WLEN_HI} THEN 'word_len'
            WHEN diversity < {_Q75_MIN_DIVERSITY} THEN 'repetitive'
            ELSE 'pass' END AS reject_reason,
       (n_words >= {_Q75_MIN_WORDS} AND n_words <= {_Q75_MAX_WORDS}
        AND mean_wlen >= {_Q75_WLEN_LO} AND mean_wlen <= {_Q75_WLEN_HI}
        AND diversity >= {_Q75_MIN_DIVERSITY}) AS keep
FROM v
"""


@register("q75_quality_rules", oracle=_Q75_ORACLE)
def q75_quality_rules(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    n_nonspace = F.length(F.regexp_replace("text", r"\s+", "")).cast("long")
    m = docs.select(
        "doc_id",
        _n_words_col().alias("n_words"),
        _n_distinct_col().alias("n_distinct"),
        n_nonspace.alias("n_nonspace"),
    )
    # NULL (not NaN) for zero-word docs: Spark's double x/0 is IEEE NaN
    # while DuckDB's is NULL — guard the divisions so a whitespace-only
    # document (the exact junk this filter exists for) cannot split the
    # engines; reject_reason still reads 'too_short' via the first rule
    nz_words = F.when(F.col("n_words") > 0, F.col("n_words"))
    diversity = F.col("n_distinct").cast("double") / nz_words
    mean_wlen = F.col("n_nonspace").cast("double") / nz_words
    reason = (
        F.when(F.col("n_words") < _Q75_MIN_WORDS, "too_short")
        .when(F.col("n_words") > _Q75_MAX_WORDS, "too_long")
        .when((mean_wlen < _Q75_WLEN_LO) | (mean_wlen > _Q75_WLEN_HI), "word_len")
        .when(diversity < _Q75_MIN_DIVERSITY, "repetitive")
        .otherwise("pass")
    )
    keep = (
        (F.col("n_words") >= _Q75_MIN_WORDS)
        & (F.col("n_words") <= _Q75_MAX_WORDS)
        & (mean_wlen >= _Q75_WLEN_LO)
        & (mean_wlen <= _Q75_WLEN_HI)
        & (diversity >= _Q75_MIN_DIVERSITY)
    )
    return m.select(
        "doc_id",
        "n_words",
        "n_distinct",
        F.round(diversity, 6).alias("diversity"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        reason.alias("reject_reason"),
        keep.alias("keep"),
    )


# --------------------------------------------------------------------------
# q76: the cleaning pipeline END-TO-END in one declarative plan — what a
# training-data job actually runs nightly: inject duplicates (q11's
# corpus construction), apply the q75 rule cascade, collapse exact
# duplicates to their min-doc_id survivor, then roll the surviving
# corpus up per (lang, source). Composition matters here: Catalyst fuses
# the quality predicates into the scan stage, the dedup is ONE
# map-side-combined groupBy on md5(text), and the final rollup is a
# second small shuffle — no driver round-trips anywhere.
# Scale shape: scan -> codegen'd filter -> hash-agg on content hash
# (partial+final) -> hash-agg on (lang, source). Two key-partitioned
# shuffles total, the second over already-deduped rows.
_Q76_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text, lang, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, lang, source FROM documents WHERE doc_id % 7 = 0
),
m AS (
  SELECT doc_id, text, lang, source,
         {_SQL_N_WORDS} AS n_words,
         {_SQL_N_DISTINCT} AS n_distinct
  FROM corpus
),
kept AS (
  SELECT * FROM m
  WHERE n_words >= {_Q75_MIN_WORDS} AND n_words <= {_Q75_MAX_WORDS}
    AND CAST(n_distinct AS DOUBLE) / n_words >= {_Q75_MIN_DIVERSITY}
),
deduped AS (
  SELECT md5(text) AS h, MIN(doc_id) AS keeper, COUNT(*) AS n_copies,
         MIN(lang) AS lang, MIN(source) AS source, MIN(n_words) AS n_words
  FROM kept GROUP BY md5(text)
)
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS total_words,
       CAST(SUM(n_copies - 1) AS BIGINT) AS n_suppressed,
       CAST(MIN(keeper) AS BIGINT) AS min_keeper
FROM deduped GROUP BY lang, source
"""


@register("q76_clean_pipeline", oracle=_Q76_ORACLE)
def q76_clean_pipeline(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    dup = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text", "lang", "source"
    )
    corpus = docs.unionByName(dup)
    m = corpus.select("doc_id", "text", "lang", "source",
                      _n_words_col().alias("n_words"),
                      _n_distinct_col().alias("n_distinct"))
    kept = m.filter(
        (F.col("n_words") >= _Q75_MIN_WORDS)
        & (F.col("n_words") <= _Q75_MAX_WORDS)
        & (F.col("n_distinct").cast("double") / F.col("n_words") >= _Q75_MIN_DIVERSITY)
    )
    deduped = kept.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("keeper"),
        F.count("*").alias("n_copies"),
        F.min("lang").alias("lang"),
        F.min("source").alias("source"),
        F.min("n_words").alias("n_words"),
    )
    return deduped.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("total_words"),
        F.sum(F.col("n_copies") - 1).alias("n_suppressed"),
        F.min("keeper").alias("min_keeper"),
    )


# --------------------------------------------------------------------------
# q77: AS-OF JOIN — for every 'click' event, the latest 'view' event of
# the same user at or before it (plus the gap). Spark has no asof-join
# operator; the scale-safe construction is NOT a range join (O(n*m)
# per key) but a tagged UNION + one ordered window per key: views carry
# their own id/timestamp as ref columns, clicks carry NULLs, and
# last(ref, ignorenulls) over (user ORDER BY us, is_probe, event_id
# ROWS UNBOUNDED PRECEDING..CURRENT) resolves each click's predecessor
# in a single pass. ONE shuffle on user_id; ties at equal timestamps
# are deterministic (views sort before clicks, then by event_id).
# Clicks with no prior view keep NULLs — left-asof semantics.
_Q77_ORACLE = """
WITH tagged AS (
  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us, 0 AS is_probe, event_id,
         event_id AS ref_id, CAST(epoch_us(ts) AS BIGINT) AS ref_us
  FROM events WHERE event_type = 'view'
  UNION ALL
  SELECT user_id, CAST(epoch_us(ts) AS BIGINT), 1, event_id, NULL, NULL
  FROM events WHERE event_type = 'click'
),
w AS (
  SELECT *,
         last_value(ref_id IGNORE NULLS) OVER win AS view_id,
         last_value(ref_us IGNORE NULLS) OVER win AS view_us
  FROM tagged
  WINDOW win AS (PARTITION BY user_id ORDER BY us, is_probe, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id AS click_id,
       CAST(view_id AS BIGINT) AS view_id,
       CAST(us - view_us AS BIGINT) AS gap_us
FROM w WHERE is_probe = 1
"""


@register("q77_asof_join", oracle=_Q77_ORACLE)
def q77_asof_join(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "us",
        F.lit(0).alias("is_probe"),
        "event_id",
        F.col("event_id").alias("ref_id"),
        F.col("us").alias("ref_us"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "us",
        F.lit(1).alias("is_probe"),
        "event_id",
        F.lit(None).cast("long").alias("ref_id"),
        F.lit(None).cast("long").alias("ref_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "is_probe", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = views.unionByName(clicks).select(
        "*",
        F.last("ref_id", ignorenulls=True).over(w).alias("view_id"),
        F.last("ref_us", ignorenulls=True).over(w).alias("view_us"),
    )
    return tagged.filter(F.col("is_probe") == 1).select(
        "user_id",
        F.col("event_id").alias("click_id"),
        "view_id",
        (F.col("us") - F.col("view_us")).alias("gap_us"),
    )


# --------------------------------------------------------------------------
# q78: deterministic stratified train/val/test split — the last step of
# a training-data pipeline: every document lands in a split by an
# md5-derived hash bucket of its id (90/5/5), NEVER by rand() — the
# assignment must be reproducible across runs, engines, and
# repartitioning, which is exactly the repo's md5-pseudo-randomness
# discipline (engine hash() functions differ; md5 is bit-identical
# everywhere). Stratification is reported per (lang, split) so mixture
# weights are auditable. Map-only projection + one grouped agg.
_Q78_ORACLE = f"""
WITH assigned AS (
  SELECT lang, n_chars,
         {md5_bucket_sql('doc_id', 100)} AS bucket
  FROM documents
)
SELECT lang,
       CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM assigned GROUP BY 1, 2
"""


@register("q78_stratified_split", oracle=_Q78_ORACLE)
def q78_stratified_split(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    bucket = md5_bucket(F.col("doc_id"), 100)
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    return (
        docs.select("lang", split.alias("split"), "n_chars")
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# --------------------------------------------------------------------------
# q79: SALTED SKEW JOIN — the manual-salting technique as a standalone,
# oracle-proven operator (q42 applies it inside the extraction job; this
# is the relational form). A skewed fact key (every third user collapsed
# onto user 0, ~33% of the table) would put one-third of the shuffle on
# a single reducer in a plain key-join. Instead: the fact side gets a
# deterministic salt (md5-derived, engine-identical — NEVER engine
# hash()/rand()), the small dim side is replicated across all S salts,
# and the join key becomes (key, salt) — the hot key's rows spread over
# S reducers. The oracle is the UNSALTED join: identical results prove
# salting is a pure physical rewrite. At 100 TB you'd drive S from the
# observed key histogram (or lean on AQE skew-join for sort-merge
# plans); the shape here is the one you need when the dim is
# broadcast-too-big and AQE can't split (e.g. bucketed SHJ).
_Q79_SALTS = 8

_Q79_ORACLE = """
WITH fact AS (
  SELECT CASE WHEN user_id % 3 = 0 THEN 0 ELSE user_id END AS k, value
  FROM events
),
dim AS (
  SELECT DISTINCT CASE WHEN user_id % 3 = 0 THEN 0 ELSE user_id END AS k
  FROM events
),
labeled AS (
  SELECT k, CASE WHEN k = 0 THEN 'hot' ELSE 'uniform' END AS seg FROM dim
)
SELECT l.seg,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(f.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
       CAST(COUNT(DISTINCT f.k) AS BIGINT) AS n_keys
FROM fact f JOIN labeled l ON f.k = l.k
GROUP BY l.seg
"""


@register("q79_salted_skew_join", oracle=_Q79_ORACLE)
def q79_salted_skew_join(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    k = F.when(F.col("user_id") % 3 == 0, F.lit(0)).otherwise(F.col("user_id"))
    # deterministic fact-side salt (md5 of the row id, engine-portable)
    salt = md5_bucket(F.col("event_id"), _Q79_SALTS)
    fact = ev.select(k.alias("k"), salt.alias("salt"), "value")
    dim = (
        ev.select(k.alias("k"))
        .distinct()
        .select("k", F.when(F.col("k") == 0, "hot").otherwise("uniform").alias("seg"))
    )
    # replicate the dim across every salt value (dim is small; the
    # replication factor S multiplies only the SMALL side)
    dim_salted = dim.crossJoin(
        spark.range(_Q79_SALTS).select(F.col("id").cast("long").alias("salt"))
    )
    joined = fact.hint("shuffle_hash").join(dim_salted, ["k", "salt"])
    return joined.groupBy("seg").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        F.countDistinct("k").alias("n_keys"),
    )


# --------------------------------------------------------------------------
# q80: time-bucket rollup (hypertable-style continuous aggregate): hourly
# buckets per event_type with count / exact decimal sum / distinct users.
# Bucketing is INTEGER division of epoch microseconds (`div` in Spark,
# `//` in DuckDB) — float division of large epochs can misbucket at
# boundaries, so neither engine touches a double until the sum renders.
# Scale shape: single groupBy on (bucket, type) — partial agg map-side;
# at 100 TB this is the query you materialize incrementally per
# ingestion window, and the bucket key is the partition column.
_Q80_BUCKET_US = 3_600_000_000  # 1 hour

_Q80_ORACLE = f"""
SELECT CAST(epoch_us(ts) // {_Q80_BUCKET_US} AS BIGINT) AS bucket_hour,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY 1, 2
"""


@register("q80_time_bucket_rollup", oracle=_Q80_ORACLE)
def q80_time_bucket_rollup(spark, sf_dir):
    ev = load(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    bucket = F.expr(f"us div {_Q80_BUCKET_US}")
    return (
        ev.select(bucket.alias("bucket_hour"), "event_type", "value", "user_id")
        .groupBy("bucket_hour", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# --------------------------------------------------------------------------
# q81: BANDED RANGE JOIN — every 'click' within ±2h of an 'error' for
# the same user. A naive range join is a per-key cross product; the
# scale-safe construction BANDS time into window-width buckets: each
# error probes (band-1, band, band+1) — any |dt| <= W pair must share
# one of those — so candidate generation is an EQUI-join on (user_id,
# band) and the exact |dt| predicate runs only on co-banded pairs.
# Exactly the q53/q68 LSH shape transplanted to the time axis; band
# width is the knob that bounds expected bucket size. (Spark would
# otherwise plan this theta-join as BroadcastNestedLoopJoin.)
_Q81_W_US = 7_200_000_000  # ±2 hours

_Q81_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id AS error_id, CAST(epoch_us(ts) AS BIGINT) AS eus
  FROM events WHERE event_type = 'error'
),
c AS (
  SELECT user_id, event_id AS click_id, CAST(epoch_us(ts) AS BIGINT) AS cus
  FROM events WHERE event_type = 'click'
)
SELECT e.user_id, e.error_id, c.click_id,
       CAST(c.cus - e.eus AS BIGINT) AS dt_us
FROM e JOIN c ON e.user_id = c.user_id
             AND ABS(c.cus - e.eus) <= {_Q81_W_US}
"""


@register("q81_range_join_banded", oracle=_Q81_ORACLE)
def q81_range_join_banded(spark, sf_dir):
    ev = load(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("error_id"), F.col("us").alias("eus")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("us").alias("cus"),
        F.expr(f"us div {_Q81_W_US}").alias("band"),
    )
    probe = errors.select(
        "*",
        F.explode(
            F.array(
                F.expr(f"eus div {_Q81_W_US}") - 1,
                F.expr(f"eus div {_Q81_W_US}"),
                F.expr(f"eus div {_Q81_W_US}") + 1,
            )
        ).alias("band"),
    )
    return (
        probe.hint("shuffle_hash")
        .join(clicks, ["user_id", "band"])
        .filter(F.abs(F.col("cus") - F.col("eus")) <= _Q81_W_US)
        .select(
            "user_id",
            "error_id",
            "click_id",
            (F.col("cus") - F.col("eus")).alias("dt_us"),
        )
    )


# --------------------------------------------------------------------------
# q82: GAP-BASED SESSIONIZATION — the canonical event-stream operator:
# per user, a new session starts when the gap to the previous event
# exceeds 12 h; sessions are then aggregated to (n_events, span). The
# classic two-window construction: lag() to get the gap, a running sum
# of new-session flags to get the session ordinal — both windows and
# the final groupBy cluster on user_id, so Spark plans ONE shuffle (the
# (user_id, session_seq) aggregation reuses the window's hash
# partitioning: HashPartitioning(user_id) satisfies the grouping's
# ClusteredDistribution). Ordering inside the window is (us, event_id)
# — event_id breaks timestamp ties so RANGE/ROWS frames coincide and
# both engines see one total order. Batch twin of the streaming session
# windows in streaming/; gap threshold is the knob a 100 TB run tunes.
_Q82_GAP_US = 43_200_000_000  # 12 hours

_Q82_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS us
  FROM events
),
flagged AS (
  SELECT user_id, event_id, us,
    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
              > {_Q82_GAP_US}
         OR lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
         THEN 1 ELSE 0 END AS is_new
  FROM e
),
sessed AS (
  SELECT user_id, us,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id) AS session_seq
  FROM flagged
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(us) AS BIGINT) AS first_us,
       CAST(MAX(us) AS BIGINT) AS last_us,
       CAST(MAX(us) - MIN(us) AS BIGINT) AS duration_us
FROM sessed GROUP BY user_id, session_seq
"""


@register("q82_sessionize", oracle=_Q82_ORACLE)
def q82_sessionize(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.lag("us").over(w).isNull()
            | ((F.col("us") - F.lag("us").over(w)) > _Q82_GAP_US),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sessed = flagged.withColumn("session_seq", F.sum("is_new").over(w))
    return sessed.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min("us").alias("first_us"),
        F.max("us").alias("last_us"),
        (F.max("us") - F.min("us")).alias("duration_us"),
    )


# --------------------------------------------------------------------------
# q83: DETERMINISTIC HYPERLOGLOG — distinct-user estimate per event_type
# as a real register sketch, built entirely from engine-portable md5
# bits (never engine hash()/approx_count_distinct, whose internals
# differ across engines and versions). 32-bit hash h = first 8 md5 hex
# digits; m=64 registers: register = h % 64, remaining 26-bit stream
# w = h div 64, rho = leading zeros in w + 1 = 27 - bitlength(w)
# (27 when w = 0). Estimate = alpha_64 * m^2 / Z with
# Z = sum(2^-M_j) + (#empty registers); every term is a dyadic rational
# with denominator <= 2^27, so Z is EXACT in double in both engines and
# the raw estimate is bit-identical. The linear-counting small-range
# branch (raw <= 2.5m and empty registers exist) uses ln(), which can
# differ in the last ulp, so it is ROUND(...,6)-ed. Scale shape: the
# whole sketch is two mergeable partial aggs — groupBy (type, register)
# max(rho), then groupBy type — register-grain data only ever shuffles;
# this is exactly how a 100 TB HLL rollup is built and merged.
_Q83_M = 64
_Q83_ALPHA_M2 = 0.709 * _Q83_M * _Q83_M  # python-folded: identical double in both

_Q83_ORACLE = f"""
WITH h AS (
  SELECT event_type,
    {md5_bucket_sql("user_id", 1 << 32)} AS hv
  FROM events
),
bits AS (
  SELECT event_type,
    CAST(hv % {_Q83_M} AS BIGINT) AS reg,
    CAST(hv // {_Q83_M} AS BIGINT) AS w
  FROM h
),
regs AS (
  SELECT event_type, reg,
    MAX(CASE WHEN w > 0 THEN 27 - LENGTH(bin(w)) ELSE 27 END) AS m_reg
  FROM bits GROUP BY event_type, reg
),
agg AS (
  SELECT event_type,
    CAST(COUNT(*) AS BIGINT) AS v_registers,
    CAST({_Q83_M} - COUNT(*) AS BIGINT) AS zeros,
    SUM(1.0 / POWER(CAST(2.0 AS DOUBLE), m_reg)) AS z_present
  FROM regs GROUP BY event_type
),
est AS (
  SELECT event_type, v_registers, zeros,
    CAST({_Q83_ALPHA_M2!r} AS DOUBLE)
      / (z_present + CAST(zeros AS DOUBLE)) AS raw
  FROM agg
)
SELECT e.event_type, e.v_registers, e.zeros,
  ROUND(CASE WHEN e.raw <= {2.5 * _Q83_M} AND e.zeros > 0
        THEN {_Q83_M} * ln(CAST({_Q83_M} AS DOUBLE) / e.zeros)
        ELSE e.raw END, 6) AS est_distinct,
  x.exact_distinct
FROM est e
JOIN (SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events GROUP BY event_type) x USING (event_type)
"""


@register("q83_hll_distinct", oracle=_Q83_ORACLE)
def q83_hll_distinct(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    # one shared-helper hash (md5_bucket with a no-op 2^32 modulus, the
    # oracle uses the md5_bucket_sql twin), materialized as a column so
    # reg and w derive from a single expression style
    hashed = ev.select(
        "event_type", md5_bucket(F.col("user_id"), 1 << 32).alias("hv")
    )
    bits = hashed.select(
        "event_type",
        (F.col("hv") % _Q83_M).alias("reg"),
        F.expr(f"hv div {_Q83_M}").alias("w"),
    )
    regs = bits.groupBy("event_type", "reg").agg(
        F.max(
            F.when(F.col("w") > 0, F.lit(27) - F.length(F.bin("w"))).otherwise(
                F.lit(27)
            )
        ).alias("m_reg")
    )
    agg = regs.groupBy("event_type").agg(
        F.count("*").alias("v_registers"),
        (F.lit(_Q83_M) - F.count("*")).alias("zeros"),
        F.sum(F.lit(1.0) / F.pow(F.lit(2.0), F.col("m_reg"))).alias("z_present"),
    )
    raw = F.lit(_Q83_ALPHA_M2) / (F.col("z_present") + F.col("zeros").cast("double"))
    est = agg.select(
        "event_type",
        "v_registers",
        "zeros",
        F.round(
            F.when(
                (raw <= 2.5 * _Q83_M) & (F.col("zeros") > 0),
                F.lit(float(_Q83_M)) * F.log(F.lit(float(_Q83_M)) / F.col("zeros")),
            ).otherwise(raw),
            6,
        ).alias("est_distinct"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type")


# --------------------------------------------------------------------------
# q84: REPETITION-RATIO QUALITY RULES (Gopher-style) — per-document
# duplicate-bigram fraction and most-common-word mass fraction, the two
# repetition signals the Gopher/MassiveText filter family uses that
# q75's length/diversity cascade does not cover. Bigram construction
# guards size<2 explicitly (F.sequence(1,0) is DESCENDING in Spark —
# the q68 advice bug class); both fractions are ROUND(...,6)-ed BEFORE
# the threshold compare so the keep decision is identical in both
# engines. Scale shape: ONE text scan — the bigram stats are
# array-local, so they are computed before the word explode and carried
# through both aggregations as grouping keys (functionally dependent on
# doc_id); no big/tw join exists at all (r3 plan audit showed 2 scans +
# a doc_id join). Both shuffles are key-partitioned and mergeable;
# nothing is quadratic in doc length but the bigram list (linear).
_Q84_DUP_MAX = 0.05   # duplicate-bigram fraction ceiling
_Q84_TOP_MAX = 0.15   # most-common-word mass ceiling

_Q84_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS a
  FROM documents
),
big AS (
  SELECT doc_id,
    len(grams) AS n_bigrams,
    len(list_distinct(grams)) AS n_distinct_bigrams
  FROM (
    SELECT doc_id,
      list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1]) AS grams
    FROM toks
  )
),
wc AS (
  SELECT doc_id, t AS word, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest(a) AS t FROM toks)
  GROUP BY doc_id, t
),
tw AS (
  SELECT doc_id, MAX(cnt) AS top_cnt, SUM(cnt) AS n_words
  FROM wc GROUP BY doc_id
),
scored AS (
  SELECT b.doc_id, b.n_bigrams, b.n_distinct_bigrams,
    CASE WHEN b.n_bigrams = 0 THEN CAST(0.0 AS DOUBLE)
         ELSE ROUND(1.0 - CAST(b.n_distinct_bigrams AS DOUBLE) / b.n_bigrams, 6)
    END AS dup_frac,
    ROUND(CAST(t.top_cnt AS DOUBLE) / t.n_words, 6) AS top_word_frac
  FROM big b JOIN tw t USING (doc_id)
)
SELECT doc_id, n_bigrams, n_distinct_bigrams, dup_frac, top_word_frac,
  (dup_frac <= {_Q84_DUP_MAX} AND top_word_frac <= {_Q84_TOP_MAX}) AS keep,
  CASE WHEN dup_frac > {_Q84_DUP_MAX} THEN 'dup_bigrams'
       WHEN top_word_frac > {_Q84_TOP_MAX} THEN 'top_word'
       ELSE '' END AS reject_reason
FROM scored
"""


@register("q84_repetition_rules", oracle=_Q84_ORACLE)
def q84_repetition_rules(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda t: t != F.lit("")).alias("a"),
    )
    grams = (
        F.when(
            F.size("a") >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size("a") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("a", i), F.element_at("a", i + 1)
                ),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
    )
    # Per-doc stats MUST become attributes in their own select BEFORE the
    # explode: a generator select hoists every non-attribute expression
    # into a Project ABOVE the Generate, re-evaluating the O(len^2)
    # array_distinct once per exploded word (measured 9x slower at
    # sf0.1). As attributes they sit in the Project BELOW the Generate
    # (plan node order verified in PLANS.md) — once per doc.
    # explode drops zero-token docs — matching the oracle, whose inner
    # join on the word-count CTE drops them too
    stats = toks.select(
        "doc_id",
        F.size(grams).alias("n_bigrams"),
        F.size(F.array_distinct(grams)).alias("n_distinct_bigrams"),
        "a",
    )
    base = stats.select(
        "doc_id", "n_bigrams", "n_distinct_bigrams", F.explode("a").alias("word")
    )
    wc = base.groupBy(
        "doc_id", "n_bigrams", "n_distinct_bigrams", "word"
    ).agg(F.count("*").alias("cnt"))
    tw = wc.groupBy("doc_id", "n_bigrams", "n_distinct_bigrams").agg(
        F.max("cnt").alias("top_cnt"), F.sum("cnt").alias("n_words")
    )
    dup_frac = F.when(F.col("n_bigrams") == 0, F.lit(0.0)).otherwise(
        F.round(
            F.lit(1.0)
            - F.col("n_distinct_bigrams").cast("double") / F.col("n_bigrams"),
            6,
        )
    )
    scored = tw.select(
        "doc_id",
        "n_bigrams",
        "n_distinct_bigrams",
        dup_frac.alias("dup_frac"),
        F.round(F.col("top_cnt").cast("double") / F.col("n_words"), 6).alias(
            "top_word_frac"
        ),
    )
    keep = (F.col("dup_frac") <= _Q84_DUP_MAX) & (
        F.col("top_word_frac") <= _Q84_TOP_MAX
    )
    reason = (
        F.when(F.col("dup_frac") > _Q84_DUP_MAX, F.lit("dup_bigrams"))
        .when(F.col("top_word_frac") > _Q84_TOP_MAX, F.lit("top_word"))
        .otherwise(F.lit(""))
    )
    return scored.select(
        "*", keep.alias("keep"), reason.alias("reject_reason")
    )


# --------------------------------------------------------------------------
# q85: COUNT-MIN SKETCH heavy hitters — the second deterministic sketch
# family (q83 = HLL for distinct counts; CMS = frequency estimates).
# D=4 hash rows x W=16 columns, every hash an engine-portable
# md5-bucket of 'row:token' (never engine hash()); counter(r, c) sums
# the token counts landing in (r, c), and a token's estimate is the MIN
# over its D probes — always >= the true count, with the overcount
# showing real collisions (the 31-token vocabulary over 16 columns
# collides by construction, so the sketch property is exercised, not
# vacuously zero). Scale shape: counters are ONE mergeable
# groupBy(r, c) agg over D*W cells — at 100 TB the sketch is built
# map-side and merged, never the vocabulary itself; the probe join
# broadcasts the D*W-row counter table.
_Q85_D = 4
_Q85_W = 16
_Q85_TOPK = 10

_Q85_ORACLE = f"""
WITH tf AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(string_split(text, ' ')) AS token FROM documents
  ) WHERE token != '' GROUP BY token
),
cells AS (
  SELECT r, {md5_bucket_sql("r || ':' || token", _Q85_W)} AS c,
         SUM(cnt) AS counter
  FROM tf, (SELECT UNNEST(range({_Q85_D})) AS r)
  GROUP BY 1, 2
),
top AS (
  SELECT token, cnt FROM tf ORDER BY cnt DESC, token LIMIT {_Q85_TOPK}
),
probes AS (
  SELECT t.token, t.cnt, cl.counter
  FROM top t, (SELECT UNNEST(range({_Q85_D})) AS r) rs
  JOIN cells cl
    ON cl.r = rs.r AND cl.c = {md5_bucket_sql("rs.r || ':' || t.token", _Q85_W)}
)
SELECT token, cnt AS true_cnt,
       CAST(MIN(counter) AS BIGINT) AS est_cnt,
       CAST(MIN(counter) - cnt AS BIGINT) AS overcount
FROM probes GROUP BY token, cnt
"""


@register("q85_cms_heavy_hitters", oracle=_Q85_ORACLE)
def q85_cms_heavy_hitters(spark, sf_dir):
    from pyspark.sql.functions import broadcast

    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    probe_cols = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("r"),
                    md5_bucket(
                        F.concat(F.lit(f"{r}:"), F.col("token")), _Q85_W
                    ).alias("c"),
                )
                for r in range(_Q85_D)
            ]
        )
    )
    keyed = tf.select("token", "cnt", probe_cols.alias("p")).select(
        "token", "cnt", "p.r", "p.c"
    )
    cells = keyed.groupBy("r", "c").agg(F.sum("cnt").alias("counter"))
    top = tf.orderBy(F.desc("cnt"), F.asc("token")).limit(_Q85_TOPK)
    top_probes = top.select("token", "cnt", probe_cols.alias("p")).select(
        "token", "cnt", "p.r", "p.c"
    )
    return (
        top_probes.join(broadcast(cells), ["r", "c"])
        .groupBy("token", "cnt")
        .agg(F.min("counter").alias("est_cnt"))
        .select(
            "token",
            F.col("cnt").alias("true_cnt"),
            "est_cnt",
            (F.col("est_cnt") - F.col("cnt")).alias("overcount"),
        )
    )


# --------------------------------------------------------------------------
# q86: DETERMINISTIC WEIGHTED RESERVOIR SAMPLE (Efraimidis-Spirakis
# A-ExpJ form) — per-language sample of k=5 docs with inclusion
# probability proportional to n_chars: u = md5-uniform in (0, 1],
# key = -ln(u) / weight, keep the k SMALLEST keys. md5-derived u makes
# the sample reproducible across runs, engines, and partitionings
# (never rand()); the key is scaled x1e6 and ROUND(...,6)-ed BEFORE
# ordering (ln differs in the last ulp across engines) with doc_id as
# the total-order tie-break. Scale shape: one shuffle on lang for the
# top-k window — at 100 TB the same key supports per-partition
# partial top-k then merge, because min-k of a union is min-k of
# per-part min-ks.
_Q86_K = 5

_Q86_ORACLE = f"""
WITH keyed AS (
  SELECT lang, doc_id, n_chars,
    ROUND(
      -ln((({md5_bucket_sql("doc_id", 1 << 32)}) + 1.0) / 4294967296.0)
      * 1000000.0 / n_chars, 6) AS samp_key
  FROM documents
)
SELECT lang, doc_id, n_chars, samp_key, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY lang ORDER BY samp_key, doc_id) AS rk
  FROM keyed
) WHERE rk <= {_Q86_K}
"""


@register("q86_weighted_sample", oracle=_Q86_ORACLE)
def q86_weighted_sample(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    u = (md5_bucket(F.col("doc_id"), 1 << 32) + 1.0) / 4294967296.0
    keyed = docs.select(
        "lang",
        "doc_id",
        "n_chars",
        F.round(-F.log(u) * 1000000.0 / F.col("n_chars"), 6).alias("samp_key"),
    )
    w = Window.partitionBy("lang").orderBy("samp_key", "doc_id")
    return (
        keyed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _Q86_K)
    )


# --------------------------------------------------------------------------
# q87: BIGRAM-LM QUALITY SCORE (CCNet-style perplexity filtering) — the
# classic LLM-corpus quality gate: train an add-one-smoothed bigram
# language model ON the corpus itself, score every document by its mean
# log-probability avg ln((c(w1 w2)+1) / (c(w1 .)+V)), and keep docs
# above a threshold (low perplexity = in-distribution text). The score
# is ROUND(...,6)-ed before the threshold compare (ln last-ulp + sum
# order; accumulated error ~1e-13 against a 5e-7 rounding quantum).
# Scale shape: LM counts are two mergeable token-grain aggregates
# (bigram, context), the scoring join is vocab-keyed exactly like q73
# (no broadcast assumption — a web-corpus bigram table is large), and
# the per-doc rollup shuffles on doc_id. Nothing is quadratic. The
# tokenized corpus is materialized ONCE (checkpoint_memo) and the
# bigram/context/vocab counts plus the scoring pass all derive from
# it — the plan makes a single parquet scan of the text column (r3
# plan audit showed 4; a 100 TB CCNet run tokenizes once too).
_Q87_MIN_LOGP = -3.45

_Q87_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS a
  FROM documents
),
inst AS (
  SELECT doc_id,
    unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1])) AS bigram
  FROM toks
),
c2 AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cnt2 FROM inst GROUP BY 1),
c1 AS (
  SELECT split_part(bigram, ' ', 1) AS w1, CAST(COUNT(*) AS BIGINT) AS cnt1
  FROM inst GROUP BY 1
),
v AS (
  SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS vocab
  FROM (SELECT unnest(a) AS t FROM toks)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(ln(CAST(c2.cnt2 + 1 AS DOUBLE) / (c1.cnt1 + v.vocab))), 6)
         AS avg_logp,
       (ROUND(AVG(ln(CAST(c2.cnt2 + 1 AS DOUBLE) / (c1.cnt1 + v.vocab))), 6)
         >= {_Q87_MIN_LOGP}) AS keep
FROM inst i
JOIN c2 USING (bigram)
JOIN c1 ON c1.w1 = split_part(i.bigram, ' ', 1)
CROSS JOIN v
GROUP BY doc_id
"""


@register("q87_lm_quality_score", oracle=_Q87_ORACLE)
def q87_lm_quality_score(spark, sf_dir):
    from pyspark.sql.functions import broadcast

    from sparkextract.queries.base import checkpoint_memo

    toks = checkpoint_memo(
        spark,
        sf_dir,
        "q87_toks",
        lambda: load(spark, sf_dir, "documents").select(
            "doc_id",
            F.filter(F.split("text", " "), lambda t: t != F.lit("")).alias("a"),
        ),
    )
    inst = toks.select(
        "doc_id",
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
    c2 = inst.groupBy("bigram").agg(F.count("*").alias("cnt2"))
    c1 = (
        inst.select(F.substring_index("bigram", " ", 1).alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("cnt1"))
    )
    vocab = toks.select(F.explode("a").alias("t")).agg(
        F.countDistinct("t").alias("vocab")
    )
    logp = F.log(
        (F.col("cnt2") + 1).cast("double") / (F.col("cnt1") + F.col("vocab"))
    )
    avg_logp = F.round(F.avg(logp), 6)
    return (
        inst.join(c2, "bigram")
        .join(c1, F.substring_index(F.col("bigram"), " ", 1) == F.col("w1"))
        .crossJoin(broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            avg_logp.alias("avg_logp"),
            (avg_logp >= _Q87_MIN_LOGP).alias("keep"),
        )
    )


# --------------------------------------------------------------------------
# q88: PMI TOKEN CO-OCCURRENCE — pointwise mutual information over
# presence-based document co-occurrence, the association-mining op a
# corpus-analysis pipeline runs to find collocations:
# pmi(a,b) = ln(df_ab * N / (df_a * df_b)), support-filtered. Pair
# generation is DOC-LOCAL: the sorted distinct token set is
# materialized as a column (multi-referenced, so CollapseProject keeps
# it — the q67 lesson; inlining would re-evaluate the sort per outer
# element), and per-doc pairs come from a nested transform/slice with
# strict ordering, so each unordered pair is emitted once — no doc_id
# self-join shuffle. All integer products stay < 2^53 (exact in
# double); pmi is ROUND(...,6)-ed for the ln ulp. Scale shape: pair
# cardinality is bounded by (distinct tokens per doc)^2 per row —
# the standard co-occurrence explode — and every agg/join after it is
# token- or pair-keyed and mergeable.
_Q88_MINSUP = 5

_Q88_ORACLE = f"""
WITH dt AS (
  SELECT DISTINCT doc_id, t AS tok FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
  ) WHERE t != ''
),
dfa AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM dt GROUP BY tok),
pairs AS (
  SELECT x.tok AS tok_a, y.tok AS tok_b, CAST(COUNT(*) AS BIGINT) AS df_ab
  FROM dt x JOIN dt y ON x.doc_id = y.doc_id AND x.tok < y.tok
  GROUP BY x.tok, y.tok
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
SELECT p.tok_a, p.tok_b, p.df_ab,
  ROUND(ln(CAST(p.df_ab AS DOUBLE) * n.n_docs / (a.df * b.df)), 6) AS pmi
FROM pairs p
JOIN dfa a ON a.tok = p.tok_a
JOIN dfa b ON b.tok = p.tok_b
CROSS JOIN n
WHERE p.df_ab >= {_Q88_MINSUP}
"""


@register("q88_pmi_cooccurrence", oracle=_Q88_ORACLE)
def q88_pmi_cooccurrence(spark, sf_dir):
    from pyspark.sql.functions import broadcast

    docs = load(spark, sf_dir, "documents")
    sets = docs.select(
        "doc_id",
        F.array_sort(
            F.array_distinct(
                F.filter(F.split("text", " "), lambda t: t != F.lit(""))
            )
        ).alias("s"),
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("s"),
            lambda x, i: F.transform(
                F.slice(F.col("s"), i + 2, F.size("s")),
                lambda y: F.concat_ws(" ", x, y),
            ),
        )
    )
    dt = sets.select("doc_id", F.explode("s").alias("tok"))
    dfa = dt.groupBy("tok").agg(F.count("*").alias("df"))
    pairs = (
        sets.select(F.explode(pair_arr).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("df_ab"))
        .filter(F.col("df_ab") >= _Q88_MINSUP)
        .select(
            F.substring_index("pair", " ", 1).alias("tok_a"),
            F.substring_index("pair", " ", -1).alias("tok_b"),
            "df_ab",
        )
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    dfa_a = dfa.select(F.col("tok").alias("tok_a"), F.col("df").alias("df_a"))
    dfa_b = dfa.select(F.col("tok").alias("tok_b"), F.col("df").alias("df_b"))
    return (
        pairs.join(broadcast(dfa_a), "tok_a")
        .join(broadcast(dfa_b), "tok_b")
        .crossJoin(broadcast(n))
        .select(
            "tok_a",
            "tok_b",
            "df_ab",
            F.round(
                F.log(
                    F.col("df_ab").cast("double")
                    * F.col("n_docs")
                    / (F.col("df_a") * F.col("df_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )


# --------------------------------------------------------------------------
# q89: EQUI-WIDTH HISTOGRAM QUANTILE SKETCH — the third sketch family
# member (q83 HLL = distinct counts, q85 CMS = frequencies, q89 =
# quantiles): per-language approximate p50/p90/p99 of n_chars from a
# W=16-wide bin histogram, answering the quantile question a 100 TB
# run cannot sort for. The estimate is the upper edge of the first bin
# whose cumulative count reaches ceil(q * total) — every step is
# INTEGER math (bin = n_chars div W), so the sketch is bit-exact
# across engines with no rounding discipline needed; ceil(q*total)
# computes the same double product from the same operands in both.
# Scale shape: ONE mergeable groupBy(lang, bin) agg (the histogram),
# then windows/aggregates over bin-grain data only (~35 bins here) —
# histograms merge by adding counts, the map-side-combine sketch
# property. Accuracy is +-W by construction.
_Q89_W = 16

_Q89_ORACLE = f"""
WITH hist AS (
  SELECT lang, n_chars // {_Q89_W} AS bin, COUNT(*) AS cnt
  FROM documents GROUP BY 1, 2
),
cum AS (
  SELECT lang, bin, cnt,
    SUM(cnt) OVER (PARTITION BY lang ORDER BY bin) AS cum,
    SUM(cnt) OVER (PARTITION BY lang) AS total
  FROM hist
)
SELECT lang, CAST(MAX(total) AS BIGINT) AS n_docs,
  CAST(MIN(CASE WHEN cum >= CAST(CEIL(0.5 * total) AS BIGINT)
       THEN (bin + 1) * {_Q89_W} - 1 END) AS BIGINT) AS est_p50,
  CAST(MIN(CASE WHEN cum >= CAST(CEIL(0.9 * total) AS BIGINT)
       THEN (bin + 1) * {_Q89_W} - 1 END) AS BIGINT) AS est_p90,
  CAST(MIN(CASE WHEN cum >= CAST(CEIL(0.99 * total) AS BIGINT)
       THEN (bin + 1) * {_Q89_W} - 1 END) AS BIGINT) AS est_p99
FROM cum GROUP BY lang
"""


@register("q89_histogram_quantiles", oracle=_Q89_ORACLE)
def q89_histogram_quantiles(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    hist = (
        docs.select("lang", F.expr(f"n_chars div {_Q89_W}").alias("bin"))
        .groupBy("lang", "bin")
        .agg(F.count("*").alias("cnt"))
    )
    w_cum = Window.partitionBy("lang").orderBy("bin")
    w_all = Window.partitionBy("lang")
    cum = hist.select(
        "lang",
        "bin",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("total"),
    )

    def est(q):
        k = F.ceil(F.lit(q) * F.col("total")).cast("long")
        edge = (F.col("bin") + 1) * _Q89_W - 1
        return F.min(F.when(F.col("cum") >= k, edge))

    return cum.groupBy("lang").agg(
        F.max("total").alias("n_docs"),
        est(0.5).alias("est_p50"),
        est(0.9).alias("est_p90"),
        est(0.99).alias("est_p99"),
    )


# --------------------------------------------------------------------------
# q90: TEMPERATURE-SCALED MIXTURE WEIGHTS — the data-mixing step of a
# multilingual training pipeline (mT5 / XLM-R style): per-language
# sampling weight w_l proportional to n_l^alpha with alpha = 0.5, which
# up-weights low-resource languages relative to their raw share, plus
# the resulting expected epochs-per-document for a fixed sampling
# budget (how many times each 'fr' doc is seen vs each 'en' doc).
# Numeric discipline: alpha = 0.5 exactly so the power IS SQRT — IEEE
# requires sqrt correctly rounded, so Spark and DuckDB agree bit-exact
# (POW carries no such guarantee); the sqrt is ROUND(...,4)-ed into
# DECIMAL(18,4) so the normalizing sum is exact decimal addition in
# any order, and the final double divisions round once at 6 dp.
# Scale shape: ONE mergeable groupBy(lang) count/sum over the corpus,
# then a global window over the post-agg lang-grain micro-set (5 rows
# here, bounded by distinct languages) — the q33 share-of-total shape,
# benign by construction.
_Q90_BUDGET = 1_000_000

_Q90_ORACLE = f"""
WITH s AS (
  SELECT lang, COUNT(*) AS n_docs, SUM(n_chars) AS total_chars,
         CAST(ROUND(SQRT(COUNT(*)), 4) AS DECIMAL(18,4)) AS p
  FROM documents GROUP BY lang
)
SELECT lang, n_docs, total_chars,
  ROUND(CAST(p AS DOUBLE) / CAST(SUM(p) OVER () AS DOUBLE), 6) AS mix_weight,
  ROUND(((CAST(p AS DOUBLE) / CAST(SUM(p) OVER () AS DOUBLE))
         * {_Q90_BUDGET}) / n_docs, 6) AS epochs_per_doc
FROM s
"""


@register("q90_mixture_weights", oracle=_Q90_ORACLE)
def q90_mixture_weights(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    agg = docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.sqrt(F.count("*")), 4).cast("decimal(18,4)").alias("p"),
    )
    p_dbl = F.col("p").cast("double")
    tot_dbl = F.sum("p").over(Window.partitionBy()).cast("double")
    w = p_dbl / tot_dbl
    return agg.select(
        "lang",
        "n_docs",
        "total_chars",
        F.round(w, 6).alias("mix_weight"),
        F.round((w * _Q90_BUDGET) / F.col("n_docs"), 6).alias("epochs_per_doc"),
    )

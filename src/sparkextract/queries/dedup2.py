"""Second-wave dedup operators: SimHash and LSH-bucketed embedding
near-dup join — the remaining training-data-pipeline dedup family
(exact ✓ q11/q13, MinHash ✓ q19, Jaccard ✓ q20, fingerprint ✓ q21).

SimHash here is a 16-bit signature: for each whitespace token, md5 gives
16 pseudo-random bits (first 4 hex chars); each bit position accumulates
+1/-1 over tokens; the sign per position forms the signature. Pure
integer/md5 math → identical in Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkextract.queries.base import checkpoint_memo, load, register

_BITS = 16


def _simhash_oracle() -> str:
    # per-bit: sum over distinct tokens of (bit?1:-1), bit b of the 16-bit
    # value = first 4 hex chars of md5(token)
    bit_terms = " + ".join(
        f"(CASE WHEN (v >> {b}) & 1 = 1 THEN (1 << {b}) ELSE 0 END)" for b in range(_BITS)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ), bits AS (
      SELECT doc_id,
             CAST(('0x' || SUBSTRING(md5(tok), 1, 4))::VARCHAR AS UBIGINT) AS hv
      FROM toks WHERE tok != ''
    ), votes AS (
      SELECT doc_id, {", ".join(
        f"SUM(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}" for b in range(_BITS)
      )}
      FROM bits GROUP BY doc_id
    )
    SELECT doc_id,
           CAST({" + ".join(f"(CASE WHEN s{b} > 0 THEN (1 << {b}) ELSE 0 END)" for b in range(_BITS))} AS BIGINT) AS simhash
    FROM votes
    """


@register("q32_simhash", oracle=_simhash_oracle())
def q32_simhash(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    ).filter(F.col("tok") != "")
    hv = F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("long")
    bits = toks.select("doc_id", hv.alias("hv"))
    votes = bits.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("hv", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(_BITS)
        ]
    )
    sig = None
    for b in range(_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return votes.select("doc_id", sig.cast("long").alias("simhash"))


# --------------------------------------------------------------------------
# Embedding near-dup candidates via LSH-bucket equi-join + exact cosine
# verify — the scale pattern for similarity dedup: candidates come from a
# bucket hash join (shuffle on a tiny int key), never a cross join; the
# exact cosine runs only on co-bucketed pairs.
_DIM = 64


def _plane_sign_sql(i_expr: str, plane: int) -> str:
    return (
        f"(CASE WHEN STRPOS('02468ace', SUBSTRING(md5('{plane}:' || CAST({i_expr} AS VARCHAR)), 1, 1)) > 0 "
        f"THEN 1.0 ELSE -1.0 END)"
    )


def _bucket_sql(emb: str) -> str:
    return " + ".join(
        f"(CASE WHEN list_sum(list_transform(range(1, {_DIM + 1}), "
        f"i -> CAST({emb}[i] AS DOUBLE) * {_plane_sign_sql('i', p)})) >= 0 THEN {1 << (3 - p)} ELSE 0 END)"
        for p in range(4)
    )


_Q34_ORACLE = f"""
WITH b AS (
  SELECT vec_id, embedding, CAST({_bucket_sql('embedding')} AS INTEGER) AS bucket
  FROM embeddings WHERE vec_id < 300
)
SELECT x.vec_id AS left_id, y.vec_id AS right_id,
       ROUND(
         list_sum(list_transform(range(1, {_DIM + 1}), i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))
         / ( sqrt(list_sum(list_transform(range(1, {_DIM + 1}), i -> CAST(x.embedding[i] AS DOUBLE) * CAST(x.embedding[i] AS DOUBLE))))
           * sqrt(list_sum(list_transform(range(1, {_DIM + 1}), i -> CAST(y.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))) ),
         6) AS cosine
FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
WHERE ROUND(
         list_sum(list_transform(range(1, {_DIM + 1}), i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))
         / ( sqrt(list_sum(list_transform(range(1, {_DIM + 1}), i -> CAST(x.embedding[i] AS DOUBLE) * CAST(x.embedding[i] AS DOUBLE))))
           * sqrt(list_sum(list_transform(range(1, {_DIM + 1}), i -> CAST(y.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))) ),
         6) >= 0.3
"""


def _bucket_col():
    # signs hoisted to driver-side literals (hashlib md5 == engine md5):
    # the hyperplane depends on (plane, i) only — see q28's note
    from sparkextract.queries.vector import _plane_signs_py

    def plane_proj(p: int):
        signs = F.lit(_plane_signs_py(p))
        return F.aggregate(
            F.zip_with(F.col("embedding"), signs, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    bucket = F.lit(0)
    for p in range(4):
        bucket = bucket + F.when(plane_proj(p) >= 0, F.lit(1 << (3 - p))).otherwise(F.lit(0))
    return bucket.cast("int")


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


@register("q34_lsh_near_dup_join", oracle=_Q34_ORACLE)
def q34_lsh_near_dup_join(spark, sf_dir):
    """Single-signature LSH demo (16 fixed buckets). At real corpus sizes
    a FIXED bucket count makes within-bucket pair joins O(N²/16) — use the
    banded variant (q53) whose bucket space scales with the plane count;
    this one is kept as the minimal-shape oracle for the bucket pattern."""
    emb = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 300)
        .select("vec_id", "embedding", _bucket_col().alias("bucket"))
    )
    x = emb.alias("x")
    y = emb.alias("y")
    pairs = x.join(
        y,
        (F.col("x.bucket") == F.col("y.bucket")) & (F.col("x.vec_id") < F.col("y.vec_id")),
    )
    cosine = F.round(
        _dot(F.col("x.embedding"), F.col("y.embedding"))
        / (_norm(F.col("x.embedding")) * _norm(F.col("y.embedding"))),
        6,
    )
    return pairs.select(
        F.col("x.vec_id").alias("left_id"),
        F.col("y.vec_id").alias("right_id"),
        cosine.alias("cosine"),
    ).filter(F.col("cosine") >= 0.3)


# --------------------------------------------------------------------------
# q53: SCALE-SAFE banded LSH near-dup join (the fix for q34's fixed
# 16-bucket space). B bands x R hyperplanes per band: each vector gets B
# band signatures of R sign bits; candidate pairs share (band, signature)
# for at least one band — an equi-join on a key whose cardinality is
# B * 2^R, so R is the knob that keeps expected bucket size bounded as
# the corpus grows (choose R ~ log2(N / target_bucket_size); here 4x8 =
# 1024 buckets for a ~572-vector corpus). Exact cosine runs only on
# deduplicated candidate pairs. The corpus is random, so near-dup pairs
# are injected (a perturbed copy of every 7th vector) exactly like q38
# does for MinHash; band collisions between random vectors are possible
# but the cosine >= 0.8 verify stage only keeps true near-dups.
#
# Plan note: the signature subtree appears on both sides of the
# self-join, so Spark recomputes it (6 scans in PLANS.md). The
# projection is cheap map-side arithmetic, so at 100 TB recompute costs
# one extra scan's I/O + flops; if signatures ever become expensive
# (more planes, learned projections), materialize the (vec_id, band,
# sig) table once — bucketed by (band, sig) — and self-join that.
# Reference intent: ANN index instead of exact scan,
# /root/reference/src/rag/vector_database.py:184-189.
#
# The hyperplane sign matrix is a CONSTANT (a function of (band, plane,
# dim) only), so it is derived ONCE driver-side from md5 (hashlib md5 ==
# engine md5, byte for byte) and embedded as literals in both engines —
# the broadcast-constant shape you want at scale, instead of re-deriving
# 2048 md5s per row inside the projection.
_BANDS = 4
_PLANES = 8  # per band -> 2^8 signatures per band


def _plane_signs(band: int, plane: int) -> list[float]:
    import hashlib

    return [
        1.0
        if hashlib.md5(f"b{band}p{plane}:{i}".encode()).hexdigest()[0] in "02468ace"
        else -1.0
        for i in range(1, _DIM + 1)
    ]


def _band_sig_sql(band: int) -> str:
    # flat unrolled dot product per plane: list-literal indexing inside
    # list_transform re-materializes the 64-element list per element
    # (O(dim^2) per row); the flat sum is vectorized and order-identical
    # to the Spark fold (left-associated, i ascending)
    terms = []
    for p in range(_PLANES):
        proj = " + ".join(
            f"e[{i + 1}]*{s}" for i, s in enumerate(_plane_signs(band, p))
        )
        terms.append(f"(CASE WHEN ({proj}) >= 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


_COS_E = (
    f"list_sum(list_transform(range(1, {_DIM + 1}), i -> cx.e[i] * cy.e[i]))"
    f" / ( sqrt(list_sum(list_transform(range(1, {_DIM + 1}), i -> cx.e[i] * cx.e[i])))"
    f"   * sqrt(list_sum(list_transform(range(1, {_DIM + 1}), i -> cy.e[i] * cy.e[i]))) )"
)

_Q53_ORACLE = f"""
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
sigs AS (
  SELECT vec_id, e,
         [{", ".join(f"CAST({_band_sig_sql(b)} AS INTEGER)" for b in range(_BANDS))}] AS s
  FROM corpus
),
buckets AS (
  SELECT vec_id, band, s[band + 1] AS sig
  FROM sigs, (SELECT UNNEST(range({_BANDS})) AS band)
),
pairs AS (
  SELECT DISTINCT x.vec_id AS l, y.vec_id AS r
  FROM buckets x JOIN buckets y
    ON x.band = y.band AND x.sig = y.sig AND x.vec_id < y.vec_id
)
SELECT p.l AS left_id, p.r AS right_id,
       ROUND({_COS_E}, 6) AS cosine
FROM pairs p
JOIN corpus cx ON p.l = cx.vec_id
JOIN corpus cy ON p.r = cy.vec_id
WHERE ROUND({_COS_E}, 6) >= 0.8
"""


def _banded_corpus(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    perturbed = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 7 == 0)
        .select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            F.zip_with(
                "embedding",
                F.sequence(F.lit(1), F.lit(_DIM)),
                lambda x, i: F.when(i == 1, x.cast("double") + 0.25).otherwise(
                    x.cast("double")
                ),
            ).alias("e"),
        )
    )
    return emb.unionByName(perturbed)


def _band_sig_col(band: int):
    # zip_with + fold (left-associated, i ascending — order-identical to
    # the SQL's flat sum). A flat 64-term-per-plane expression would blow
    # whole-stage codegen's method-size limit (32 planes x 64 terms) and
    # drop the whole stage to interpreted mode; higher-order functions
    # are evaluated outside codegen and keep the rest of the stage fast.
    #
    # The plane loop is itself a fold over a NESTED-ARRAY LITERAL (one
    # Literal node holding the 8x64 sign matrix) rather than 8 unrolled
    # per-plane expressions each carrying a 64-element CreateArray: the
    # unrolled form put ~2k literal leaves and 64 lambda nodes into the
    # plan per query, and Catalyst analysis/optimization of that tree —
    # not execution — dominated q53's wall time (~3s of the bench
    # number at any SF). Fold order over planes is p ascending with
    # integer adds; per-plane projection order is i ascending — both
    # bit-identical to the unrolled form and the SQL oracle.
    signs_matrix = F.lit([_plane_signs(band, p) for p in range(_PLANES)])
    weights = F.lit([1 << p for p in range(_PLANES)])
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(_PLANES)),
        F.lit(0),
        lambda acc, p: acc
        + F.when(
            F.aggregate(
                F.zip_with(
                    F.col("e"), F.element_at(signs_matrix, p), lambda x, s: x * s
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            >= 0,
            F.element_at(weights, p),
        ).otherwise(F.lit(0)),
    ).cast("int")


@register("q53_banded_lsh_near_dup", oracle=_Q53_ORACLE)
def q53_banded_lsh_near_dup(spark, sf_dir):
    corpus = _banded_corpus(spark, sf_dir)
    buckets = (
        corpus.withColumn(
            "bs", F.array(*[_band_sig_col(b) for b in range(_BANDS)])
        )
        .select("vec_id", F.posexplode("bs").alias("band", "sig"))
    )
    # shuffle-hash, not broadcast: broadcasting the bucket table would
    # funnel one side's 32-plane signature computation through the
    # driver collect (single-threaded) — and at scale the bucket table
    # is O(N x bands) rows, never broadcastable anyway. The shuffle key
    # (band, sig) is exactly the LSH bucket id.
    x = buckets.hint("shuffle_hash").alias("x")
    y = buckets.hint("shuffle_hash").alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(F.col("x.vec_id").alias("l"), F.col("y.vec_id").alias("r"))
        .distinct()
    )
    cx = corpus.select(F.col("vec_id").alias("l"), F.col("e").alias("ex"))
    cy = corpus.select(F.col("vec_id").alias("r"), F.col("e").alias("ey"))
    # corpus arrays are already double, so _dot/_norm's cast is a no-op
    cosine = F.round(
        _dot(F.col("ex"), F.col("ey")) / (_norm(F.col("ex")) * _norm(F.col("ey"))), 6
    )
    return (
        pairs.join(cx, "l")
        .join(cy, "r")
        .select(
            F.col("l").alias("left_id"),
            F.col("r").alias("right_id"),
            cosine.alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.8)
    )



# --------------------------------------------------------------------------
# q68: SimHash near-dup JOIN — completes the SimHash family from
# signatures (q32) to dedup pairing, at the width a real pipeline uses:
# a 48-bit signature (16 bits as in q32 collides massively at corpus
# scale — a prototype run emitted 4.5M spurious pairs at sf0.1) split
# into 6 bands of 8 bits. By pigeonhole, any pair within hamming
# distance 5 shares at least one identical band, so banded equi-join
# candidate generation is LOSSLESS for radius-5 hamming-LSH; the exact
# popcount verify runs only on co-banded pairs. Near-dup pairs are
# injected exactly like q38 (head-perturbed copies of every 11th doc).
# Features are distinct word BIGRAMS, not unigrams — this corpus shares
# a tiny vocabulary, so unigram token sets (and their simhashes) nearly
# coincide across unrelated docs; bigrams discriminate.
# Scale shape: equi-join on a (band, value) key of cardinality
# 6 * 2^8 — band bits are the knob, exactly like q53's hyperplanes.
_SH_BITS = 48
_SH_BANDS = 6
_SH_BAND_BITS = _SH_BITS // _SH_BANDS
_SH_RADIUS = _SH_BANDS - 1  # lossless pigeonhole radius


def _simhash48_sql(corpus_cte: str) -> str:
    """CTE chain ending in sigs(doc_id, simhash) — 48-bit q32 math."""
    votes = ", ".join(
        f"SUM(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(_SH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN (1::BIGINT << {b}) ELSE 0 END)"
        for b in range(_SH_BITS)
    )
    return f"""
    words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM ({corpus_cte})
    ), toks AS (
      SELECT doc_id, unnest(list_distinct(
        list_transform(range(1, GREATEST(LENGTH(w) - 1, 0) + 1),
                       i -> w[i] || ' ' || w[i+1])
      )) AS tok
      FROM words
    ), bits AS (
      SELECT doc_id,
             CAST(('0x' || SUBSTRING(md5(tok), 1, 12))::VARCHAR AS UBIGINT) AS hv
      FROM toks WHERE tok != ''
    ), votes AS (
      SELECT doc_id, {votes} FROM bits GROUP BY doc_id
    ), sigs AS (
      SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM votes
    )"""


_Q68_CORPUS = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, 'xxxxxxxxxx' || SUBSTRING(text, 11) AS text
      FROM documents WHERE doc_id % 11 = 0
"""

def simhash_pairs_sql(corpus_cte: str) -> str:
    """CTE chain ending in dup_pairs(left_id, right_id, hamming) — the
    DuckDB twin of ``simhash_banded_pairs`` over ``_simhash48_sql``
    signatures. Shared by q68 and q94's end-to-end composition."""
    return f"""{_simhash48_sql(corpus_cte)},
    buckets AS (
      SELECT doc_id, simhash, band,
             (simhash >> (band * {_SH_BAND_BITS})) & {(1 << _SH_BAND_BITS) - 1} AS bv
      FROM sigs, (SELECT UNNEST(range({_SH_BANDS})) AS band)
    ),
    pairs AS (
      SELECT DISTINCT x.doc_id AS l, y.doc_id AS r,
             x.simhash AS sx, y.simhash AS sy
      FROM buckets x JOIN buckets y
        ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id
    ),
    dup_pairs AS (
      SELECT l AS left_id, r AS right_id,
             CAST(bit_count(CAST(xor(sx, sy) AS BIGINT)) AS INT) AS hamming
      FROM pairs
      WHERE bit_count(CAST(xor(sx, sy) AS BIGINT)) <= {_SH_RADIUS}
    )"""


_Q68_ORACLE = f"""
    WITH {simhash_pairs_sql(_Q68_CORPUS)}
    SELECT left_id, right_id, hamming FROM dup_pairs
"""


def _simhash48_col(df):
    """(doc_id, text) df -> (doc_id, simhash) — 48-bit q32 math over
    distinct word BIGRAMS (unigram token sets barely differ between docs
    drawn from a small shared vocabulary — measured: a unigram 48-bit
    simhash still emitted 1.5M hamming<=5 pairs at sf0.1, a bigram one
    emits ~50 at sf0.01, almost all the injected near-dups)."""
    w = F.split("text", " ")
    # single-word (spaceless) docs have no bigrams: sequence(1, 0) in Spark
    # is the DESCENDING [1, 0], whose element_at(w, 0) aborts the job, while
    # DuckDB's range(1, 1) is empty — guard to the empty list so both
    # engines drop the doc from the signature set identically
    bigrams = F.when(
        F.size(w) >= 2,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(w) - 1),
                lambda i: F.concat(
                    F.element_at(w, i), F.lit(" "), F.element_at(w, i + 1)
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    toks = df.select("doc_id", F.explode(bigrams).alias("tok")).filter(
        F.col("tok") != ""
    )
    hv = F.conv(F.substring(F.md5("tok"), 1, 12), 16, 10).cast("long")
    votes = toks.select("doc_id", hv.alias("hv")).groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("hv", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(_SH_BITS)
        ]
    )
    sig = None
    for b in range(_SH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return votes.select("doc_id", sig.cast("long").alias("simhash"))


@register("q68_simhash_near_dup", oracle=_Q68_ORACLE)
def q68_simhash_near_dup(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    near = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.lit("xxxxxxxxxx"), F.expr("substring(text, 11)")).alias("text"),
    )
    # materialize the doc-grain signature table ONCE: the bucket
    # self-join otherwise recomputes the whole signature pipeline
    # (bigram explode + 48-vote aggregate over ~250x the corpus row
    # count) on BOTH sides — ReuseExchange does not fire across the
    # two subtrees under AQE here, and a LAZY checkpoint (eager=False)
    # does not materialize before the join either: both subtrees still
    # recompute the lineage inside the one job (measured 16x slower).
    # At real scale this is the same move: signatures are written/
    # persisted once, then banded and self-joined. The eager build-time
    # job is the documented cost (dump_plans notes it); the memo keeps
    # it to once per (session, input).
    sigs = checkpoint_memo(
        spark, sf_dir, "q68_sigs", lambda: _simhash48_col(docs.unionByName(near))
    )
    return simhash_banded_pairs(sigs)


def simhash_banded_pairs(sigs):
    """MATERIALIZED sigs(doc_id, simhash) -> near-dup pairs
    (left_id, right_id, hamming <= radius) via the 6-band pigeonhole
    self-join (radius-5 lossless). The caller must pass an
    already-materialized frame (localCheckpoint/persist) — a lazy one
    recomputes its whole lineage on BOTH sides of the self-join (the
    measured-16x q68 lesson above). Shared by q68 and the q94
    end-to-end corpus-clean composition."""
    mask = (1 << _SH_BAND_BITS) - 1
    buckets = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", b * _SH_BAND_BITS).bitwiseAND(F.lit(mask))
                    for b in range(_SH_BANDS)
                ]
            )
        ).alias("band", "bv"),
    )
    x = buckets.hint("shuffle_hash").alias("x")
    y = buckets.hint("shuffle_hash").alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bv") == F.col("y.bv"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("l"),
            F.col("y.doc_id").alias("r"),
            F.col("x.simhash").alias("sx"),
            F.col("y.simhash").alias("sy"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sx").bitwiseXOR(F.col("sy"))).cast("int")
    return (
        pairs.select(
            F.col("l").alias("left_id"), F.col("r").alias("right_id"), hamming.alias("hamming")
        )
        .filter(F.col("hamming") <= _SH_RADIUS)
    )

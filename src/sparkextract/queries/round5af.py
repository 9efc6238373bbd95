"""Round-5 continuation wave 30: variance-aware sampling budgets and
the third shard-placement discipline.

q207 — NEYMAN-ALLOCATION EVAL SAMPLING (Neyman 1934). q150 splits a
budget proportionally to stratum SIZE; the statistically optimal
split for estimating a mean is proportional to N_h * sigma_h (big AND
noisy strata earn more samples). Per language: exact integer variance
numerator n*sum(x^2) - sum(x)^2 (n_chars <= ~1e4 so the squares stay
far under 2^63 at every SF), sigma frozen to micro-units via ONE
sqrt + ROUND, weights w_h = N_h * sigma_u, and the budget B=10,000
apportioned by the same largest-remainder (Hamilton) discipline as
q150 — base = floor(B*w_h/W), the R = B - sum(base) largest
fractional remainders (remainder comparison done EXACTLY as the
integer B*w_h mod W, tie-break lang) get one extra seat. Output
includes the proportional allocation for contrast: the delta IS the
variance information.

Scale shape: one mergeable groupBy(lang) (count/sum/sum-of-squares),
then windows over |langs| rows.

q208 — CONSISTENT-HASH RING PLACEMENT AUDIT (Karger et al. 1997).
Completes the placement-discipline family: q105/q164 measured mod
vs rendezvous (HRW); this is the classical RING with virtual nodes —
each of S shards projects V=32 vnodes onto a 2^32 ring (md5-derived),
a document lands on the first vnode clockwise of its key hash (wrap
to the ring minimum). Because the vnode table is a DETERMINISTIC
function of (shard, vnode) only, it is built driver-side and embedded
as a sorted array literal in both engines — placement is a pure
map-side array probe (array_min of the filtered suffix), never a
join. The audit adds shard 8 (S=8 -> 9) and measures moved fraction:
the ring's contract is ~1/(S+1) moved; mod moves ~8/9 (q164's
baseline). Exact integers end to end.

Scale shape: zero joins, zero shuffles except the final |shards|-size
rollup; the vnode array is a plan literal (broadcast-constant shape).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sparkextract.queries.base import load, md5_bucket_sql, register

# ---------------------------------------------------------------------
# q207
_Q207_BUDGET = 10_000
# BUDGET * w can pass int64 at scale (w = n_h * sigma_u, sigma_u ~ 1e8),
# so the product is exact 128-bit: DECIMAL(38,0) in Spark, HUGEINT in
# DuckDB (whose `//` and `%` on DECIMAL go through DOUBLE)

_Q207_ORACLE = f"""
WITH st AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_h,
         CAST(SUM(n_chars) AS BIGINT) AS s1,
         CAST(SUM(n_chars * n_chars) AS BIGINT) AS s2
  FROM documents GROUP BY lang
),
sig AS (
  SELECT lang, n_h,
         CAST(ROUND(SQRT(CAST(n_h * s2 - s1 * s1 AS DOUBLE))
                    / CAST(n_h AS DOUBLE) * 1000000) AS BIGINT) AS sigma_u
  FROM st
),
wts AS (
  SELECT lang, n_h, sigma_u, n_h * sigma_u AS w,
         CAST(SUM(n_h * sigma_u) OVER () AS BIGINT) AS w_tot,
         CAST(SUM(n_h) OVER () AS BIGINT) AS n_tot
  FROM sig
),
base AS (
  SELECT lang, n_h, sigma_u, w, w_tot, n_tot,
         CAST((CAST({_Q207_BUDGET} AS HUGEINT) * w) // w_tot AS BIGINT) AS base_quota,
         CAST((CAST({_Q207_BUDGET} AS HUGEINT) * w) % w_tot AS BIGINT) AS rem,
         CAST(({_Q207_BUDGET} * n_h) // n_tot AS BIGINT) AS prop_quota
  FROM wts
),
seats AS (
  SELECT lang, n_h, sigma_u, base_quota, prop_quota,
         ROW_NUMBER() OVER (ORDER BY rem DESC, lang ASC) AS seat_rank,
         CAST({_Q207_BUDGET} - SUM(base_quota) OVER () AS BIGINT) AS n_extra
  FROM base
)
SELECT lang, n_h, sigma_u, base_quota,
       seat_rank <= n_extra AS extra_seat,
       CAST(base_quota + CASE WHEN seat_rank <= n_extra THEN 1 ELSE 0 END
            AS BIGINT) AS neyman_quota,
       prop_quota,
       CAST(base_quota + CASE WHEN seat_rank <= n_extra THEN 1 ELSE 0 END
            - prop_quota AS BIGINT) AS delta_vs_proportional
FROM seats
"""


@register("q207_neyman_allocation", oracle=_Q207_ORACLE)
def q207_neyman_allocation(spark, sf_dir):
    st = (
        load(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_h"),
            F.sum("n_chars").cast("long").alias("s1"),
            F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("s2"),
        )
    )
    sigma_u = (
        F.round(
            F.sqrt((F.col("n_h") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double"))
            / F.col("n_h").cast("double")
            * 1000000
        )
    ).cast("long")
    sig = st.select("lang", "n_h", sigma_u.alias("sigma_u"))
    wall = Window.partitionBy()
    wts = sig.select(
        "lang",
        "n_h",
        "sigma_u",
        (F.col("n_h") * F.col("sigma_u")).alias("w"),
        F.sum(F.col("n_h") * F.col("sigma_u")).over(wall).cast("long").alias("w_tot"),
        F.sum("n_h").over(wall).cast("long").alias("n_tot"),
    )
    base = wts.select(
        "lang",
        "n_h",
        "sigma_u",
        F.expr(f"(CAST({_Q207_BUDGET} AS DECIMAL(38,0)) * w) div w_tot")
        .cast("long")
        .alias("base_quota"),
        F.expr(f"(CAST({_Q207_BUDGET} AS DECIMAL(38,0)) * w) % w_tot").cast("long").alias("rem"),
        F.expr(f"({_Q207_BUDGET} * n_h) div n_tot").cast("long").alias("prop_quota"),
    )
    seats = base.select(
        "lang",
        "n_h",
        "sigma_u",
        "base_quota",
        "prop_quota",
        F.row_number()
        .over(Window.orderBy(F.desc("rem"), F.asc("lang")))
        .alias("seat_rank"),
        (F.lit(_Q207_BUDGET) - F.sum("base_quota").over(wall)).cast("long").alias("n_extra"),
    )
    extra = F.col("seat_rank") <= F.col("n_extra")
    quota = F.col("base_quota") + F.when(extra, 1).otherwise(0)
    return seats.select(
        "lang",
        "n_h",
        "sigma_u",
        "base_quota",
        extra.alias("extra_seat"),
        quota.cast("long").alias("neyman_quota"),
        "prop_quota",
        (quota - F.col("prop_quota")).cast("long").alias("delta_vs_proportional"),
    )


# ---------------------------------------------------------------------
# q208
_Q208_S1 = 8
_Q208_S2 = 9
_Q208_VNODES = 32
_Q208_RING = 1 << 32


def _q208_vnode_hash(shard: int, v: int) -> int:
    return (
        int(hashlib.md5(f"ring:{shard}:{v}".encode()).hexdigest()[:8], 16)
        % _Q208_RING
    )


def _q208_ring(n_shards: int) -> list[tuple[int, int]]:
    """Sorted (position, shard) vnode ring — a driver-side constant."""
    ring = [
        (_q208_vnode_hash(s, v), s)
        for s in range(n_shards)
        for v in range(_Q208_VNODES)
    ]
    ring.sort()
    return ring


def _q208_ring_sql(n_shards: int, kh: str) -> str:
    """Shard of key-hash ``kh``: first vnode clockwise, wrapping."""
    ring = _q208_ring(n_shards)
    pos = ", ".join(str(p) for p, _ in ring)
    shards = ", ".join(str(s) for _, s in ring)
    # index of first position >= kh, else wrap to index 1. DuckDB's
    # list_position returns 0 (not NULL) when absent — same as Spark's
    # array_position — so the wrap goes through NULLIF
    return (
        f"[{shards}][COALESCE(NULLIF("
        f"list_position(list_transform([{pos}], p -> p >= {kh}), true), 0), 1)]"
    )


_Q208_KH = f"CAST({md5_bucket_sql('doc_id', _Q208_RING)} AS BIGINT)"

_Q208_ORACLE = f"""
WITH placed AS (
  SELECT CAST({_q208_ring_sql(_Q208_S1, _Q208_KH)} AS BIGINT) AS ring_a,
         CAST({_q208_ring_sql(_Q208_S2, _Q208_KH)} AS BIGINT) AS ring_b,
         CAST({_Q208_KH} % {_Q208_S1} AS BIGINT) AS mod_a,
         CAST({_Q208_KH} % {_Q208_S2} AS BIGINT) AS mod_b
  FROM documents
)
SELECT ring_b AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN ring_a <> ring_b THEN 1 ELSE 0 END) AS BIGINT)
         AS ring_moved,
       CAST(SUM(CASE WHEN mod_a <> mod_b THEN 1 ELSE 0 END) AS BIGINT)
         AS mod_moved,
       CAST((1000000 * SUM(CASE WHEN ring_a <> ring_b THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS ring_moved_frac_u,
       CAST((1000000 * SUM(CASE WHEN mod_a <> mod_b THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS mod_moved_frac_u
FROM placed
GROUP BY ring_b
"""


def _q208_ring_col(n_shards: int, kh):
    ring = _q208_ring(n_shards)
    pos = F.array(*[F.lit(p) for p, _ in ring])
    shards = F.array(*[F.lit(s) for _, s in ring])
    # Spark's array_position returns 0 (not NULL) when absent — wrap to
    # the ring minimum (index 1) in that case; DuckDB's list_position
    # returns NULL, handled by COALESCE in the oracle
    raw = F.array_position(F.transform(pos, lambda p: p >= kh), F.lit(True))
    idx = F.when(raw == 0, F.lit(1)).otherwise(raw)
    return F.element_at(shards, idx.cast("int"))


@register("q208_consistent_hash_ring", oracle=_Q208_ORACLE)
def q208_consistent_hash_ring(spark, sf_dir):
    kh = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % _Q208_RING
    )
    placed = load(spark, sf_dir, "documents").select(
        _q208_ring_col(_Q208_S1, kh).cast("long").alias("ring_a"),
        _q208_ring_col(_Q208_S2, kh).cast("long").alias("ring_b"),
        (kh % _Q208_S1).cast("long").alias("mod_a"),
        (kh % _Q208_S2).cast("long").alias("mod_b"),
    )
    ring_mv = F.sum(F.when(F.col("ring_a") != F.col("ring_b"), 1).otherwise(0))
    mod_mv = F.sum(F.when(F.col("mod_a") != F.col("mod_b"), 1).otherwise(0))
    return placed.groupBy(F.col("ring_b").alias("shard")).agg(
        F.count("*").cast("long").alias("n_docs"),
        ring_mv.cast("long").alias("ring_moved"),
        mod_mv.cast("long").alias("mod_moved"),
        F.expr(
            "(1000000 * sum(case when ring_a <> ring_b then 1 else 0 end)) div count(*)"
        )
        .cast("long")
        .alias("ring_moved_frac_u"),
        F.expr(
            "(1000000 * sum(case when mod_a <> mod_b then 1 else 0 end)) div count(*)"
        )
        .cast("long")
        .alias("mod_moved_frac_u"),
    )

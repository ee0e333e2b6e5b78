"""Deterministic distributed sketches: an exactly-verifiable Bloom filter.

Engine-native approximate sketches (HLL, t-digest) are algorithm-different
across engines by design, so they can never sit under the hash gate (the
round-3 decision that removed `sketch_approx_aggs`).  A BLOOM FILTER is
different: its bit layout is a pure function of the key set once the hash
functions are fixed, and md5 is available and identical everywhere — so
both the filter's exact bitmap and its probe behavior (including which
keys FALSE-POSITIVE) are deterministic and DuckDB-replayable.  This module
puts the one classic sketch that CAN be hash-verified under the gate.

Scale design: the build is one distinct + one explode + one `bit_or`
groupBy over (m/64)-cardinality blocks — the bitmap OR is associative and
combines map-side, so the shuffle carries at most `m/32` longs per
partition regardless of key count.  The probe broadcasts the (tiny, fixed
`m`-bit) filter and tests map-side.  At 100 TB this is exactly how a join
prefilter is built and shipped (Spark's own runtime bloom pruning does the
same dance internally).

The reference has no sketch/filter capability (strings only, SURVEY.md
§1.2); north-star surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce485_spark.queries import query
from map_reduce485_spark.queries._util import (
    T,
    bottomk_guard,
    bottomk_hash_prefilter,
    cache_scoped,
    distributed_rank,
)

_M_BITS = 65536  # filter width (2^16 bits, 2048 64-bit... stored as 32-bit-used blocks)
_K = 4  # hash functions
_PROBE_N = 60000  # candidate keys probed: 1.._PROBE_N


def _spark_pos(i: int, key: str = "k", m: int = _M_BITS) -> str:
    """Hash position i of a key: first 15 md5 hex digits (< 2^60, exact in
    a long on every engine) mod m.  Same literal recipe as the DuckDB
    fragment below, so positions are bit-identical."""
    return (
        f"CAST(conv(substring(md5(concat(CAST({key} AS STRING), ':{i}')), 1, 15),"
        f" 16, 10) AS BIGINT) % {m}"
    )


def _duck_pos(i: int, key: str = "k", m: int = _M_BITS) -> str:
    return (
        f"(CAST('0x' || substr(md5(CAST({key} AS VARCHAR) || ':{i}'), 1, 15)"
        f" AS BIGINT) % {m})"
    )


_BUILD_ORACLE = f"""
WITH keys AS (SELECT DISTINCT o_orderkey AS k FROM orders),
pos AS (
  SELECT UNNEST([{', '.join(_duck_pos(i) for i in range(1, _K + 1))}]) AS p
  FROM keys
)
SELECT p // 32 AS block,
       CAST(BIT_OR(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER)) AS BIGINT) AS bits,
       CAST(BIT_COUNT(BIT_OR(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER))) AS BIGINT)
         AS n_bits_set
FROM pos GROUP BY p // 32
"""


@query("bloom_filter_build", _BUILD_ORACLE, tags=("sketch",))
def bloom_filter_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a {_M_BITS}-bit / k={_K} Bloom filter over the order keys as a
    (block, bits) bitmap table — EXACTLY, on both engines: positions come
    from md5, blocks hold 32 used bits in a long (no sign-bit edge), and
    the block bitmap is an associative `bit_or` aggregate that partial-
    aggregates map-side.  The gate hash-checks the literal bitmap."""
    (orders,) = T(spark, sf_dir, "orders")
    keys = orders.select(F.col("o_orderkey").alias("k")).distinct()
    pos = keys.select(
        F.explode(
            F.array(*[F.expr(_spark_pos(i)) for i in range(1, _K + 1)])
        ).alias("p")
    )
    return (
        pos.select(
            F.expr("p div 32").alias("block"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").alias("bv"),
        )
        .groupBy("block")
        .agg(F.expr("bit_or(bv)").alias("bits"))
        .select("block", "bits", F.expr("CAST(bit_count(bits) AS BIGINT)").alias("n_bits_set"))
    )


_PROBE_ORACLE = f"""
WITH keys AS (SELECT DISTINCT o_orderkey AS k FROM orders),
pos AS (
  SELECT UNNEST([{', '.join(_duck_pos(i) for i in range(1, _K + 1))}]) AS p
  FROM keys
),
filt AS (
  SELECT p // 32 AS block,
         BIT_OR(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER)) AS bits
  FROM pos GROUP BY p // 32
),
cand AS (SELECT UNNEST(generate_series(1, {_PROBE_N})) AS k),
cand_pos AS (
  SELECT k, UNNEST([{', '.join(_duck_pos(i) for i in range(1, _K + 1))}]) AS p
  FROM cand
),
hits AS (
  SELECT cp.k,
         SUM(CASE WHEN f.block IS NOT NULL
                   AND (f.bits >> CAST(cp.p % 32 AS INTEGER)) & 1 = 1
              THEN 1 ELSE 0 END) AS n_hits
  FROM cand_pos cp LEFT JOIN filt f ON f.block = cp.p // 32
  GROUP BY cp.k
),
verdicts AS (
  SELECT h.k, h.n_hits = {_K} AS maybe, keys.k IS NOT NULL AS actual
  FROM hits h LEFT JOIN keys ON keys.k = h.k
)
SELECT COUNT(*) AS n_tested,
       CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe,
       CAST(SUM(CASE WHEN actual THEN 1 ELSE 0 END) AS BIGINT) AS n_actual,
       CAST(SUM(CASE WHEN maybe AND NOT actual THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_positives,
       CAST(SUM(CASE WHEN actual AND NOT maybe THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_negatives
FROM verdicts
"""


@query("bloom_filter_probe", _PROBE_ORACLE, tags=("sketch",))
def bloom_filter_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe the Bloom filter with candidate keys 1..{_PROBE_N} and compare
    against true membership: maybe-present / actually-present /
    false-positive / false-negative counts.  Because the filter is
    deterministic, even the FALSE POSITIVE count is exact and
    hash-checked — and n_false_negatives = 0 witnesses the Bloom
    guarantee itself.  The probe broadcasts the fixed-size bitmap and
    tests map-side: the join-prefilter deployment shape."""
    (orders,) = T(spark, sf_dir, "orders")
    keys = orders.select(F.col("o_orderkey").alias("k")).distinct()
    filt = (
        keys.select(
            F.explode(
                F.array(*[F.expr(_spark_pos(i)) for i in range(1, _K + 1)])
            ).alias("p")
        )
        .select(
            F.expr("p div 32").alias("block"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").alias("bv"),
        )
        .groupBy("block")
        .agg(F.expr("bit_or(bv)").alias("bits"))
    )
    cand = spark.range(1, _PROBE_N + 1).select(F.col("id").alias("k"))
    cand_pos = cand.select(
        "k",
        F.explode(
            F.array(*[F.expr(_spark_pos(i)) for i in range(1, _K + 1)])
        ).alias("p"),
    )
    hits = (
        cand_pos.join(F.broadcast(filt), F.expr("p div 32") == F.col("block"), "left")
        .select(
            "k",
            F.when(
                F.col("block").isNotNull()
                & (
                    F.expr("shiftright(bits, CAST(p % 32 AS INT))")
                    .bitwiseAND(F.lit(1))
                    == 1
                ),
                1,
            )
            .otherwise(0)
            .alias("hit"),
        )
        .groupBy("k")
        .agg(F.sum("hit").alias("n_hits"))
    )
    verdicts = hits.join(
        keys.withColumn("actual", F.lit(True)), "k", "left"
    ).select(
        (F.col("n_hits") == _K).alias("maybe"),
        F.coalesce("actual", F.lit(False)).alias("actual"),
    )
    return verdicts.agg(
        F.count("*").alias("n_tested"),
        F.sum(F.col("maybe").cast("long")).alias("n_maybe"),
        F.sum(F.col("actual").cast("long")).alias("n_actual"),
        F.sum((F.col("maybe") & ~F.col("actual")).cast("long")).alias(
            "n_false_positives"
        ),
        F.sum((F.col("actual") & ~F.col("maybe")).cast("long")).alias(
            "n_false_negatives"
        ),
    )


_PREFILTER_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS n_items,
       SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0 AS total_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority
"""


def bloom_block_bitmap(keys_df: DataFrame, key_col: str = "k", m: int = _M_BITS) -> DataFrame:
    """Aggregate a key set into the m-bit Bloom bitmap as a DISTRIBUTED
    (block, bits) table — m/32 rows, built by one explode + one
    associative `bit_or` groupBy that partial-aggregates map-side.  The
    table never touches the driver: the probe broadcasts it (a hash map
    of at most m/32 longs per executor)."""
    return (
        keys_df.select(F.col(key_col).alias("k"))
        .select(
            F.explode(
                F.array(*[F.expr(_spark_pos(i, "k", m)) for i in range(1, _K + 1)])
            ).alias("p")
        )
        .select(
            F.expr("p div 32").alias("block"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").alias("bv"),
        )
        .groupBy("block")
        .agg(F.expr("bit_or(bv)").alias("bits"))
    )


def bloom_prefilter(
    df: DataFrame, key: str, filt: DataFrame, m: int = _M_BITS
) -> DataFrame:
    """Map-side Bloom prefilter: keep the rows whose `key` has ALL k bits
    set in the bitmap — k BROADCAST hash joins on the block id (one per
    hash function), then one boolean conjunction.  No shuffle of the fact
    side, no explode, and (critically) no per-row identity needed: each
    input row passes or fails independently, so duplicate rows survive as
    duplicates.

    Why joins and not a bitmap literal: a large constant has no cheap
    random access in SQL expressions — `lit(list)` builds a CreateArray
    whose m/32 child expressions evaluate PER ROW, and probing a hex
    string with substr() is O(position) per access (UTF8 char counting);
    both measured minutes over the 10x fact table where the broadcast
    probe takes seconds.  A broadcast hash lookup is O(1) per row and is
    exactly how Spark's own runtime bloom pruning ships its filter."""
    from functools import reduce

    cols = df.columns
    staged = df.select(
        *cols,
        *[
            F.expr(_spark_pos(i, key, m)).alias(f"_bp{i}__")
            for i in range(1, _K + 1)
        ],
    )
    for i in range(1, _K + 1):
        fi = F.broadcast(
            filt.select(
                F.col("block").alias(f"_blk{i}__"), F.col("bits").alias(f"_bits{i}__")
            )
        )
        staged = staged.join(
            fi, F.expr(f"_bp{i}__ div 32") == F.col(f"_blk{i}__"), "left"
        )
    tests = [
        F.expr(
            f"((shiftright(coalesce(_bits{i}__, CAST(0 AS BIGINT)),"
            f" CAST(_bp{i}__ % 32 AS INT)) & 1) = 1)"
        )
        for i in range(1, _K + 1)
    ]
    return staged.filter(reduce(lambda a, b: a & b, tests)).select(*cols)


@query("bloom_prefiltered_join", _PREFILTER_ORACLE, tags=("sketch", "join"))
def bloom_prefiltered_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom filter DEPLOYED: a selective join (open orders only)
    where the fact side is pre-filtered MAP-SIDE through the bitmap before
    any shuffle — the manual form of runtime bloom-filter pruning, the
    single biggest shuffle-volume lever for selective fact-dim joins at
    100 TB (only maybe-positive rows ever enter the exchange).  False
    positives survive the prefilter but are removed by the real join, so
    the result is EXACT and the oracle is simply the plain join —
    correctness is independent of the filter's error rate (which is what
    lets the filter SIZE adapt to the key count without touching the
    oracle: ~8 bits/key, next power of two, capped at 2^24 bits = a
    2 MB broadcast; the fixed-m build/probe queries above stay
    oracle-pinned).  An undersized filter saturates into a no-op — the
    10x smoke caught exactly that with the original fixed 65536 bits
    against 750k keys, every row passing.

    The prefilter is ONE boolean expression per fact row (all k bit-tests
    ANDed after k broadcast block lookups) — earlier
    rounds exploded k positions and re-grouped on (orderkey, price), which
    both shuffled the whole fact table before the filter and silently
    merged/dropped duplicate (orderkey, price) rows; per-row evaluation
    has no identity problem at all (see tests/test_sketches.py duplicate
    regression)."""
    li, orders = T(spark, sf_dir, "lineitem", "orders")
    open_orders = orders.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_orderpriority"
    )
    n_keys = open_orders.count()
    m = _M_BITS
    while m < 8 * n_keys and m < (1 << 24):
        m *= 2
    filt = bloom_block_bitmap(
        open_orders.select(F.col("o_orderkey").alias("k")), m=m
    )
    maybe = bloom_prefilter(
        li.select("l_orderkey", "l_extendedprice"), "l_orderkey", filt, m=m
    )
    return (
        maybe.join(open_orders, maybe.l_orderkey == open_orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            (F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")) / 100.0).alias(
                "total_price"
            ),
        )
    )


# ---------------------------------------------------------------------------
# count-min sketch
# ---------------------------------------------------------------------------

_CMS_W = 256  # counter columns per hash row (small on purpose: ~1.5k keys
_CMS_D = 4    # into 256 counters forces real collisions, so the probe
              # genuinely witnesses CMS overestimates, not a perfect table)


def _cms_pos_spark(i: int, key: str) -> str:
    return _spark_pos(i, key, m=_CMS_W)


_CMS_BUILD_ORACLE = f"""
WITH pos AS (
  SELECT i,
         (CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR) || ':' ||
                CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % {_CMS_W}) AS p
  FROM orders, UNNEST(generate_series(1, {_CMS_D})) AS t(i)
)
SELECT CAST(i AS BIGINT) AS row_i, p AS pos, COUNT(*) AS cnt
FROM pos GROUP BY i, p
"""


@query("cms_build", _CMS_BUILD_ORACLE, tags=("sketch",))
def cms_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch BUILD over order→customer frequencies, exactly on
    both engines: like the Bloom filter (same md5 position recipe), a CMS
    is a pure function of the key multiset once the hashes are fixed, so
    the whole {_CMS_D}x{_CMS_W} counter table sits under the hash gate —
    the second classic sketch that CAN be value-verified.

    Scale design: counts are an associative SUM per (row, position) that
    partial-aggregates map-side, so the shuffle carries at most d*w
    counters per map partition regardless of input rows — the mergeable
    sublinear frequency state used for heavy-hitter detection over
    unbounded key domains (exact per-key counts at 100 TB would shuffle
    the full key cardinality)."""
    (orders,) = T(spark, sf_dir, "orders")
    pos = orders.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("long").alias("row_i"),
                        F.expr(_cms_pos_spark(i, "o_custkey")).alias("pos"),
                    )
                    for i in range(1, _CMS_D + 1)
                ]
            )
        ).alias("ip")
    )
    return (
        pos.select("ip.row_i", "ip.pos")
        .groupBy("row_i", "pos")
        .agg(F.count("*").alias("cnt"))
    )


_CMS_ESTIMATE_ORACLE = f"""
WITH pos AS (
  SELECT i,
         (CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR) || ':' ||
                CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % {_CMS_W}) AS p
  FROM orders, UNNEST(generate_series(1, {_CMS_D})) AS t(i)
),
cms AS (
  SELECT i AS row_i, p AS pos, COUNT(*) AS cnt FROM pos GROUP BY i, p
),
actual AS (
  SELECT o_custkey AS k, COUNT(*) AS n_actual FROM orders GROUP BY o_custkey
),
probe AS (
  SELECT a.k, a.n_actual, t.i,
         (CAST('0x' || substr(md5(CAST(a.k AS VARCHAR) || ':' ||
                CAST(t.i AS VARCHAR)), 1, 15) AS BIGINT) % {_CMS_W}) AS p
  FROM actual a, UNNEST(generate_series(1, {_CMS_D})) AS t(i)
)
SELECT probe.k AS k, MAX(probe.n_actual) AS n_actual,
       MIN(cms.cnt) AS n_estimate,
       MIN(cms.cnt) - MAX(probe.n_actual) AS overcount
FROM probe JOIN cms ON cms.row_i = probe.i AND cms.pos = probe.p
GROUP BY probe.k
"""


@query("cms_estimate_counts", _CMS_ESTIMATE_ORACLE, tags=("sketch",))
def cms_estimate_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch PROBED: every customer's estimated order count
    (min over the d counter rows) against its true count.  Because the
    sketch is deterministic, the exact per-key OVERCOUNT — the collision
    error itself — is hash-checked, and `overcount >= 0` for every key
    witnesses the CMS one-sided-error guarantee the way
    `n_false_negatives = 0` does for the Bloom filter.

    The probe broadcasts the fixed d*w counter table and joins map-side —
    the deployment shape for heavy-hitter screening before an exact
    count of only the candidate keys."""
    (orders,) = T(spark, sf_dir, "orders")
    pos = orders.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("long").alias("row_i"),
                        F.expr(_cms_pos_spark(i, "o_custkey")).alias("pos"),
                    )
                    for i in range(1, _CMS_D + 1)
                ]
            )
        ).alias("ip")
    )
    cms = (
        pos.select("ip.row_i", "ip.pos")
        .groupBy("row_i", "pos")
        .agg(F.count("*").alias("cnt"))
    )
    actual = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count("*").alias("n_actual")
    )
    probe = actual.select(
        "k",
        "n_actual",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("long").alias("row_i"),
                        F.expr(_cms_pos_spark(i, "k")).alias("pos"),
                    )
                    for i in range(1, _CMS_D + 1)
                ]
            )
        ).alias("ip"),
    ).select("k", "n_actual", "ip.row_i", "ip.pos")
    return (
        probe.join(F.broadcast(cms), ["row_i", "pos"])
        .groupBy("k")
        .agg(
            F.max("n_actual").alias("n_actual"),
            F.min("cnt").alias("n_estimate"),
            (F.min("cnt") - F.max("n_actual")).alias("overcount"),
        )
    )


# ---------------------------------------------------------------------------
# deterministic HyperLogLog (registers + raw estimate, both hash-checked)
# ---------------------------------------------------------------------------

_HLL_M = 64       # registers (b = 6 index bits)
_HLL_ALPHA = 0.709  # bias constant for m = 64 (Flajolet et al. 2007)


_HLL_REG_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)
         AS BIGINT) AS hv
  FROM orders
),
parts AS (SELECT hv % {_HLL_M} AS j, hv // {_HLL_M} AS w FROM h),
regs AS (
  SELECT j, MAX(CASE WHEN w = 0 THEN 55 ELSE 55 - length(bin(w)) END) AS rho
  FROM parts GROUP BY j
)
SELECT g.j AS j, CAST(COALESCE(regs.rho, 0) AS BIGINT) AS reg
FROM (SELECT UNNEST(generate_series(0, {_HLL_M - 1})) AS j) g
LEFT JOIN regs ON regs.j = g.j
"""


@query("hll_registers", _HLL_REG_ORACLE, tags=("sketch",))
def hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register table over the order keys, EXACTLY on both
    engines — reviving the sketch family the round-3 decision dropped
    (`sketch_approx_aggs`): engine-NATIVE approx_count_distinct is
    algorithm-different across engines, but HLL's state is a pure
    function of the key set once the hash is fixed.  h = first 60 md5
    bits; register index j = h mod m, payload w = h div m; rho(w) =
    leading-zero count of w in its 54-bit field + 1, computed as
    55 - len(bin(w)) — string-length of the binary rendering, exact
    integer logic, no log2 float anywhere.

    Scale design: MAX per register is associative and combines map-side,
    so the shuffle carries at most m=64 (j, rho) pairs per partition
    regardless of key count — the textbook mergeable-state cardinality
    sketch (HLL state from disjoint shards unions by register-wise max)."""
    (orders,) = T(spark, sf_dir, "orders")
    h = orders.select(
        F.expr(
            "CAST(conv(substring(md5(CAST(o_orderkey AS STRING)), 1, 15),"
            " 16, 10) AS BIGINT)"
        ).alias("hv")
    ).distinct()
    regs = (
        h.select(
            (F.col("hv") % _HLL_M).alias("j"),
            F.expr(f"hv div {_HLL_M}").alias("w"),
        )
        .select(
            "j",
            F.expr("CASE WHEN w = 0 THEN 55 ELSE 55 - length(bin(w)) END").alias(
                "rho"
            ),
        )
        .groupBy("j")
        .agg(F.max("rho").alias("rho"))
    )
    allj = spark.range(0, _HLL_M).select(F.col("id").alias("j"))
    return allj.join(regs, "j", "left").select(
        "j", F.coalesce("rho", F.lit(0)).cast("long").alias("reg")
    )


_HLL_EST_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)
         AS BIGINT) AS hv
  FROM orders
),
parts AS (SELECT hv % {_HLL_M} AS j, hv // {_HLL_M} AS w FROM h),
regs0 AS (
  SELECT j, MAX(CASE WHEN w = 0 THEN 55 ELSE 55 - length(bin(w)) END) AS rho
  FROM parts GROUP BY j
),
regs AS (
  SELECT g.j, COALESCE(regs0.rho, 0) AS reg
  FROM (SELECT UNNEST(generate_series(0, {_HLL_M - 1})) AS j) g
  LEFT JOIN regs0 ON regs0.j = g.j
),
s AS (
  SELECT CAST(SUM(CAST(1 AS BIGINT) << CAST(55 - reg AS INTEGER)) AS BIGINT)
           AS harmonic_scaled,
         CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_regs
  FROM regs
),
truth AS (SELECT COUNT(DISTINCT o_orderkey) AS n_true FROM orders)
SELECT {_HLL_M} AS m, truth.n_true AS n_true, s.harmonic_scaled, s.n_zero_regs,
       {_HLL_ALPHA * _HLL_M * _HLL_M!r}e0
         * CAST({1 << 55} AS DOUBLE)
         / CAST(s.harmonic_scaled AS DOUBLE) AS estimate_raw
FROM s, truth
"""


@query("hll_estimate_distinct", _HLL_EST_ORACLE, tags=("sketch",))
def hll_estimate_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL ESTIMATE itself under the hash gate.  The harmonic term
    sum(2^-reg) is kept EXACT by scaling to integers — sum(2^(55-reg)) as
    bigint (reg <= 55, m = 64 → max 64 * 2^55 < 2^62, no overflow) — so
    the only float math is three scalar IEEE ops on deterministic inputs:
    alpha*m^2 (exact literal product), times 2^55, divided by the bigint
    harmonic sum.  The raw estimate, the scaled harmonic sum, the zero
    register count, and the true distinct are all value-checked; accuracy
    itself (estimate within the ~1.04/sqrt(m) band) is pinned in pytest
    where a tolerance belongs, not in the exact gate."""
    (orders,) = T(spark, sf_dir, "orders")
    regs = hll_registers(spark, sf_dir)
    s = regs.agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(55 - reg AS INT))")).alias(
            "harmonic_scaled"
        ),
        F.sum((F.col("reg") == 0).cast("long")).alias("n_zero_regs"),
    )
    truth = orders.agg(F.countDistinct("o_orderkey").alias("n_true"))
    return s.crossJoin(truth).select(
        F.lit(_HLL_M).cast("int").alias("m"),
        "n_true",
        "harmonic_scaled",
        "n_zero_regs",
        (
            F.lit(_HLL_ALPHA * _HLL_M * _HLL_M)
            * F.lit(float(1 << 55))
            / F.col("harmonic_scaled").cast("double")
        ).alias("estimate_raw"),
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values / bottom-k) sketch
# ---------------------------------------------------------------------------

_KMV_K = 64

_KMV_ORACLE = f"""
WITH keys AS (SELECT DISTINCT o_orderkey AS k FROM orders),
hashed AS (
  SELECT k, md5(CAST(k AS VARCHAR)) AS h,
         CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15) AS BIGINT) AS hv
  FROM keys
),
bottom AS (
  SELECT h, hv FROM hashed ORDER BY h, k LIMIT {_KMV_K}
),
agg AS (
  SELECT MAX(hv) AS kth_hv,
         md5(string_agg(h, ',' ORDER BY h)) AS sample_digest
  FROM bottom
),
truth AS (SELECT COUNT(*) AS n_true FROM keys)
SELECT {_KMV_K} AS k, truth.n_true,
       agg.kth_hv,
       agg.sample_digest,
       ({_KMV_K} - 1) / (CAST(agg.kth_hv AS DOUBLE) / {float(1 << 60)!r})
         AS estimate
FROM agg, truth
"""


@query("kmv_distinct_estimate", _KMV_ORACLE, tags=("sketch",))
def kmv_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The THIRD deterministic cardinality machine, completing the sketch
    shelf (Bloom: membership; CMS: frequency; HLL: cardinality via
    register maxima; KMV: cardinality via order statistics): keep the k
    MINIMUM hash values of the key set; if the k-th smallest uniform
    hash sits at fraction u of the hash space, about k/u keys exist —
    the estimator (k-1)/u is unbiased (Bar-Yossef et al. 2002).

    Everything is hash-gated: the k-th hash value itself, an md5 digest
    of the entire bottom-k sample (pinning every member), and the
    estimate (one double division of deterministic ints).  The bottom-k
    is `ORDER BY hash LIMIT k` = TakeOrderedAndProject: per-partition
    top-k then a k-row merge — the mergeable-sketch property (union =
    bottom-k of the union) IS Spark's top-k execution strategy.  Unlike
    HLL, KMV also yields a uniform SAMPLE of the keys as a byproduct —
    the sketch to pick when you need both."""
    (orders,) = T(spark, sf_dir, "orders")
    keys = orders.select(F.col("o_orderkey").alias("k")).distinct()
    hashed = keys.select(
        "k",
        F.md5(F.col("k").cast("string")).alias("h"),
        F.expr(
            "CAST(conv(substring(md5(CAST(k AS STRING)), 1, 15), 16, 10) AS BIGINT)"
        ).alias("hv"),
    )
    bottom = hashed.orderBy("h", "k").limit(_KMV_K).select("h", "hv")
    agg = bottom.agg(
        F.max("hv").alias("kth_hv"),
        F.md5(F.concat_ws(",", F.sort_array(F.collect_list("h")))).alias(
            "sample_digest"
        ),
    )
    truth = keys.agg(F.count("*").alias("n_true"))
    return agg.crossJoin(truth).select(
        F.lit(_KMV_K).cast("int").alias("k"),
        "n_true",
        "kth_hv",
        "sample_digest",
        (
            F.lit(float(_KMV_K - 1))
            / (F.col("kth_hv").cast("double") / F.lit(float(1 << 60)))
        ).alias("estimate"),
    )


_KMV_SET_ORACLE = f"""
WITH a_keys AS (
  SELECT DISTINCT l_partkey AS k FROM lineitem WHERE EXTRACT(YEAR FROM l_shipdate) = 1994
),
b_keys AS (
  SELECT DISTINCT l_partkey AS k FROM lineitem WHERE EXTRACT(YEAR FROM l_shipdate) = 1995
),
a_sk AS (
  SELECT md5(CAST(k AS VARCHAR)) AS h,
         CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15) AS BIGINT) AS hv
  FROM a_keys ORDER BY 1 LIMIT {_KMV_K}
),
b_sk AS (
  SELECT md5(CAST(k AS VARCHAR)) AS h,
         CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15) AS BIGINT) AS hv
  FROM b_keys ORDER BY 1 LIMIT {_KMV_K}
),
u_sk AS (
  SELECT h, hv FROM (SELECT DISTINCT h, hv FROM (
    SELECT * FROM a_sk UNION ALL SELECT * FROM b_sk)) ORDER BY h LIMIT {_KMV_K}
),
u_agg AS (
  SELECT MAX(hv) AS kth_hv_union,
         md5(string_agg(h, ',' ORDER BY h)) AS union_digest,
         CAST(SUM(CAST(h IN (SELECT h FROM a_sk) AND h IN (SELECT h FROM b_sk)
             AS BIGINT)) AS BIGINT) AS n_both
  FROM u_sk
),
truth AS (
  SELECT (SELECT COUNT(*) FROM a_keys) AS n_a,
         (SELECT COUNT(*) FROM b_keys) AS n_b,
         (SELECT COUNT(*) FROM (SELECT k FROM a_keys INTERSECT SELECT k FROM b_keys))
           AS n_inter_true
)
SELECT {_KMV_K} AS k, truth.n_a, truth.n_b, truth.n_inter_true,
       u_agg.kth_hv_union, u_agg.union_digest, u_agg.n_both,
       ({_KMV_K} - 1) / (CAST(u_agg.kth_hv_union AS DOUBLE) / {float(1 << 60)!r})
         AS union_est,
       (CAST(u_agg.n_both AS DOUBLE) / {_KMV_K})
         * (({_KMV_K} - 1) / (CAST(u_agg.kth_hv_union AS DOUBLE) / {float(1 << 60)!r}))
         AS inter_est
FROM u_agg, truth
"""


@query("kmv_set_ops_estimate", _KMV_SET_ORACLE, tags=("sketch",))
def kmv_set_ops_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketches under MULTISET OPERATIONS (Beyer et al., SIGMOD'07) —
    the property that makes bottom-k the sketch for distributed set
    analytics: the bottom-k of a UNION is the bottom-k of the two
    sketches' union (computable from sketches alone, never re-touching
    the data), and the fraction rho of the union sketch present in BOTH
    side sketches estimates Jaccard, giving |A∩B| ~= rho * |A∪B|-est.

    Here A = part keys shipped in 1994, B = in 1995; both side
    sketches, the union sketch's k-th hash, the full union-sample digest,
    the both-membership count, and both estimates are value-checked, with
    exact |A|, |B|, |A∩B| alongside as the accuracy witness.  Scale: each
    side's sketch is a TakeOrderedAndProject (per-partition bottom-k then
    a k-row merge); everything after is k-row arithmetic — two scans of
    lineitem total, zero full-width shuffles."""
    (lineitem,) = T(spark, sf_dir, "lineitem")

    def keys(year: int) -> DataFrame:
        return (
            lineitem.filter(F.year("l_shipdate") == year)
            .select(F.col("l_partkey").alias("k"))
            .distinct()
        )

    def sketch(kdf: DataFrame) -> DataFrame:
        return (
            kdf.select(
                F.md5(F.col("k").cast("string")).alias("h"),
                F.expr(
                    "CAST(conv(substring(md5(CAST(k AS STRING)), 1, 15), 16, 10)"
                    " AS BIGINT)"
                ).alias("hv"),
            )
            .orderBy("h")
            .limit(_KMV_K)
        )

    a_keys, b_keys = keys(1994), keys(1995)
    a_sk, b_sk = sketch(a_keys), sketch(b_keys)
    u_sk = a_sk.unionAll(b_sk).distinct().orderBy("h").limit(_KMV_K)
    u_agg = (
        u_sk.join(a_sk.select(F.col("h").alias("ha")), u_sk.h == F.col("ha"), "left")
        .join(b_sk.select(F.col("h").alias("hb")), u_sk.h == F.col("hb"), "left")
        .agg(
            F.max("hv").alias("kth_hv_union"),
            F.md5(F.concat_ws(",", F.sort_array(F.collect_list("h")))).alias(
                "union_digest"
            ),
            F.sum(
                (F.col("ha").isNotNull() & F.col("hb").isNotNull()).cast("long")
            ).alias("n_both"),
        )
    )
    truth = (
        a_keys.agg(F.count("*").alias("n_a"))
        .crossJoin(b_keys.agg(F.count("*").alias("n_b")))
        .crossJoin(
            a_keys.join(b_keys, "k").agg(F.count("*").alias("n_inter_true"))
        )
    )
    union_est = F.lit(float(_KMV_K - 1)) / (
        F.col("kth_hv_union").cast("double") / F.lit(float(1 << 60))
    )
    return u_agg.crossJoin(truth).select(
        F.lit(_KMV_K).cast("int").alias("k"),
        "n_a",
        "n_b",
        "n_inter_true",
        "kth_hv_union",
        "union_digest",
        "n_both",
        union_est.alias("union_est"),
        ((F.col("n_both").cast("double") / _KMV_K) * union_est).alias("inter_est"),
    )


_HLL_GROUPED_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT o_orderpriority AS grp,
         CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)
         AS BIGINT) AS hv
  FROM orders
),
parts AS (SELECT grp, hv % {_HLL_M} AS j, hv // {_HLL_M} AS w FROM h),
regs0 AS (
  SELECT grp, j, MAX(CASE WHEN w = 0 THEN 55 ELSE 55 - length(bin(w)) END) AS rho
  FROM parts GROUP BY grp, j
),
grid AS (
  SELECT g.grp, jj.j
  FROM (SELECT DISTINCT o_orderpriority AS grp FROM orders) g,
       (SELECT UNNEST(generate_series(0, {_HLL_M - 1})) AS j) jj
),
regs AS (
  SELECT grid.grp, grid.j, COALESCE(regs0.rho, 0) AS reg
  FROM grid LEFT JOIN regs0 ON regs0.grp = grid.grp AND regs0.j = grid.j
),
s AS (
  SELECT grp,
         CAST(SUM(CAST(1 AS BIGINT) << CAST(55 - reg AS INTEGER)) AS BIGINT)
           AS harmonic_scaled,
         CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_regs
  FROM regs GROUP BY grp
),
truth AS (
  SELECT o_orderpriority AS tgrp, COUNT(DISTINCT o_custkey) AS n_true
  FROM orders GROUP BY 1
)
SELECT s.grp AS o_orderpriority, truth.n_true, s.harmonic_scaled, s.n_zero_regs,
       {_HLL_ALPHA * _HLL_M * _HLL_M!r}e0
         * CAST({1 << 55} AS DOUBLE)
         / CAST(s.harmonic_scaled AS DOUBLE) AS estimate_raw
FROM s JOIN truth ON truth.tgrp = s.grp
"""


@query("hll_grouped_distinct", _HLL_GROUPED_ORACLE, tags=("sketch",))
def hll_grouped_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL per GROUP — the dashboarding shape (distinct customers per
    order priority) that makes sketches worth their bias: one pass
    materializes a 64-register state PER KEY, each state mergeable by
    register-wise max, so the shuffle carries |groups| x m small ints
    instead of |groups| x |distinct keys| — exactly how a 100 TB
    distinct-users-per-dimension rollup stays tractable, and how partial
    states from disjoint shards/date-ranges union without rescanning.
    Same exact-integer harmonic term and 3-IEEE-op estimate as the global
    `hll_estimate_distinct`, now alongside per-group exact truths."""
    (orders,) = T(spark, sf_dir, "orders")
    h = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.expr(
            "CAST(conv(substring(md5(CAST(o_custkey AS STRING)), 1, 15),"
            " 16, 10) AS BIGINT)"
        ).alias("hv"),
    ).distinct()
    regs0 = (
        h.select(
            "grp",
            (F.col("hv") % _HLL_M).alias("j"),
            F.expr(f"hv div {_HLL_M}").alias("w"),
        )
        .select(
            "grp",
            "j",
            F.expr("CASE WHEN w = 0 THEN 55 ELSE 55 - length(bin(w)) END").alias(
                "rho"
            ),
        )
        .groupBy("grp", "j")
        .agg(F.max("rho").alias("rho"))
    )
    grid = (
        orders.select(F.col("o_orderpriority").alias("grp"))
        .distinct()
        .crossJoin(F.broadcast(spark.range(0, _HLL_M).select(F.col("id").alias("j"))))
    )
    regs = grid.join(regs0, ["grp", "j"], "left").select(
        "grp", "j", F.coalesce("rho", F.lit(0)).cast("long").alias("reg")
    )
    s = regs.groupBy("grp").agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(55 - reg AS INT))")).alias(
            "harmonic_scaled"
        ),
        F.sum((F.col("reg") == 0).cast("long")).alias("n_zero_regs"),
    )
    truth = orders.groupBy(F.col("o_orderpriority").alias("tgrp")).agg(
        F.countDistinct("o_custkey").alias("n_true")
    )
    return s.join(truth, s.grp == truth.tgrp).select(
        F.col("grp").alias("o_orderpriority"),
        "n_true",
        "harmonic_scaled",
        "n_zero_regs",
        (
            F.lit(_HLL_ALPHA * _HLL_M * _HLL_M)
            * F.lit(float(1 << 55))
            / F.col("harmonic_scaled").cast("double")
        ).alias("estimate_raw"),
    )


# ---------------------------------------------------------------------------
# CMS distributed merge (linearity proof) — round 8
# ---------------------------------------------------------------------------

_CMS_MERGE_ORACLE = f"""
WITH pos AS (
  SELECT o_orderkey % 4 AS site, i,
         (CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR) || ':' ||
                CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % {_CMS_W}) AS p
  FROM orders, UNNEST(generate_series(1, {_CMS_D})) AS t(i)
),
per_site AS (
  SELECT site, i AS row_i, p AS pos, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM pos GROUP BY site, i, p
),
merged AS (
  SELECT row_i, pos, SUM(cnt) AS cnt FROM per_site GROUP BY row_i, pos
),
direct AS (
  SELECT i AS row_i, p AS pos, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM pos GROUP BY i, p
)
SELECT m.row_i AS row_i,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(m.cnt) AS BIGINT) AS total_cnt,
       CAST(SUM(CASE WHEN m.cnt <> d.cnt THEN 1 ELSE 0 END) AS BIGINT)
         AS n_mismatched_cells
FROM merged m JOIN direct d ON d.row_i = m.row_i AND d.pos = m.pos
GROUP BY m.row_i
"""


@query("cms_merge_sites", _CMS_MERGE_ORACLE, tags=("sketch",))
def cms_merge_sites(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch DISTRIBUTED MERGE: four per-site sketches (orders
    split by `o_orderkey % 4`, standing in for four ingest sites or
    executor groups) are merged by cell-wise counter addition, and every
    merged cell is compared against the sketch built directly over the
    union — `n_mismatched_cells = 0` per hash row witnesses CMS
    LINEARITY, the algebraic property that makes the sketch mergeable
    and therefore distributable: partial sketches combine by `+` exactly,
    with no approximation added by the merge itself.

    That property IS the 100 TB story for sketches: each site/partition
    shuffles at most d*w counters no matter how many rows it saw, merges
    are associative sums (map-side partials all the way up a tree), and
    the result is bit-identical to a single-pass build — which is why
    this query can hash-check the merge rather than bound it."""
    (orders,) = T(spark, sf_dir, "orders")
    pos = orders.select(
        (F.col("o_orderkey") % 4).alias("site"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("long").alias("row_i"),
                        F.expr(_cms_pos_spark(i, "o_custkey")).alias("pos"),
                    )
                    for i in range(1, _CMS_D + 1)
                ]
            )
        ).alias("ip"),
    ).select("site", "ip.row_i", "ip.pos")
    per_site = pos.groupBy("site", "row_i", "pos").agg(F.count("*").alias("cnt"))
    merged = per_site.groupBy("row_i", "pos").agg(F.sum("cnt").alias("cnt"))
    direct = pos.groupBy("row_i", "pos").agg(F.count("*").alias("cnt"))
    return (
        merged.alias("m")
        .join(
            direct.alias("d"),
            (F.col("m.row_i") == F.col("d.row_i")) & (F.col("m.pos") == F.col("d.pos")),
        )
        .groupBy(F.col("m.row_i").alias("row_i"))
        .agg(
            F.count("*").alias("n_cells"),
            F.sum("m.cnt").alias("total_cnt"),
            F.sum(
                F.when(F.col("m.cnt") != F.col("d.cnt"), 1).otherwise(0)
            ).alias("n_mismatched_cells"),
        )
    )


# ---------------------------------------------------------------------------
# HLL distributed merge across day shards (max-merge proof) — round 8
# ---------------------------------------------------------------------------

_HLL_MERGE_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
           AS hv
  FROM events
),
parts AS (
  SELECT day, hv % {_HLL_M} AS j,
         CASE WHEN hv // {_HLL_M} = 0 THEN 55
              ELSE 55 - length(bin(hv // {_HLL_M})) END AS rho
  FROM h
),
per_day AS (SELECT day, j, MAX(rho) AS rho FROM parts GROUP BY day, j),
merged AS (SELECT j, MAX(rho) AS reg FROM per_day GROUP BY j),
direct AS (SELECT j, MAX(rho) AS reg FROM parts GROUP BY j)
SELECT g.j AS j,
       CAST(COALESCE(m.reg, 0) AS BIGINT) AS reg_merged,
       CAST(COALESCE(d.reg, 0) AS BIGINT) AS reg_direct,
       CAST(CASE WHEN COALESCE(m.reg, 0) = COALESCE(d.reg, 0)
                 THEN 1 ELSE 0 END AS BIGINT) AS is_equal
FROM (SELECT UNNEST(generate_series(0, {_HLL_M - 1})) AS j) g
LEFT JOIN merged m ON m.j = g.j
LEFT JOIN direct d ON d.j = g.j
"""


@query("hll_merge_days", _HLL_MERGE_ORACLE, tags=("sketch",))
def hll_merge_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog DISTRIBUTED MERGE: thirty per-day register tables over
    the event stream's user ids (the shape a daily ingest job persists)
    are merged by register-wise MAX and compared cell-by-cell against
    the registers built directly over the whole range — `is_equal = 1`
    on all m registers witnesses that HLL state is a JOIN-SEMILATTICE
    under max: shard sketches merge exactly, in any order and grouping,
    with no approximation added by the merge.

    With `cms_merge_sites` (counter addition) and `kmv_set_ops_estimate`
    (bottom-k union) this completes the mergeability proof across all
    three sketch algebras the engine ships — the property that lets a
    100 TB pipeline keep per-partition/per-day sketch state (here: 64
    six-bit registers per day, ~48 bytes) and answer range cardinality
    questions by folding stored state instead of rescanning raw data."""
    (events,) = T(spark, sf_dir, "events")
    h = events.select(
        F.to_date("ts").alias("day"),
        F.expr(
            "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15),"
            " 16, 10) AS BIGINT)"
        ).alias("hv"),
    ).distinct()
    parts = h.select(
        "day",
        (F.col("hv") % _HLL_M).alias("j"),
        F.expr(
            f"CASE WHEN hv div {_HLL_M} = 0 THEN 55"
            f" ELSE 55 - length(bin(hv div {_HLL_M})) END"
        ).alias("rho"),
    )
    per_day = parts.groupBy("day", "j").agg(F.max("rho").alias("rho"))
    merged = per_day.groupBy("j").agg(F.max("rho").alias("reg_merged"))
    direct = parts.groupBy("j").agg(F.max("rho").alias("reg_direct"))
    allj = spark.range(0, _HLL_M).select(F.col("id").alias("j"))
    return (
        allj.join(merged, "j", "left")
        .join(direct, "j", "left")
        .select(
            "j",
            F.coalesce("reg_merged", F.lit(0)).cast("long").alias("reg_merged"),
            F.coalesce("reg_direct", F.lit(0)).cast("long").alias("reg_direct"),
            (
                F.coalesce("reg_merged", F.lit(0))
                == F.coalesce("reg_direct", F.lit(0))
            )
            .cast("long")
            .alias("is_equal"),
        )
    )


# ---------------------------------------------------------------------------
# moments sketch: distributed merge proof (the fourth sketch algebra)
# ---------------------------------------------------------------------------

_MOMENTS_MERGE_ORACLE = """
WITH m AS (
  SELECT o_orderkey % 4 AS site,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
  FROM orders
),
per_site AS (
  SELECT site,
         CAST(COUNT(*) AS BIGINT) AS m0,
         CAST(SUM(CAST(v AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS m1,
         CAST(SUM(CAST(v AS DECIMAL(38,0)) * v) AS DECIMAL(38,0)) AS m2,
         CAST(SUM(CAST(v AS DECIMAL(38,0)) * v * v) AS DECIMAL(38,0)) AS m3
  FROM m GROUP BY site
),
merged AS (
  SELECT CAST(SUM(m0) AS BIGINT) AS m0,
         CAST(SUM(m1) AS DECIMAL(38,0)) AS m1,
         CAST(SUM(m2) AS DECIMAL(38,0)) AS m2,
         CAST(SUM(m3) AS DECIMAL(38,0)) AS m3
  FROM per_site
),
direct AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m0,
         CAST(SUM(CAST(v AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS m1,
         CAST(SUM(CAST(v AS DECIMAL(38,0)) * v) AS DECIMAL(38,0)) AS m2,
         CAST(SUM(CAST(v AS DECIMAL(38,0)) * v * v) AS DECIMAL(38,0)) AS m3
  FROM m
)
SELECT mg.m0, CAST(mg.m1 AS DOUBLE) AS m1, CAST(mg.m2 AS DOUBLE) AS m2,
       CAST(mg.m3 AS DOUBLE) AS m3,
       CAST(mg.m0 = d.m0 AND mg.m1 = d.m1 AND mg.m2 = d.m2 AND mg.m3 = d.m3
            AS BIGINT) AS is_equal,
       ROUND(CAST(mg.m1 AS DOUBLE) / mg.m0 / 100e0, 6) AS mean_price,
       ROUND(sqrt((CAST(mg.m2 AS DOUBLE) - CAST(mg.m1 AS DOUBLE)
                   * CAST(mg.m1 AS DOUBLE) / mg.m0) / mg.m0) / 100e0, 6)
         AS stddev_price
FROM merged mg, direct d
"""


@query("moments_sketch_merge", _MOMENTS_MERGE_ORACLE, tags=("sketch",))
def moments_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moments-sketch merge proof — the FOURTH shipped sketch algebra
    witness beside CMS (counter addition), HLL (register max) and KMV
    (bottom-k union): the (count, Σv, Σv², Σv³) vector is a group
    homomorphism under per-component ADDITION, so per-site sketches
    merged by summing equal the direct single-pass build cell-exactly —
    the property that makes any moments-derived statistic (mean,
    variance, skew, Gaussian-quantile estimates a la the Moments Sketch
    paper) computable from mergeable per-shard state at 100 TB.  Four
    per-site sketches (orders split by o_orderkey % 4, standing in for
    ingest sites), merged, compared against the direct build; moments
    accumulate over exact integer cents in DECIMAL(38,0) (cents³ ≈ 1e21
    per row — far under the 1e38 ceiling at any corpus size), so
    equality is exact, not approximate.  Mean and stddev are derived at
    the end as fixed scalar IEEE ops, round-6.

    Scale: both builds are one map-side-combinable aggregation each;
    the merge operates on 4 rows."""
    (orders,) = T(spark, sf_dir, "orders")
    v = F.round(F.col("o_totalprice") * 100).cast("long")
    m = orders.select((F.col("o_orderkey") % 4).alias("site"), v.alias("v"))
    vd = F.col("v").cast("decimal(38,0)")

    def moments(df, keys):
        g = df.groupBy(*keys) if keys else df.groupBy()
        return g.agg(
            F.count("*").alias("m0"),
            F.sum(vd).cast("decimal(38,0)").alias("m1"),
            F.sum(vd * F.col("v")).cast("decimal(38,0)").alias("m2"),
            F.sum(vd * F.col("v") * F.col("v")).cast("decimal(38,0)").alias("m3"),
        )

    merged = moments(m, ["site"]).agg(
        F.sum("m0").cast("bigint").alias("m0"),
        F.sum("m1").cast("decimal(38,0)").alias("m1"),
        F.sum("m2").cast("decimal(38,0)").alias("m2"),
        F.sum("m3").cast("decimal(38,0)").alias("m3"),
    )
    direct = moments(m, []).select(
        F.col("m0").alias("d0"),
        F.col("m1").alias("d1"),
        F.col("m2").alias("d2"),
        F.col("m3").alias("d3"),
    )
    mg0, mg1 = F.col("m0"), F.col("m1").cast("double")
    mg2 = F.col("m2").cast("double")
    return merged.crossJoin(F.broadcast(direct)).select(
        "m0",
        mg1.alias("m1"),
        mg2.alias("m2"),
        F.col("m3").cast("double").alias("m3"),
        (
            (F.col("m0") == F.col("d0"))
            & (F.col("m1") == F.col("d1"))
            & (F.col("m2") == F.col("d2"))
            & (F.col("m3") == F.col("d3"))
        )
        .cast("bigint")
        .alias("is_equal"),
        F.round(mg1 / mg0 / F.lit(100.0), 6).alias("mean_price"),
        F.round(
            F.sqrt((mg2 - mg1 * mg1 / mg0) / mg0) / F.lit(100.0), 6
        ).alias("stddev_price"),
    )


# ---------------------------------------------------------------------------
# AMS F2 sketch (second frequency moment / self-join size) — round 10
# ---------------------------------------------------------------------------

_AMS_R = 16  # independent ±1 replicates averaged into the estimate

_AMS_SIGN_DUCK = (
    "CASE WHEN CAST('0x' || substr(md5(CAST(r AS VARCHAR) || ':'"
    " || CAST(k AS VARCHAR)), 1, 1) AS INT) % 2 = 1 THEN 1 ELSE -1 END"
)

_AMS_ORACLE = f"""
WITH li AS (SELECT l_partkey AS k, l_orderkey % 4 AS site FROM lineitem),
rep AS (SELECT UNNEST(generate_series(0, {_AMS_R - 1})) AS r),
signed AS (
  SELECT site, r, {_AMS_SIGN_DUCK} AS s FROM li CROSS JOIN rep
),
per_site AS (
  SELECT site, r, CAST(SUM(s) AS BIGINT) AS x FROM signed GROUP BY site, r
),
merged AS (SELECT r, CAST(SUM(x) AS BIGINT) AS x FROM per_site GROUP BY r),
direct AS (SELECT r, CAST(SUM(s) AS BIGINT) AS x FROM signed GROUP BY r),
eq AS (
  SELECT CAST(MIN(CASE WHEN m.x = d.x THEN 1 ELSE 0 END) AS BIGINT) AS is_equal
  FROM merged m JOIN direct d ON d.r = m.r
),
est AS (
  SELECT CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) / {_AMS_R}e0 AS f2_est
  FROM merged
),
ex AS (
  SELECT CAST(SUM(CAST(c AS DECIMAL(38,0)) * c) AS DOUBLE) AS f2_exact
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM li GROUP BY k)
)
SELECT CAST({_AMS_R} AS BIGINT) AS n_replicates,
       eq.is_equal,
       ex.f2_exact,
       est.f2_est,
       ROUND(abs(est.f2_est - ex.f2_exact) / ex.f2_exact, 6) AS rel_err
FROM eq, est, ex
"""


@query("ams_f2_sketch_merge", _AMS_ORACLE, tags=("sketch",))
def ams_f2_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS (Alon-Matias-Szegedy) F2 sketch with a hash-checked distributed-
    merge proof — the FIFTH shipped sketch algebra beside CMS (counter
    addition), HLL (register max), KMV (bottom-k union) and moments
    (moment-vector addition): here the mergeable state is a vector of
    SIGNED counters.  F2 = Σ_key count(key)² is the self-join size on the
    key — THE quantity a planner needs to predict join blow-up and key
    skew (complements `join_cardinality_estimate`, which computes it
    exactly; the sketch answers the same question from O(R) mergeable
    longs at any corpus size).  Each replicate r draws a deterministic
    ±1 sign per key from an md5 nibble parity; X_r = Σ_rows sign(r, key)
    is ADDITIVE across shards, and E[X_r²] = F2.  The proof splits
    lineitem into four md5-independent "sites" (o_orderkey % 4), merges
    per-site X vectors by addition, and checks bigint equality with the
    direct single-pass build — the map-side-combinability witness.  The
    estimate averages X_r² over {rr} replicates (Var ≈ 2·F2²/R); the
    exact F2 and the relative error ride along, so the sketch is
    EVALUATED against ground truth, not trusted (the recall-eval
    discipline).

    Scale: the signed expansion is a map-side explode (R rows per input
    row, combined into R longs per partition before any shuffle); both
    builds are one aggregation; the merge operates on 4×R rows.  All
    arithmetic is exact integers until the two final scalar divisions."""
    (lineitem,) = T(spark, sf_dir, "lineitem")
    li = lineitem.select(
        F.col("l_partkey").alias("k"), (F.col("l_orderkey") % 4).alias("site")
    )
    signed = li.select(
        "site",
        "k",
        F.explode(F.sequence(F.lit(0), F.lit(_AMS_R - 1))).alias("r"),
    ).select(
        "site",
        "r",
        F.when(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("r").cast("string"),
                            F.lit(":"),
                            F.col("k").cast("string"),
                        )
                    ),
                    1,
                    1,
                ),
                16,
                10,
            ).cast("int")
            % 2
            == 1,
            1,
        )
        .otherwise(-1)
        .alias("s"),
    )
    signed = cache_scoped(signed)
    per_site = signed.groupBy("site", "r").agg(F.sum("s").alias("x"))
    merged = per_site.groupBy("r").agg(F.sum("x").alias("x"))
    direct = signed.groupBy("r").agg(F.sum("s").alias("x"))
    eq = (
        merged.alias("m")
        .join(direct.alias("d"), "r")
        .agg(
            F.min(
                F.when(F.col("m.x") == F.col("d.x"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("is_equal")
        )
    )
    est = merged.agg(
        (
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).cast("double")
            / F.expr(f"{_AMS_R}e0")
        ).alias("f2_est")
    )
    ex = (
        li.groupBy("k")
        .agg(F.count("*").alias("c"))
        .agg(
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
            .cast("double")
            .alias("f2_exact")
        )
    )
    return (
        eq.crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(ex))
        .select(
            F.lit(_AMS_R).cast("long").alias("n_replicates"),
            "is_equal",
            "f2_exact",
            "f2_est",
            F.round(
                F.abs(F.col("f2_est") - F.col("f2_exact")) / F.col("f2_exact"), 6
            ).alias("rel_err"),
        )
    )


ams_f2_sketch_merge.__doc__ = ams_f2_sketch_merge.__doc__.replace("{rr}", str(_AMS_R))


# ---------------------------------------------------------------------------
# Bottom-k uniform-sample quantile sketch (merge proof + realized error)
# ---------------------------------------------------------------------------

_BK_K = 256
_BK_PS = ((25, 0.25), (50, 0.50), (75, 0.75), (90, 0.90))


def _bk_oracle() -> str:
    import math

    est_cols = ",\n".join(
        f"       (SELECT value FROM vsorted WHERE vrk = {math.ceil(p * _BK_K)})"
        f" AS est_q{tag}" for tag, p in _BK_PS
    )
    exact_cols = ",\n".join(
        f"       (SELECT value FROM ranked, n"
        f" WHERE rk = CAST(CEIL({p!r} * n_total) AS BIGINT)) AS exact_q{tag}"
        for tag, p in _BK_PS
    )
    err_cols = ",\n".join(
        f"       ABS((SELECT value FROM vsorted WHERE vrk = {math.ceil(p * _BK_K)})"
        f" - (SELECT value FROM ranked, n"
        f" WHERE rk = CAST(CEIL({p!r} * n_total) AS BIGINT))) AS err_q{tag}"
        for tag, p in _BK_PS
    )
    return f"""
WITH base AS (
  SELECT event_id % 4 AS site, event_id, value,
         md5(CAST(event_id AS VARCHAR)) AS h
  FROM events
),
site_sk AS (
  SELECT site, h, event_id, value FROM base
  QUALIFY row_number() OVER (PARTITION BY site ORDER BY h, event_id) <= {_BK_K}
),
merged AS (
  SELECT h, event_id, value FROM site_sk
  QUALIFY row_number() OVER (ORDER BY h, event_id) <= {_BK_K}
),
direct AS (
  SELECT h, event_id, value FROM base
  QUALIFY row_number() OVER (ORDER BY h, event_id) <= {_BK_K}
),
vsorted AS (
  SELECT value, row_number() OVER (ORDER BY value, event_id) AS vrk FROM merged
),
ranked AS (
  SELECT value, row_number() OVER (ORDER BY value, event_id) AS rk FROM base
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM base)
SELECT {_BK_K} AS k,
       n.n_total,
       (SELECT md5(string_agg(h, ',' ORDER BY h)) FROM merged) AS sample_digest,
       CAST((SELECT md5(string_agg(h, ',' ORDER BY h)) FROM merged)
          = (SELECT md5(string_agg(h, ',' ORDER BY h)) FROM direct) AS INT)
         AS merge_ok,
{est_cols},
{exact_cols},
{err_cols}
FROM n
"""


@query("bottomk_quantile_sketch_merge", _bk_oracle(), tags=("sketch",))
def bottomk_quantile_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SEVENTH sketch algebra on the shelf (Bloom: membership; CMS:
    frequency; HLL + KMV: cardinality; moments + AMS: moments): a
    mergeable QUANTILE sketch — the bottom-{_BK_K} rows of `events` by a
    deterministic md5 hash of the row key, i.e. a uniform k-row sample
    whose merge operator is itself bottom-k.  Because (hash, event_id) is
    a total order, bottom-k is ASSOCIATIVE: the bottom-k of a union is
    the bottom-k of the per-part bottom-ks, which is exactly the map-side
    combine property the other six algebras carry — and like them it is
    hash-PROVEN here, not assumed: four per-site sketches (events split
    by `event_id % 4`) are merged and the merged sample's md5 digest must
    equal the digest of the sketch built directly over the union
    (`merge_ok = 1`).

    The sketch's product is the quantile estimate: order the k sampled
    values and read the ceil(p*k)-th; the realized error |est - exact| is
    measured in the same row against the TRUE order statistics
    (ceil(p*n)-th value over all rows, computed via
    :func:`distributed_rank` — never a single-partition window), applying
    the recall-eval discipline (measure what the sketch estimates, don't
    trust it) to quantiles.  Estimates and exacts are copies of input
    doubles and the error one exact IEEE subtraction, so every output
    hash-checks.

    Scale shape: per-site counts pick an md5-uniform hash THRESHOLD that
    keeps ~8k rows per site before anything is collected
    (:func:`bottomk_hash_prefilter`; the true bottom-k survives with
    Chernoff failure odds ~e^-98, equality pytest-pinned — and the merge
    phase ENFORCES it via :func:`bottomk_guard`: a site whose survivor
    count ever fell below least(k, n) would raise at runtime rather than
    silently sketch wrong), then the
    two-phase array-slice aggregation runs: per-partition local bottom-k
    over the ~8k survivors, then a per-site merge of ≤ #partitions
    k-arrays — the literal mergeable-sketch execution with genuinely
    O(k)-bounded agg state (a bare collect_list would buffer the whole
    partition before the slice — round-10 advice); the direct global
    sketch is `orderBy().limit(k)` = TakeOrderedAndProject
    (per-partition heap + k-row driver merge).  At 100 TB each executor
    ships k rows, not its data."""
    import math

    (events,) = T(spark, sf_dir, "events")
    base = events.select(
        (F.col("event_id") % 4).alias("site"),
        "event_id",
        "value",
        F.md5(F.col("event_id").cast("string")).alias("h"),
    )
    row = F.struct("h", "event_id", "value")
    # Bound the collect state FOR REAL (round-10 advice): a bare
    # collect_list buffers every row of the (site, pid) group before the
    # sort/slice runs, so the local phase's state would be O(partition
    # rows).  The md5-uniform hash threshold pre-filter keeps ~8k rows per
    # site (identical bottom-k result with Chernoff ~e^-98 failure odds,
    # equality pytest-pinned AND runtime-enforced: survivor/total counts
    # ride the same two aggs so bottomk_guard certifies per site that the
    # true bottom-k survived — a deficient site raises instead of
    # silently sketching wrong), after which the two-phase array-slice
    # aggregation state really is O(k)-ish at any corpus scale.
    prefiltered, site_counts = bottomk_hash_prefilter(
        base, "h", ["site"], _BK_K, keep_count=True, with_group_counts=True
    )
    local = (
        prefiltered.withColumn("pid", F.spark_partition_id())
        .groupBy("site", "pid")
        .agg(
            F.slice(F.array_sort(F.collect_list(row)), 1, _BK_K).alias("arr"),
            F.count("*").alias("_bk_m"),
            F.min("_bk_n").alias("_bk_n"),
        )
    )
    merged_sites = local.groupBy("site").agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("arr"))), 1, _BK_K).alias("arr"),
        F.sum("_bk_m").alias("_bk_m"),
    )
    # LEFT-join from the group-count table so a site whose survivor count
    # is ZERO cannot vanish before the guard sees it (round-12 advice):
    # an absent site coalesces to 0 survivors and raises like any other
    # deficient site, making the enforcement unconditional.
    site_sk = (
        site_counts.join(merged_sites, "site", "left")
        .withColumn("_bk_m", F.coalesce(F.col("_bk_m"), F.lit(0).cast("long")))
        .filter(bottomk_guard(F.col("_bk_m"), F.col("_bk_n"), _BK_K))
    )
    merged = site_sk.agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("arr"))), 1, _BK_K).alias("arr")
    )
    direct = (
        base.orderBy("h", "event_id")
        .limit(_BK_K)
        .agg(F.array_sort(F.collect_list(row)).alias("arr"))
    )
    digest = "md5(concat_ws(',', transform(arr, s -> s.h)))"
    m = merged.select(
        F.col("arr"),
        F.expr(digest).alias("sample_digest"),
        F.expr(
            "array_sort(transform(arr, s ->"
            " struct(s.value AS value, s.event_id AS event_id)))"
        ).alias("vsorted"),
    )
    d = direct.select(F.expr(digest).alias("direct_digest"))
    n = base.agg(F.count("*").alias("n_total"))
    ranked = distributed_rank(
        base.select("value", "event_id"), ["value", "event_id"], alias="rk"
    )
    exacts = (
        ranked.crossJoin(F.broadcast(n))
        .filter(
            " OR ".join(
                f"rk = CAST(CEIL({p!r} * n_total) AS BIGINT)" for _, p in _BK_PS
            )
        )
        .crossJoin(F.broadcast(n.select(F.col("n_total").alias("_nt"))))
        .agg(
            *[
                F.max(
                    F.when(
                        F.col("rk")
                        == F.ceil(F.lit(p) * F.col("_nt")).cast("long"),
                        F.col("value"),
                    )
                ).alias(f"exact_q{tag}")
                for tag, p in _BK_PS
            ]
        )
    )
    out = (
        m.crossJoin(F.broadcast(d))
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(exacts))
    )
    return out.select(
        F.lit(_BK_K).cast("int").alias("k"),
        "n_total",
        "sample_digest",
        (F.col("sample_digest") == F.col("direct_digest")).cast("int").alias(
            "merge_ok"
        ),
        *[
            F.expr(f"element_at(vsorted, {math.ceil(p * _BK_K)}).value").alias(
                f"est_q{tag}"
            )
            for tag, p in _BK_PS
        ],
        *[F.col(f"exact_q{tag}") for tag, _ in _BK_PS],
        *[
            F.abs(
                F.expr(f"element_at(vsorted, {math.ceil(p * _BK_K)}).value")
                - F.col(f"exact_q{tag}")
            ).alias(f"err_q{tag}")
            for tag, p in _BK_PS
        ],
    )


bottomk_quantile_sketch_merge.__doc__ = bottomk_quantile_sketch_merge.__doc__.replace(
    "{_BK_K}", str(_BK_K)
)


# interpolate docstring constants (round-11 sweep: every {_CONST} in a
# registered query's rendered help must resolve — the repo convention)
bloom_filter_build.__doc__ = (
    bloom_filter_build.__doc__.replace("{_M_BITS}", str(_M_BITS))
    .replace("{_K}", str(_K))
)
bloom_filter_probe.__doc__ = bloom_filter_probe.__doc__.replace(
    "{_PROBE_N}", str(_PROBE_N)
)
cms_build.__doc__ = (
    cms_build.__doc__.replace("{_CMS_D}", str(_CMS_D))
    .replace("{_CMS_W}", str(_CMS_W))
)

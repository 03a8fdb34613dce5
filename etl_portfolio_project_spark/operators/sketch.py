"""Deterministic distinct-count sketch (HyperLogLog shape).

Spark's `approx_count_distinct` is a black-box HLL++ whose registers
aren't reproducible outside the JVM — useless for differential
testing and for any pipeline that must produce identical estimates
across engines/runs. This operator builds the same sketch from first
principles with portable hashing, so the ESTIMATE ITSELF is
bit-reproducible anywhere (and oracle-checked exactly):

1. h = portable 60-bit md5 hash of the key (text.portable_hash60)
2. bucket = h & (m-1)   — register index, m = 2^B registers
3. rest   = h >> B      — the remaining 54 bits (bit ops, not
   division: a double divide of a 60-bit int is inexact)
4. register state: min(rest) per bucket — max(rho) is a function of
   min(rest), so the shuffled state is ONE BIGINT per bucket and the
   float-free rho ladder runs once per register, not per row
5. rho = 55 - bit_length(min_rest), via an integer comparison ladder
   (floor(log2(x)) is NOT portable: engines' log2 may round the top
   few integers below 2^k up to k, flipping the floor)
6. estimate = alpha * m^2 / sum(2^-M_j), with the harmonic-mean
   denominator computed exactly: sum of 2^(55 - rho) as
   DECIMAL(38,0) (integer powers of two, order-independent), one
   correctly-rounded decimal→double conversion, one double division.

Scale notes: the only shuffle is a partial-aggregatable groupBy on
(group, bucket) — at 100 TB the map-side combine reduces every
partition to ≤ m rows before the exchange, and registers merge by
min(): this is a textbook mergeable sketch in pure DataFrame ops.

The query returns the RAW harmonic estimate plus n_filled. The
standard HLL small-range correction (linear counting,
m·ln(m/empty) when est ≤ 2.5m) involves ln(), whose last ulp is
engine-specific — consumers apply it downstream from the returned
n_filled (see tests/test_extensions.py::test_hll_estimate_accuracy),
keeping the differential-tested surface bit-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.registry import balanced, load_table
from .text import portable_hash60, portable_hash60_sql

HLL_B = 6  # register-index bits
HLL_M = 2**HLL_B  # 64 registers
HLL_REST_BITS = 54  # 60-bit hash minus 6 index bits
#: alpha_64 bias constant (Flajolet et al. 2007, m = 64)
HLL_ALPHA = 0.709
#: exponent headroom: 2^(HLL_SCALE - rho) is a non-negative integer
HLL_SCALE = HLL_REST_BITS + 1


def _rho_ladder_sql(rest: str) -> str:
    """rho = leading zeros of `rest` within HLL_REST_BITS bits, + 1 —
    as a pure-integer CASE ladder (same text runs in Spark SQL and
    DuckDB). bit_length b ⇒ 2^(b-1) ≤ rest < 2^b ⇒ rho = 55 - b."""
    whens = "\n    ".join(
        f"WHEN {rest} >= {2 ** (b - 1)} THEN {HLL_REST_BITS + 1 - b}"
        for b in range(HLL_REST_BITS, 0, -1)
    )
    return f"(CASE {whens}\n    ELSE {HLL_REST_BITS + 1} END)"


def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable-HLL distinct user estimate per event_type, with the
    exact distinct count alongside (the harness-scale accuracy check;
    at 100 TB you'd keep only the sketch)."""
    e = load_table(spark, sf_dir, "events")
    h = portable_hash60(F.col("user_id").cast("string"))
    hashed = e.select(
        "event_type",
        h.bitwiseAND(F.lit(HLL_M - 1)).alias("bucket"),
        F.shiftright(h, HLL_B).alias("rest"),
    )
    registers = (
        hashed.groupBy("event_type", "bucket")
        .agg(F.min("rest").alias("min_rest"))
        .withColumn("m_j", F.expr(_rho_ladder_sql("min_rest")))
    )
    # exact integer harmonic denominator: 2^(SCALE - m_j) summed as
    # DECIMAL(38,0); empty registers contribute 2^-0 → 2^SCALE each
    pow_term = F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_SCALE} - m_j)")
    sketch = (
        registers.groupBy("event_type")
        .agg(
            F.sum(pow_term.cast("decimal(38,0)")).alias("denom_filled"),
            F.count(F.lit(1)).alias("n_filled"),
        )
        .withColumn(
            "denom",
            F.col("denom_filled")
            + (F.lit(HLL_M) - F.col("n_filled")).cast("decimal(38,0)")
            * F.lit(2**HLL_SCALE).cast("decimal(38,0)"),
        )
    )
    est = (
        F.lit(HLL_ALPHA)
        * F.lit(float(HLL_M * HLL_M))
        * F.lit(float(2**HLL_SCALE))
        / F.col("denom").cast("double")
    )
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    return (
        sketch.join(exact, "event_type")
        .select(
            "event_type",
            "exact_distinct",
            est.alias("hll_estimate"),
            "n_filled",
        )
    )


HLL_DISTINCT_USERS_SQL = f"""
WITH hashed AS (
  SELECT event_type,
         h % {HLL_M} AS bucket,
         CAST(h // {HLL_M} AS BIGINT) AS rest
  FROM (SELECT event_type, user_id,
               {portable_hash60_sql("CAST(user_id AS VARCHAR)")} AS h
        FROM events)
),
registers AS (
  SELECT event_type, bucket, {_rho_ladder_sql("min_rest")} AS m_j
  FROM (SELECT event_type, bucket, min(rest) AS min_rest
        FROM hashed GROUP BY event_type, bucket)
),
sketch AS (
  SELECT event_type,
         sum(CAST((CAST(1 AS BIGINT) << ({HLL_SCALE} - m_j))
                  AS DECIMAL(38,0))) AS denom_filled,
         count(*) AS n_filled
  FROM registers GROUP BY event_type
)
SELECT s.event_type,
       x.exact_distinct,
       CAST({HLL_ALPHA} AS DOUBLE) * CAST({float(HLL_M * HLL_M)} AS DOUBLE)
         * CAST({float(2**HLL_SCALE)} AS DOUBLE)
         / CAST(s.denom_filled + ({HLL_M} - s.n_filled)
                * CAST({2**HLL_SCALE} AS DECIMAL(38,0)) AS DOUBLE)
         AS hll_estimate,
       s.n_filled
FROM sketch s
JOIN (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
             AS exact_distinct
      FROM events GROUP BY event_type) x
  ON s.event_type = x.event_type
"""


# ---------------------------------------------------------------------------
# Count-Min Sketch heavy hitters — the frequency-estimation companion
# to the HLL distinct sketch, built with the same portable hashing so
# the ESTIMATES are bit-reproducible across engines.
# ---------------------------------------------------------------------------

CMS_DEPTH = 4  # independent hash rows
CMS_WIDTH = 256  # buckets per row


def _cms_hash_sql_spark(i: int) -> str:
    from .text import portable_hash60_spark_sql

    h = portable_hash60_spark_sql(f"concat(CAST(user_id AS STRING), '#{i}')")
    return f"{h} % {CMS_WIDTH}"


def _cms_hash_sql_duckdb(i: int) -> str:
    from .text import portable_hash60_sql

    h = portable_hash60_sql(f"CAST(user_id AS VARCHAR) || '#{i}'")
    return f"{h} % {CMS_WIDTH}"


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 heaviest users by Count-Min-Sketch ESTIMATED event count
    (exact count alongside, as with the HLL query).

    Sketch: DEPTH×WIDTH integer counters; counter (i, b) = number of
    events whose i-th hash lands in bucket b — a single partial-
    aggregatable groupBy producing ≤ DEPTH·WIDTH rows, broadcast back.
    Estimate(u) = min_i counter(i, h_i(u)) — the classic CMS
    overestimate-only bound. Everything is integers + md5, so Spark
    and DuckDB agree bit-for-bit, and the mergeability story at
    100 TB is the same as HLL: counters add across partitions
    (map-side combine), the sketch is tiny, and the per-user probe
    is DEPTH broadcast lookups.

    Plan: exact per-user counts reuse the user_id partitioning for
    the probe's min-aggregate (no extra exchange); the sketch build
    is one compound-key aggregate; top-10 is TakeOrdered (no global
    sort). The per-row DEPTH-way hash expansion is ONE generated
    F.expr string (CLAUDE.md: no Column-chain loops)."""
    e = load_table(spark, sf_dir, "events")
    # sketch counters
    pairs = ", ".join(
        f"struct({i} AS i, {_cms_hash_sql_spark(i)} AS bucket)"
        for i in range(CMS_DEPTH)
    )
    hashed = e.select(
        "user_id", F.expr(f"explode(array({pairs}))").alias("hb")
    ).select("user_id", "hb.i", "hb.bucket")
    cms = hashed.groupBy("i", "bucket").agg(
        F.count(F.lit(1)).alias("counter")
    )
    # per-user probes: exact count first (one shuffle on user_id),
    # then the DEPTH hash probes against the broadcast sketch; the
    # min-aggregate reuses the user_id partitioning
    exact = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    probes = exact.select(
        "user_id",
        "exact_count",
        F.expr(f"explode(array({pairs}))").alias("hb"),
    ).select("user_id", "exact_count", "hb.i", "hb.bucket")
    return (
        probes.join(F.broadcast(cms), ["i", "bucket"])
        .groupBy("user_id", "exact_count")
        .agg(F.min("counter").alias("cms_estimate"))
        .orderBy(F.col("cms_estimate").desc(), F.col("user_id"))
        .limit(10)
    )


CMS_HEAVY_HITTERS_SQL = f"""
WITH hashed AS (
  SELECT user_id, hb.i AS i, hb.bucket AS bucket
  FROM events,
       LATERAL (SELECT unnest([{", ".join(
           f"{{'i': {i}, 'bucket': {_cms_hash_sql_duckdb(i)}}}"
           for i in range(CMS_DEPTH)
       )}], recursive := true)) hb(i, bucket)
),
cms AS (
  SELECT i, bucket, count(*) AS counter FROM hashed GROUP BY i, bucket
),
exact AS (
  SELECT user_id, count(*) AS exact_count FROM events GROUP BY user_id
),
probes AS (
  SELECT e.user_id, e.exact_count, hb.i AS i, hb.bucket AS bucket
  FROM exact e,
       LATERAL (SELECT unnest([{", ".join(
           f"{{'i': {i}, 'bucket': {_cms_hash_sql_duckdb(i)}}}"
           for i in range(CMS_DEPTH)
       )}], recursive := true)) hb(i, bucket)
)
SELECT p.user_id, p.exact_count, min(c.counter) AS cms_estimate
FROM probes p JOIN cms c ON p.i = c.i AND p.bucket = c.bucket
GROUP BY p.user_id, p.exact_count
ORDER BY cms_estimate DESC, p.user_id LIMIT 10
"""


# ---------------------------------------------------------------------------
# KMV (k minimum values) distinct-count sketch (r9) — the
# bottom-k companion to the HLL registers (Bar-Yossef et al. 2002;
# the theta-sketch family's core). Unlike HLL's fixed registers, KMV
# keeps the k smallest hash values; its estimate (k-1)/U_k is a pure
# deterministic function of the hash set, so it grades bit-exactly.
# ---------------------------------------------------------------------------

KMV_K = 64
KMV_SALT = "kmv:"  # independent of the HLL hash
KMV_HASH_SPACE = 2**60  # portable_hash60 range


def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-user estimate per event_type: hash every user to
    (0, 2^60), take the k-th smallest DISTINCT hash U_k per group, and
    estimate distinct = (k-1) / (U_k / 2^60). Groups with fewer than k
    distinct users fall back to the exact count (the KMV small-set
    rule) with kth_hash = -1 (sentinel, never a NULL BIGINT — engine
    NULL representation drift). Exact distinct count alongside (the
    harness-scale accuracy companion, the HLL pattern).

    Bit-exact: U_k is an integer selected by rank (md5-60bit ties
    within a group are impossible AFTER the distinct), and the
    estimate is one fixed-order double chain (63·2^60 is exactly
    representable; one divide).

    Scale shape (r10): the k-th-smallest selection is boundary-pruned
    BEFORE the distinct — `ranking.grouped_bottomk_survivors` bounds
    the k-th smallest hash per event_type from one map-side bucket
    aggregate over the RAW rows (a bucket minimum is a real hash, and
    distinct buckets hold distinct values, so the bound holds for the
    distinct set too), the survivor filter rides the scan, and only
    ~K·(1+K/B) distinct hashes per group reach the distinct + rank
    window — corpus-invariant, no per-group corpus-sized sort (the r9
    per-group-window fix, replacing the docstring's former deferral).
    KMV sketches merge by unioning hash sets and re-taking bottom-k —
    the mergeable property that makes it a distributed sketch
    (`kmv_sketch_merge` grades exactly that)."""
    from pyspark.sql import Window

    from .ranking import grouped_bottomk_survivors

    e = balanced(load_table(spark, sf_dir, "events")).where(
        F.col("user_id").isNotNull()
    )
    h = portable_hash60(
        F.concat(F.lit(KMV_SALT), F.col("user_id").cast("string"))
    )
    from .. import caches

    # claim ONCE: the boundary prune reads the hashed relation twice
    # (bucket-minima pass + survivor filter) — left lazy, the events
    # scan + per-row md5 run twice (CLAUDE.md claim-once rule; the
    # first consumer populates the cache, no eager count needed)
    hashed = caches.claim(
        "kmv_hashed", e.select("event_type", h.alias("h"))
    )
    dh = grouped_bottomk_survivors(
        hashed, ["event_type"], "h", KMV_K
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    kth = (
        dh.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == KMV_K)
        .select("event_type", F.col("h").alias("kth"))
    )
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    est = F.expr(
        f"CASE WHEN kth IS NULL THEN CAST(exact_distinct AS DOUBLE) "
        f"ELSE CAST({KMV_K - 1} AS DOUBLE) "
        f"     * CAST({KMV_HASH_SPACE} AS DOUBLE) / CAST(kth AS DOUBLE) "
        f"END"
    )
    return exact.join(kth, "event_type", "left").select(
        "event_type",
        "exact_distinct",
        F.coalesce("kth", F.lit(-1)).alias("kth_hash"),
        est.alias("kmv_estimate"),
    )


KMV_DISTINCT_USERS_SQL = f"""
WITH dh AS (
  SELECT DISTINCT event_type,
         {portable_hash60_sql(
             "'" + KMV_SALT + "' || CAST(user_id AS VARCHAR)"
         )} AS h
  FROM events WHERE user_id IS NOT NULL
),
kth AS (
  SELECT event_type, h AS kth FROM (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM dh
  ) WHERE rn = {KMV_K}
),
exact AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
           AS exact_distinct
  FROM events WHERE user_id IS NOT NULL GROUP BY event_type
)
SELECT exact.event_type AS event_type,
       exact.exact_distinct AS exact_distinct,
       COALESCE(kth.kth, -1) AS kth_hash,
       CASE WHEN kth.kth IS NULL THEN CAST(exact_distinct AS DOUBLE)
            ELSE CAST({KMV_K - 1} AS DOUBLE)
                 * CAST({KMV_HASH_SPACE} AS DOUBLE) / CAST(kth.kth AS DOUBLE)
       END AS kmv_estimate
FROM exact LEFT JOIN kth ON kth.event_type = exact.event_type
"""


# ---------------------------------------------------------------------------
# KMV merge (r10, VERDICT r9 item 6): grade the MERGEABILITY the
# docstring above claims — per-shard bottom-k sketches union into the
# exact global sketch. This is the property that makes KMV a
# distributed sketch: at 100 TB each executor keeps a k-hash sketch
# per group and the driver merges |shards|·k rows, never raw users.
# ---------------------------------------------------------------------------

KMV_MERGE_SHARDS = 8
KMV_SHARD_SALT = "kmvshard:"  # independent of the value hash


def kmv_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch MERGE, graded: shard the event stream by a salted
    user hash into KMV_MERGE_SHARDS shards, build an independent
    bottom-k sketch per (event_type, shard), merge by unioning the
    shard sketches and re-taking the k smallest — and prove
    merged == direct by emitting both k-th hashes plus the equality
    flag (true by the bottom-k merge theorem: the union of per-shard
    bottom-k sets contains the global bottom-k, because every one of
    the k global minima is within its own shard's bottom-k).

    Small-set rule: a merged set under k rows means EVERY shard kept
    all its hashes, so the union is the full distinct set and the
    estimate falls back to its exact count (kth = -1 sentinel, the
    `kmv_distinct_users` convention).

    Scale shape: the per-shard selection is boundary-pruned
    (`ranking.grouped_bottomk_survivors` on (event_type, shard)), so
    the rank windows only sort ~k survivors per shard; the merge
    relation is ≤ shards·k rows per type (its re-rank window sits
    above the boundary-pruned subtree, so the repo-wide low-card
    window ban verifies it structurally); the direct witness reuses
    `kmv_distinct_users`' pruned selection."""
    from pyspark.sql import Window

    from .ranking import grouped_bottomk_survivors

    from .. import caches

    e = balanced(load_table(spark, sf_dir, "events")).where(
        F.col("user_id").isNotNull()
    )
    # claim ONCE: the sharded/direct prunes read this relation four
    # times (two bucket-minima passes + two survivor filters) — left
    # lazy, the events scan + two per-row md5s run 4× (CLAUDE.md
    # claim-once rule; first consumer populates, no eager count)
    rows = caches.claim(
        "kmv_merge_rows",
        e.select(
            "event_type",
            (
                portable_hash60(
                    F.concat(
                        F.lit(KMV_SHARD_SALT),
                        F.col("user_id").cast("string"),
                    )
                )
                % KMV_MERGE_SHARDS
            ).alias("shard"),
            portable_hash60(
                F.concat(F.lit(KMV_SALT), F.col("user_id").cast("string"))
            ).alias("h"),
        ),
    )
    # per-shard sketches: bottom-k distinct hashes per (type, shard)
    sdh = grouped_bottomk_survivors(
        rows, ["event_type", "shard"], "h", KMV_K
    ).distinct()
    wsh = Window.partitionBy("event_type", "shard").orderBy("h")
    shard_sk = (
        sdh.withColumn("rn", F.row_number().over(wsh))
        .where(F.col("rn") <= KMV_K)
        .select("event_type", "shard", "h")
    )
    # merge: union the shard sketches, re-rank bottom-k over DISTINCT
    # hashes (ADVICE r10: the shard is a function of the USER, but a
    # 60-bit h-collision between users in different shards would
    # otherwise double-count in the small-set exact fallback and shift
    # the merged k-th rank — dedup h exactly like the direct witness)
    agg = shard_sk.groupBy("event_type").agg(
        F.count_distinct("h").cast("long").alias("n_union"),
        F.count_distinct("shard").cast("long").alias("n_shards"),
    )
    wm = Window.partitionBy("event_type").orderBy("h")
    kth_m = (
        shard_sk.select("event_type", "h")
        .distinct()
        .withColumn("rn", F.row_number().over(wm))
        .where(F.col("rn") == KMV_K)
        .select("event_type", F.col("h").alias("kth_m"))
    )
    # direct witness: the kmv_distinct_users pruned selection
    ddh = grouped_bottomk_survivors(
        rows.select("event_type", "h"), ["event_type"], "h", KMV_K
    ).distinct()
    kth_d = (
        ddh.withColumn("rn", F.row_number().over(wm))
        .where(F.col("rn") == KMV_K)
        .select("event_type", F.col("h").alias("kth_d"))
    )
    est = F.expr(
        f"CASE WHEN kth_m IS NULL THEN CAST(n_union AS DOUBLE) "
        f"ELSE CAST({KMV_K - 1} AS DOUBLE) "
        f"     * CAST({KMV_HASH_SPACE} AS DOUBLE) / CAST(kth_m AS DOUBLE) "
        f"END"
    )
    return (
        agg.join(kth_m, "event_type", "left")
        .join(kth_d, "event_type", "left")
        .select(
            "event_type",
            "n_shards",
            "n_union",
            F.coalesce("kth_m", F.lit(-1)).alias("kth_merged"),
            est.alias("kmv_estimate_merged"),
            F.coalesce("kth_d", F.lit(-1)).alias("kth_direct"),
            (
                F.coalesce("kth_m", F.lit(-1))
                == F.coalesce("kth_d", F.lit(-1))
            ).alias("merge_matches"),
        )
    )


KMV_SKETCH_MERGE_SQL = f"""
WITH rows_h AS MATERIALIZED (
  SELECT event_type,
         {portable_hash60_sql(
             "'" + KMV_SHARD_SALT + "' || CAST(user_id AS VARCHAR)"
         )} % {KMV_MERGE_SHARDS} AS shard,
         {portable_hash60_sql(
             "'" + KMV_SALT + "' || CAST(user_id AS VARCHAR)"
         )} AS h
  FROM events WHERE user_id IS NOT NULL
),
sdh AS (
  SELECT DISTINCT event_type, shard, h FROM rows_h
),
shard_sk AS MATERIALIZED (
  SELECT event_type, shard, h FROM (
    SELECT event_type, shard, h,
           row_number() OVER (PARTITION BY event_type, shard
                              ORDER BY h) AS rn
    FROM sdh
  ) WHERE rn <= {KMV_K}
),
agg AS (
  SELECT event_type,
         CAST(count(DISTINCT h) AS BIGINT) AS n_union,
         CAST(count(DISTINCT shard) AS BIGINT) AS n_shards
  FROM shard_sk GROUP BY event_type
),
kth_m AS (
  SELECT event_type, h AS kth_m FROM (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM (SELECT DISTINCT event_type, h FROM shard_sk)
  ) WHERE rn = {KMV_K}
),
dh AS (
  SELECT DISTINCT event_type, h FROM rows_h
),
kth_d AS (
  SELECT event_type, h AS kth_d FROM (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM dh
  ) WHERE rn = {KMV_K}
)
SELECT a.event_type AS event_type,
       a.n_shards AS n_shards,
       a.n_union AS n_union,
       COALESCE(m.kth_m, -1) AS kth_merged,
       CASE WHEN m.kth_m IS NULL THEN CAST(a.n_union AS DOUBLE)
            ELSE CAST({KMV_K - 1} AS DOUBLE)
                 * CAST({KMV_HASH_SPACE} AS DOUBLE)
                 / CAST(m.kth_m AS DOUBLE)
       END AS kmv_estimate_merged,
       COALESCE(d.kth_d, -1) AS kth_direct,
       (COALESCE(m.kth_m, -1) = COALESCE(d.kth_d, -1)) AS merge_matches
FROM agg a
LEFT JOIN kth_m m ON m.event_type = a.event_type
LEFT JOIN kth_d d ON d.event_type = a.event_type
"""

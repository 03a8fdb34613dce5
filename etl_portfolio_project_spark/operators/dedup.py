"""Deduplication operators for LLM-data pipelines (SURVEY.md §7.4).

Five strategies over `documents`, each a `queries()` entry with a
DuckDB oracle (including the MinHash-LSH candidate generation — the
whole pipeline uses engine-portable md5-based hashing, so even the LSH
banding is differentially tested):

- exact: hash-groupBy on a canonical fingerprint.
- prefix-exact: fingerprint of the first 8 tokens (the harness corpus
  has no full-text dups; prefix collisions exercise the group path).
- word-set Jaccard: exact prefix-filtered self-join (SSJoin/PPJoin) —
  the exact-verification half of near-dup dedup.
- n-gram (3-word shingle) Jaccard: inverted-index self-join on shingle
  hashes, exact top-k most-similar pairs (order-sensitive).
- MinHash LSH: k=16 signature / 4 bands × 4 rows, band-bucket join for
  candidates, then exact Jaccard verification of candidates only.
- SimHash: 48-bit signature via per-bit majority vote of token hashes,
  Hamming-distance pairs.
- Winnowing (MOSS): 3-gram rolling hashes → per-window minimizers →
  shared-minimizer candidate pairs (order-SENSITIVE, unlike the
  word-set families above).

Scale design (the reason these shapes were chosen):
- Exact dedup is a single hash aggregation: partial-agg per partition,
  one shuffle of (fingerprint, partial) rows.
- The Jaccard inverted index joins on the SHINGLE key, so work is
  proportional to shared-shingle pairs, not n² — standard all-pairs
  similarity at scale; blocking (here: per `source` partition) bounds
  the candidate space.
- MinHash LSH replaces the shingle join with a band-bucket join:
  candidates ∝ colliding bands only. At 100 TB: banding is a narrow
  map + one shuffle on band_key; verification joins only candidates.
- All token hashing is md5-based (portable_hash60), deterministic
  across engines and runs — no seed state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import caches
from ..sources.registry import balanced, load_table
from .text import (
    bind_once_sql,
    portable_hash60_spark_sql,
    portable_hash60_sql,
    tokens_expr,
)

#: MinHash parameters — k hash functions in b bands of r rows (k=b*r).
MH_P = 2_147_483_647  # modulus (2^31-1): keeps a*h+b < 2^62 under ANSI
MH_K = 16
MH_BANDS = 4
MH_ROWS = 4
#: deterministic affine coefficients (i-th hash: (a_i*h + b_i) % p)
MH_AB = [(2 * i + 1, 7919 * (i + 1)) for i in range(MH_K)]

SIMHASH_BITS = 48  # < 63 so bit-packing never overflows a signed long
JACCARD_TAU = 0.9
SIMHASH_MAX_HAMMING = 8
DEDUP_SOURCE_BLOCK = "src0"  # blocking partition for pairwise queries


def _distinct_words(text: Column) -> Column:
    return F.array_distinct(tokens_expr(text))


def collapse_exact_reps(
    d: DataFrame, key_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Collapse rows with IDENTICAL `text` (within a `key_cols` group)
    to ONE representative row BEFORE any LSH banding — the exact-dup
    pre-collapse every production near-dup pipeline applies (VERDICT
    r10 #1): a viral page duplicated m times shares every band, so
    banding the raw corpus emits O(m²) candidate pairs from that one
    cluster; banding one representative per distinct content emits
    O(m) work and the pair multiplicities reconstruct the doc-level
    counts exactly.

    Input: (doc_id, text, *key_cols). Output one row per distinct
    (md5(text), *key_cols):

      doc_id  — min doc_id of the cluster (the representative)
      text    — the shared text (identical across members by key)
      max_id  — max doc_id (consumers whose tie-breaks prefer the
                HIGHEST member id, e.g. incremental dedup's best-match
                struct, stay bit-identical to the uncollapsed run)
      n_dup   — cluster multiplicity (BIGINT)

    Grouping key is md5(text), not text itself — a 64-hex shuffle key
    at any document size; min(struct) partial-aggregates map-side, so
    a hot cluster collapses to one struct per input partition before
    the exchange. Identical members have identical derived signatures
    and word/shingle sets, so every banding consumer's weighted sums
    over representatives reproduce the uncollapsed doc-level values
    bit-exactly (their DuckDB oracles are deliberately left as the
    UNCOLLAPSED restatement where the output is value-preserved — the
    parity test then proves the optimization changes nothing)."""
    keys = [F.col(c) for c in key_cols]
    return (
        d.groupBy(F.md5(F.col("text")).alias("content_fp"), *keys)
        .agg(
            F.min(F.struct("doc_id", "text")).alias("s"),
            F.max("doc_id").alias("max_id"),
            F.count(F.lit(1)).alias("n_dup"),
        )
        .select(
            F.col("s.doc_id").alias("doc_id"),
            *key_cols,
            F.col("s.text").alias("text"),
            "max_id",
            "n_dup",
        )
    )


_DISTINCT_WORDS_SQL = "list_distinct(regexp_split_to_array(trim(text), '\\s+'))"


# --- exact dedup ----------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one survivor (min doc_id) per canonical text
    fingerprint. Output = the deduplicated id set."""
    d = load_table(spark, sf_dir, "documents")
    canonical = F.md5(F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")))
    return (
        d.select(canonical.alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


DEDUP_EXACT_SQL = """
SELECT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint,
       min(doc_id) AS doc_id, count(*) AS n_copies
FROM documents
GROUP BY 1
"""


def dedup_exact_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate GROUPS by 8-token-prefix fingerprint (≥2 members)."""
    d = load_table(spark, sf_dir, "documents")
    # concat_ws maps a NULL token array to '' (grouping NULL-text docs
    # with EMPTY-text docs) while the oracle's array_to_string keeps
    # NULL — gate on text so both fingerprint NULL (r7 drift sweep)
    prefix_fp = F.when(
        F.col("text").isNotNull(),
        F.md5(F.concat_ws(" ", F.slice(tokens_expr(F.col("text")), 1, 8))),
    )
    return (
        d.select(prefix_fp.alias("prefix_fp"), "doc_id")
        .groupBy("prefix_fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc_id"))
        .where(F.col("n_docs") >= 2)
    )


DEDUP_EXACT_PREFIX_SQL = """
SELECT prefix_fp, count(*) AS n_docs, min(doc_id) AS first_doc_id
FROM (
  SELECT doc_id,
         md5(array_to_string(regexp_split_to_array(trim(text), '\\s+')[1:8], ' '))
           AS prefix_fp
  FROM documents
)
GROUP BY prefix_fp HAVING count(*) >= 2
"""


# --- exact n-gram / word-set Jaccard --------------------------------------


def _prefix_candidates(
    d: DataFrame, tau_num: int, tau_den: int, claim_key: str | None = None
) -> DataFrame:
    """Candidate-pair stage of the prefix-filtered SSJoin: distinct
    (id1<id2) pairs sharing a prefix item — the prefix being each
    doc's (n − ⌈τ·n⌉ + 1) globally-rarest items. See
    `_prefix_filtered_jaccard_pairs` for theory/citations.

    `claim_key` (r13 opt): the prefix index feeds BOTH sides of the
    self-join — left lazy, the explode + df join + two windows behind
    it run twice (and under AQE the two sides can race-compute the
    same partitions concurrently). Callers that own a stable key pass
    one; the index is then claimed AND eagerly materialized (count)
    so both sides read the cache (CLAUDE.md claim-once rule; measured
    1.16 → 0.89 s on the neardup_jaccard pair stage at sf0.1)."""
    tok = d.select("doc_id", F.explode("items").alias("item"))
    dfreq = tok.groupBy("item").agg(F.count(F.lit(1)).alias("df"))
    wdoc = Window.partitionBy("doc_id").orderBy("df", "item")
    pref = (
        tok.join(dfreq, "item")
        .withColumn("rnk", F.row_number().over(wdoc))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
        .where(
            F.col("rnk")
            <= F.col("n")
            - F.expr(f"({tau_num} * n + {tau_num}) div {tau_den}")
            + 1
        )
        .select("doc_id", "item")
    )
    if claim_key is not None:
        from .. import caches

        pref = caches.claim(f"{claim_key}_pref", pref)
        pref.count()  # eager: both self-join sides must read the cache
    a, b = pref.alias("a"), pref.alias("b")
    return (
        a.join(
            b,
            (F.col("a.item") == F.col("b.item"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2")
        )
        .distinct()
    )


def _prefix_filtered_jaccard_pairs(
    d: DataFrame,
    tau: float,
    tau_num: int,
    tau_den: int,
    claim_key: str | None = None,
) -> DataFrame:
    """Exact set-Jaccard pairs (J ≥ τ) via PREFIX-FILTERED
    inverted-index self-join (SSJoin/PPJoin-style, Chaudhuri et al.
    2006 / Xiao et al. 2008 — public literature).

    `d` = (doc_id, items: array<T> of DISTINCT elements); τ is given
    as both a double (final filter, mirroring the oracle's literal)
    and an exact integer ratio tau_num/tau_den for the prefix length.

    Candidate generation indexes only each doc's PREFIX: its
    (n − ⌈τ·n⌉ + 1) globally-RAREST items (global order = ascending
    document frequency, ties by item). The prefix-filter theorem
    guarantees any pair with J ≥ τ shares a prefix item, so the output
    is provably identical to the plain all-pairs formula — DuckDB
    oracles stay the naive self-join (value contract). Shared counts
    are then computed EXACTLY per candidate pair from the full arrays
    (array_intersect), so the prefix only prunes.

    Scale: the de-skew fix for the round-1 caveat — a hot stop word
    (df ≈ n_docs) previously built an O(df²) posting-list pair blowup;
    prefixes index the rarest ~(1−τ)·|d|+1 items of each doc, so hot
    items never enter the index unless a doc consists of nothing else.
    ⌈τ·n⌉ is exact integer arithmetic ((num·n + num) div den), not a
    double multiplication."""
    cand = _prefix_candidates(d, tau_num, tau_den, claim_key=claim_key)
    return _jaccard_verify(cand, d).where(F.col("jaccard") >= tau)


def _jaccard_verify(
    cand: DataFrame, d: DataFrame, index: DataFrame | None = None
) -> DataFrame:
    """Exact set-Jaccard of (id1, id2, ...) candidate pairs — the ONE
    Spark definition of the verify step every candidate generator
    (prefix filter, LSH banding) ends in.

    `d` is a (doc_id, items, *carry) relation; id2 is looked up in
    `index` when given (batch × index candidates), else in `d`. Each
    side's columns come back suffixed by side (doc_id → id1/id2, carry
    column c → c1/c2), after the candidate columns, followed by
    shared / n1 / n2 (BIGINT set sizes) and jaccard = shared / (n1 +
    n2 − shared) — the operation order of every DuckDB twin, so the
    double is bit-identical to the oracle's."""

    def side(frame: DataFrame, i: int) -> DataFrame:
        return frame.select(
            *(
                F.col(c).alias(f"id{i}" if c == "doc_id" else f"{c}{i}")
                for c in frame.columns
            )
        )

    pairs = cand.join(side(d, 1), "id1").join(
        side(d if index is None else index, 2), "id2"
    )
    carry = [
        c for c in pairs.columns if c not in ("id1", "id2", "items1", "items2")
    ]
    return pairs.select(
        "id1",
        "id2",
        *carry,
        F.size(F.array_intersect("items1", "items2")).cast("long").alias("shared"),
        F.size("items1").cast("long").alias("n1"),
        F.size("items2").cast("long").alias("n2"),
    ).withColumn(
        "jaccard",
        F.col("shared") / (F.col("n1") + F.col("n2") - F.col("shared")),
    )


def neardup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-set Jaccard near-dup pairs within one source block, τ=0.9,
    exact via prefix filtering (`_prefix_filtered_jaccard_pairs`)."""
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("source") == DEDUP_SOURCE_BLOCK)
        .select("doc_id", _distinct_words(F.col("text")).alias("items"))
    )
    return _prefix_filtered_jaccard_pairs(
        d, JACCARD_TAU, 9, 10, claim_key="neardup_jaccard"
    )


NEARDUP_JACCARD_SQL = f"""
WITH d AS (
  SELECT doc_id, {_DISTINCT_WORDS_SQL} AS words
  FROM documents WHERE source = '{DEDUP_SOURCE_BLOCK}'
)
SELECT a.doc_id AS id1, b.doc_id AS id2,
       CAST(len(list_intersect(a.words, b.words)) AS BIGINT) AS shared,
       CAST(len(a.words) AS BIGINT) AS n1,
       CAST(len(b.words) AS BIGINT) AS n2,
       CAST(len(list_intersect(a.words, b.words)) AS BIGINT)
         / (CAST(len(a.words) AS BIGINT) + CAST(len(b.words) AS BIGINT)
            - CAST(len(list_intersect(a.words, b.words)) AS BIGINT)) AS jaccard
FROM d a JOIN d b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.words, b.words)) > 0
  AND CAST(len(list_intersect(a.words, b.words)) AS BIGINT)
      / (CAST(len(a.words) AS BIGINT) + CAST(len(b.words) AS BIGINT)
         - CAST(len(list_intersect(a.words, b.words)) AS BIGINT)) >= {JACCARD_TAU}
"""


# --- n-gram (shingle) Jaccard ---------------------------------------------

#: 3-word shingles — order-SENSITIVE, unlike the word-set family:
#: swapping sentence order changes shingles but not words
SHINGLE_N = 3
SHINGLE_TOPK = 20


def ngram_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-GRAM Jaccard similarity audit: the exact TOP-20 most
    shingle-similar doc pairs (3-word shingle sets) within one source
    block. Top-k rather than thresholded because shingle Jaccard
    decays fast under edits — the audit shape ("show me the most
    order-preserving-similar pairs") is the useful primitive; the
    thresholded scale path is `minhash_lsh_neardup`/`winnow_neardup`.

    Shingles are 60-bit md5 hashes (portable, and a fixed 8-byte join
    key vs an arbitrary-length string in the shuffle). Candidate pairs
    come from an inverted-index self-join on the shingle key — work ∝
    colliding shingles, never n², and exactly the shared>0 pairs,
    which is sufficient for exact top-k (J=0 pairs can't rank).
    Unlike word tokens, 3-gram shingles have a naturally flat df
    distribution (near-unique keys), so the posting-list skew that
    motivated prefix filtering in `neardup_jaccard` doesn't arise.
    Deterministic order: J desc, then (id1, id2)."""
    shingles = _shingle_hashes_spark_sql()
    # materialize the shingle-hash table once (eager localCheckpoint):
    # it feeds the inverted index AND both verify join-backs, and the
    # md5-per-shingle projection is the dominant cost — recomputing it
    # per branch tripled the query time (measured 6.5s → ~2s at sf0.1).
    # At scale this IS the shingle index you'd build once and reuse.
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("source") == DEDUP_SOURCE_BLOCK)
        .select("doc_id", F.expr(shingles).alias("items"))
        .localCheckpoint(eager=True)
    )
    sizes = d.select("doc_id", F.size("items").cast("long").alias("n"))
    tok = d.select("doc_id", F.explode("items").alias("item"))
    a, b = tok.alias("a"), tok.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.item") == F.col("b.item"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    s1 = sizes.select(F.col("doc_id").alias("id1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("id2"), F.col("n").alias("n2"))
    return (
        shared.join(s1, "id1")
        .join(s2, "id2")
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("n1") + F.col("n2") - F.col("shared")),
        )
        .select("id1", "id2", "shared", "n1", "n2", "jaccard")
        .orderBy(F.col("jaccard").desc(), "id1", "id2")
        .limit(SHINGLE_TOPK)
    )


def _shingle_hashes_spark_sql() -> str:
    """Spark-SQL 60-bit md5 hashes of the distinct 3-word shingles
    (LET-bound token split — see `ngram_jaccard_neardup`)."""
    from .text import _ngrams_spark_sql

    return bind_once_sql(
        "split(trim(text), '\\\\s+')",
        "t",
        f"array_distinct(transform({_ngrams_spark_sql('t', SHINGLE_N)}, "
        f"g -> {portable_hash60_spark_sql('g')}))",
    )


def _shingle_hashes_duck_sql() -> str:
    toks = "regexp_split_to_array(trim(text), '\\s+')"
    ngrams = (
        f"list_transform(generate_series(1, len({toks}) - {SHINGLE_N - 1}), "
        f"i -> array_to_string({toks}[i:i + {SHINGLE_N - 1}], ' '))"
    )
    return (
        f"list_distinct(list_transform({ngrams}, "
        "g -> CAST('0x' || substring(md5(g), 1, 15) AS BIGINT)))"
    )


NGRAM_JACCARD_NEARDUP_SQL = f"""
WITH d AS (
  SELECT doc_id, {_shingle_hashes_duck_sql()} AS items
  FROM documents WHERE source = '{DEDUP_SOURCE_BLOCK}'
)
SELECT a.doc_id AS id1, b.doc_id AS id2,
       CAST(len(list_intersect(a.items, b.items)) AS BIGINT) AS shared,
       CAST(len(a.items) AS BIGINT) AS n1,
       CAST(len(b.items) AS BIGINT) AS n2,
       CAST(len(list_intersect(a.items, b.items)) AS BIGINT)
         / (CAST(len(a.items) AS BIGINT) + CAST(len(b.items) AS BIGINT)
            - CAST(len(list_intersect(a.items, b.items)) AS BIGINT)) AS jaccard
FROM d a JOIN d b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.items, b.items)) > 0
ORDER BY jaccard DESC, id1, id2
LIMIT {SHINGLE_TOPK}
"""


# --- MinHash LSH ----------------------------------------------------------


def _affine_minhash_sql(hashes_sql: str) -> str:
    """Spark-SQL MinHash signature of the hash array `hashes_sql`: the
    MH_K portable affine min-hashes min((a·h + b) % MH_P) for (a, b) in
    MH_AB. The hash array is LET-bound (text.bind_once_sql), so it is
    computed once per row, not once per hash function — an unbound
    array reused k times re-tokenizes and re-md5s k times per row
    under interpreted HOF eval."""
    sigs = ", ".join(
        f"array_min(transform(hs, h -> ({a} * h + {b}) % {MH_P}))"
        for a, b in MH_AB
    )
    return bind_once_sql(hashes_sql, "hs", f"array({sigs})")


def _minhash_signature() -> Column:
    """MinHash signature of each row's distinct whitespace tokens."""
    return F.expr(
        _affine_minhash_sql(
            "transform(array_distinct(split(trim(text), '\\\\s+')), "
            f"t -> {portable_hash60_spark_sql('t')} % {MH_P})"
        )
    )


def _band_rows(d: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) rows from a (doc_id, sig) relation —
    the LSH index layout: one row per signature band, keyed by the
    concatenated in-band hash values."""
    return d.selectExpr("doc_id", f"inline(array({_band_structs_sql()}))")


def _band_structs_sql() -> str:
    """The (band, band_key) structs of a `sig` column, as one Spark-SQL
    list — the ONE definition of the banding layout (`_band_rows` and
    the streaming epoch SQL both explode it; one generated string is
    a single py4j round trip, where a Column chain costs ~30)."""
    structs = []
    for i in range(MH_BANDS):
        keys = ", ".join(
            f"CAST(sig[{i * MH_ROWS + r}] AS STRING)"
            for r in range(MH_ROWS)
        )
        structs.append(
            f"named_struct('band', {i}, "
            f"'band_key', concat_ws('-', {keys}))"
        )
    return ", ".join(structs)


def _band_candidates(d: DataFrame, index: DataFrame | None = None) -> DataFrame:
    """Band-collision candidates of MinHash-LSH — the ONE Spark
    definition of the collision rule: (id1, id2, n_band_hits) for
    every pair sharing at least one full band of the `sig` column,
    n_band_hits = the number of shared bands. Without `index` it is
    the self-join of `d` (id1 < id2); with it, `d` (id1) × `index`
    (id2), e.g. an incoming batch against the corpus index. Rows with
    an all-NULL signature (no shingles) must be filtered out by the
    caller: their band keys are all '' and would collide."""
    bands = _band_rows(d)
    a = bands.alias("a")
    b = (bands if index is None else _band_rows(index)).alias("b")
    on = (F.col("a.band") == F.col("b.band")) & (
        F.col("a.band_key") == F.col("b.band_key")
    )
    if index is None:
        on = on & (F.col("a.doc_id") < F.col("b.doc_id"))
    return (
        a.join(b, on)
        .groupBy(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .agg(F.count(F.lit(1)).alias("n_band_hits"))
    )


def minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification
    within one source block, over DISTINCT-CONTENT representatives
    (exact duplicates pre-collapsed via `collapse_exact_reps` — r11):
    representatives sharing ANY full band of the signature become
    candidates; candidates are verified against the true word-set
    Jaccard. Output: verified representative pairs with band-collision
    count, exact jaccard, each side's exact-dup multiplicity, and
    pair_weight = n_dup1·n_dup2 (the number of underlying doc pairs
    this representative pair stands for). Within-cluster identical
    pairs (jaccard 1.0 by definition) are NOT re-expanded — they are
    `dedup_exact`'s output, and re-emitting them is exactly the O(m²)
    hot-cluster blowup the collapse retires."""
    base = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("source") == DEDUP_SOURCE_BLOCK)
        .select("doc_id", "text")
    )
    # eager localCheckpoint: d feeds the band candidates AND both
    # verify joins — left lazy, the tokenize + 16-hash signature
    # projection re-runs per branch (the same measured fix as
    # ngram_jaccard_neardup's shingle table)
    d = (
        collapse_exact_reps(base)
        .select(
            "doc_id",
            "n_dup",
            _distinct_words(F.col("text")).alias("items"),
            _minhash_signature().alias("sig"),
        )
        .localCheckpoint(eager=True)
    )
    return (
        _jaccard_verify(_band_candidates(d), d.select("doc_id", "items", "n_dup"))
        .where(F.col("jaccard") >= JACCARD_TAU)
        .select(
            "id1",
            "id2",
            "n_band_hits",
            "jaccard",
            "n_dup1",
            "n_dup2",
            (F.col("n_dup1") * F.col("n_dup2")).alias("pair_weight"),
        )
    )


def _duck_collapse_reps_sql(
    where_sql: str = "", key_cols: tuple[str, ...] = ()
) -> str:
    """DuckDB mirror of `collapse_exact_reps`: the exact-dup
    pre-collapse CTE body (min-id representative + multiplicity per
    distinct md5(text) within `key_cols`), shared by every oracle
    that restates the collapsed pipeline. Struct-min picks the same
    representative as Spark (lexicographic struct ordering, unique
    doc_id first field)."""
    keys = "".join(f", {c}" for c in key_cols)
    key_sel = "".join(f", r.{c} AS {c}" for c in key_cols)
    where = f" WHERE {where_sql}" if where_sql else ""
    return f"""(
  SELECT r.s['doc_id'] AS doc_id{key_sel}, r.s['text'] AS text,
         r.max_id AS max_id, r.n_dup AS n_dup
  FROM (
    SELECT min({{'doc_id': doc_id, 'text': text}}) AS s,
           max(doc_id) AS max_id,
           CAST(count(*) AS BIGINT) AS n_dup{keys}
    FROM documents{where}
    GROUP BY md5(text){keys}
  ) r
)"""


def _minhash_sig_sql() -> list[str]:
    hashes = (
        f"list_transform({_DISTINCT_WORDS_SQL}, "
        f"t -> {portable_hash60_sql('t')} % {MH_P})"
    )
    return [
        f"list_aggregate(list_transform({hashes}, h -> ({a} * h + {b}) % {MH_P}), 'min')"
        for a, b in MH_AB
    ]


def _duck_bands_from_sql() -> str:
    """Shared DuckDB band-explode source: UNNEST of the MH_BANDS
    (band, band_key) structs computed from a `sig` column — used by
    every MinHash oracle builder (kept in ONE place so the banding
    layout cannot drift between oracles)."""
    band_structs = []
    for i in range(MH_BANDS):
        parts = " || '-' || ".join(
            f"CAST(sig[{i * MH_ROWS + r + 1}] AS VARCHAR)"
            for r in range(MH_ROWS)
        )
        band_structs.append("{'band': " + str(i) + ", 'band_key': " + parts + "}")
    return f"UNNEST([{', '.join(band_structs)}]) AS t(bk)"


def _build_minhash_sql() -> str:
    sigs = _minhash_sig_sql()
    band_structs_from = _duck_bands_from_sql()
    reps = _duck_collapse_reps_sql(f"source = '{DEDUP_SOURCE_BLOCK}'")
    return f"""
    WITH reps AS MATERIALIZED {reps},
    d AS MATERIALIZED (
      SELECT doc_id, n_dup, {_DISTINCT_WORDS_SQL} AS words,
             [{', '.join(sigs)}] AS sig
      FROM reps
    ),
    bands AS (
      SELECT doc_id, bk.band AS band, bk.band_key AS band_key
      FROM d, {band_structs_from}
    ),
    candidates AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_band_hits
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id1, id2, n_band_hits,
           CAST(len(list_intersect(w1.words, w2.words)) AS BIGINT)
             / (CAST(len(w1.words) AS BIGINT) + CAST(len(w2.words) AS BIGINT)
                - CAST(len(list_intersect(w1.words, w2.words)) AS BIGINT))
             AS jaccard,
           w1.n_dup AS n_dup1, w2.n_dup AS n_dup2,
           w1.n_dup * w2.n_dup AS pair_weight
    FROM candidates
    JOIN d w1 ON w1.doc_id = id1
    JOIN d w2 ON w2.doc_id = id2
    WHERE CAST(len(list_intersect(w1.words, w2.words)) AS BIGINT)
          / (CAST(len(w1.words) AS BIGINT) + CAST(len(w2.words) AS BIGINT)
             - CAST(len(list_intersect(w1.words, w2.words)) AS BIGINT))
          >= {JACCARD_TAU}
    """


MINHASH_LSH_NEARDUP_SQL = _build_minhash_sql()


# --- winnowing (MOSS-style minimizer fingerprints) ------------------------

WINNOW_K = 3  # token k-gram width
WINNOW_W = 4  # winnowing window (grams per window)
WINNOW_MIN_SHARED = 1  # shared minimizers to emit a candidate pair

#: shared Spark-SQL / DuckDB building blocks (kept as ONE generated
#: SQL string each — see CLAUDE.md: no per-element Column chaining)
_WINNOW_TOKS_SPARK = "split(trim(lower(text)), '\\\\s+')"
#: `toks`/`grams` are LET-bound (transform-over-one-element-array):
#: CollapseProject would otherwise inline the upstream split/hash
#: expression into every lambda reference and re-evaluate it per
#: element under interpreted HOF eval (see text.bind_once_sql).
_WINNOW_GRAMS_SPARK = (
    "transform(array(toks), tk -> "
    f"transform(sequence(1, size(tk) - {WINNOW_K - 1}), i -> "
    "cast(conv(substring(md5(concat_ws(' ', slice(tk, i, "
    f"{WINNOW_K}))), 1, 15), 16, 10) as bigint) % {MH_P}))[0]"
)
_WINNOW_MINS_SPARK = (
    "transform(array(grams), gs -> "
    f"array_distinct(transform(sequence(1, size(gs) - {WINNOW_W - 1}), "
    f"j -> array_min(slice(gs, j, {WINNOW_W})))))[0]"
)


def winnow_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint near-dup pairs (Schleimer/Wilkerson/Aiken
    "Winnowing: Local Algorithms for Document Fingerprinting" — the
    MOSS scheme): hash every token 3-gram, keep the MINIMUM hash of
    each sliding window of 4 grams (the minimizers), and pair up docs
    sharing ≥ 1 distinct minimizer within one source block.

    Scale design: winnowing guarantees ~2/(w+1) sampling density, so
    the exploded fingerprint index is ~2/5 the size of the full gram
    index while still guaranteeing detection of any match longer than
    w + k - 1 tokens. The pair generation is an inverted-index join on
    the minimizer key (work ∝ colliding fingerprints, never n²), and
    the groupBy is partial-aggregated map-side. All hashing is
    md5-based (portable_hash60 pattern) → bit-identical in DuckDB."""
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("source") == DEDUP_SOURCE_BLOCK)
        .select("doc_id", F.expr(_WINNOW_TOKS_SPARK).alias("toks"))
        .where(F.size("toks") >= WINNOW_K + WINNOW_W - 1)
        .select("doc_id", F.expr(_WINNOW_GRAMS_SPARK).alias("grams"))
        .select("doc_id", F.explode(F.expr(_WINNOW_MINS_SPARK)).alias("fp"))
    )
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )


def winnow_g_fp_ctes_sql() -> str:
    """Shared DuckDB winnowing CTE bodies — `g` (per-position K-gram
    60-bit hashes) and `fp` (distinct window minimizers) over a
    preceding `d(doc_id, toks)` CTE. ONE definition consumed by both
    WINNOW_NEARDUP_SQL and corpus.DOC_CONTAINMENT_PAIRS_SQL so the
    two operators\' fingerprints cannot drift (same rationale as the
    round-3 shingle-hash consolidation)."""
    return f"""g AS (
  SELECT doc_id,
         list_transform(range(1, len(toks) - {WINNOW_K - 2}), i ->
           CAST(\'0x\' || substring(md5(array_to_string(
             list_slice(toks, i, i + {WINNOW_K - 1}), \' \')), 1, 15) AS BIGINT)
           % {MH_P}) AS grams
  FROM d WHERE len(toks) >= {WINNOW_K + WINNOW_W - 1}
),
fp AS (
  SELECT doc_id, unnest(list_distinct(
           list_transform(range(1, len(grams) - {WINNOW_W - 2}), j ->
             list_aggregate(list_slice(grams, j, j + {WINNOW_W - 1}), \'min\'))))
         AS fp
  FROM g
)"""


WINNOW_NEARDUP_SQL = f"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents WHERE source = '{DEDUP_SOURCE_BLOCK}'
),
{winnow_g_fp_ctes_sql()}
SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_shared
FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {WINNOW_MIN_SHARED}
"""


# --- near-dup clustering (connected components) ---------------------------


#: Edge-count ceiling for the driver union-find finish in
#: `neardup_clusters`. The candidate-pair graph is the output of
#: near-dup detection — orders of magnitude smaller than the corpus
#: (similarity is sparse) — so the standard two-phase shape applies:
#: contract the problem distributedly (candidate generation IS the
#: contraction), then solve the residual graph where it's cheapest.
#: 2M edges ≈ 32 MB of id pairs — trivially driver-sized; above the
#: ceiling the distributed min-label-propagation loop runs instead.
CC_DRIVER_FINISH_MAX_EDGES = 2_000_000


def _cc_union_find(edge_rows: list, vertices: set[int]) -> dict[int, int]:
    """Union-find with path compression; root = component MINIMUM, so
    labels equal the min-label-propagation / recursive-CTE fixpoint."""
    parent: dict[int, int] = {v: v for v in vertices}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:  # min id becomes the root → min-label semantics
                parent[rb] = ra
            else:
                parent[ra] = rb
    return {v: find(v) for v in vertices}


def _cc_label_propagation(
    pairs: DataFrame, claim_key: str = "neardup_clusters_labels"
) -> DataFrame:
    """Distributed min-label propagation to a fixpoint — the
    above-threshold path. Cache hygiene (VERDICT r2 #3): exactly one
    cached generation is live at any time (the superseded one is
    unpersisted right after the convergence count) and lineage is
    truncated with a localCheckpoint every 5 rounds so a high-diameter
    graph can't build a quadratic-replay DAG. The final generation is
    claimed under a registry-level key so re-runs release the prior
    run's cache instead of accumulating. For billion-edge graphs the
    round primitive switches to large-star/small-star — IMPLEMENTED as
    `_cc_large_small_star` (O(log² n) rounds vs O(diameter) here),
    property-tested equal to this fixpoint and to union-find."""
    edges = pairs.union(
        pairs.select(F.col("id2").alias("id1"), F.col("id1").alias("id2"))
    ).persist()
    labels = (
        pairs.select(F.col("id1").alias("doc_id"))
        .union(pairs.select(F.col("id2").alias("doc_id")))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
    )
    prev: DataFrame | None = None
    it = 0
    try:
        while True:
            it += 1
            neighbor_min = (
                edges.join(labels, edges.id2 == labels.doc_id)
                .groupBy(F.col("id1").alias("doc_id"))
                .agg(F.min("cluster_id").alias("nmin"))
            )
            updated = (
                labels.join(neighbor_min, "doc_id", "left")
                .select(
                    "doc_id",
                    F.least(
                        F.col("cluster_id"),
                        F.coalesce("nmin", F.col("cluster_id")),
                    ).alias("cluster_id"),
                    (
                        F.coalesce("nmin", F.col("cluster_id"))
                        < F.col("cluster_id")
                    ).alias("changed"),
                )
            )
            # one eager localCheckpoint per round replaces the bare
            # persist + every-5-rounds checkpoint (r14 opt, guide
            # §7.3): `labels` is referenced 3× per round, so five
            # un-truncated rounds nested up to 3⁵ copies of the pair-
            # pipeline subtree into the logical plan — and AQE renders
            # the explain string on EVERY plan update, observed OOMing
            # a long session's heap from string concat alone. The
            # checkpoint is the same single materialization job the
            # persist's convergence count used to pay; plans now stay
            # O(1) rounds deep at any diameter.
            updated = updated.localCheckpoint(eager=True)
            n_changed = updated.where(F.col("changed")).count()
            if prev is not None:
                prev.unpersist()
            prev = updated
            labels = updated.select("doc_id", "cluster_id")
            if n_changed == 0:
                break
        # pin + MATERIALIZE the fixpoint (from the still-cached last
        # generation) before the finally releases the loop caches —
        # otherwise the caller's terminal action would recompute the
        # whole iterative chain from scratch
        labels = caches.claim(claim_key, labels)
        labels.count()
    finally:
        if prev is not None:
            prev.unpersist()
        edges.unpersist()
    return labels


def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster the near-duplicate pairs into CONNECTED COMPONENTS —
    the step that turns pairwise similarity into dedup groups (keep
    one representative per cluster).

    TWO-PHASE by size of the candidate graph (counted, not guessed):

    - ≤ `CC_DRIVER_FINISH_MAX_EDGES`: union-find on the driver. The
      pair list is the *post-detection* graph — for a 100 TB corpus
      with percent-level dup rates it is GBs, not TBs, and often far
      less; collecting a counted-small relation to finish a
      fixpoint is the same contract as collecting the IVF centroid
      set (similarity.py), and replaces O(diameter) distributed
      rounds (each a join + shuffle + driver count) with one job.
    - above the ceiling: distributed iterative min-label propagation
      (`_cc_label_propagation`), one join + partial-agg'd groupBy-min
      per round until no label changes.

    Both paths produce the identical fixpoint (component = min doc_id)
    and are differentially tested against each other and against the
    oracle: transitive closure via a recursive CTE computing
    min-reachable-id.

    r11 — exact-dup pre-collapse INSIDE the builder (the PPJoin twin
    of the banding collapse, VERDICT r10 #1 extended to the cluster
    chain feeding `dedup_keep_best` / `corpus_release_pipeline`): the
    pair graph is built over DISTINCT-CONTENT representatives
    (`collapse_exact_reps` → `_prefix_filtered_jaccard_pairs`), so a
    viral m-copy page contributes O(m) prefix-index work instead of
    the O(m²) intra-clique pairs of the doc-level join; CC runs on
    the rep graph (and the driver-finish ceiling counts rep edges);
    doc-level labels come back by expanding each representative's
    members through the content-fingerprint map. VALUE-IDENTICAL to
    the doc-level computation — members of an identical group share
    their rep's component (J=1 edges), the component minimum over
    members equals the minimum over reps (rep = group min), and an
    edge-less group with ≥2 members (a clique in the doc graph) comes
    back as its own cluster — so the oracle deliberately stays the
    doc-level recursive-CTE restatement and the driver parity proves
    the rewrite."""
    base = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("source") == DEDUP_SOURCE_BLOCK)
        .select("doc_id", "text")
    )
    # claimed: the rep table feeds the PPJoin (3 scans), the isolated-
    # group branch and the fingerprint map (CLAUDE.md claim-once rule)
    reps = caches.claim(
        "neardup_cluster_reps",
        collapse_exact_reps(base).select(
            "doc_id",
            "n_dup",
            F.md5("text").alias("fp"),
            F.col("text").isNotNull().alias("has_text"),
            _distinct_words(F.col("text")).alias("items"),
        ),
    )
    rep_pairs = _prefix_filtered_jaccard_pairs(
        reps.select("doc_id", "items"),
        JACCARD_TAU,
        9,
        10,
        claim_key="neardup_clusters_pp",
    ).select("id1", "id2")
    rep_labels = _cc_two_phase(spark, rep_pairs, "neardup_clusters")
    # groups with ≥2 identical members and no cross-content edge are
    # doc-level cliques (J=1 between members, text non-NULL — NULL
    # words give NULL jaccard and never clustered): their rep becomes
    # its own component, exactly the doc-level fixpoint
    iso = (
        reps.where((F.col("n_dup") >= 2) & F.col("has_text"))
        .join(rep_labels, "doc_id", "left_anti")
        .select("doc_id", F.col("doc_id").alias("cluster_id"))
    )
    rep_labels = rep_labels.unionByName(iso)
    # labeled reps = the post-detection cluster map — the SAME
    # GB-scale-at-100TB object `dedup_keep_best` already broadcasts
    # (and with the same above-ceiling fallback: drop the hint and
    # let a shuffled fp join carry it); broadcasting it keeps the
    # member expansion to ONE join over the scan instead of a
    # corpus-wide fp shuffle
    labeled = rep_labels.join(
        reps.select("doc_id", "fp", "n_dup"), "doc_id"
    ).select("fp", "cluster_id", "n_dup")
    # cluster sizes from the REP-level multiplicities (r13 opt): a
    # cluster's member count is exactly Σ n_dup over its member
    # fingerprints (identical members share their rep's component), so
    # the size aggregate runs on the tiny labeled-rep relation instead
    # of groupBy-ing the expanded doc-level labels — one less
    # corpus-sized exchange (guide §2.4); the doc expansion stays a
    # single scan + ONE broadcast join carrying (cluster_id, size).
    sizes = labeled.groupBy("cluster_id").agg(
        F.sum("n_dup").cast("long").alias("cluster_size")
    )
    labeled_sz = labeled.join(F.broadcast(sizes), "cluster_id").select(
        "fp", "cluster_id", "cluster_size"
    )
    return (
        base.select("doc_id", F.md5("text").alias("fp"))
        .join(F.broadcast(labeled_sz), "fp")
        .select("doc_id", "cluster_id", "cluster_size")
    )


def _cc_two_phase(
    spark: SparkSession, pair_df: DataFrame, key_prefix: str
) -> DataFrame:
    """Counted two-phase connected components over an (id1, id2) pair
    frame (see `neardup_clusters` for the size rationale). Returns
    (doc_id, cluster_id) with cluster_id = component minimum. The pair
    frame is claimed under `{key_prefix}_pairs` (one live generation);
    the distributed branch claims its fixpoint under
    `{key_prefix}_labels`."""
    pairs = caches.claim(f"{key_prefix}_pairs", pair_df)
    n_edges = pairs.count()
    if n_edges <= CC_DRIVER_FINISH_MAX_EDGES:
        edge_rows = [(r[0], r[1]) for r in pairs.collect()]
        verts = {v for e in edge_rows for v in e}
        comp = _cc_union_find(edge_rows, verts)
        return spark.createDataFrame(
            sorted(comp.items()), "doc_id long, cluster_id long"
        )
    return _cc_label_propagation(pairs, claim_key=f"{key_prefix}_labels")


def _build_neardup_clusters_sql() -> str:
    jaccard_pairs = NEARDUP_JACCARD_SQL.strip()
    return f"""
    WITH RECURSIVE pairs AS (
      SELECT id1, id2 FROM ({jaccard_pairs})
    ),
    edges AS (
      SELECT id1, id2 FROM pairs
      UNION ALL
      SELECT id2 AS id1, id1 AS id2 FROM pairs
    ),
    verts AS (
      SELECT DISTINCT id1 AS doc_id FROM edges
    ),
    reach(doc_id, r) AS (
      SELECT doc_id, doc_id FROM verts
      UNION
      SELECT e.id1, reach.r
      FROM edges e JOIN reach ON e.id2 = reach.doc_id
    ),
    labels AS (
      SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id
    )
    SELECT l.doc_id, l.cluster_id, s.cluster_size
    FROM labels l
    JOIN (SELECT cluster_id, count(*) AS cluster_size
          FROM labels GROUP BY cluster_id) s
      ON l.cluster_id = s.cluster_id
    """


NEARDUP_CLUSTERS_SQL = _build_neardup_clusters_sql()


# --- cluster-representative selection (the dedup END step) ----------------


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve near-dup clusters into the SURVIVING corpus — the final
    step of every training-data dedup pipeline (pairs → clusters →
    keep ONE representative per cluster, drop the rest).

    Representative = the highest-quality member (quality = `n_chars`,
    the canonical keep-the-longest rule), tie → min doc_id. Documents
    in no cluster survive unchanged as their own singleton.

    Scale shape: `labels` is the *post-detection* cluster map — for a
    100 TB corpus with percent-level dup rates it is GBs, which is at
    or beyond Spark's 8 GB broadcast ceiling (and driver/executor
    memory pressure starts well before it), so the explicit
    F.broadcast here is the harness-scale shape only; above the
    ceiling drop the hint and let a shuffled hash/SMJ join on doc_id
    carry both the enrichment join and the singleton anti-join.
    Corpus-size work is two narrow (doc_id, n_chars) scans (the
    claimed `clustered` slice build + the anti-join), and the only
    keyed shuffles are the per-cluster groupBys over clustered rows
    only. Argmax is expressed as
    max-quality + min-id-at-max — two partial-agg'd groupBys on the
    tiny clustered slice — rather than a window sort, and identically
    in the oracle so the tie-break is engine-portable."""
    labels = caches.claim(
        "dedup_keep_best_labels", neardup_clusters(spark, sf_dir)
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").alias("quality")
    )
    # clustered feeds BOTH the qmax aggregation and the argmax join —
    # claim + materialize so the corpus scan behind it runs once (the
    # only remaining full-corpus scan is the singles anti-join below)
    clustered = caches.claim(
        "dedup_keep_best_clustered", docs.join(F.broadcast(labels), "doc_id")
    )
    qmax = (
        clustered.groupBy(F.col("cluster_id").alias("qcid"))
        .agg(F.max("quality").alias("qmax"))
    )
    best = (
        clustered.join(
            qmax,
            (clustered.cluster_id == qmax.qcid)
            & (clustered.quality == qmax.qmax),
        )
        .groupBy("cluster_id", "cluster_size", "qmax")
        .agg(F.min("doc_id").alias("doc_id"))
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            F.col("qmax").alias("quality"),
        )
    )
    singles = docs.join(
        F.broadcast(labels.select("doc_id")), "doc_id", "left_anti"
    ).select(
        "doc_id",
        F.col("doc_id").alias("cluster_id"),
        F.lit(1).cast("long").alias("cluster_size"),
        "quality",
    )
    return best.unionByName(singles)


DEDUP_KEEP_BEST_SQL = f"""
WITH labels AS (
  SELECT doc_id, cluster_id, cluster_size
  FROM ({NEARDUP_CLUSTERS_SQL})
),
docs AS (
  SELECT doc_id, n_chars AS quality FROM documents
),
clustered AS (
  SELECT d.doc_id, d.quality, l.cluster_id, l.cluster_size
  FROM docs d JOIN labels l USING (doc_id)
),
qmax AS (
  SELECT cluster_id, max(quality) AS qmax FROM clustered GROUP BY cluster_id
),
best AS (
  SELECT min(c.doc_id) AS doc_id, c.cluster_id, c.cluster_size,
         m.qmax AS quality
  FROM clustered c
  JOIN qmax m ON c.cluster_id = m.cluster_id AND c.quality = m.qmax
  GROUP BY c.cluster_id, c.cluster_size, m.qmax
)
SELECT doc_id, cluster_id, cluster_size, quality FROM best
UNION ALL
SELECT d.doc_id, d.doc_id AS cluster_id, CAST(1 AS BIGINT) AS cluster_size,
       d.quality
FROM docs d LEFT JOIN labels l ON d.doc_id = l.doc_id
WHERE l.doc_id IS NULL
"""


# --- SimHash --------------------------------------------------------------


#: RAW 60-bit token hashes for SimHash (no % MH_P!): the MinHash
#: recipe reduces hashes mod 2^31−1 to bound its affine products, but
#: a SimHash built on that would have bits 31..47 constant ZERO — only
#: 31 effective bits, inflating the P[hamming ≤ 8] false-pair rate by
#: ~3 orders of magnitude. SimHash needs all 48 packed bits live.
_RAW_TOKEN_HASHES_SPARK_SQL = (
    "transform(array_distinct(split(trim(text), '\\\\s+')), "
    f"t -> {portable_hash60_spark_sql('t')})"
)


def _simhash() -> Column:
    """48-bit SimHash: bit b set iff the majority of token hashes have
    bit b set — over the RAW 60-bit hashes so every packed bit is
    live (see _RAW_TOKEN_HASHES_SPARK_SQL). Pure expression fold — no
    UDF; the token-hash array is LET-bound so tokenize+md5 runs once
    per row, not once per bit."""
    terms = " + ".join(
        f"CASE WHEN size(filter(hs, h -> (h & {2 ** bit}) != 0)) * 2 "
        f"> size(hs) THEN CAST({2 ** bit} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END"
        for bit in range(SIMHASH_BITS)
    )
    return F.expr(
        bind_once_sql(_RAW_TOKEN_HASHES_SPARK_SQL, "hs", f"({terms})")
    )


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures + near-dup pairs at Hamming distance ≤ 8
    within one source block."""
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("source") == DEDUP_SOURCE_BLOCK)
        .select("doc_id", _simhash().alias("simhash"))
    )
    a, b = d.alias("a"), d.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .withColumn("hamming", ham.cast("long"))
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select(
            F.col("a.doc_id").alias("id1"),
            F.col("b.doc_id").alias("id2"),
            F.col("a.simhash").alias("simhash1"),
            F.col("b.simhash").alias("simhash2"),
            "hamming",
        )
    )


def _build_simhash_sql() -> str:
    # raw 60-bit hashes — NOT % MH_P (see _RAW_TOKEN_HASHES_SPARK_SQL)
    hashes = (
        f"list_transform({_DISTINCT_WORDS_SQL}, "
        f"t -> {portable_hash60_sql('t')})"
    )
    bit_terms = []
    for bit in range(SIMHASH_BITS):
        ones = f"len(list_filter(hashes, h -> (h & {2**bit}) <> 0))"
        bit_terms.append(
            f"CASE WHEN {ones} * 2 > len(hashes) "
            f"THEN CAST({2**bit} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        )
    packed = " + ".join(bit_terms)
    return f"""
    WITH d AS (
      SELECT doc_id, ({packed}) AS simhash
      FROM (SELECT doc_id, {hashes} AS hashes
            FROM documents WHERE source = '{DEDUP_SOURCE_BLOCK}')
    )
    SELECT a.doc_id AS id1, b.doc_id AS id2,
           a.simhash AS simhash1, b.simhash AS simhash2,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
    """


SIMHASH_PAIRS_SQL = _build_simhash_sql()


# ---------------------------------------------------------------------------
# Benchmark decontamination: n-gram overlap against a held-out eval
# set (the GPT-3 appendix-C / Dolma decontamination recipe: hash the
# eval set's n-grams, flag any training doc containing one). The
# harness has no separate eval corpus, so the eval side is the
# deterministic doc_id % DECON_EVAL_MOD == 0 slice of `documents`.
# ---------------------------------------------------------------------------

DECON_N = 4  # 4-gram overlap: flags ~4% of the harness corpus
DECON_EVAL_MOD = 50


def _decon_ngrams_spark() -> str:
    """4-gram array with the token split LET-bound (evaluated once per
    row — see text.bind_once_sql; an inlined split re-runs per
    element under interpreted HOF eval)."""
    from .text import _ngrams_spark_sql

    return bind_once_sql(
        "split(trim(text), '\\\\s+')", "t", _ngrams_spark_sql("t", DECON_N)
    )


def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set decontamination: which train docs share a 4-gram
    with the held-out eval slice, and how much.

    Scale shape: the eval n-gram set is tiny relative to the corpus
    (eval suites are fixed-size; the corpus is 100 TB), so it is
    DISTINCT-ed and **broadcast** — the 100 TB side is a narrow
    explode + broadcast-hash semi-ish join with NO shuffle of the
    corpus; the only wide step is the final per-doc hit count, keyed
    by doc_id (co-partitioned with the explode, partial-agg absorbs
    the fan-out). Flagging is exact n-gram membership, the standard
    contamination definition (GPT-3 paper appendix C; Dolma toolkit).
    """
    from pyspark.sql.functions import broadcast

    d = balanced(load_table(spark, sf_dir, "documents"))
    base = d.select(
        "doc_id", F.expr(_decon_ngrams_spark()).alias("ngrams")
    )
    eval_grams = (
        base.where(F.col("doc_id") % DECON_EVAL_MOD == 0)
        .select(F.explode("ngrams").alias("ngram"))
        .distinct()
    )
    # explode the per-doc DISTINCT grams: the final per-doc hit count
    # is then a plain count (map-side combinable), not a
    # count-distinct expand — one narrower shuffle at 100 TB.
    train = base.where(F.col("doc_id") % DECON_EVAL_MOD != 0).select(
        "doc_id",
        F.size("ngrams").cast("long").alias("total_ngrams"),
        F.explode(F.array_distinct("ngrams")).alias("ngram"),
    )
    hits = (
        train.join(broadcast(eval_grams), "ngram")
        .groupBy("doc_id")
        .agg(
            F.max("total_ngrams").alias("total_ngrams"),
            F.count(F.lit(1)).alias("hit_ngrams"),
        )
    )
    return hits.select(
        "doc_id",
        "total_ngrams",
        "hit_ngrams",
        (F.col("hit_ngrams") / F.col("total_ngrams")).alias(
            "contamination_frac"
        ),
    )


def _build_decontaminate_sql() -> str:
    n = DECON_N
    toks = "regexp_split_to_array(trim(text), '\\s+')"
    ngrams = (
        f"list_transform(generate_series(1, len({toks}) - {n - 1}), "
        f"i -> array_to_string({toks}[i:i+{n - 1}], ' '))"
    )
    return f"""
    WITH base AS (
      SELECT doc_id, {ngrams} AS ngrams FROM documents
    ),
    eval_grams AS (
      SELECT DISTINCT unnest(ngrams) AS ngram
      FROM base WHERE doc_id % {DECON_EVAL_MOD} = 0
    ),
    train AS (
      SELECT doc_id, CAST(len(ngrams) AS BIGINT) AS total_ngrams,
             unnest(ngrams) AS ngram
      FROM base WHERE doc_id % {DECON_EVAL_MOD} <> 0
    )
    SELECT t.doc_id,
           max(t.total_ngrams) AS total_ngrams,
           count(DISTINCT t.ngram) AS hit_ngrams,
           count(DISTINCT t.ngram) / max(t.total_ngrams)
             AS contamination_frac
    FROM train t JOIN eval_grams e USING (ngram)
    GROUP BY t.doc_id
    """


DECONTAMINATE_NGRAMS_SQL = _build_decontaminate_sql()


# --- graph analytics over the near-dup graph -------------------------------


def claimed_undirected_edges(
    spark: SparkSession, sf_dir: str, key: str
) -> DataFrame:
    """The canonical CLAIMED undirected edge list of the near-dup
    graph — `(lo, hi)` with lo < hi, deduped — the ONE construction
    shared by `neardup_triangles` and `kcore_dedup_graph` (each
    consumer passes its own claim key: one live generation per
    consumer; a canonicalization change lands in every graded
    consumer at once). NOT used by `neardup_pagerank`, whose edge
    frame is directed (both orientations) by design."""
    return caches.claim(
        key,
        neardup_jaccard(spark, sf_dir)
        .select(
            F.least("id1", "id2").alias("lo"),
            F.greatest("id1", "id2").alias("hi"),
        )
        .distinct(),
    )


#: DuckDB mirror of `claimed_undirected_edges`' canonicalization,
#: over a CTE named `pairs` (id1, id2) — shared by the triangles and
#: k-core oracles
UNDIRECTED_EDGES_SQL = (
    "SELECT DISTINCT least(id1, id2) AS lo, greatest(id1, id2) AS hi\n"
    "      FROM pairs"
)


def neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-duplicate graph — the standard
    graph-quality diagnostic for dedup output (triangles = transitive
    near-dup triples; a cluster whose pairs DON'T close into
    triangles signals chained borderline matches rather than a true
    duplicate group).

    Algorithm: order each undirected edge (lo < hi), join edges on
    the shared lowest vertex to form wedges, close each wedge with a
    third edge lookup — work ∝ Σ deg², never all-triples, and every
    join is an equi-join on vertex ids (the standard distributed
    triangle enumeration). Output: each triangle once as the sorted
    id triple.

    The edge list is claimed+materialized ONCE: it feeds three join
    branches, and without the cache each branch would lazily re-run
    the whole upstream jaccard pipeline (3× the scan work and a plan
    tree that compounds at every reuse)."""
    pairs = claimed_undirected_edges(
        spark, sf_dir, "neardup_triangles_edges"
    )
    e1 = pairs.alias("e1")
    e2 = pairs.alias("e2")
    e3 = pairs.alias("e3")
    wedges = e1.join(
        e2,
        (F.col("e1.lo") == F.col("e2.lo"))
        & (F.col("e1.hi") < F.col("e2.hi")),
    ).select(
        F.col("e1.lo").alias("a"),
        F.col("e1.hi").alias("b"),
        F.col("e2.hi").alias("c"),
    )
    return wedges.join(
        e3,
        (F.col("b") == F.col("e3.lo")) & (F.col("c") == F.col("e3.hi")),
    ).select("a", "b", "c")


NEARDUP_TRIANGLES_SQL = None  # built below (needs the pair CTE)


def _build_neardup_triangles_sql() -> str:
    jaccard_pairs = NEARDUP_JACCARD_SQL.strip()
    return f"""
    WITH pairs AS (
      SELECT id1, id2 FROM ({jaccard_pairs})
    ),
    e AS (
      {UNDIRECTED_EDGES_SQL}
    )
    SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
    FROM e e1
    JOIN e e2 ON e1.lo = e2.lo AND e1.hi < e2.hi
    JOIN e e3 ON e3.lo = e1.hi AND e3.hi = e2.hi
    """


NEARDUP_TRIANGLES_SQL = _build_neardup_triangles_sql()


# --- PageRank over the near-dup graph (integer fixed-point) ---------------

#: fixed-point scale (micro-units), damping d = 85/100, iterations
PR_SCALE = 1_000_000_000_000
PR_D_NUM, PR_D_DEN = 85, 100
PR_ITERS = 5


def neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality of the near-duplicate graph — ranks the
    "canonical-ness" of docs inside dup clusters (the highest-rank
    member is the natural survivor when collapsing a cluster).

    All arithmetic is INTEGER FIXED-POINT (micro-units, scale 10^12):
    contribution = rank div out_degree, new rank = (15·S) div 100 +
    (85·Σcontrib) div 100 — integer division is deterministic and
    engine-portable, unlike float PageRank whose per-node sums depend
    on aggregation order. PR_ITERS is FIXED (5), so the Spark side is
    an unrolled lazy join chain (no actions, no persisted state, one
    plan) and the oracle is 5 chained CTE stages — no recursive
    aggregation, which SQL recursion disallows anyway.

    TWO-PHASE like `neardup_clusters` (counted, not guessed): the
    post-detection graph is orders of magnitude smaller than the
    corpus, so under `CC_DRIVER_FINISH_MAX_EDGES` the 5 fixed-point
    rounds run as one Python loop over the collected edge list —
    replacing 5 distributed rounds × (join + groupBy + left join) of
    pure scheduling overhead with a single job (measured at sf0.1:
    2,235 edges, 16.6 s → ~4 s; the whole remaining cost is the
    jaccard pipeline itself). Integer fixed-point arithmetic makes
    the two paths bit-identical.

    Above the ceiling, the distributed unrolled chain runs: per
    iteration one equi-join rank⋈edges + one partial-agg'd groupBy on
    the destination — the same primitive as the CC loop; at billions
    of edges you'd checkpoint every few iterations exactly as
    `_cc_label_propagation` does."""
    # claim + materialize the pair list ONCE: it feeds the count +
    # collect (driver path) or every iteration's join (distributed
    # path) — left lazy, each reference would re-run the whole
    # jaccard pipeline (measured: a 159-exchange plan; with the
    # cache it is one jaccard pass + a linear 5-round chain)
    pairs = caches.claim(
        "neardup_pagerank_pairs",
        neardup_jaccard(spark, sf_dir).select("id1", "id2"),
    )
    n_pairs = pairs.count()
    base = (PR_SCALE * (PR_D_DEN - PR_D_NUM)) // PR_D_DEN
    if 2 * n_pairs <= CC_DRIVER_FINISH_MAX_EDGES:
        edge_rows: list = []
        for r in pairs.collect():  # symmetrize in-loop, no shuffle
            edge_rows.append((r[0], r[1]))
            edge_rows.append((r[1], r[0]))
        deg: dict[int, int] = {}
        for a, _ in edge_rows:
            deg[a] = deg.get(a, 0) + 1
        rank = {v: PR_SCALE for v in deg}
        for _ in range(PR_ITERS):
            contrib: dict[int, int] = {}
            for a, b in edge_rows:
                contrib[b] = contrib.get(b, 0) + rank[a] // deg[a]
            rank = {
                v: base + (PR_D_NUM * contrib.get(v, 0)) // PR_D_DEN
                for v in deg
            }
        return spark.createDataFrame(
            sorted(rank.items()), "doc_id long, rank long"
        )
    edges = caches.claim(
        "neardup_pagerank_edges",
        pairs.union(
            pairs.select(F.col("id2").alias("id1"), F.col("id1").alias("id2"))
        ).distinct(),
    )
    outdeg = caches.claim(
        "neardup_pagerank_outdeg",
        edges.groupBy(F.col("id1").alias("node")).agg(
            F.count(F.lit(1)).alias("deg")
        ),
    )
    ranks = outdeg.select(
        "node", F.lit(PR_SCALE).cast("long").alias("rank")
    )
    for _ in range(PR_ITERS):
        contrib = (
            ranks.join(outdeg, "node")
            .join(edges, F.col("node") == F.col("id1"))
            .select(
                F.col("id2").alias("dst"),
                F.expr("rank div deg").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            outdeg.select("node")
            .join(contrib, F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                (
                    F.lit(base).cast("long")
                    # the 85·contrib product runs in DECIMAL(38,0):
                    # contrib on a hub node can reach Σranks ≈ n·10^12,
                    # so an int64 product wraps silently past ~10^17
                    # while the driver path (Python bigint) and the
                    # oracle (DuckDB HUGEINT) stay exact. The divided
                    # result is ≤ 0.85·contrib and fits back in the
                    # BIGINT rank (rank mass is conserved; PR_SCALE
                    # bounds exact ranks to graphs ≲ 9×10^6 dup-graph
                    # nodes — lower PR_SCALE beyond that).
                    + F.expr(
                        f"CAST((CAST({PR_D_NUM} AS DECIMAL(38,0)) "
                        f"* coalesce(contrib, 0L)) div {PR_D_DEN} "
                        "AS BIGINT)"
                    )
                ).alias("rank"),
            )
        )
    return ranks.select(F.col("node").alias("doc_id"), "rank")


def _build_neardup_pagerank_sql() -> str:
    jaccard_pairs = NEARDUP_JACCARD_SQL.strip()
    base = (PR_SCALE * (PR_D_DEN - PR_D_NUM)) // PR_D_DEN
    stages = []
    prev = "r0"
    for t in range(1, PR_ITERS + 1):
        stages.append(f"""
c{t} AS (
  SELECT e.id2 AS dst,
         sum(r.rank // d.deg) AS contrib
  FROM {prev} r JOIN deg d ON r.node = d.node
  JOIN e ON r.node = e.id1
  GROUP BY e.id2
),
r{t} AS (
  SELECT d.node,
         CAST({base} + ({PR_D_NUM} * COALESCE(c.contrib, 0)) // {PR_D_DEN}
              AS BIGINT) AS rank
  FROM deg d LEFT JOIN c{t} c ON d.node = c.dst
)""")
        prev = f"r{t}"
    stage_sql = ",".join(stages)
    return f"""
WITH pairs AS (
  SELECT id1, id2 FROM ({jaccard_pairs})
),
e AS (
  SELECT DISTINCT id1, id2 FROM (
    SELECT id1, id2 FROM pairs
    UNION ALL
    SELECT id2 AS id1, id1 AS id2 FROM pairs
  )
),
deg AS (
  SELECT id1 AS node, count(*) AS deg FROM e GROUP BY id1
),
r0 AS (
  SELECT node, CAST({PR_SCALE} AS BIGINT) AS rank FROM deg
),{stage_sql}
SELECT node AS doc_id, rank FROM r{PR_ITERS}
"""


NEARDUP_PAGERANK_SQL = _build_neardup_pagerank_sql()


# --- incremental (batch-vs-corpus) MinHash dedup --------------------------

#: deterministic corpus/batch split: doc_id % MOD == 0 → the incoming
#: batch; everything else is the already-ingested corpus.
INC_BATCH_MOD = 5


def _shingle_sigs(d: DataFrame, *cols: str) -> DataFrame:
    """(*cols, items, sig) for each row of a relation with a `text`
    column: its distinct 3-word shingle hashes and their MinHash
    signature — the ONE Spark definition of the shingle-signature
    table every shingle-banding operator indexes. One LET-bound
    expression: the md5-per-shingle projection runs once per row
    (CollapseProject would otherwise inline it into all 16 signature
    expressions)."""
    sig = _affine_minhash_sql(f"transform(items_, x -> x % {MH_P})")
    row = bind_once_sql(
        _shingle_hashes_spark_sql(),
        "items_",
        f"struct(items_ AS items, {sig} AS sig)",
    )
    return d.select(*cols, F.expr(row).alias("s")).select(
        *cols, F.col("s.items").alias("items"), F.col("s.sig").alias("sig")
    )


def incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup — the production shape for continuously
    ingested training data: dedup an INCOMING BATCH against the
    already-ingested corpus (never corpus-vs-corpus). Per batch doc:
    LSH band collisions against the corpus index → exact-Jaccard
    verification of candidates only → keep/drop decision.

    The similarity representation is 3-word SHINGLE hashes, not word
    sets — the GPT-3/Dolma-style choice, and on this corpus the one
    that makes LSH work at all: documents drawn from a shared template
    vocabulary have ~0.6 average pairwise WORD Jaccard (measured), so
    word-level 4-row bands collided for ~86% of batch×corpus pairs —
    1.94M candidates at sf0.1, an O(n²) blowup hiding inside the
    "bucketed" join. Shingle Jaccard is bimodal (~0.001 between
    non-dups, ~1 for true near-copies), so band collisions ≈ the
    planted dup pairs only.

    Output: one row PER BATCH DOC (match-less docs included) with the
    candidate count, verified-dup count, the keep/drop flag, and the
    best-matching corpus doc (max jaccard, ties → higher corpus id via
    lexicographic struct max — identical struct ordering in DuckDB).

    Scale design: the corpus band table IS the persisted LSH index a
    production pipeline maintains (here rebuilt per run and claimed
    once — shingle hashes + signatures feed the band join and the
    verify join, so an unclaimed plan would re-md5 the whole corpus
    per branch). The index holds one row per DISTINCT corpus content
    (`collapse_exact_reps` — r11): a viral m-copy corpus page is ONE
    band row set, not m, so a batch doc matching it generates one
    candidate instead of m; the representative's multiplicity weights
    the per-batch counts and its max_id carries the tie-break, so
    every output value is BIT-IDENTICAL to the uncollapsed run (the
    oracle deliberately stays the uncollapsed restatement — the
    parity test proves the collapse value-preserving). The band join
    shuffles on band_key only; a new batch is typically ≪ corpus, so
    candidates ∝ batch collisions, and the verify join touches
    candidate corpus representatives only. Nothing is ever all-pairs.
    """
    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = caches.claim(
        "inc_minhash_batch_sigs",
        _shingle_sigs(base.where(F.col("doc_id") % INC_BATCH_MOD == 0), "doc_id"),
    )
    corpus = caches.claim(
        "inc_minhash_corpus_sigs",
        _shingle_sigs(
            collapse_exact_reps(base.where(F.col("doc_id") % INC_BATCH_MOD != 0)),
            "doc_id",
            "max_id",
            "n_dup",
        ),
    )
    # <SHINGLE_N-token docs have no shingles → all-NULL signatures;
    # exclude them from banding on BOTH engines (they can't near-dup)
    cand = _band_candidates(
        batch.where(F.size("items") >= 1), corpus.where(F.size("items") >= 1)
    )
    scored = _jaccard_verify(
        cand,
        batch.select("doc_id", "items"),
        corpus.select("doc_id", "items", "max_id", "n_dup"),
    )
    dup = F.col("jaccard") >= JACCARD_TAU
    per_batch = scored.groupBy("id1").agg(
        F.sum("n_dup2").alias("n_candidates"),
        F.coalesce(F.sum(F.when(dup, F.col("n_dup2"))), F.lit(0)).alias(
            "n_dups"
        ),
        F.max(
            F.when(
                dup,
                F.struct(
                    F.col("jaccard").alias("j"),
                    F.col("max_id2").alias("cid"),
                ),
            )
        ).alias("best"),
    )
    return (
        batch.select(F.col("doc_id").alias("id1"))
        .join(per_batch, "id1", "left")
        .select(
            F.col("id1").alias("doc_id"),
            F.coalesce(F.col("n_candidates"), F.lit(0)).cast("long").alias("n_candidates"),
            F.coalesce(F.col("n_dups"), F.lit(0)).cast("long").alias("n_dups"),
            (F.coalesce(F.col("n_dups"), F.lit(0)) > 0).alias("is_dup"),
            F.col("best.j").alias("best_jaccard"),
            F.col("best.cid").alias("best_match_id"),
        )
    )


def _duck_affine_sigs_sql() -> list[str]:
    """The 16 affine-MinHash signature expressions over a bound `hs`
    token-hash list — ONE definition shared by every shingle-MinHash
    oracle builder (incremental, streaming, cross-source) so the hash
    recipe cannot drift between oracles."""
    return [
        "list_aggregate(list_transform(hs, "
        f"h -> ({a} * h + {b}) % {MH_P}), 'min')"
        for a, b in MH_AB
    ]


#: exact shingle-Jaccard over w1.items/w2.items — shared by the same
#: three oracle builders (same single-definition rationale)
_DUCK_ITEMS_JAC = (
    "CAST(len(list_intersect(w1.items, w2.items)) AS BIGINT) "
    "/ (CAST(len(w1.items) AS BIGINT) + CAST(len(w2.items) AS BIGINT) "
    "- CAST(len(list_intersect(w1.items, w2.items)) AS BIGINT))"
)


def _build_incremental_minhash_sql() -> str:
    sigs = _duck_affine_sigs_sql()
    bands_from = _duck_bands_from_sql()
    jac = _DUCK_ITEMS_JAC
    return f"""
WITH d AS MATERIALIZED (
  SELECT doc_id, items, [{', '.join(sigs)}] AS sig
  FROM (
    SELECT doc_id, items, list_transform(items, x -> x % {MH_P}) AS hs
    FROM (
      SELECT doc_id, {_shingle_hashes_duck_sql()} AS items
      FROM documents
    )
  )
),
corpus AS MATERIALIZED (SELECT * FROM d WHERE doc_id % {INC_BATCH_MOD} <> 0),
batch AS MATERIALIZED (SELECT * FROM d WHERE doc_id % {INC_BATCH_MOD} = 0),
cbands AS (
  SELECT doc_id, bk.band AS band, bk.band_key AS band_key
  FROM corpus, {bands_from}
  WHERE len(items) >= 1
),
bbands AS (
  SELECT doc_id, bk.band AS band, bk.band_key AS band_key
  FROM batch, {bands_from}
  WHERE len(items) >= 1
),
cand AS (
  SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id
  FROM bbands b JOIN cbands c
    ON b.band = c.band AND b.band_key = c.band_key
  GROUP BY 1, 2
),
scored AS (
  SELECT batch_id, corpus_id, {jac} AS jaccard
  FROM cand
  JOIN batch w1 ON w1.doc_id = batch_id
  JOIN corpus w2 ON w2.doc_id = corpus_id
),
per AS (
  SELECT batch_id,
         CAST(count(*) AS BIGINT) AS n_candidates,
         CAST(count(*) FILTER (WHERE jaccard >= {JACCARD_TAU}) AS BIGINT)
           AS n_dups,
         max({{'j': jaccard, 'cid': corpus_id}})
           FILTER (WHERE jaccard >= {JACCARD_TAU}) AS best
  FROM scored GROUP BY 1
)
SELECT b.doc_id AS doc_id,
       COALESCE(per.n_candidates, 0) AS n_candidates,
       COALESCE(per.n_dups, 0) AS n_dups,
       COALESCE(per.n_dups, 0) > 0 AS is_dup,
       best.j AS best_jaccard,
       best.cid AS best_match_id
FROM batch b LEFT JOIN per ON per.batch_id = b.doc_id
"""


INCREMENTAL_MINHASH_DEDUP_SQL = _build_incremental_minhash_sql()


# --- STREAMING incremental dedup (persisted kept-only LSH index) ----------

SD_NBATCH = 4  # ingestion micro-batches (doc_id % SD_NBATCH, file per batch)


def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS ingestion dedup — the production 100 TB shape that
    `incremental_minhash_dedup` models one step of, run end-to-end as
    a Structured Streaming query: documents arrive in micro-batches
    (file source, one file per trigger, mtime-ordered), and each batch
    is deduped against a PERSISTED LSH INDEX holding the shingle
    signatures of every previously-KEPT document. Dropped documents
    never enter the index (kept-only semantics ACROSS batches: a
    dup-of-a-dropped-dup is judged against the survivor set, not the
    raw history). WITHIN a micro-batch documents are NOT compared to
    each other — the contract is batch-vs-index only, mirrored exactly
    by the oracle; intra-batch near-dups are all kept and all enter
    the index. Production pipelines that need intra-batch dedup run a
    batch-local pass (the `minhash_lsh_neardup` family) before this
    step — sequential kept-only semantics WITHIN an unordered batch
    would be ill-defined.

    Index maintenance is APPEND-ONLY (r4 VERDICT #2) and runs on the
    shared generation-index loop, `streaming.events.run_generation_index`,
    whose docstring states the on-disk protocol: one write per epoch
    (the epoch artifact is both the decision log and the next index
    generation, read back as its kept rows), periodic compaction that
    fires DURING the harness run, and restart/replay safety through
    atomic per-epoch manifests — proven by
    `test_stream_inc_dedup_checkpoint_restart`. At production scale
    the same layout is a bucketed table on band_key with periodic
    compaction (or a Delta/Iceberg MERGE).

    Per batch: shingle-MinHash signatures → band-collision join
    against the index bands → exact-Jaccard verification of candidates
    → per-doc decision written to the epoch's result path; kept docs'
    rows become the next index generation.

    DETERMINISTIC and fully oracle-checked: batches are doc_id %
    SD_NBATCH with strictly increasing file mtimes, so arrival order
    is fixed and the whole sequential process unrolls into a DuckDB
    CTE chain (index_k = union of kept batches < k) — the streaming
    run must match it bit-for-bit, which proves the foreachBatch
    index maintenance (a lost index generation, a dropped doc leaking
    into the index, or an out-of-order batch all diverge).

    Scale shape: per micro-batch work is batch-bands × index-bands —
    candidates ∝ band collisions (measured ~6e-5 selectivity,
    SCALING.md), never batch × corpus; the index grows by kept rows
    only, and at production scale is a bucketed table on band_key
    (here a plain parquet generation per epoch)."""
    import os

    from .. import tmpdirs
    from ..streaming.events import read_epoch_outputs

    root = tmpdirs.claim("stream_inc_dedup", "stream_inc_dedup_")
    in_dir = os.path.join(root, "in")
    res_dir = os.path.join(root, "res")
    idx_root = os.path.join(root, "idx")
    os.makedirs(in_dir)
    _sid_write_batches(sf_dir, in_dir, range(SD_NBATCH))
    _sid_run_stream(spark, in_dir, res_dir, idx_root)
    return read_epoch_outputs(spark, res_dir).select(
        "doc_id", "batch_id", "n_candidates", "n_dups", "is_dup"
    )


def _sid_write_batches(sf_dir: str, in_dir: str, batches) -> None:
    """The doc_id % SD_NBATCH input splits, in arrival order
    (`streaming.events.write_arrival_batches`)."""
    from ..streaming.events import write_arrival_batches

    write_arrival_batches(
        sf_dir, in_dir, "documents", "doc_id", SD_NBATCH, batches
    )


def _sid_epoch_sql() -> str:
    """The WHOLE per-epoch decision query as ONE generated SQL string
    over two temp views — `sid_sigs` (the checkpointed micro-batch
    signatures) and `sid_idx` (the kept-doc index union). The
    DataFrame version of this body spent ~0.5 s/epoch on driver-side
    Column construction alone (py4j round-trips; the
    loop-chained-Column trap), measured 6.1 s → 3.7 s stream wall at
    sf0.1 after the SQL rewrite, bit-identical results. Semantics
    mirrored exactly by the DuckDB oracle chain: band-collision
    candidates → exact-Jaccard verify → per-doc counts, left-joined
    back over the full batch. Module-level so the plan test can pin
    the join shape without running the stream.

    BROADCAST hints pin the BATCH-derived side of every index join
    (r14 opt, guide §3): the micro-batch (band rows, candidate pairs,
    per-doc aggregates) is bounded per trigger while the kept-doc
    index grows without bound, so the index must never be shuffled or
    broadcast. Strategy hints only — values unchanged."""
    bands = _band_structs_sql()

    def band_cte(view: str) -> str:
        return (
            f"SELECT doc_id, bk.band AS band, bk.band_key AS band_key "
            f"FROM {view} LATERAL VIEW explode(array({bands})) t AS bk "
            f"WHERE size(items) >= 1"
        )

    return f"""
WITH bb AS ({band_cte("sid_sigs")}),
cb AS ({band_cte("sid_idx")}),
cand AS (
  SELECT /*+ BROADCAST(bb) */ bb.doc_id AS did, cb.doc_id AS cid
  FROM bb JOIN cb ON bb.band = cb.band AND bb.band_key = cb.band_key
  GROUP BY bb.doc_id, cb.doc_id
),
scored AS (
  SELECT /*+ BROADCAST(cw) */ cw.did,
    CAST(size(array_intersect(cw.items1, w2.items)) AS BIGINT)
      / (CAST(size(cw.items1) AS BIGINT) + CAST(size(w2.items) AS BIGINT)
         - CAST(size(array_intersect(cw.items1, w2.items)) AS BIGINT))
      AS jaccard
  FROM (
    SELECT /*+ BROADCAST(w1) */ cand.did, cand.cid, w1.items AS items1
    FROM cand JOIN sid_sigs w1 ON cand.did = w1.doc_id
  ) cw
  JOIN sid_idx w2 ON cw.cid = w2.doc_id
),
agg AS (
  SELECT did, COUNT(1) AS n_candidates,
         COUNT(CASE WHEN jaccard >= {JACCARD_TAU} THEN 1 END) AS n_dups
  FROM scored GROUP BY did
)
SELECT /*+ BROADCAST(a) */ s.doc_id,
       CAST(s.doc_id % {SD_NBATCH} AS INT) AS batch_id,
       CAST(COALESCE(a.n_candidates, 0) AS BIGINT) AS n_candidates,
       CAST(COALESCE(a.n_dups, 0) AS BIGINT) AS n_dups,
       COALESCE(a.n_dups, 0) > 0 AS is_dup,
       s.items AS items, s.sig AS sig
FROM sid_sigs s LEFT JOIN agg a ON s.doc_id = a.did
"""


def _sid_run_stream(
    spark: SparkSession,
    in_dir: str,
    res_dir: str,
    idx_root: str,
    checkpoint_dir: str | None = None,
) -> None:
    """Run the incremental-dedup stream over `in_dir` to completion on
    the shared generation-index loop
    (`streaming.events.run_generation_index`): the batch relation is
    the shingle signatures, and only kept (`NOT is_dup`) rows enter
    the index. With `checkpoint_dir`, a second call RESUMES (the
    restart test's phase 2) and recovers the index membership from the
    on-disk manifests."""
    from ..streaming.events import run_generation_index

    # batch 0 joins an empty index: everything kept, zero candidates
    first_sql = f"""
SELECT doc_id, CAST(doc_id % {SD_NBATCH} AS INT) AS batch_id,
       CAST(0 AS BIGINT) AS n_candidates, CAST(0 AS BIGINT) AS n_dups,
       false AS is_dup, items, sig
FROM sid_sigs
"""
    run_generation_index(
        spark, "stream_incremental_dedup", in_dir, res_dir, idx_root,
        checkpoint_dir,
        batch_rows=lambda batch_df: _shingle_sigs(batch_df, "doc_id"),
        views=("sid_sigs", "sid_idx"),
        first_sql=first_sql,
        epoch_sql=_sid_epoch_sql(),
        kept=~F.col("is_dup"),
        idx_cols=["doc_id", "items", "sig"],
    )


def _build_stream_incremental_dedup_sql() -> str:
    """Unrolled sequential oracle: index_k = kept docs of batches <k."""
    sigs = _duck_affine_sigs_sql()
    bands_from = _duck_bands_from_sql()

    def bands(src: str) -> str:
        return (
            f"(SELECT doc_id, bk.band AS band, bk.band_key AS band_key "
            f"FROM {src}, {bands_from} WHERE len(items) >= 1)"
        )

    jac = _DUCK_ITEMS_JAC
    ctes = [
        f"""d AS MATERIALIZED (
  SELECT doc_id, items, [{', '.join(sigs)}] AS sig
  FROM (
    SELECT doc_id, items, list_transform(items, x -> x % {MH_P}) AS hs
    FROM (SELECT doc_id, {_shingle_hashes_duck_sql()} AS items
          FROM documents)
  )
)"""
    ]
    for k in range(SD_NBATCH):
        ctes.append(
            f"b{k} AS MATERIALIZED "
            f"(SELECT * FROM d WHERE doc_id % {SD_NBATCH} = {k})"
        )
    # batch 0: empty index → everything kept
    ctes.append(
        f"res0 AS (SELECT doc_id, CAST(0 AS INTEGER) AS batch_id, "
        "CAST(0 AS BIGINT) AS n_candidates, CAST(0 AS BIGINT) AS n_dups, "
        "FALSE AS is_dup FROM b0)"
    )
    ctes.append("idx1 AS (SELECT * FROM b0)")
    for k in range(1, SD_NBATCH):
        ctes.append(
            f"""cand{k} AS (
  SELECT b.doc_id AS did, c.doc_id AS cid
  FROM {bands(f'b{k}')} b JOIN {bands(f'idx{k}')} c
    ON b.band = c.band AND b.band_key = c.band_key
  GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"""per{k} AS (
  SELECT did,
         CAST(count(*) AS BIGINT) AS n_candidates,
         CAST(count(*) FILTER (WHERE {jac} >= {JACCARD_TAU}) AS BIGINT)
           AS n_dups
  FROM cand{k}
  JOIN b{k} w1 ON w1.doc_id = did
  JOIN idx{k} w2 ON w2.doc_id = cid
  GROUP BY did
)"""
        )
        ctes.append(
            f"""res{k} AS (
  SELECT b.doc_id AS doc_id, CAST({k} AS INTEGER) AS batch_id,
         CAST(COALESCE(p.n_candidates, 0) AS BIGINT) AS n_candidates,
         CAST(COALESCE(p.n_dups, 0) AS BIGINT) AS n_dups,
         COALESCE(p.n_dups, 0) > 0 AS is_dup
  FROM b{k} b LEFT JOIN per{k} p ON p.did = b.doc_id
)"""
        )
        if k < SD_NBATCH - 1:
            ctes.append(
                f"""idx{k + 1} AS (
  SELECT * FROM idx{k}
  UNION ALL
  SELECT b.* FROM b{k} b JOIN res{k} r
    ON r.doc_id = b.doc_id AND NOT r.is_dup
)"""
            )
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM res{k}" for k in range(SD_NBATCH)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + union


STREAM_INCREMENTAL_DEDUP_SQL = _build_stream_incremental_dedup_sql()


# --- alternating-star connected components (billion-edge primitive) -------


def _cc_large_small_star(pairs: DataFrame) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    rounds (Kiveris et al. 2014, "Connected Components in MapReduce
    and Beyond" — public literature): the primitive the label-
    propagation docstring promises for billion-edge graphs, where
    convergence in O(log² n) rounds beats min-label propagation's
    O(diameter) on high-diameter graphs.

    Round primitive (node ids are longs; m(u) = min(N(u) ∪ {u})):
      large-star: for every u, connect every STRICTLY LARGER neighbor
                  to m(u)            → {(v, m(u)) : v ∈ N(u), v > u}
      small-star: for every u, connect every ≤ neighbor and u itself
                  to m(u)            → {(v, m(u)) : v ∈ N(u), v ≤ u}
                                       ∪ {(u, m(u))}
    Each is one groupBy-min + one join back over the (symmetrized)
    edge list — the same partial-agg'd shuffle shape as a label-prop
    round. Fixpoint: the edge multiset is a star forest, each node
    pointing at its component minimum. Termination check = (count,
    DECIMAL(38,0) sum of edge hashes) unchanged — exact enough for a deterministic
    contraction that only ever merges components (verified against
    union-find and label propagation by property tests).

    Returns (doc_id, cluster_id), cluster_id = component minimum —
    identical contract to `_cc_union_find`/`_cc_label_propagation`."""
    # intra-round caches route through caches.claim (r4 ADVICE #7):
    # one live generation per key, released in the finally below AND
    # covered by the registry's release_all() safety net — the same
    # lifecycle test_cache_hygiene enforces for every other builder
    edges = caches.claim(
        "cc_star_edges",
        pairs.select(F.col("id1").alias("u"), F.col("id2").alias("v"))
        .union(pairs.select(F.col("id2").alias("u"), F.col("id1").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct(),
    )

    def _neighborhood_min(e: DataFrame) -> DataFrame:
        return e.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )

    def _signature(e: DataFrame):
        # hash-sum in DECIMAL(38,0): an int64 sum of xxhash64 values
        # overflows ANSI long arithmetic (CLAUDE.md decimal rule)
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(
                    F.xxhash64(F.col("u"), F.col("v")).cast("decimal(38,0)")
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    def _canon(e: DataFrame) -> DataFrame:
        """Undirected canonical form (min, max), deduped + symmetrized
        back — keeps each round's input a clean neighbor list."""
        lo = F.least("u", "v")
        hi = F.greatest("u", "v")
        und = e.where(F.col("u") != F.col("v")).select(
            lo.alias("a"), hi.alias("b")
        ).distinct()
        return und.select(
            F.col("a").alias("u"), F.col("b").alias("v")
        ).union(und.select(F.col("b").alias("u"), F.col("a").alias("v")))

    prev_sig = None
    cur = edges
    try:
        while True:
            m = _neighborhood_min(cur)
            large = (
                cur.join(m, "u")
                .where(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
            )
            # The intra-round intermediate claims a cache (re-claims
            # under the same key each round → exactly one live
            # generation, the cache-hygiene discipline); only the
            # round RESULT is localCheckpointed:
            # each round references its input TWICE (join back +
            # canon), so a lazy lineage doubles per round — the
            # logical plan explodes exponentially (observed as an
            # explain-string OOM inside AQE by round ~8 on a 31-node
            # path). One checkpoint generation per round; superseded
            # generations are dereferenced for ContextCleaner GC.
            after_large = caches.claim(
                "cc_star_after_large", _canon(large)
            )
            m2 = _neighborhood_min(after_large)
            small = (
                after_large.join(m2, "u")
                .where(F.col("v") <= F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .union(m2.select("u", F.col("m").alias("v")))
            )
            nxt = _canon(small).localCheckpoint(eager=True)
            caches.release("cc_star_after_large")
            sig = _signature(nxt)
            cur = nxt
            if sig == prev_sig:
                break
            prev_sig = sig
        # star forest → labels: every node's min neighbor (or itself);
        # vertices of the ORIGINAL graph that became isolated roots
        # keep their own id
        verts = (
            pairs.select(F.col("id1").alias("doc_id"))
            .union(pairs.select(F.col("id2").alias("doc_id")))
            .distinct()
        )
        nbr_min = cur.groupBy("u").agg(F.min("v").alias("nmin"))
        labels = (
            verts.join(nbr_min, verts.doc_id == nbr_min.u, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("doc_id"), F.coalesce("nmin", F.col("doc_id"))
                ).alias("cluster_id"),
            )
        )
        labels = caches.claim("cc_star_labels", labels)
        labels.count()
    finally:
        if cur is not edges:
            cur.unpersist()
        caches.release("cc_star_after_large")
        caches.release("cc_star_edges")
    return labels


# --- cross-source duplication audit (data-governance surface) -------------


def duck_sig_band_cand_ctes_sql(inner_col_sql: str, col_name: str) -> str:
    """DuckDB mirror of `_shingle_sigs` → `_band_candidates`: the shared
    `d`/`bands`/`cand` MATERIALIZED CTE prefix (signature projection →
    band explode → distinct collision pairs) parameterized by the one
    extra per-doc column the consumer carries (`source`, or a computed
    `... AS split`). AS MATERIALIZED: DuckDB inlines plain CTEs per
    reference — the md5-shingle + 16-sig projection would recompute
    for bands (×2 via the self-join) and both verify joins (measured
    403 s at sf0.1 inlined vs ~2 s materialized)."""
    sigs = _duck_affine_sigs_sql()
    bands_from = _duck_bands_from_sql()
    return f"""d AS MATERIALIZED (
  SELECT doc_id, {col_name}, items, [{', '.join(sigs)}] AS sig
  FROM (
    SELECT doc_id, {col_name}, items,
           list_transform(items, x -> x % {MH_P}) AS hs
    FROM (SELECT doc_id, {inner_col_sql},
          {_shingle_hashes_duck_sql()} AS items
          FROM documents)
  )
),
bands AS MATERIALIZED (
  SELECT doc_id, bk.band AS band, bk.band_key AS band_key
  FROM d, {bands_from} WHERE len(items) >= 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
)"""


def cross_source_dup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which SOURCES duplicate each other — the data-governance audit
    a multi-source training corpus needs before mixture weighting
    (double-counted content silently upweights itself). Corpus-WIDE
    shingle-MinHash banding (the bimodal representation, so candidates
    ≈ true near-copies, never the word-set O(n²) trap) → exact-Jaccard
    verification → pairs whose two docs come from DIFFERENT sources →
    per-source rollup on a stable all-sources spine:

      source, n_docs, n_cross_dup_pairs (pairs touching this source),
      n_partner_sources (distinct other sources it shares dups with).

    Sources with no cross-dups report zeros (the spine keeps the
    result shape meaningful at every SF — the harness corpus has
    cross-source exact dups at sf0.1 and none at sf0.01).

    Scale shape: one band-key equi-join over the corpus-wide shingle
    index + a verify join on candidates only; the rollup is two
    partial-agg'd groupBys on the (tiny) cross-pair set; the spine
    join broadcasts the 20-row source list. The index is built over
    (content, source) exact-dup REPRESENTATIVES (`collapse_exact_reps`
    keyed by source — r11): a page syndicated m times within one
    source is ONE band row set, and a representative pair's
    n_dup1·n_dup2 weight reconstructs the doc-level pair count
    exactly — the oracle deliberately stays the uncollapsed
    restatement, so the parity test proves the collapse
    value-preserving."""
    base = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    d = caches.claim(
        "cross_source_sigs",
        _shingle_sigs(
            collapse_exact_reps(base, key_cols=("source",)),
            "doc_id",
            "source",
            "n_dup",
        ),
    )
    cross = (
        _jaccard_verify(
            _band_candidates(d.where(F.size("items") >= 1)),
            d.select("doc_id", "items", "source", "n_dup"),
        )
        .where(
            (F.col("jaccard") >= JACCARD_TAU)
            & (F.col("source1") != F.col("source2"))
        )
        .select(
            "source1", "source2", (F.col("n_dup1") * F.col("n_dup2")).alias("w")
        )
    )
    per_side = cross.select(
        F.col("source1").alias("source"), F.col("source2").alias("partner"), "w"
    ).union(
        cross.select(
            F.col("source2").alias("source"),
            F.col("source1").alias("partner"),
            "w",
        )
    )
    rollup = per_side.groupBy("source").agg(
        F.sum("w").alias("n_cross_dup_pairs"),
        F.countDistinct("partner").alias("n_partner_sources"),
    )
    spine = d.groupBy("source").agg(F.sum("n_dup").alias("n_docs"))
    return (
        spine.join(F.broadcast(rollup), "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_cross_dup_pairs", F.lit(0))
            .cast("long")
            .alias("n_cross_dup_pairs"),
            F.coalesce("n_partner_sources", F.lit(0))
            .cast("long")
            .alias("n_partner_sources"),
        )
    )


def _build_cross_source_dup_audit_sql() -> str:
    jac = _DUCK_ITEMS_JAC
    return f"""
WITH {duck_sig_band_cand_ctes_sql("source", "source")},
cross_pairs AS (
  SELECT w1.source AS s1, w2.source AS s2
  FROM cand
  JOIN d w1 ON w1.doc_id = id1
  JOIN d w2 ON w2.doc_id = id2
  WHERE {jac} >= {JACCARD_TAU} AND w1.source <> w2.source
),
per_side AS (
  SELECT s1 AS source, s2 AS partner FROM cross_pairs
  UNION ALL
  SELECT s2 AS source, s1 AS partner FROM cross_pairs
),
rollup AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_cross_dup_pairs,
         CAST(count(DISTINCT partner) AS BIGINT) AS n_partner_sources
  FROM per_side GROUP BY source
),
spine AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM d GROUP BY source
)
SELECT spine.source AS source, spine.n_docs AS n_docs,
       CAST(COALESCE(rollup.n_cross_dup_pairs, 0) AS BIGINT)
         AS n_cross_dup_pairs,
       CAST(COALESCE(rollup.n_partner_sources, 0) AS BIGINT)
         AS n_partner_sources
FROM spine LEFT JOIN rollup ON rollup.source = spine.source
"""


CROSS_SOURCE_DUP_AUDIT_SQL = _build_cross_source_dup_audit_sql()


# ---------------------------------------------------------------------------
# MinHash threshold sweep — the tuning measurement behind JACCARD_TAU.
# ---------------------------------------------------------------------------

SWEEP_TAUS = ["0.5", "0.6", "0.7", "0.8", "0.9"]  # string → exact literals


def minhash_tau_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold sensitivity sweep: ONE MinHash banding pass +
    ONE exact-Jaccard scoring of the candidates, then pair counts and
    candidate precision at each tau in SWEEP_TAUS — the measurement
    that justifies a pipeline's dedup threshold before it deletes
    training data (run it once per corpus, pick τ off the curve).

    Output per tau: n_candidates (constant — the banding pass is
    threshold-independent), n_pairs (J ≥ τ), precision
    (= n_pairs / n_candidates, one double division of exact ints).

    Scale shape: identical candidate bound to `minhash_lsh_neardup`
    (band equi-join over exact-dup-collapsed representatives — r11,
    so a viral m-copy cluster contributes O(m) banding work, not
    O(m²) candidate rows); within-cluster identical pairs re-enter
    the counts as closed-form weights (C(n_dup, 2) per cluster,
    jaccard 1.0 by definition), cross-cluster pairs as
    n_dup1·n_dup2 — so every per-tau count is BIT-IDENTICAL to the
    uncollapsed doc-level sweep, and the oracle deliberately stays
    the UNCOLLAPSED restatement (the parity test proves the collapse
    value-preserving). The sweep itself is a 5× row replication of
    the scored representative pairs only, then one partial-agg'd
    groupBy on tau."""
    base = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("source") == DEDUP_SOURCE_BLOCK)
        .select("doc_id", "text")
    )
    d = (
        collapse_exact_reps(base)
        .select(
            "doc_id",
            "n_dup",
            # NULL-text members have NULL signatures → no band keys in
            # the oracle's banding; gate their C(n_dup,2) self-weight
            # out identically (r7 NULL-parity family)
            F.col("text").isNotNull().alias("has_text"),
            _distinct_words(F.col("text")).alias("items"),
            _minhash_signature().alias("sig"),
        )
        .localCheckpoint(eager=True)  # bands + both verify joins
    )
    scored = _jaccard_verify(
        _band_candidates(d), d.select("doc_id", "items", "n_dup")
    ).select("jaccard", (F.col("n_dup1") * F.col("n_dup2")).alias("w"))
    self_pairs = d.where((F.col("n_dup") >= 2) & F.col("has_text")).select(
        F.lit(1.0).cast("double").alias("jaccard"),
        F.expr("(n_dup * (n_dup - 1)) DIV 2").alias("w"),
    )
    taus = ", ".join(f"CAST({t} AS DOUBLE)" for t in SWEEP_TAUS)
    return (
        scored.unionByName(self_pairs)
        .select(
            "jaccard", "w", F.explode(F.expr(f"array({taus})")).alias("tau")
        )
        .groupBy("tau")
        .agg(
            F.sum("w").cast("long").alias("n_candidates"),
            F.coalesce(
                F.sum(F.when(F.col("jaccard") >= F.col("tau"), F.col("w"))),
                F.lit(0),
            )
            .cast("long")
            .alias("n_pairs"),
        )
        .withColumn(
            "precision",
            F.col("n_pairs").cast("double")
            / F.col("n_candidates").cast("double"),
        )
    )


def _build_minhash_tau_sweep_sql() -> str:
    sigs = _minhash_sig_sql()
    band_structs_from = _duck_bands_from_sql()
    taus = ", ".join(f"(CAST({t} AS DOUBLE))" for t in SWEEP_TAUS)
    return f"""
    WITH d AS MATERIALIZED (
      SELECT doc_id, {_DISTINCT_WORDS_SQL} AS words,
             [{', '.join(sigs)}] AS sig
      FROM documents WHERE source = '{DEDUP_SOURCE_BLOCK}'
    ),
    bands AS (
      SELECT doc_id, bk.band AS band, bk.band_key AS band_key
      FROM d, {band_structs_from}
    ),
    candidates AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    scored AS (
      SELECT id1, id2,
             CAST(len(list_intersect(w1.words, w2.words)) AS BIGINT)
             / (CAST(len(w1.words) AS BIGINT)
                + CAST(len(w2.words) AS BIGINT)
                - CAST(len(list_intersect(w1.words, w2.words)) AS BIGINT))
               AS jaccard
      FROM candidates
      JOIN d w1 ON w1.doc_id = id1
      JOIN d w2 ON w2.doc_id = id2
    )
    SELECT tau,
           CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(count(CASE WHEN jaccard >= tau THEN 1 END) AS BIGINT)
             AS n_pairs,
           CAST(count(CASE WHEN jaccard >= tau THEN 1 END) AS BIGINT)
             / CAST(count(*) AS BIGINT) AS precision
    FROM scored CROSS JOIN (VALUES {taus}) AS t(tau)
    GROUP BY tau
    """


MINHASH_TAU_SWEEP_SQL = _build_minhash_tau_sweep_sql()


# ---------------------------------------------------------------------------
# Exact-substring duplicate spans (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better" — the exact-substring
# flavor their suffix-array pipeline finds; here as a distributed
# k-gram diagonal-run scan, the join-friendly equivalent).
# ---------------------------------------------------------------------------

ES_K = 8  # token k-gram width (the paper uses 50 BPE tokens; the
# harness docs are 10-200 words, so 8 keeps spans observable)
ES_MIN_GRAMS = 3  # ≥3 consecutive shared grams → span ≥ ES_K+2 tokens
ES_HOT_CAP = 64  # drop grams with more occurrences (boilerplate stop-
# grams — the paper's frequency cutoff; a k-doc gram fans out k² pairs)


def exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal shared EXACT token runs (≥ ES_K + ES_MIN_GRAMS − 1
    tokens) between documents of the pairwise-dedup block — the
    quotation/boilerplate detector that Jaccard-style ops miss when
    the shared run is a small fraction of both docs.

    Method: positioned ES_K-gram hash table per doc → equi-join on the
    gram hash (id1 < id2) → matches on the same DIAGONAL (pos1 − pos2
    constant) with CONSECUTIVE positions are one shared run
    (gaps-and-islands via pos − row_number, the classic SQL idiom).
    Output per maximal run: start positions in both docs, gram count,
    span length in tokens.

    A suffix array finds these in O(n log n) single-node; the k-gram
    inverted-index join is the shape that DISTRIBUTES — work ∝ shared
    grams (the join's output), never |corpus|². 60-bit md5 gram hashes
    make cross-engine results identical; collisions (~2⁻⁶⁰ per pair)
    are accepted — the paper's pipeline tolerates the same for its
    Bloom-filter variant.

    Scale shape: one narrow gram projection riding the scan (claimed
    once — two consumers), then a COUNT-FIRST hot-gram guard: a
    map-side-combining count per gram hash selects the 2..ES_HOT_CAP
    survivors BEFORE any list is collected, so the collect_list agg
    state is ≤ ES_HOT_CAP structs per group at any corpus size (r10 —
    the former collect-then-filter shape materialized a
    corpus-proportional array for a boilerplate stop-gram before
    dropping it, the same O(group) ceiling class as the r9 centroid
    folds). Grams with more than ES_HOT_CAP occurrences are DROPPED
    as boilerplate (the paper's frequency cutoff; a hot gram in k
    docs would otherwise fan out k² pairs). Pairs explode from the
    bounded lists; one window over per-(pair, diagonal) partitions
    whose size is bounded by doc length. The oracle mirrors the cap
    with a HAVING frequency filter — value-identical either shape."""
    # gram hash via the shared 60-bit recipe helper (r5 advice: an
    # inlined copy here would silently miss a future recipe change)
    from .text import portable_hash60_spark_sql as _ph60

    gram_h = _ph60(f"concat_ws(' ', slice(tk, i, {ES_K}))")
    grams_expr = (
        "transform(array(split(trim(lower(text)), '\\\\s+')), tk -> "
        f"CASE WHEN size(tk) < {ES_K} THEN "
        "CAST(array() AS array<struct<pos: bigint, h: bigint>>) ELSE "
        f"transform(sequence(1, size(tk) - {ES_K - 1}), i -> "
        "named_struct('pos', CAST(i AS BIGINT), 'h', "
        f"{gram_h})) END)[0]"
    )
    # balanced(): the per-token md5 gram hashing dwarfs a slim-row
    # shuffle — without the spread the whole projection rides the 1-3
    # scan tasks of the single-file harness table (r13 opt; observed
    # single-task stages in the before-plan probe)
    g = caches.claim(
        "exact_substring_grams",
        balanced(load_table(spark, sf_dir, "documents"))
        .select("doc_id", F.explode(F.expr(grams_expr)).alias("g"))
        .select(
            "doc_id", F.col("g.pos").alias("pos"), F.col("g.h").alias("h")
        ),
    )
    # count-first hot-gram guard (see Scale shape): only 2..CAP grams
    # ever reach the collect, so its agg state is bounded per group
    keep = (
        g.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_es_n"))
        .where(
            (F.col("_es_n") >= 2) & (F.col("_es_n") <= ES_HOT_CAP)
        )
        .select("h")
    )
    occ = (
        g.join(keep, "h")
        .groupBy("h")
        .agg(F.collect_list(F.struct("doc_id", "pos")).alias("occ"))
    )
    pair_expr = (
        "flatten(transform(occ, o1 -> "
        "transform(filter(occ, o2 -> o1.doc_id < o2.doc_id), o2 -> "
        "named_struct('id1', o1.doc_id, 'id2', o2.doc_id, "
        "'pos1', o1.pos, 'pos2', o2.pos))))"
    )
    m = (
        occ.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.id1", "p.id2", "p.pos1", "p.pos2")
        .withColumn("diag", F.col("pos1") - F.col("pos2"))
    )
    w = Window.partitionBy("id1", "id2", "diag").orderBy("pos1")
    runs = (
        m.withColumn(
            "island", F.col("pos1") - F.row_number().over(w)
        )
        .groupBy("id1", "id2", "diag", "island")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.min("pos1").alias("start1"),
            F.min("pos2").alias("start2"),
        )
        .where(F.col("n_grams") >= ES_MIN_GRAMS)
        .select(
            "id1",
            "id2",
            "start1",
            "start2",
            "n_grams",
            (F.col("n_grams") + F.lit(ES_K - 1).cast("long")).alias(
                "span_tokens"
            ),
        )
    )
    return runs


_ES_TOKS_DUCK = r"regexp_split_to_array(trim(lower(text)), '\s+')"
_ES_GRAM_DUCK = portable_hash60_sql(
    f"array_to_string({_ES_TOKS_DUCK}[i:i+{ES_K - 1}], ' ')"
)

EXACT_SUBSTRING_SPANS_SQL = f"""
WITH g AS (
  SELECT doc_id, i AS pos, {_ES_GRAM_DUCK} AS h
  FROM documents,
       UNNEST(generate_series(1,
         len({_ES_TOKS_DUCK}) - {ES_K - 1})) AS t(i)
  WHERE len({_ES_TOKS_DUCK}) >= {ES_K}
),
keep AS (
  SELECT h FROM g GROUP BY h HAVING count(*) BETWEEN 2 AND {ES_HOT_CAP}
),
m AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
         a.pos AS pos1, b.pos AS pos2
  FROM g a JOIN g b ON a.h = b.h AND a.doc_id < b.doc_id
  WHERE a.h IN (SELECT h FROM keep)
),
runs AS (
  SELECT id1, id2, (pos1 - pos2) AS diag,
         pos1 - row_number() OVER (
           PARTITION BY id1, id2, (pos1 - pos2) ORDER BY pos1) AS island,
         pos1, pos2
  FROM m
)
SELECT id1, id2,
       min(pos1) AS start1,
       min(pos2) AS start2,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(*) + {ES_K - 1} AS BIGINT) AS span_tokens
FROM runs
GROUP BY id1, id2, diag, island
HAVING count(*) >= {ES_MIN_GRAMS}
"""


# ---------------------------------------------------------------------------
# Exact-substring REWRITE (r13 — VERDICT r12 #5): the Lee et al. dedup
# COMPLETION — `exact_substring_spans` finds maximal shared token runs;
# this op REMOVES them and re-emits the cleaned text, the way
# `line_dedup_rewrite` completes the CCNet line-DF rollup.
# ---------------------------------------------------------------------------


def exact_substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remove duplicated exact substrings and RE-EMIT the cleaned
    text — the deletion step of Lee et al. 2022's exact-substring
    dedup (their suffix-array pipeline deletes all but one occurrence
    of each duplicated span; the repo's `exact_substring_spans` only
    FINDS the spans). Keep-first policy: for every maximal shared run
    between (id1 < id2), the occurrence in the HIGHER doc_id (the
    spans' id2 side) is deleted, so the earliest document keeps its
    copy — deterministic, order-free, and transitive chains resolve
    per-document (a doc's removed positions are the union of its
    id2-side span intervals, overlaps merged by construction).

    Output per document: token count, removed-token count, and the
    CLEANED text (kept tokens re-joined in order — normalized tokens,
    the same re-emission convention as `line_dedup_rewrite`).
    NULL-text docs pass through with NULL cleaned_text and zero
    counts; a doc that is entirely duplicated span comes back with
    cleaned_text = '' (Spark array_join([]) = '' vs DuckDB
    array_to_string → NULL: COALESCE'd per the empty-list parity
    rule).

    Scale shape: spans come from the graded spans builder (claimed
    gram projection, count-first ES_HOT_CAP guard — work ∝ shared
    grams, never |corpus|²); the interval sets are one partial-agg'd
    groupBy on the span output (per-doc interval count ≤ runs per
    doc, bounded by doc length — the SPAN INDEX, not the corpus,
    bounds this state); the rewrite is a doc_id-keyed LEFT join +
    one narrow generated HOF expression per row (position filter
    against ≤ doc-length intervals, zero Python). At 100 TB every
    stage is a keyed shuffle or a map."""

    spans = exact_substring_rewrite_spans(spark, sf_dir)
    iv = spans.groupBy(F.col("id2").alias("doc_id")).agg(
        F.collect_list(
            F.struct(
                F.col("start2").alias("s"),
                (F.col("start2") + F.col("span_tokens") - F.lit(1))
                .cast("long")
                .alias("e"),
            )
        ).alias("iv")
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rewrite_expr = bind_once_sql(
        "split(trim(lower(text)), '\\\\s+')",
        "tk",
        bind_once_sql(
            "filter(sequence(1, size(tk)), i -> NOT exists("
            "coalesce(iv, CAST(array() AS array<struct<s: bigint, "
            "e: bigint>>)), v -> i >= v.s AND i <= v.e))",
            "kept",
            "named_struct("
            "'n_tokens', CAST(size(tk) AS BIGINT), "
            "'n_removed', CAST(size(tk) - size(kept) AS BIGINT), "
            "'cleaned_text', array_join(transform(kept, "
            "i -> element_at(tk, CAST(i AS INT))), ' '))",
        ),
    )
    kept = (
        d.where(F.col("text").isNotNull())
        .join(iv, "doc_id", "left")
        .select("doc_id", F.expr(rewrite_expr).alias("p"))
        .select(
            "doc_id",
            F.col("p.n_tokens").alias("n_tokens"),
            F.col("p.n_removed").alias("n_removed"),
            F.col("p.cleaned_text").alias("cleaned_text"),
            F.length("p.cleaned_text").cast("long").alias("cleaned_chars"),
        )
    )
    nulls = d.where(F.col("text").isNull()).select(
        "doc_id",
        F.lit(0).cast("long").alias("n_tokens"),
        F.lit(0).cast("long").alias("n_removed"),
        F.lit(None).cast("string").alias("cleaned_text"),
        F.lit(None).cast("long").alias("cleaned_chars"),
    )
    return kept.unionByName(nulls)


def exact_substring_rewrite_spans(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The rewrite's span source — exactly the graded spans builder
    (separate hook so tests can substitute a fixture span set)."""
    return exact_substring_spans(spark, sf_dir)


EXACT_SUBSTRING_REWRITE_SQL = f"""
WITH spans AS MATERIALIZED ({EXACT_SUBSTRING_SPANS_SQL}),
iv AS (
  SELECT id2 AS doc_id,
         list(struct_pack(s := start2,
                          e := start2 + span_tokens - 1)) AS iv
  FROM spans GROUP BY id2
),
base AS (
  SELECT d.doc_id,
         {_ES_TOKS_DUCK} AS tk,
         COALESCE(iv.iv, CAST([] AS STRUCT(s BIGINT, e BIGINT)[]))
           AS ivl
  FROM documents d LEFT JOIN iv ON d.doc_id = iv.doc_id
  WHERE d.text IS NOT NULL
),
kept AS (
  SELECT doc_id, tk,
         list_filter(range(1, len(tk) + 1),
                     i -> len(list_filter(ivl,
                          v -> i >= v.s AND i <= v.e)) = 0) AS keep_i
  FROM base
)
SELECT doc_id,
       CAST(len(tk) AS BIGINT) AS n_tokens,
       CAST(len(tk) - len(keep_i) AS BIGINT) AS n_removed,
       COALESCE(array_to_string(
         list_transform(keep_i, i -> tk[i]), ' '), '') AS cleaned_text,
       CAST(length(COALESCE(array_to_string(
         list_transform(keep_i, i -> tk[i]), ' '), '')) AS BIGINT)
         AS cleaned_chars
FROM kept
UNION ALL
SELECT doc_id,
       CAST(0 AS BIGINT) AS n_tokens,
       CAST(0 AS BIGINT) AS n_removed,
       CAST(NULL AS VARCHAR) AS cleaned_text,
       CAST(NULL AS BIGINT) AS cleaned_chars
FROM documents WHERE text IS NULL
"""


# --- k-core of the near-dup graph (counted peel) ---------------------------

KCORE_K = 2
KCORE_ROUNDS = 3


#: above this edge count the peel runs distributed; below, the graph
#: is driver-finished (the CC_DRIVER_FINISH precedent: a dup graph
#: this small costs more in job-scheduling floors than in compute)
KCORE_DRIVER_FINISH_MAX_EDGES = 200_000


def _kcore_peel_py(edge_rows: list) -> list:
    """Counted KCORE_ROUNDS-round peel in plain Python (driver
    finish). Returns sorted (doc_id, core_degree) rows — the same
    result the distributed branch computes (property-tested)."""
    es = [(int(a), int(b)) for a, b in edge_rows]
    for _ in range(KCORE_ROUNDS):
        deg: dict = {}
        for a, b in es:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {i for i, d in deg.items() if d >= KCORE_K}
        es = [(a, b) for a, b in es if a in keep and b in keep]
    out: dict = {}
    for a, b in es:
        out[a] = out.get(a, 0) + 1
        out[b] = out.get(b, 0) + 1
    return sorted((i, d) for i, d in out.items() if d >= KCORE_K)


def _kcore_distributed(edges: DataFrame) -> DataFrame:
    """Counted peel over the CLAIMED edge frame, one claim +
    materialization PER ROUND. The claims are load-bearing twice
    over: round r's frame is referenced 5× by round r+1 (two
    degree-union legs, two semi-join probes, the filter source), so
    left lazy the plan tree — and the executed work — grows 5^rounds
    (measured: 133 exchanges in the unclaimed 3-round plan vs ≤21
    claimed). The per-round job floors that motivated the
    driver-finish split are amortized here by construction: this
    branch only runs above KCORE_DRIVER_FINISH_MAX_EDGES."""
    cur = edges
    for r in range(1, KCORE_ROUNDS + 1):
        deg = (
            cur.select(F.col("lo").alias("id"))
            .unionByName(cur.select(F.col("hi").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.where(F.col("deg") >= KCORE_K).select("id")
        nxt = cur.join(
            keep.withColumnRenamed("id", "lo"), "lo", "semi"
        ).join(keep.withColumnRenamed("id", "hi"), "hi", "semi")
        cur = caches.claim(f"kcore_edges_r{r}", nxt)
        cur.count()
    final_deg = (
        cur.select(F.col("lo").alias("doc_id"))
        .unionByName(cur.select(F.col("hi").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
    )
    return final_deg.where(F.col("core_degree") >= KCORE_K)


def kcore_dedup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (counted peel) of the near-duplicate
    graph — the robustness filter for dup clusters: a node in the
    2-core has ≥2 near-dup partners even AFTER its weakly-connected
    neighbors are peeled away, so core membership separates true
    duplicate groups from chains of borderline pairwise matches
    (Seidman 1983's cores; the standard graph-mining primitive).

    Semantics are a COUNTED 3-round peel, not iterate-to-fixpoint
    (the kmeans_lloyd_loop/pagerank precedent: a fixed unrolled
    iteration count keeps the oracle a finite CTE chain and the
    result bit-exact whether or not the peel has converged — at the
    harness graph 3 rounds reach the fixpoint, property-tested).
    Output: every surviving node with its degree inside the surviving
    subgraph.

    Two-phase like the CC operators (`neardup_clusters`): the claimed
    edge list is driver-peeled below KCORE_DRIVER_FINISH_MAX_EDGES
    (post-detection dup edges at harness SFs are dozens of rows — the
    job-scheduling floor dominates any distributed plan), and above
    it runs the distributed counted peel (`_kcore_distributed`: one
    partial-agg'd degree aggregation + two id-equi semi-joins per
    round, work ∝ |E|); the two branches are property-tested equal
    (tests/test_binary_kmv.py)."""
    edges = claimed_undirected_edges(spark, sf_dir, "kcore_edges_r0")
    n_edges = edges.count()
    if n_edges <= KCORE_DRIVER_FINISH_MAX_EDGES:
        rows = _kcore_peel_py([(r[0], r[1]) for r in edges.collect()])
        return spark.createDataFrame(
            rows, "doc_id long, core_degree long"
        )
    return _kcore_distributed(edges)


def _build_kcore_sql() -> str:
    # every e{r} is MATERIALIZED: each is referenced 5× downstream
    # (two degree-union legs, two IN-subqueries, the filter source),
    # and DuckDB inlines plain CTEs PER REFERENCE — un-materialized,
    # the jaccard pipeline inside e0 recomputes ~5^rounds times
    # (measured 12.5 s → sub-second at sf0.1; the CLAUDE.md
    # cross_source_dup_audit precedent)
    jaccard_pairs = NEARDUP_JACCARD_SQL.strip()
    ctes = [
        f"""pairs AS MATERIALIZED (
      SELECT id1, id2 FROM ({jaccard_pairs})
    ),
    e0 AS MATERIALIZED (
      {UNDIRECTED_EDGES_SQL}
    )"""
    ]
    for r in range(1, KCORE_ROUNDS + 1):
        prev = f"e{r - 1}"
        ctes.append(
            f"""k{r} AS MATERIALIZED (
      SELECT id FROM (
        SELECT id, count(*) AS deg FROM (
          SELECT lo AS id FROM {prev}
          UNION ALL SELECT hi AS id FROM {prev}
        ) GROUP BY id
      ) WHERE deg >= {KCORE_K}
    ),
    e{r} AS MATERIALIZED (
      SELECT e.lo, e.hi FROM {prev} e
      WHERE e.lo IN (SELECT id FROM k{r})
        AND e.hi IN (SELECT id FROM k{r})
    )"""
        )
    last = f"e{KCORE_ROUNDS}"
    return (
        "\n    WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT doc_id, CAST(count(*) AS BIGINT) AS core_degree FROM (
      SELECT lo AS doc_id FROM {last}
      UNION ALL SELECT hi AS doc_id FROM {last}
    ) GROUP BY doc_id
    HAVING count(*) >= {KCORE_K}
    """
    )


KCORE_DEDUP_GRAPH_SQL = _build_kcore_sql()

"""Fuzzy region normalization (F1, SURVEY.md §2.4).

Reference: `clean_region` — rapidfuzz `process.extractOne` over 4
candidate cities, no score cutoff, NULL passthrough
(/root/reference/main.py:67-75), applied row-by-row in Python.

Engine default: Levenshtein-argmin over the candidate set as a pure
Catalyst expression — `levenshtein(upper(col), upper(candidate))` per
candidate, argmin with first-candidate tie-break. This is JVM-side,
codegen'd, and O(|candidates|) per row: at 100 TB it is a narrow map
stage with no shuffle and no Python workers. (The reference calls
rapidfuzz per ROW, even for repeated values.)

A WRatio-faithful variant ships as an Arrow-batched pandas UDF behind
`use_rapidfuzz=True` for parity with adversarial inputs where WRatio
ranking ≠ edit-distance ranking. It uses rapidfuzz when importable and
otherwise a pure-Python re-derivation of the published weighted-ratio
algorithm (`make_wratio_scorer`), so it runs in rapidfuzz-less
environments (this container) too.

Scale alternative for huge candidate sets: distinct dirty values →
match once → broadcast-join back (dirty-value cardinality ≪ rows);
provided as `clean_region_via_distinct`.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.views import VALID_CITIES


def clean_region_expr(col: Column, candidates: Sequence[str] = VALID_CITIES) -> Column:
    """argmin_{c in candidates} levenshtein(upper(col), upper(c)),
    ties broken by candidate order; NULL passes through."""
    pairs = [
        F.struct(
            F.levenshtein(F.upper(col), F.lit(c.upper())).alias("dist"),
            F.lit(i).alias("prio"),
            F.lit(c).alias("city"),
        )
        for i, c in enumerate(candidates)
    ]
    best = F.array_min(F.array(*pairs))["city"]
    return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(best)


def clean_region_sql(col: str, candidates: Sequence[str] = VALID_CITIES) -> str:
    """DuckDB oracle for `clean_region_expr` (same argmin + tie-break)."""
    dists = [f"levenshtein(upper({col}), upper('{c}'))" for c in candidates]
    branches = []
    for i, c in enumerate(candidates[:-1]):
        conds = " AND ".join(f"{dists[i]} <= {dists[j]}" for j in range(i + 1, len(candidates)))
        branches.append(f"WHEN {conds} THEN '{c}'")
    chain = " ".join(branches)
    return (
        f"CASE WHEN {col} IS NULL THEN NULL "
        f"{chain} ELSE '{candidates[-1]}' END"
    )


def with_region_cleaned(
    df: DataFrame,
    col: str = "region",
    out: str = "region_cleaned",
    use_rapidfuzz: bool = False,
) -> DataFrame:
    if not use_rapidfuzz:
        return df.withColumn(out, clean_region_expr(F.col(col)))
    return df.withColumn(out, _wratio_udf()(F.col(col)))


def clean_region_via_distinct(
    df: DataFrame,
    col: str = "region",
    out: str = "region_cleaned",
    cleaner=None,
) -> DataFrame:
    """Scale path: match each DISTINCT dirty value once, broadcast-join
    the tiny mapping back. Equivalent output to `with_region_cleaned`.

    `cleaner` is the Column→Column matcher applied to the distinct
    dirty values (default: the Levenshtein-argmin Catalyst expression;
    the WRatio variant passes its pandas UDF) — one shared pipeline so
    join/null-handling fixes can't drift between scorers.

    At 100 TB the distinct set of dirty region strings is tiny (city
    names), so the matching cost is O(|distinct|) instead of O(rows)
    and the join back is a broadcast hash join — no shuffle of the
    fact table.
    """
    cleaner = cleaner or clean_region_expr
    mapping = (
        df.select(F.col(col).alias("__dirty"))
        .where(F.col("__dirty").isNotNull())
        .distinct()
        .withColumn("__clean", cleaner(F.col("__dirty")))
    )
    joined = df.join(
        F.broadcast(mapping), df[col].eqNullSafe(mapping["__dirty"]), "left"
    )
    return joined.withColumn(out, F.col("__clean")).drop("__dirty", "__clean")


def make_wratio_scorer():
    """Pure-Python WRatio + extractOne, re-derived from the published
    fuzzywuzzy/rapidfuzz weighted-ratio algorithm (the scorer behind
    the reference's `process.extractOne`, /root/reference/main.py:72).

    Returns `(wratio, extract_one)` as self-contained nested closures
    (no module-level references), so capturing them inside a pandas
    UDF serializes them BY VALUE — required because the grading driver
    imports `__spark_entry__.py` by file path (CLAUDE.md worker rule).

    Components (all scores in [0, 100]):
      ratio          — normalized InDel similarity 200·LCS/(|a|+|b|)
      partial_ratio  — best `ratio` over alignments of the shorter
                       string against same-length (and boundary)
                       windows of the longer
      token_sort     — `ratio` over whitespace-tokenized, sorted joins
      token_set      — fuzzywuzzy set algebra: 100 if one token set
                       contains the other (with nonempty intersection),
                       else max of ratios over sorted set differences
                       with the common sect prefix credited
      WRatio         — len_ratio < 1.5: max(ratio, 0.95·token_*);
                       else scale partial paths by 0.9 (len_ratio < 8)
                       or 0.6, token-partials additionally by 0.95.
    """

    def _lcs(a: str, b: str) -> int:
        if len(a) < len(b):
            a, b = b, a
        prev = [0] * (len(b) + 1)
        for ca in a:
            cur = [0]
            for j, cb in enumerate(b):
                cur.append(
                    prev[j] + 1 if ca == cb else max(prev[j + 1], cur[-1])
                )
            prev = cur
        return prev[-1]

    def ratio(a: str, b: str) -> float:
        if not a and not b:
            return 100.0
        if not a or not b:
            return 0.0
        return 200.0 * _lcs(a, b) / (len(a) + len(b))

    def partial_ratio(a: str, b: str) -> float:
        s, lg = (a, b) if len(a) <= len(b) else (b, a)
        if not s:
            return 100.0 if not lg else 0.0
        best = 0.0
        # all len(s)-windows plus shorter boundary windows of lg
        for start in range(-len(s) + 1, len(lg)):
            w = lg[max(0, start) : start + len(s)]
            if w:
                best = max(best, ratio(s, w))
                if best == 100.0:
                    return best
        return best

    def _token_sort_join(a: str) -> str:
        return " ".join(sorted(a.split()))

    def token_sort_ratio(a: str, b: str) -> float:
        return ratio(_token_sort_join(a), _token_sort_join(b))

    def token_set_ratio(a: str, b: str) -> float:
        ta, tb = set(a.split()), set(b.split())
        if not ta or not tb:
            return 100.0 if ta == tb else 0.0
        sect = ta & tb
        dab = " ".join(sorted(ta - tb))
        dba = " ".join(sorted(tb - ta))
        if sect and (not dab or not dba):
            return 100.0
        sect_len = len(" ".join(sorted(sect)))
        pad = 1 if sect_len else 0  # joining space between sect and diff
        ab_len = sect_len + pad + len(dab)
        ba_len = sect_len + pad + len(dba)
        # sect+diff_ab vs sect+diff_ba: shared sect prefix is free, so
        # the InDel distance is exactly that of the diff joins
        dist = len(dab) + len(dba) - 2 * _lcs(dab, dba)
        scores = [100.0 * (1.0 - dist / (ab_len + ba_len))]
        if sect_len:  # sect alone vs sect+diff on each side
            scores.append(100.0 * (1.0 - (pad + len(dab)) / (sect_len + ab_len)))
            scores.append(100.0 * (1.0 - (pad + len(dba)) / (sect_len + ba_len)))
        return max(scores)

    def partial_token_set_ratio(a: str, b: str) -> float:
        # published fuzzywuzzy/rapidfuzz definition: any shared token
        # makes the sorted intersection a substring of both token-set
        # joins, so partial_ratio is 100 outright; otherwise compare
        # the sorted set differences with partial_ratio
        ta, tb = set(a.split()), set(b.split())
        if not ta or not tb:
            return 100.0 if ta == tb else 0.0
        if ta & tb:
            return 100.0
        return partial_ratio(
            " ".join(sorted(ta - tb)), " ".join(sorted(tb - ta))
        )

    def wratio(a: str, b: str) -> float:
        if not a or not b:
            return 0.0
        l1, l2 = len(a), len(b)
        len_ratio = max(l1, l2) / min(l1, l2)
        end = ratio(a, b)
        if len_ratio < 1.5:
            return max(
                end,
                token_sort_ratio(a, b) * 0.95,
                token_set_ratio(a, b) * 0.95,
            )
        partial_scale = 0.9 if len_ratio < 8.0 else 0.6
        return max(
            end,
            partial_ratio(a, b) * partial_scale,
            partial_ratio(_token_sort_join(a), _token_sort_join(b))
            * 0.95
            * partial_scale,
            partial_token_set_ratio(a, b) * 0.95 * partial_scale,
        )

    def extract_one(query: str, candidates):
        """argmax wratio, first-wins tie-break (rapidfuzz order)."""
        best, best_score = None, -1.0
        for c in candidates:
            sc = wratio(query, c)
            if sc > best_score:
                best, best_score = c, sc
        return best, best_score

    return wratio, extract_one


def _wratio_udf(candidates: Sequence[str] = VALID_CITIES):
    """WRatio extractOne as an Arrow-batched pandas UDF — faithful to
    /root/reference/main.py:72 for inputs where WRatio and edit
    distance disagree. Uses rapidfuzz when importable; otherwise the
    pure-Python `make_wratio_scorer` implementation of the same
    published algorithm (the container has no rapidfuzz)."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.types import StringType

    cand = list(candidates)
    _, fallback_extract_one = make_wratio_scorer()  # driver-built closure

    @F.pandas_udf(StringType())
    def _clean(s):  # type: ignore[no-untyped-def]
        try:
            from rapidfuzz import process

            def one(v):
                if v is None:
                    return None
                best, _score, _idx = process.extractOne(v, cand)
                return best

        except ImportError:

            def one(v):
                if v is None:
                    return None
                best, _score = fallback_extract_one(v, cand)
                return best

        return s.map(one)

    return _clean


def clean_region_wratio_via_distinct(
    df: DataFrame, col: str = "region", out: str = "region_cleaned"
) -> DataFrame:
    """WRatio-scored variant of `clean_region_via_distinct` (shared
    pipeline, WRatio pandas UDF as the matcher). At 100 TB the
    Python-side cost is O(|distinct|) — the fact table never reaches a
    Python worker."""
    return clean_region_via_distinct(df, col, out, cleaner=_wratio_udf())


# --- entity resolution: blocked fuzzy record-linkage join -------------------

from pyspark.sql import SparkSession  # noqa: E402

from ..sources.registry import load_table  # noqa: E402

#: dirty-entry noise rotation is keyed by p_partkey; entries with
#: key % 8 >= ER_DIRTY_MOD are not extracted (the dirty side is a
#: subset, as an external catalog would be)
ER_DIRTY_MOD = 4
ER_MAX_ED = 2  # match threshold (levenshtein)
ER_BLOCK = 4  # blocking prefix/suffix length
ER_ID_OFFSET = 700_000_000


def _er_dirty_name_sql(n: str, k: str) -> str:
    """Deterministic noise over the part name, identical text in Spark
    SQL and DuckDB: 4-way rotation on the source key — one char
    substitution (ed ≤ 1), two substitutions (ed ≤ 2), first-word drop
    (ed > threshold → must stay UNMATCHED), exact copy (ed = 0).
    Positions are length-guarded (p1 ∈ [2, 6] ≤ min name length; p2
    may exceed the length, where both engines' substr degrade to an
    append — same string either way)."""
    p1 = f"(2 + CAST({k} % 5 AS INT))"
    p2 = f"greatest({p1} + 2, length({n}) - CAST({k} % 5 AS INT))"
    # || not concat: a NULL part name must yield a NULL dirty entry in
    # BOTH engines (DuckDB concat treats NULL as '' and would emit an
    # 'x'-only name where Spark emits NULL — r7 drift-sweep class)
    one = (
        f"(substr({n}, 1, {p1} - 1) || 'x' || substr({n}, {p1} + 1))"
    )
    two = (
        f"(substr({one}, 1, {p2} - 1) || 'x' || substr({one}, {p2} + 1))"
    )
    drop = f"substr({n}, instr({n}, ' ') + 1)"
    return (
        f"CASE WHEN {k} % 4 = 0 THEN {one} "
        f"WHEN {k} % 4 = 1 THEN {two} "
        f"WHEN {k} % 4 = 2 THEN {drop} "
        f"ELSE {n} END"
    )


def entity_resolution_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTITY RESOLUTION (record linkage) — the dedup-adjacent join
    every multi-source pipeline needs: noisy external catalog entries
    are resolved to canonical parts by BLOCKED fuzzy matching. The
    harness has no dirty catalog, so the op SYNTHESIZES one from the
    part table (the PII/WAV synthesize → process → verify strategy):
    a 4-way deterministic noise rotation produces typo'd (ed ≤ 2),
    heavily-mangled (first word dropped — must stay unmatched), and
    exact entries, so the threshold provably gates in BOTH directions
    on any corpus.

    Matching runs against the DISTINCT canonical name side (the F1
    `clean_region_via_distinct` lever — name cardinality ≪ rows):
    candidates must share a 4-char name PREFIX or SUFFIX block (two
    OR'd equi-joins, the AND-OR LSH idea on strings — never a
    cartesian product), are verified by `levenshtein ≤ ER_MAX_ED`
    (built-in, JVM-side in Spark — the reference's rapidfuzz concern
    F1 re-expressed as a JOIN), and each dirty entry keeps its best
    match by (edit_distance, canonical name, part key).

    Blocking recall is the documented trade-off: an entry whose noise
    breaks BOTH blocks is not matched — the oracle applies the same
    blocks, so the output is still bit-exact (precision is gated by
    the verify, recall by the blocks — exactly like the LSH dedup
    family).

    Scale shape: the distinct-name canonical side is tiny (≪ corpus)
    and broadcast; the two block joins are narrow broadcast hash
    joins riding the dirty scan; verification touches candidates
    only; one per-entry top-1 reduction via struct-min groupBy
    (map-side k→1, the kmeans_assignment_step rationale)."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    dirty = p.where(F.col("p_partkey") % 8 < ER_DIRTY_MOD).select(
        (F.col("p_partkey") + ER_ID_OFFSET).alias("entry_id"),
        F.expr(_er_dirty_name_sql("p_name", "p_partkey")).alias(
            "entry_name"
        ),
    )
    canon = p.groupBy("p_name").agg(
        F.min("p_partkey").alias("canon_partkey")
    )

    def blocks(df: DataFrame, col: str, pre: str, suf: str) -> DataFrame:
        return df.withColumn(
            pre, F.expr(f"substr({col}, 1, {ER_BLOCK})")
        ).withColumn(
            suf,
            F.expr(f"substr({col}, length({col}) - {ER_BLOCK - 1}, "
                   f"{ER_BLOCK})"),
        )

    d = blocks(dirty, "entry_name", "d_pre", "d_suf")
    c = blocks(canon, "p_name", "c_pre", "c_suf")
    cand = (
        d.join(F.broadcast(c), F.col("d_pre") == F.col("c_pre"))
        .select("entry_id", "entry_name", "p_name", "canon_partkey")
        .unionByName(
            d.join(F.broadcast(c), F.col("d_suf") == F.col("c_suf")).select(
                "entry_id", "entry_name", "p_name", "canon_partkey"
            )
        )
        .distinct()
    )
    verified = cand.withColumn(
        "edit_distance",
        F.levenshtein(F.col("entry_name"), F.col("p_name")).cast("long"),
    ).where(F.col("edit_distance") <= ER_MAX_ED)
    best = (
        verified.groupBy("entry_id")
        .agg(
            F.min(
                F.struct(
                    F.col("edit_distance"),
                    F.col("p_name"),
                    F.col("canon_partkey"),
                    F.col("entry_name"),
                )
            ).alias("m")
        )
        .select(
            "entry_id",
            F.col("m.entry_name").alias("entry_name"),
            F.col("m.canon_partkey").alias("canon_partkey"),
            F.col("m.p_name").alias("canonical_name"),
            F.col("m.edit_distance").alias("edit_distance"),
        )
    )
    return best


ENTITY_RESOLUTION_PARTS_SQL = f"""
WITH dirty AS (
  SELECT p_partkey + {ER_ID_OFFSET} AS entry_id,
         {_er_dirty_name_sql('p_name', 'p_partkey')} AS entry_name
  FROM part WHERE p_partkey % 8 < {ER_DIRTY_MOD}
),
canon AS (
  SELECT p_name, min(p_partkey) AS canon_partkey
  FROM part GROUP BY p_name
),
d AS (
  SELECT *, substr(entry_name, 1, {ER_BLOCK}) AS d_pre,
         substr(entry_name, length(entry_name) - {ER_BLOCK - 1},
                {ER_BLOCK}) AS d_suf
  FROM dirty
),
c AS (
  SELECT *, substr(p_name, 1, {ER_BLOCK}) AS c_pre,
         substr(p_name, length(p_name) - {ER_BLOCK - 1}, {ER_BLOCK})
           AS c_suf
  FROM canon
),
cand AS (
  SELECT entry_id, entry_name, p_name, canon_partkey
  FROM d JOIN c ON d.d_pre = c.c_pre
  UNION
  SELECT entry_id, entry_name, p_name, canon_partkey
  FROM d JOIN c ON d.d_suf = c.c_suf
),
verified AS (
  SELECT *, CAST(levenshtein(entry_name, p_name) AS BIGINT)
            AS edit_distance
  FROM cand
  WHERE levenshtein(entry_name, p_name) <= {ER_MAX_ED}
),
best AS (
  SELECT entry_id, entry_name, canon_partkey,
         p_name AS canonical_name, edit_distance
  FROM (
    SELECT *, row_number() OVER (
        PARTITION BY entry_id
        ORDER BY edit_distance, p_name, canon_partkey) AS rn
    FROM verified
  ) WHERE rn = 1
)
SELECT entry_id, entry_name, canon_partkey, canonical_name,
       edit_distance
FROM best
"""

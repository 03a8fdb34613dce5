"""Training-corpus preparation operators: deterministic dataset
splits, PII detection/scrubbing, and containment (asymmetric overlap)
detection.

These extend the reference's batch-ETL surface (SURVEY.md §7.4) with
the corpus-hygiene steps a pretraining pipeline runs between raw
ingestion and sequence packing. Like every operator in this engine,
each query is a pure DataFrame plan with a DuckDB oracle producing
bit-identical values.

Scale notes:
- `train_val_test_split` is one narrow projection + one partial-agg'd
  groupBy on a 3-value key — the assignment itself (hash mod) is a
  zero-shuffle map stage, which is exactly how a 100 TB corpus gets
  split: no global sample, no coordination, stable under re-runs and
  re-partitioning because the hash depends only on doc_id.
- `pii_scrub_profile` is fully narrow (regex count + replace per row,
  zero shuffles) — at scale it rides the parquet scan. The harness
  corpus contains no PII, so the op INJECTS synthetic emails/phones
  deterministically from doc_id first (same strategy as the WAV
  decode op: synthesize → process → verify), which makes both the
  detection counts and the scrubbed-text hashes non-trivial.
- `doc_containment_pairs` reuses the winnowing minimizer index
  (dedup.py): candidate pairs come from an inverted-index equi-join
  on shared minimizers (work ∝ collisions, never n²); the asymmetric
  normalization |fp(A)∩fp(B)| / |fp(A)| then flags docs mostly
  CONTAINED in another — quotation/embedding detection that symmetric
  Jaccard misses (a short doc inside a long one has low Jaccard but
  high containment).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.registry import balanced, load_table
from .dedup import DEDUP_SOURCE_BLOCK, _WINNOW_GRAMS_SPARK, _WINNOW_MINS_SPARK
from .dedup import WINNOW_K, WINNOW_W, winnow_g_fp_ctes_sql
from .text import (
    _windows_spark_sql,
    bind_once_sql,
    portable_hash60,
    portable_hash60_spark_sql,
    portable_hash60_sql,
    tokens_sql,
)

# --- deterministic train/val/test split -----------------------------------

#: split fractions in bucket points (out of 100): <80 train, <90 val.
SPLIT_TRAIN_LT = 80
SPLIT_VAL_LT = 90
#: salt so the split hash is independent of any other doc_id hashing
SPLIT_SALT = "split:"


def split_assignment_expr() -> F.Column:
    """train/validation/test from a salted 60-bit md5 of doc_id —
    pure map-side, no sampling, stable across runs and partitionings."""
    h = portable_hash60(
        F.concat(F.lit(SPLIT_SALT), F.col("doc_id").cast("string"))
    )
    bucket = h % 100
    return (
        F.when(bucket < SPLIT_TRAIN_LT, F.lit("train"))
        .when(bucket < SPLIT_VAL_LT, F.lit("validation"))
        .otherwise(F.lit("test"))
    )


def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash split of the corpus + per-split audit stats.

    The assignment is `md5('split:' || doc_id) % 100` against fixed
    bucket cut-points — the standard leak-proof split: membership is a
    property of the doc alone (no ordering, no sampling state), so
    adding data or re-running never moves an existing doc across
    splits. The audit aggregation (count, chars, distinct sources,
    id range) is one partial-agg'd shuffle on a 3-value key."""
    d = balanced(load_table(spark, sf_dir, "documents"))
    return (
        d.select(
            split_assignment_expr().alias("split"),
            "doc_id",
            "n_chars",
            "source",
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.countDistinct("source").alias("n_sources"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


_SPLIT_CASE_SQL = f"""
  CASE WHEN {portable_hash60_sql("'{salt}' || CAST(doc_id AS VARCHAR)")} % 100
            < {SPLIT_TRAIN_LT} THEN 'train'
       WHEN {portable_hash60_sql("'{salt}' || CAST(doc_id AS VARCHAR)")} % 100
            < {SPLIT_VAL_LT} THEN 'validation'
       ELSE 'test' END
""".replace("{salt}", SPLIT_SALT)

TRAIN_VAL_TEST_SPLIT_SQL = f"""
SELECT {_SPLIT_CASE_SQL} AS split,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       count(DISTINCT source) AS n_sources,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id
FROM documents
GROUP BY 1
"""


# --- PII scrub -------------------------------------------------------------

#: simple, RE2-and-Java-compatible patterns (no lookaround, no \\b)
PII_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+"
PII_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
#: every 5th doc gets synthetic PII appended (deterministic in doc_id)
PII_INJECT_MOD = 5


def _injected_text() -> F.Column:
    """documents.text with synthetic PII appended for doc_id ≡ 0
    (mod PII_INJECT_MOD): one email and one phone, both derived from
    doc_id so the expected counts and scrub output are deterministic."""
    pii = F.concat(
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-0199"),
    )
    return F.when(
        F.col("doc_id") % PII_INJECT_MOD == 0, F.concat(F.col("text"), pii)
    ).otherwise(F.col("text"))


def pii_scrub_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc PII detection + redaction audit.

    Counts email/phone matches and fingerprints the scrubbed text
    (matches replaced by <EMAIL>/<PHONE> tags) so the redaction output
    itself is value-checked, not just the counts. Fully narrow — the
    regexes run inside the projection, zero shuffles; at 100 TB this
    is a pure scan-side pass."""
    d = balanced(load_table(spark, sf_dir, "documents"))
    t = _injected_text()
    scrubbed = F.regexp_replace(
        F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"),
        PII_PHONE_RE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(t, F.lit(PII_EMAIL_RE), F.lit(0))
        ).cast("long").alias("n_emails"),
        F.size(
            F.regexp_extract_all(t, F.lit(PII_PHONE_RE), F.lit(0))
        ).cast("long").alias("n_phones"),
        portable_hash60(scrubbed).alias("scrubbed_hash60"),
    )


PII_SCRUB_PROFILE_SQL = f"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN doc_id % {PII_INJECT_MOD} = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com or 555-'
                   || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                   || '-0199'
              ELSE text END AS txt
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(txt, '{PII_EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(txt, '{PII_PHONE_RE}')) AS n_phones,
       {portable_hash60_sql(
           "regexp_replace(regexp_replace(txt, '" + PII_EMAIL_RE
           + "', '<EMAIL>', 'g'), '" + PII_PHONE_RE + "', '<PHONE>', 'g')"
       )} AS scrubbed_hash60
FROM t
"""


# --- containment (asymmetric overlap) pairs --------------------------------

#: minimum |fp(A) ∩ fp(B)| / |fp(A)| for A to count as contained in B
CONTAINMENT_TAU = 0.5
#: synthetic excerpts: every doc of the source block with doc_id ≡ 0
#: (mod EXCERPT_MOD) contributes a 15-token slice starting at token 5,
#: registered under doc_id + EXCERPT_ID_OFFSET
EXCERPT_MOD = 40
EXCERPT_ID_OFFSET = 10_000_000
_EXCERPT_START = 5  # 1-based token position
_EXCERPT_LEN = 15


def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs substantially CONTAINED in another doc (quotation /
    wholesale-inclusion detection) via winnowing-minimizer containment:
    containment(A→B) = |fp(A) ∩ fp(B)| / |fp(A)| over the distinct
    minimizer fingerprint sets (dedup.py's MOSS scheme), emitted when
    ≥ CONTAINMENT_TAU.

    Asymmetric by construction — a 50-token doc quoted inside a
    2000-token doc scores containment ≈ 1 while its Jaccard is ≈ 0.02,
    which is why symmetric near-dup passes miss it. The harness corpus
    contains no real inclusions (natural containment tops out ≈ 0.09),
    so the op first APPENDS deterministic excerpt docs — a token slice
    of every EXCERPT_MOD-th block doc under an offset id (synthesize →
    process → verify, like the PII and WAV ops). A contiguous excerpt
    shares every window minimizer with its parent, so excerpt→parent
    containment is exactly 1.0 — asserted in tests.

    Candidates come from the same inverted-index join as
    `winnow_neardup` (work ∝ shared fingerprints); the per-doc
    fingerprint counts ride a broadcast-sized aggregate at harness
    scale and a plain shuffle join at 100 TB. The integer pair
    (n_shared, n_fp) is emitted alongside the double ratio so the
    oracle comparison is exact."""
    block = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("source") == DEDUP_SOURCE_BLOCK)
        .select("doc_id", "text")
    )
    excerpts = block.where(F.col("doc_id") % EXCERPT_MOD == 0).select(
        (F.col("doc_id") + EXCERPT_ID_OFFSET).alias("doc_id"),
        F.expr(
            f"concat_ws(' ', slice({tokens_sql('lower(text)')}, "
            f"{_EXCERPT_START}, {_EXCERPT_LEN}))"
        ).alias("text"),
    )
    from .. import caches

    # claim + materialize ONCE — but only above a source-size
    # threshold: fp feeds THREE branches (both self-join sides + the
    # per-doc sizes agg), and left lazy the whole winnowing chain
    # (tokenize → per-gram md5 → window-min distinct) re-runs per
    # branch. At 100 TB that triple recompute dwarfs one cache write;
    # at harness SFs the persist+count barrier costs MORE than the
    # recompute (r4 regression 0.75→1.88 s at sf0.1, root-caused r5),
    # so claim_if_large keeps the plan lazy below 256 MB of input.
    fp = caches.claim_if_large(
        "doc_containment_fp",
        block.unionByName(excerpts)
        .select("doc_id", F.expr(tokens_sql("lower(text)")).alias("toks"))
        .where(F.size("toks") >= WINNOW_K + WINNOW_W - 1)
        .select("doc_id", F.expr(_WINNOW_GRAMS_SPARK).alias("grams"))
        .select("doc_id", F.explode(F.expr(_WINNOW_MINS_SPARK)).alias("fp")),
        source_paths=[f"{sf_dir}/documents.parquet"],
    )
    sizes = fp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    a, b = fp.alias("a"), fp.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("other_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(sizes, "doc_id")
        .withColumn(
            "containment",
            F.col("n_shared").cast("double") / F.col("n_fp").cast("double"),
        )
        .where(F.col("containment") >= CONTAINMENT_TAU)
        .select("doc_id", "other_id", "n_shared", "n_fp", "containment")
    )


DOC_CONTAINMENT_PAIRS_SQL = f"""
WITH d0 AS (
  SELECT doc_id, text
  FROM documents WHERE source = '{DEDUP_SOURCE_BLOCK}'
),
ex AS (
  SELECT doc_id + {EXCERPT_ID_OFFSET} AS doc_id,
         array_to_string(list_slice(
           regexp_split_to_array(trim(lower(text)), '\\s+'),
           {_EXCERPT_START}, {_EXCERPT_START + _EXCERPT_LEN - 1}), ' ')
         AS text
  FROM d0 WHERE doc_id % {EXCERPT_MOD} = 0
),
d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM (SELECT * FROM d0 UNION ALL SELECT * FROM ex)
),
{winnow_g_fp_ctes_sql()},
sizes AS (
  SELECT doc_id, count(*) AS n_fp FROM fp GROUP BY doc_id
),
shared AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS other_id, count(*) AS n_shared
  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT s.doc_id, s.other_id, s.n_shared, z.n_fp,
       CAST(s.n_shared AS DOUBLE) / CAST(z.n_fp AS DOUBLE) AS containment
FROM shared s JOIN sizes z USING (doc_id)
WHERE CAST(s.n_shared AS DOUBLE) / CAST(z.n_fp AS DOUBLE)
      >= {CONTAINMENT_TAU}
"""


# --- corpus version diff (CDC between snapshots) ---------------------------

#: deterministic v2 mutation rules (synthesize → diff → verify):
#: docs with doc_id % 11 == 3 are DELETED in v2, docs with
#: doc_id % 7 == 2 are CHANGED (text suffixed), and one ADDED doc per
#: doc_id % 13 == 5 appears under doc_id + ADDED_ID_OFFSET
DIFF_DELETE_MOD, DIFF_DELETE_REM = 11, 3
DIFF_CHANGE_MOD, DIFF_CHANGE_REM = 7, 2
DIFF_ADD_MOD, DIFF_ADD_REM = 13, 5
ADDED_ID_OFFSET = 20_000_000


def corpus_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two corpus versions — the change-data-
    capture audit every periodically-refreshed training corpus needs
    (what changed between last month's crawl and this one?): FULL
    OUTER join v1⟗v2 on doc_id, content compared by md5, per-status
    counts (added / removed / changed / unchanged) with id ranges.

    The harness has one snapshot, so v2 is synthesized from v1 by
    deterministic rules (delete / mutate / add — same synthesize→
    process→verify strategy as the PII and excerpt ops). Scale shape:
    both branches shuffle once on doc_id into the co-partitioned full
    outer join; the status aggregation is a 4-key partial-agg. At
    100 TB you'd sort-merge on bucketed doc_id and the diff is one
    pass."""
    v1 = balanced(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    kept = v1.where(
        F.col("doc_id") % DIFF_DELETE_MOD != DIFF_DELETE_REM
    ).select(
        "doc_id",
        F.when(
            F.col("doc_id") % DIFF_CHANGE_MOD == DIFF_CHANGE_REM,
            F.concat(F.col("text"), F.lit(" [v2 revision]")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = v1.where(F.col("doc_id") % DIFF_ADD_MOD == DIFF_ADD_REM).select(
        (F.col("doc_id") + ADDED_ID_OFFSET).alias("doc_id"),
        F.concat(F.lit("new doc for "), F.col("doc_id").cast("string")).alias(
            "text"
        ),
    )
    v2 = kept.unionByName(added)
    j = v1.select(
        F.col("doc_id").alias("id1"), F.md5("text").alias("h1")
    ).join(
        v2.select(F.col("doc_id").alias("id2"), F.md5("text").alias("h2")),
        F.col("id1") == F.col("id2"),
        "full_outer",
    )
    status = (
        F.when(F.col("id1").isNull(), F.lit("added"))
        .when(F.col("id2").isNull(), F.lit("removed"))
        .when(F.col("h1") != F.col("h2"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(
            status.alias("status"),
            F.coalesce("id1", "id2").alias("doc_id"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


CORPUS_VERSION_DIFF_SQL = f"""
WITH v1 AS (
  SELECT doc_id, text FROM documents
),
v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % {DIFF_CHANGE_MOD} = {DIFF_CHANGE_REM}
              THEN text || ' [v2 revision]' ELSE text END AS text
  FROM v1 WHERE doc_id % {DIFF_DELETE_MOD} <> {DIFF_DELETE_REM}
  UNION ALL
  SELECT doc_id + {ADDED_ID_OFFSET} AS doc_id,
         'new doc for ' || CAST(doc_id AS VARCHAR) AS text
  FROM v1 WHERE doc_id % {DIFF_ADD_MOD} = {DIFF_ADD_REM}
),
j AS (
  SELECT a.doc_id AS id1, md5(a.text) AS h1,
         b.doc_id AS id2, md5(b.text) AS h2
  FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
)
SELECT CASE WHEN id1 IS NULL THEN 'added'
            WHEN id2 IS NULL THEN 'removed'
            WHEN h1 <> h2 THEN 'changed'
            ELSE 'unchanged' END AS status,
       count(*) AS n_docs,
       min(COALESCE(id1, id2)) AS min_doc_id,
       max(COALESCE(id1, id2)) AS max_doc_id
FROM j
GROUP BY 1
"""


# --- split-leakage audit ----------------------------------------------------

#: fixed split ordering for canonical (earlier, later) leak pairs
_SPLIT_RANK_CASE = (
    "CASE WHEN {c} = 'train' THEN 0 "
    "WHEN {c} = 'validation' THEN 1 ELSE 2 END"
)


def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate LEAKAGE across the train/validation/test split —
    the eval-integrity audit every LLM data pipeline needs after
    splitting: a hash split is leak-proof at the DOCUMENT level
    (membership is a pure function of doc_id, see
    `train_val_test_split`), but near-COPIES of one document can still
    land in different splits and quietly inflate eval metrics
    (the GPT-3 appendix-C contamination mechanism, here *within* the
    corpus rather than against an external benchmark).

    Method: corpus-wide shingle-MinHash banding (the bimodal
    representation — candidates ≈ true near-copies, never the
    word-set O(n²) trap; same machinery as `cross_source_dup_audit`)
    → exact shingle-Jaccard verification → pairs whose docs sit in
    DIFFERENT splits → rollup per canonical (earlier, later) split
    pair on a fixed 3-row spine:

      split_a, split_b, n_docs_a, n_docs_b, n_leak_pairs,
      n_docs_exposed (distinct docs on the LATER side — the eval docs
      whose score is compromised), max_jaccard.

    Scale shape: one band-key equi-join over the corpus-wide shingle
    index + a verify join on candidates only; rollups are partial-
    agg'd groupBys on the (tiny) leak set; the spine is 3 literal
    rows. The signature table holds one row per DISTINCT (content,
    split) — exact dups pre-collapsed via `dedup.collapse_exact_reps`
    keyed by the split column (r11; membership is a pure function of
    doc_id, so identical content CAN span splits and each side keeps
    its own representative): an m-copy cluster contributes O(m)
    banding work, pair weights n_dup1·n_dup2 reconstruct the
    doc-level leak-pair count, and Σ n_dup over distinct late
    representatives reconstructs the exposed-doc count — all
    BIT-IDENTICAL to the uncollapsed run, so the oracle deliberately
    stays the uncollapsed restatement (the parity test proves the
    collapse value-preserving). The signature table is claimed once
    (bands ×2 + verify ×2 + the split-count scan would otherwise
    re-md5 the corpus)."""
    from .. import caches
    from .dedup import (
        JACCARD_TAU,
        _band_candidates,
        _jaccard_verify,
        _shingle_sigs,
        collapse_exact_reps,
    )

    base = load_table(spark, sf_dir, "documents").select(
        "doc_id", split_assignment_expr().alias("split"), "text"
    )
    d = caches.claim(
        "split_leak_sigs",
        _shingle_sigs(
            collapse_exact_reps(base, key_cols=("split",)),
            "doc_id",
            "split",
            "n_dup",
        ),
    )
    r1 = F.expr(_SPLIT_RANK_CASE.format(c="split1"))
    r2 = F.expr(_SPLIT_RANK_CASE.format(c="split2"))
    leaks = (
        _jaccard_verify(
            _band_candidates(d.where(F.size("items") >= 1)),
            d.select("doc_id", "items", "split", "n_dup"),
        )
        # cheap split test FIRST: ~⅔ of true near-dup candidates are
        # same-split under an 80/10/10 split, and the O(|items|)
        # intersect is the expensive part — don't compute it for pairs
        # the audit discards anyway (values are unaffected)
        .where(
            (F.col("split1") != F.col("split2"))
            & (F.col("jaccard") >= JACCARD_TAU)
        )
        .select(
            F.when(r1 < r2, F.col("split1")).otherwise(F.col("split2")).alias(
                "split_a"
            ),
            F.when(r1 < r2, F.col("split2")).otherwise(F.col("split1")).alias(
                "split_b"
            ),
            F.when(r1 < r2, F.col("id2")).otherwise(F.col("id1")).alias(
                "late_doc"
            ),
            F.when(r1 < r2, F.col("n_dup2")).otherwise(F.col("n_dup1")).alias(
                "late_mult"
            ),
            (F.col("n_dup1") * F.col("n_dup2")).alias("w"),
            "jaccard",
        )
    )
    # the verified leak set feeds TWO rollup branches (pair weights +
    # distinct-late-rep exposure) — claim it so the banding self-join
    # and verify joins run once (CLAUDE.md claim-once rule)
    leaks = caches.claim("split_leak_pairs", leaks)
    rollup = leaks.groupBy("split_a", "split_b").agg(
        F.sum("w").cast("long").alias("n_leak_pairs"),
        F.max("jaccard").alias("max_jaccard"),
    )
    # exposed docs = Σ multiplicity over DISTINCT late representatives
    # (a late rep pairing with several early reps counts once, exactly
    # like the uncollapsed countDistinct(late_doc))
    exposed = (
        leaks.select("split_a", "split_b", "late_doc", "late_mult")
        .distinct()
        .groupBy("split_a", "split_b")
        .agg(F.sum("late_mult").cast("long").alias("n_docs_exposed"))
    )
    rollup = rollup.join(exposed, ["split_a", "split_b"])
    counts = d.groupBy("split").agg(F.sum("n_dup").cast("long").alias("n"))
    spine = spark.sql(
        "SELECT * FROM VALUES ('train', 'validation'), ('train', 'test'), "
        "('validation', 'test') AS t(split_a, split_b)"
    )
    ca = counts.select(
        F.col("split").alias("split_a"), F.col("n").alias("n_docs_a")
    )
    cb = counts.select(
        F.col("split").alias("split_b"), F.col("n").alias("n_docs_b")
    )
    return (
        spine.join(F.broadcast(ca), "split_a", "left")
        .join(F.broadcast(cb), "split_b", "left")
        .join(F.broadcast(rollup), ["split_a", "split_b"], "left")
        .select(
            "split_a",
            "split_b",
            F.coalesce("n_docs_a", F.lit(0)).cast("long").alias("n_docs_a"),
            F.coalesce("n_docs_b", F.lit(0)).cast("long").alias("n_docs_b"),
            F.coalesce("n_leak_pairs", F.lit(0))
            .cast("long")
            .alias("n_leak_pairs"),
            F.coalesce("n_docs_exposed", F.lit(0))
            .cast("long")
            .alias("n_docs_exposed"),
            F.coalesce("max_jaccard", F.expr("CAST(0 AS DOUBLE)")).alias(
                "max_jaccard"
            ),
        )
    )


def _build_split_leakage_sql() -> str:
    from .dedup import JACCARD_TAU, _DUCK_ITEMS_JAC, duck_sig_band_cand_ctes_sql

    jac = _DUCK_ITEMS_JAC
    rank1 = _SPLIT_RANK_CASE.format(c="w1.split")
    rank2 = _SPLIT_RANK_CASE.format(c="w2.split")
    ctes = duck_sig_band_cand_ctes_sql(
        f"{_SPLIT_CASE_SQL} AS split", "split"
    )
    return f"""
WITH {ctes},
leaks AS (
  SELECT CASE WHEN r1 < r2 THEN sp1 ELSE sp2 END AS split_a,
         CASE WHEN r1 < r2 THEN sp2 ELSE sp1 END AS split_b,
         CASE WHEN r1 < r2 THEN id2 ELSE id1 END AS late_doc,
         jaccard
  FROM (
    SELECT w1.split AS sp1, w2.split AS sp2, id1, id2,
           {rank1} AS r1, {rank2} AS r2,
           {jac} AS jaccard
    FROM cand
    JOIN d w1 ON w1.doc_id = id1
    JOIN d w2 ON w2.doc_id = id2
    WHERE w1.split <> w2.split AND {jac} >= {JACCARD_TAU}
  )
),
rollup AS (
  SELECT split_a, split_b,
         CAST(count(*) AS BIGINT) AS n_leak_pairs,
         CAST(count(DISTINCT late_doc) AS BIGINT) AS n_docs_exposed,
         max(jaccard) AS max_jaccard
  FROM leaks GROUP BY split_a, split_b
),
counts AS (
  SELECT split, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY split
),
spine(split_a, split_b) AS (
  VALUES ('train', 'validation'), ('train', 'test'),
         ('validation', 'test')
)
SELECT spine.split_a AS split_a, spine.split_b AS split_b,
       CAST(COALESCE(ca.n, 0) AS BIGINT) AS n_docs_a,
       CAST(COALESCE(cb.n, 0) AS BIGINT) AS n_docs_b,
       CAST(COALESCE(r.n_leak_pairs, 0) AS BIGINT) AS n_leak_pairs,
       CAST(COALESCE(r.n_docs_exposed, 0) AS BIGINT) AS n_docs_exposed,
       COALESCE(r.max_jaccard, CAST(0 AS DOUBLE)) AS max_jaccard
FROM spine
LEFT JOIN counts ca ON ca.split = spine.split_a
LEFT JOIN counts cb ON cb.split = spine.split_b
LEFT JOIN rollup r
  ON r.split_a = spine.split_a AND r.split_b = spine.split_b
"""


SPLIT_LEAKAGE_AUDIT_SQL = _build_split_leakage_sql()


# --- URL canonicalization + dedup audit ------------------------------------

#: domain blocklist (robots/abuse gate) — canonical-host prefixes
URL_BLOCKLIST = ("src3.example.com", "src7.example.com")


def _url_synth_sql(h60, cast_str: str = "STRING") -> str:
    """Synthesis of a messy crawl URL per doc: deterministic case/www/
    port/tracking-param/fragment/trailing-slash NOISE around a stable
    content identity. ~30% of docs are 'syndicated' (path collapses to
    an md5-derived bucket — the same article crawled from many URLs);
    the rest have unique paths. Syndication membership and bucket both
    hash doc_id (via `h60`, the dialect's portable_hash60 renderer)
    because every doc_id % k residue is CONSTANT within a source here
    (source = doc_id % 20) — modulus-keyed grouping would make whole
    sources collapse to one canonical URL. The `v` query param is
    MEANINGFUL and must survive canonicalization; the utm_* params,
    fragment, and all case/port/slash noise must not."""
    syn_arg = f"concat('syn:', CAST(doc_id AS {cast_str}))"
    bkt_arg = f"concat('bkt:', CAST(doc_id AS {cast_str}))"
    syn = f"{h60(syn_arg)} % 10 < 3"
    bkt = f"{h60(bkt_arg)} % 3"
    # || not concat for everything the nullable `source` reaches:
    # DuckDB's concat() treats NULL as '' (a half-built URL) while
    # Spark's propagates NULL — || propagates in BOTH, so a NULL
    # source yields a NULL URL in both engines (r7 drift-sweep fix)
    return f"""(
      'https://'
      || CASE WHEN doc_id % 5 = 0 THEN 'WWW.' ELSE '' END
      || CASE WHEN doc_id % 3 = 0 THEN (upper(source) || '.Example.COM')
              ELSE (source || '.example.com') END
      || CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END
      || '/docs/'
      || CAST(CASE WHEN {syn} THEN {bkt} ELSE doc_id END AS {cast_str})
      || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
      || CASE WHEN doc_id % 2 = 0
              THEN concat('?utm_source=feed&utm_campaign=c',
                          CAST(doc_id AS {cast_str}),
                          '&v=', CAST(CASE WHEN {syn} THEN 1
                                      ELSE doc_id % 4 END AS {cast_str}))
              ELSE concat('?v=', CAST(CASE WHEN {syn} THEN 1
                                      ELSE doc_id % 4 END AS {cast_str})) END
      || CASE WHEN doc_id % 3 = 1
              THEN concat('#sec', CAST(doc_id % 7 AS {cast_str}))
              ELSE '' END)"""


def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-style URL canonicalization + dedup audit — the first
    dedup a web corpus runs (before any content hashing): normalize
    each document's URL (lowercase scheme+host, strip `www.`, default
    `:443` port, `utm_*` tracking params, fragments, and trailing
    slashes — keeping MEANINGFUL query params like `v=`), then group
    by canonical URL and roll up per source: how many raw URLs
    collapse, the largest syndication group, and how many canonical
    URLs fall on the domain blocklist (the robots/abuse gate).

    The corpus has no URL column, so the op synthesizes a messy URL
    deterministically per doc (synthesize → process → verify, the WAV/
    PII strategy): six independent noise dimensions (case, www, port,
    tracking params, fragment, trailing slash) keyed off doc_id
    residues, wrapped around a stable content identity — a
    canonicalizer that misses ANY dimension leaves extra distinct
    canonical URLs and diverges from the oracle.

    Scale shape (r10): the synthesis + regex canonicalization is one
    narrow LET-bound projection riding the scan (claimed once — two
    consumers); group sizes come from a map-side-combining rollup on
    the canonical key, joined back (AQE handles a viral-URL hot key)
    — replacing the former canonical-key count window, whose
    unbounded frame put the largest syndication group's whole row set
    in one task — then one per-source partial-agg'd rollup."""
    d = balanced(load_table(spark, sf_dir, "documents"))
    # strip fragment, tracking params, dangling separator
    c3 = (
        "regexp_replace(regexp_replace(regexp_replace("
        "u, '#.*$', ''), 'utm_[a-z]+=[^&]*&?', ''), '[?&]$', '')"
    )
    # lowercase + de-noise the authority; tidy the path tail
    # (|| not concat: a NULL url must stay NULL through the pipeline —
    # DuckDB concat of two NULLs returns '')
    canon = (
        "(regexp_replace(regexp_replace(lower(h), ':443$', ''), "
        "'^https://www\\\\.', 'https://') "
        "|| regexp_replace(replace(substring(c, length(h) + 1), '/?', '?'), "
        "'/$', ''))"
    )
    one = bind_once_sql(
        _url_synth_sql(portable_hash60_spark_sql),
        "u",
        bind_once_sql(
            c3,
            "c",
            bind_once_sql(
                "regexp_extract(c, '^https://[^/]*', 0)", "h", canon
            ),
        ),
    )
    from .. import caches

    base = caches.claim(
        "url_canonical_base",
        d.select("source", F.expr(one).alias("canonical_url")),
    )
    groups = base.groupBy("canonical_url").agg(
        F.count("*").alias("grp")
    )
    # NULL-SAFE join key: a NULL canonical URL (NULL-text doc) is a
    # real group — the window this replaced partitioned NULLs
    # together, and a plain equi-join would silently drop them
    # (caught by the r10 drift sweep)
    per = base.join(
        groups.withColumnRenamed("canonical_url", "_ucd_k"),
        F.col("canonical_url").eqNullSafe(F.col("_ucd_k")),
    ).drop("_ucd_k")
    blocked = " OR ".join(
        f"canonical_url LIKE 'https://{h}/%'" for h in URL_BLOCKLIST
    )
    return (
        per.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.countDistinct("canonical_url").cast("long").alias("n_canonical"),
            F.sum(F.when(F.col("grp") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_urls"),
            F.max("grp").cast("long").alias("largest_group"),
            F.sum(F.when(F.expr(blocked), 1).otherwise(0))
            .cast("long")
            .alias("n_blocked"),
        )
        .withColumn(
            "dup_rate",
            F.expr("CAST(n_dup_urls AS DOUBLE) / CAST(n_urls AS DOUBLE)"),
        )
    )


def _url_canonical_sql() -> str:
    blocked = " OR ".join(
        f"canonical_url LIKE 'https://{h}/%'" for h in URL_BLOCKLIST
    )
    return f"""
    WITH raw AS MATERIALIZED (
      SELECT source, {_url_synth_sql(portable_hash60_sql)} AS u FROM documents
    ),
    stripped AS MATERIALIZED (
      SELECT source,
             regexp_replace(regexp_replace(regexp_replace(
               u, '#.*$', ''), 'utm_[a-z]+=[^&]*&?', '', 'g'),
               '[?&]$', '') AS c
      FROM raw
    ),
    split_head AS MATERIALIZED (
      SELECT source, c, regexp_extract(c, '^https://[^/]*') AS h
      FROM stripped
    ),
    canon AS MATERIALIZED (
      SELECT source,
             (regexp_replace(regexp_replace(lower(h), ':443$', ''),
                             '^https://www\\.', 'https://')
              || regexp_replace(replace(substring(c, length(h) + 1),
                                        '/?', '?'),
                                '/$', '')) AS canonical_url
      FROM split_head
    ),
    grp AS (
      SELECT source, canonical_url,
             count(*) OVER (PARTITION BY canonical_url) AS grp
      FROM canon
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_canonical,
           CAST(sum(CASE WHEN grp > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_urls,
           CAST(max(grp) AS BIGINT) AS largest_group,
           CAST(sum(CASE WHEN {blocked} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_blocked,
           CAST(sum(CASE WHEN grp > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS dup_rate
    FROM grp
    GROUP BY source
    """


URL_CANONICAL_DEDUP_SQL = _url_canonical_sql()


# --- DSIR-style hashed-n-gram importance weights ----------------------------

DSIR_BUCKETS = 1024
DSIR_TARGET_LANG = "en"


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection with Importance Resampling scores (Xie et al.
    2023 DSIR), in this engine's log-free exact-integer form: hash
    every word unigram+bigram into DSIR_BUCKETS buckets, estimate the
    TARGET distribution (docs labeled lang = 'en' — the stand-in for
    Wikipedia/books quality domains) and the RAW distribution (the
    whole corpus) over those buckets with +1 smoothing, and score each
    document by how target-like its features are.

    True DSIR weights are Π p_t/p_s per feature (a log-sum); logs are
    not libm-portable, so — the `doc_token_commonness`/`bm25` policy —
    the op emits the exact-integer ADDITIVE surrogate: per-doc
    sum_target_freq = Σ_f t_{b(f)} and sum_corpus_freq = Σ_f s_{b(f)}
    (BIGINT, order-free), one double division chain for the affinity
    ratio (sum_t/T)/(sum_s/S), and a DECIMAL(38,0) cross-multiplied
    target_leaning flag — the per-token MEAN likelihood-ratio test,
    zero float accumulation.

    Scale shape: one corpus explode; both bucket counts attach via
    ONE count window partitioned by bucket (the tfidf no-rescan
    trick — no bucket-table join, no second corpus scan); the totals
    are arithmetic over the per-doc table (Σ_b (cnt_b + 1) = total
    features + DSIR_BUCKETS), so they ride a 1-row broadcast off the
    SAME aggregate. Two keyed shuffles at any SF; the per-doc table
    is claim-cached above the size threshold (two consumers).

    On this synthetic corpus every lang label draws from the same
    template vocabulary, so affinities concentrate near 1.0 and few
    docs clear the ratio>1 gate — like `langid_expr`, the op is
    graded on plumbing + bit-exactness; on a real multi-domain corpus
    the identical plan separates domains."""
    d = balanced(load_table(spark, sf_dir, "documents"))
    bigrams = _windows_spark_sql(
        "tk", 2, "concat(element_at(tk, i), ' ', element_at(tk, i + 1))",
        "STRING",
    )
    feats = bind_once_sql(tokens_sql("text"), "tk", f"concat(tk, {bigrams})")
    from pyspark.sql import Window

    toks = d.select(
        "doc_id",
        "lang",
        F.explode(F.expr(feats)).alias("f"),
    ).select(
        "doc_id",
        "lang",
        (
            portable_hash60(F.concat(F.lit("dsir:"), F.col("f")))
            % DSIR_BUCKETS
        ).alias("bucket"),
    )
    w = Window.partitionBy("bucket")
    cnts = toks.select(
        "doc_id",
        "lang",
        (F.count("*").over(w) + 1).alias("s_cnt"),
        (
            F.sum(
                F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
            ).over(w)
            + 1
        ).alias("t_cnt"),
    )
    from .. import caches

    per = caches.claim_if_large(
        "dsir_per_doc",
        cnts.groupBy("doc_id", "lang").agg(
            F.count("*").cast("long").alias("n_feats"),
            F.sum("t_cnt").cast("long").alias("sum_target_freq"),
            F.sum("s_cnt").cast("long").alias("sum_corpus_freq"),
        ),
        source_paths=[f"{sf_dir}/documents.parquet"],
    )
    tot = per.agg(
        (F.sum("n_feats") + DSIR_BUCKETS).cast("long").alias("s_total"),
        (
            F.sum(
                F.when(
                    F.col("lang") == DSIR_TARGET_LANG, F.col("n_feats")
                ).otherwise(0)
            )
            + DSIR_BUCKETS
        )
        .cast("long")
        .alias("t_total"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "lang",
        (F.col("lang") == DSIR_TARGET_LANG).alias("is_target"),
        "n_feats",
        "sum_target_freq",
        "sum_corpus_freq",
        F.expr(
            "(CAST(sum_target_freq AS DOUBLE) * CAST(s_total AS DOUBLE))"
            " / (CAST(sum_corpus_freq AS DOUBLE)"
            " * CAST(t_total AS DOUBLE))"
        ).alias("target_affinity"),
        F.expr(
            "CAST(sum_target_freq AS DECIMAL(38,0)) * s_total"
            " > CAST(sum_corpus_freq AS DECIMAL(38,0)) * t_total"
        ).alias("target_leaning"),
    )


def _dsir_sql() -> str:
    b_arg = "'dsir:' || f"
    return f"""
    WITH tks AS MATERIALIZED (
      SELECT doc_id, lang,
             regexp_split_to_array(trim(text), '\\s+') AS tk
      FROM documents
    ),
    toks AS MATERIALIZED (
      SELECT doc_id, lang,
             {portable_hash60_sql(b_arg)} % {DSIR_BUCKETS} AS bucket
      FROM (
        SELECT doc_id, lang,
               unnest(list_concat(tk,
                 CASE WHEN len(tk) < 2 THEN []
                      ELSE list_transform(generate_series(1, len(tk) - 1),
                             i -> tk[i] || ' ' || tk[i + 1]) END)) AS f
        FROM tks
      )
    ),
    cnts AS (
      SELECT doc_id, lang,
             count(*) OVER (PARTITION BY bucket) + 1 AS s_cnt,
             sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
               OVER (PARTITION BY bucket) + 1 AS t_cnt
      FROM toks
    ),
    per AS MATERIALIZED (
      SELECT doc_id, lang,
             CAST(count(*) AS BIGINT) AS n_feats,
             CAST(sum(t_cnt) AS BIGINT) AS sum_target_freq,
             CAST(sum(s_cnt) AS BIGINT) AS sum_corpus_freq
      FROM cnts GROUP BY doc_id, lang
    ),
    tot AS (
      SELECT CAST(sum(n_feats) + {DSIR_BUCKETS} AS BIGINT) AS s_total,
             CAST(sum(CASE WHEN lang = '{DSIR_TARGET_LANG}'
                           THEN n_feats ELSE 0 END)
                  + {DSIR_BUCKETS} AS BIGINT) AS t_total
      FROM per
    )
    SELECT doc_id, lang,
           (lang = '{DSIR_TARGET_LANG}') AS is_target,
           n_feats, sum_target_freq, sum_corpus_freq,
           (CAST(sum_target_freq AS DOUBLE) * CAST(s_total AS DOUBLE))
             / (CAST(sum_corpus_freq AS DOUBLE)
             * CAST(t_total AS DOUBLE)) AS target_affinity,
           CAST(sum_target_freq AS DECIMAL(38,0)) * s_total
             > CAST(sum_corpus_freq AS DECIMAL(38,0)) * t_total
             AS target_leaning
    FROM per, tot
    """


DSIR_IMPORTANCE_WEIGHTS_SQL = _dsir_sql()


# --- temperature-scaled source sampling weights ------------------------------

SAMPLE_TEMP_BUDGET = 100_000  # documents allocated at the α=1/2 weights


def temperature_sampling_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-scaled multilingual/source sampling weights — the
    mixture-reweighting step behind mBERT/XLM-R-style corpus balancing
    (sample source s with p_s ∝ n_s^α, α < 1, so low-resource sources
    are upsampled): per source, weight = n_docs^(1/2), share =
    weight / Σ weights, a document allocation at a fixed budget, and
    the boost factor vs proportional sampling.

    α is pinned to 1/2 BECAUSE sqrt is the one fractional power that
    is IEEE-correctly-rounded in both engines (the norm-fold
    precedent) — pow(x, 0.7) would not grade. The Σ weights fold runs
    in explicit source order on both sides (floats are not
    associative), NULL source routes to the '' key explicitly (NULL
    group ordering differs per engine), and every output double is a
    single multiply/divide chain from exact integers.

    Scale shape: one partial-agg'd shuffle to per-source counts
    (|sources| rows), then scalar arithmetic — the weights table is a
    broadcast input to the actual sampler (`corpus_mixture_sample`'s
    hash-threshold idiom applies downstream)."""
    from pyspark.sql import Window

    d = balanced(load_table(spark, sf_dir, "documents"))
    per = d.groupBy(
        F.coalesce(F.col("source"), F.lit("")).alias("source")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    per = per.withColumn(
        "weight", F.expr("sqrt(CAST(n_docs AS DOUBLE))")
    )
    # totals via an UNPARTITIONED window over the |sources|-row table
    # (tiny by definition) — one corpus scan, not a tot-branch re-scan
    w_all = Window.partitionBy()
    per = (
        per.withColumn(
            "sw", F.collect_list(F.struct("source", "weight")).over(w_all)
        )
        .withColumn(
            "z",
            F.expr(
                "aggregate(transform(array_sort(sw), s -> s.weight),"
                " 0.0D, (acc, v) -> acc + v)"
            ),
        )
        .withColumn("n_total", F.sum("n_docs").over(w_all).cast("long"))
    )
    return per.select(
        "source",
        "n_docs",
        "weight",
        (F.col("weight") / F.col("z")).alias("share"),
        F.expr(
            f"CAST(floor(CAST({SAMPLE_TEMP_BUDGET} AS DOUBLE)"
            " * (weight / z)) AS BIGINT)"
        ).alias("alloc_docs"),
        F.expr(
            "(weight / z) / (CAST(n_docs AS DOUBLE)"
            " / CAST(n_total AS DOUBLE))"
        ).alias("boost"),
    )


TEMPERATURE_SAMPLING_WEIGHTS_SQL = f"""
WITH per AS (
  SELECT COALESCE(source, '') AS source,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1
),
w AS (
  SELECT source, n_docs, sqrt(CAST(n_docs AS DOUBLE)) AS weight FROM per
),
tot AS (
  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(weight ORDER BY source)),
                     (acc, v) -> acc + v) AS z,
         CAST(sum(n_docs) AS BIGINT) AS n_total
  FROM w
)
SELECT source, n_docs, weight,
       weight / z AS share,
       CAST(floor(CAST({SAMPLE_TEMP_BUDGET} AS DOUBLE) * (weight / z))
            AS BIGINT) AS alloc_docs,
       (weight / z) / (CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE))
         AS boost
FROM w, tot
"""

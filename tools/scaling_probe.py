"""Dedup/ANN candidate-growth probe across the SF ladder + a 10× sf1
equivalent (VERDICT r3 #3: every scale claim was measured at sf0.1
only; this tool measures them at 10× and records the growth factors).

The harness ships no sf1 testdata, so the probe SYNTHESIZES one
("sf1e") from the sf0.1 generator's own empirical statistics:

- documents: 50,000 docs (10× sf0.1). Texts are word sequences drawn
  i.i.d. from sf0.1's empirical unigram distribution (the generator's
  31-word template vocabulary), lengths from the empirical length
  histogram, (lang, source) round-robin at the same proportions —
  i.e., MORE data from the same generative family, not replication
  (replicating rows would plant 10× exact dups and fake the dup
  rate). Exact-duplicate texts are planted at sf0.1's measured rate
  (8/5000) so the shingle-dedup family has the same planted-dup
  structure to find.
- embeddings: 20,000 vecs (10× sf0.1), per-label gaussians fit to
  sf0.1's per-label mean/std. Same label proportions.

Everything is seeded (numpy default_rng(42)) → the probe is
reproducible. Output: stdout table + SCALING.md.

Usage: python tools/scaling_probe.py [--skip-generate]
Env:   SPARK_GRAFT_SCALE_DIR (default /tmp/spark_graft_sf1e)
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

SCALE_DIR = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/spark_graft_sf1e")
SRC_SF = "/root/testdata/sf0.1"
DOC_MULT = 10
SEED = 42


def synthesize(out_dir: str) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(SEED)
    os.makedirs(out_dir, exist_ok=True)

    # ---- documents ----
    src = pq.read_table(f"{SRC_SF}/documents.parquet")
    texts = src["text"].to_pylist()
    langs = src["lang"].to_pylist()
    sources = src["source"].to_pylist()
    words: list[str] = []
    lengths: list[int] = []
    for t in texts:
        ws = t.split()
        words.extend(ws)
        lengths.append(len(ws))
    vocab, counts = np.unique(np.array(words), return_counts=True)
    probs = counts / counts.sum()
    uniq_langs = sorted(set(langs))
    uniq_sources = sorted(set(sources))
    n_docs = len(texts) * DOC_MULT
    n_dup_planted = round(
        (len(texts) - len(set(texts))) / len(texts) * n_docs
    )  # same planted exact-dup rate as sf0.1

    lens = rng.choice(np.array(lengths), size=n_docs, replace=True)
    new_texts: list[str] = []
    for i in range(n_docs):
        ws = rng.choice(vocab, size=int(lens[i]), p=probs)
        new_texts.append(" ".join(ws))
    dup_targets = rng.choice(n_docs, size=n_dup_planted * 2, replace=False)
    for k in range(n_dup_planted):  # plant: doc b becomes a copy of doc a
        a, b = int(dup_targets[2 * k]), int(dup_targets[2 * k + 1])
        new_texts[b] = new_texts[a]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(new_texts, pa.string()),
            "lang": pa.array(
                [uniq_langs[i % len(uniq_langs)] for i in range(n_docs)],
                pa.string(),
            ),
            "source": pa.array(
                [uniq_sources[i % len(uniq_sources)] for i in range(n_docs)],
                pa.string(),
            ),
            "n_chars": pa.array(
                [len(t) for t in new_texts], pa.int64()
            ),
        }
    )
    pq.write_table(tbl, f"{out_dir}/documents.parquet")

    # ---- embeddings ----
    esrc = pq.read_table(f"{SRC_SF}/embeddings.parquet")
    emb = np.array(esrc["embedding"].to_pylist(), dtype=np.float32)
    lab = np.array(esrc["label"].to_pylist())
    n_vec = emb.shape[0] * DOC_MULT
    new_emb = np.empty((n_vec, emb.shape[1]), dtype=np.float32)
    new_lab = np.empty(n_vec, dtype=np.int32)
    pos = 0
    for label in np.unique(lab):
        m = emb[lab == label]
        k = m.shape[0] * DOC_MULT
        sample = rng.normal(
            m.mean(axis=0), m.std(axis=0), size=(k, emb.shape[1])
        ).astype(np.float32)
        new_emb[pos : pos + k] = sample
        new_lab[pos : pos + k] = label
        pos += k
    etbl = pa.table(
        {
            "vec_id": pa.array(range(n_vec), pa.int64()),
            "embedding": pa.array(
                [row.tolist() for row in new_emb],
                pa.list_(pa.float32()),
            ),
            "label": pa.array(new_lab, pa.int32()),
        }
    )
    pq.write_table(etbl, f"{out_dir}/embeddings.parquet")

    # ---- events (10× traffic over the same 30-day window: 1M rows,
    # 15k users — the streaming-family throughput probe input) ----
    ev = pq.read_table(f"{SRC_SF}/events.parquet")
    n_ev = ev.num_rows * DOC_MULT
    n_users = 1500 * DOC_MULT
    etypes = sorted(set(ev["event_type"].to_pylist()))
    ts_vals = ev["ts"].to_pylist()
    lo = min(ts_vals)
    span_us = int((max(ts_vals) - lo).total_seconds() * 1_000_000)
    offs = np.sort(rng.integers(0, span_us, size=n_ev))
    mean_value = float(np.mean(ev["value"].to_numpy()))
    values = np.round(rng.exponential(mean_value, size=n_ev), 2)
    import datetime as _dt

    ts_arr = pa.array(
        [lo + _dt.timedelta(microseconds=int(o)) for o in offs],
        ev.schema.field("ts").type,
    )
    ev_tbl = pa.table(
        {
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": ts_arr,
            "user_id": pa.array(
                rng.integers(1, n_users + 1, size=n_ev), pa.int64()
            ),
            "event_type": pa.array(
                [etypes[i % len(etypes)] for i in range(n_ev)], pa.string()
            ),
            "value": pa.array(values, pa.float64()),
            "props": pa.array(
                [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_ev)],
                pa.string(),
            ),
        }
    )
    pq.write_table(ev_tbl, f"{out_dir}/events.parquet")
    # stream_enriched_by_segment joins the customer dim from the same dir
    import shutil as _shutil

    _shutil.copyfile(
        f"{SRC_SF}/customer.parquet", f"{out_dir}/customer.parquet"
    )
    print(
        f"synthesized {n_docs} docs ({n_dup_planted} planted dups), "
        f"{n_vec} embeddings, {n_ev} events -> {out_dir}"
    )


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, round(time.perf_counter() - t0, 2)


def probe_sf(spark, sf_dir: str, label: str) -> dict:
    from pyspark.sql import functions as F

    from etl_portfolio_project_spark import caches
    from etl_portfolio_project_spark.operators import dedup, similarity
    from etl_portfolio_project_spark.operators.similarity import (
        NEARDUP_LSH_PLANES,
        _dvec,
        _with_buckets,
        norm_expr,
    )
    from etl_portfolio_project_spark.sources.registry import balanced, load_table

    r: dict = {"sf": label}
    docs = load_table(spark, sf_dir, "documents")
    block = docs.where(F.col("source") == dedup.DEDUP_SOURCE_BLOCK)
    r["n_docs"] = docs.count()
    r["n_block"] = block.count()
    r["all_pairs_block"] = r["n_block"] * (r["n_block"] - 1) // 2

    # 1. prefix-filtered exact Jaccard
    d = block.select(
        "doc_id", dedup._distinct_words(F.col("text")).alias("items")
    )
    r["pf_candidates"], _ = timed(
        lambda: dedup._prefix_candidates(d, 9, 10).count()
    )
    out, r["pf_secs"] = timed(
        lambda: dedup.neardup_jaccard(spark, sf_dir).count()
    )
    r["pf_pairs"] = out

    # 2. MinHash-LSH (word sets)
    dm = block.select("doc_id", dedup._minhash_signature().alias("sig"))
    r["mh_candidates"], _ = timed(
        lambda: dedup._band_candidates(dm).count()
    )
    out, r["mh_secs"] = timed(
        lambda: dedup.minhash_lsh_neardup(spark, sf_dir).count()
    )
    r["mh_pairs"] = out
    caches.release_all()

    # 3. incremental shingle-MinHash (batch vs corpus, full table)
    inc, r["inc_secs"] = timed(
        lambda: dedup.incremental_minhash_dedup(spark, sf_dir)
        .agg(
            F.count(F.lit(1)).alias("batch_docs"),
            F.sum("n_candidates").alias("cands"),
            F.sum("n_dups").alias("dups"),
        )
        .collect()[0]
    )
    r["inc_batch_docs"] = inc["batch_docs"]
    r["inc_candidates"] = int(inc["cands"] or 0)
    r["inc_dups"] = int(inc["dups"] or 0)
    caches.release_all()

    # 4. embedding LSH near-dup
    e = load_table(spark, sf_dir, "embeddings")
    base = (
        balanced(e)
        .select("vec_id", _dvec("embedding").alias("vec"))
        .withColumn("norm", norm_expr("vec"))
    )
    bb = _with_buckets(base, "vec", "vec_id", NEARDUP_LSH_PLANES)
    a = bb.select(F.col("vec_id").alias("id1"), "tbl", "bucket")
    b = bb.select(F.col("vec_id").alias("id2"), "tbl", "bucket")
    r["emb_n"] = e.count()
    r["emb_candidates"], _ = timed(
        lambda: a.join(b, ["tbl", "bucket"])
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
        .count()
    )
    out, r["emb_secs"] = timed(
        lambda: similarity.embedding_lsh_neardup_pairs(spark, sf_dir).count()
    )
    r["emb_pairs"] = out
    caches.release_all()
    return r


def probe_distributed_cc(spark, sf_dir: str, label: str) -> dict:
    from pyspark.sql import functions as F

    from etl_portfolio_project_spark import caches
    from etl_portfolio_project_spark.operators import dedup

    r = {"sf": label}
    _, r["cc_driver_secs"] = timed(
        lambda: dedup.neardup_clusters(spark, sf_dir).count()
    )
    caches.release_all()
    orig = dedup.CC_DRIVER_FINISH_MAX_EDGES
    try:
        dedup.CC_DRIVER_FINISH_MAX_EDGES = -1  # force distributed branch
        _, r["cc_distributed_secs"] = timed(
            lambda: dedup.neardup_clusters(spark, sf_dir).count()
        )
        caches.release_all()
        _, r["pagerank_distributed_secs"] = timed(
            lambda: dedup.neardup_pagerank(spark, sf_dir).count()
        )
    finally:
        dedup.CC_DRIVER_FINISH_MAX_EDGES = orig
        caches.release_all()
    # alternating-star CC on the same (pre-materialized) pair graph,
    # isolated from the pair-generation cost so the round primitives
    # compare head-to-head
    pairs = dedup.neardup_jaccard(spark, sf_dir).select("id1", "id2")
    pairs = pairs.localCheckpoint(eager=True)
    r["n_edges"] = pairs.count()
    _, r["cc_labelprop_only_secs"] = timed(
        lambda: dedup._cc_label_propagation(pairs).count()
    )
    caches.release_all()
    _, r["cc_star_only_secs"] = timed(
        lambda: dedup._cc_large_small_star(pairs).count()
    )
    caches.release_all()
    return r


def probe_stream_family(spark, sf_dir: str, label: str) -> dict:
    """Streaming-family wall times on 10× traffic (1M events, 15k
    users over the same 30-day window): quantifies how much of each
    bounded parity run is fixed micro-batch overhead vs data-bound
    work. Best of 2 runs per query (codegen amortized, same protocol
    as bench.py)."""
    from etl_portfolio_project_spark import api, caches

    names = [
        "stream_tumbling_5min",
        "stream_session_windows",
        "stream_dedup_events",
        "stream_user_stats",
        "stream_click_purchase_join",
        "stream_enriched_by_segment",
    ]
    r = {"sf": label}
    for name in names:
        b = api.REGISTRY[name].builder
        best = None
        for _ in range(2):
            _, secs = timed(lambda: b(spark, sf_dir).count())
            caches.release_all()
            best = secs if best is None else min(best, secs)
        r[name] = best
    return r


def probe_path_graphs(spark) -> list[dict]:
    """High-diameter synthetic graphs: where the alternating-star
    primitive's O(log² n) rounds beat label propagation's O(diameter).
    Label-prop is only run at the small size (its round count equals
    the path length — ~26 s at n=64 already; n=512 would need ~511
    rounds)."""
    from etl_portfolio_project_spark import caches
    from etl_portfolio_project_spark.operators import dedup

    out = []
    for n in (64, 512):
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "id1 long, id2 long"
        ).localCheckpoint(eager=True)
        _, star = timed(lambda: dedup._cc_large_small_star(pairs).count())
        caches.release_all()
        lp = None
        if n <= 64:
            _, lp = timed(
                lambda: dedup._cc_label_propagation(pairs).count()
            )
            caches.release_all()
        out.append({"path_n": n, "star_secs": star, "labelprop_secs": lp})
        print(json.dumps(out[-1]))
    return out


def probe_stream_inc_dedup(spark, sf_dir: str, label: str) -> dict:
    from pyspark.sql import functions as F

    from etl_portfolio_project_spark import caches
    from etl_portfolio_project_spark.operators import dedup

    r = {"sf": label}
    out, r["stream_inc_secs"] = timed(
        lambda: dedup.stream_incremental_dedup(spark, sf_dir)
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_candidates").alias("cands"),
            F.sum("n_dups").alias("dups"),
        )
        .collect()[0]
    )
    r["stream_inc_docs"] = out["docs"]
    r["stream_inc_candidates"] = int(out["cands"] or 0)
    r["stream_inc_dups"] = int(out["dups"] or 0)
    caches.release_all()
    return r


def probe_r4_new(spark, sf_dir: str, label: str) -> dict:
    """r5 (VERDICT r4 #6): selectivity/recall ladder rows for the
    r4-new operators — semantic_dedup_clusters, cross_source_dup_audit
    and ann_lsh_recall_audit — in the same candidates-per-true-pair
    framing as the older families."""
    from pyspark.sql import functions as F

    from etl_portfolio_project_spark import caches
    from etl_portfolio_project_spark.operators import dedup, similarity
    from etl_portfolio_project_spark.sources.registry import load_table

    r = {"sf": label}

    # cross-source dup audit: band-candidate count vs verified pairs
    d = dedup._shingle_sigs(load_table(spark, sf_dir, "documents"), "doc_id")
    r["xs_candidates"], _ = timed(
        lambda: dedup._band_candidates(d.where(F.size("items") >= 1)).count()
    )
    out, r["xs_secs"] = timed(
        lambda: dedup.cross_source_dup_audit(spark, sf_dir)
        .agg(
            F.sum("n_docs").alias("docs"),
            # each pair counted once per side → /2
            (F.sum("n_cross_dup_pairs") / 2).alias("pairs"),
        )
        .collect()[0]
    )
    r["xs_docs"] = int(out["docs"])
    r["xs_cross_pairs"] = int(out["pairs"] or 0)
    caches.release_all()

    # semantic dedup: verified LSH-cosine pairs -> clusters/dropped
    # (candidate-stage count for the same pairs is probe_sf's
    # emb_candidates; here we record the clustering outcome)
    out, r["sem_secs"] = timed(
        lambda: similarity.semantic_dedup_clusters(spark, sf_dir)
        .agg(
            F.count(F.lit(1)).alias("clusters"),
            F.coalesce(F.sum("n_dropped"), F.lit(0)).alias("dropped"),
            F.coalesce(F.max("cluster_size"), F.lit(0)).alias("max_sz"),
        )
        .collect()[0]
    )
    r["sem_clusters"] = int(out["clusters"])
    r["sem_dropped"] = int(out["dropped"])
    r["sem_max_cluster"] = int(out["max_sz"])
    caches.release_all()

    # ANN recall audit: the recall distribution IS the scale claim
    out, r["ann_audit_secs"] = timed(
        lambda: similarity.ann_lsh_recall_audit(spark, sf_dir)
        .agg(
            F.count(F.lit(1)).alias("queries"),
            F.avg("recall").alias("mean_recall"),
            F.min("recall").alias("min_recall"),
        )
        .collect()[0]
    )
    r["ann_queries"] = int(out["queries"])
    r["ann_mean_recall"] = round(float(out["mean_recall"]), 4)
    r["ann_min_recall"] = round(float(out["min_recall"]), 4)
    caches.release_all()
    return r


def probe_r5_new(spark, sf_dir: str, label: str) -> dict:
    """r5 ladder rows for the round-5 operators whose scale behavior
    is non-obvious:

    - exact_substring_spans: the hot-gram cap (ES_HOT_CAP) is the
      skew guard — measure how much pair fan-out it PREVENTS (sum of
      C(occ,2) over dropped grams vs emitted pairs from kept grams).
    - bm25_search_topk: posting selectivity — the SEARCH_TERMS filter
      must drop ~all tokens BEFORE the only wide shuffle; measure
      postings kept / corpus tokens across the ladder.
    - doc_token_commonness: vocabulary growth (Heaps-law sublinear)
      drives the word-window state; record distinct words vs tokens.
    - minhash_tau_sweep: the sweep replicates SCORED CANDIDATES
      only — record that base count (bounded by the banding).
    - contrastive_hard_negatives: brute-force anchors×corpus rows —
      recorded to quantify when the documented LSH swap is needed.
    """
    from pyspark.sql import functions as F

    from etl_portfolio_project_spark import caches
    from etl_portfolio_project_spark.operators import analytics, dedup
    from etl_portfolio_project_spark.operators import similarity, text
    from etl_portfolio_project_spark.sources.registry import load_table

    r = {"sf": label}

    # --- exact_substring_spans: gram/fan-out accounting -------------
    grams_expr = (
        "transform(array(split(trim(lower(text)), '\\\\s+')), tk -> "
        f"CASE WHEN size(tk) < {dedup.ES_K} THEN "
        "CAST(array() AS array<struct<pos: bigint, h: bigint>>) ELSE "
        f"transform(sequence(1, size(tk) - {dedup.ES_K - 1}), i -> "
        "named_struct('pos', CAST(i AS BIGINT), 'h', "
        "cast(conv(substring(md5(concat_ws(' ', "
        f"slice(tk, i, {dedup.ES_K}))), 1, 15), 16, 10) as bigint))) "
        "END)[0]"
    )
    # the operator pairs occurrences ACROSS documents only
    # (o1.doc_id < o2.doc_id), so fan-out per gram is
    # (tot² − Σ_doc k_doc²)/2, NOT C(tot, 2) — intra-doc repeats of a
    # gram never emit pairs; the hot cap itself keys on tot (the
    # collect_list length), matching the operator's size(occ) test
    occ_counts = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.expr(grams_expr)).alias("g"))
        .groupBy(F.col("g.h"), F.col("doc_id"))
        .agg(F.count(F.lit(1)).alias("k"))
        .groupBy("h")
        .agg(
            F.sum("k").alias("occ"),
            F.sum(F.col("k") * F.col("k")).alias("sumsq"),
        )
    )
    pairs = (F.col("occ") * F.col("occ") - F.col("sumsq")) / 2
    stats, _ = timed(
        lambda: occ_counts.agg(
            F.count(F.lit(1)).alias("gram_keys"),
            F.sum("occ").alias("grams_total"),
            F.sum(F.when(F.col("occ") > dedup.ES_HOT_CAP, 1)).alias(
                "hot_keys"
            ),
            F.sum(
                F.when(
                    (F.col("occ") >= 2)
                    & (F.col("occ") <= dedup.ES_HOT_CAP),
                    pairs,
                )
            ).alias("pairs_kept"),
            F.sum(F.when(F.col("occ") > dedup.ES_HOT_CAP, pairs)).alias(
                "pairs_capped"
            ),
        ).collect()[0]
    )
    r["es_gram_keys"] = int(stats["gram_keys"])
    r["es_grams_total"] = int(stats["grams_total"])
    r["es_hot_keys"] = int(stats["hot_keys"] or 0)
    r["es_pairs_kept"] = int(stats["pairs_kept"] or 0)
    r["es_pairs_capped"] = int(stats["pairs_capped"] or 0)
    out, r["es_secs"] = timed(
        lambda: dedup.exact_substring_spans(spark, sf_dir)
        .agg(
            F.count(F.lit(1)).alias("runs"),
            F.coalesce(F.max("span_tokens"), F.lit(0)).alias("max_span"),
        )
        .collect()[0]
    )
    r["es_runs"] = int(out["runs"])
    r["es_max_span_tokens"] = int(out["max_span"])
    caches.release_all()

    # --- bm25: posting selectivity ----------------------------------
    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(F.expr(analytics.LOWER_TOKS_SPARK)).alias("word")
    )
    terms = [t.lower() for t in analytics.SEARCH_TERMS]
    agg, _ = timed(
        lambda: toks.agg(
            F.count(F.lit(1)).alias("tokens"),
            F.sum(F.when(F.col("word").isin(terms), 1)).alias("kept"),
        ).collect()[0]
    )
    r["bm25_corpus_tokens"] = int(agg["tokens"])
    r["bm25_postings_kept"] = int(agg["kept"] or 0)
    out, r["bm25_secs"] = timed(
        lambda: analytics.bm25_search_topk(spark, sf_dir).count()
    )
    r["bm25_topk_rows"] = int(out)
    caches.release_all()

    # --- doc_token_commonness: vocabulary growth --------------------
    vocab, _ = timed(
        lambda: toks.agg(
            F.countDistinct("word").alias("vocab")
        ).collect()[0]
    )
    r["commonness_vocab"] = int(vocab["vocab"])
    out, r["commonness_secs"] = timed(
        lambda: text.doc_token_commonness(spark, sf_dir).count()
    )
    r["commonness_docs"] = int(out)
    caches.release_all()

    # --- minhash_tau_sweep: scored-candidate replication base -------
    out, r["tau_sweep_secs"] = timed(
        lambda: dedup.minhash_tau_sweep(spark, sf_dir)
        .agg(
            F.max("n_candidates").alias("cands"),
            F.max("n_pairs").alias("pairs_at_min_tau"),
        )
        .collect()[0]
    )
    r["tau_sweep_candidates"] = int(out["cands"] or 0)
    r["tau_sweep_pairs_min_tau"] = int(out["pairs_at_min_tau"] or 0)
    caches.release_all()

    # --- contrastive_hard_negatives: brute-force row budget ---------
    nvec = load_table(spark, sf_dir, "embeddings").count()
    out, r["hardneg_secs"] = timed(
        lambda: similarity.contrastive_hard_negatives(
            spark, sf_dir
        ).count()
    )
    r["hardneg_anchors"] = int(out)
    r["hardneg_scored_rows"] = int(out) * (nvec - 1)
    caches.release_all()

    # --- kmeans assignment step: k×n scan + movement mass -----------
    out, r["kmeans_secs"] = timed(
        lambda: similarity.kmeans_assignment_step(spark, sf_dir)
        .agg(
            F.sum("n_vectors").alias("n"),
            F.sum(
                F.when(
                    F.col("old_label") != F.col("new_label"),
                    F.col("n_vectors"),
                )
            ).alias("moved"),
        )
        .collect()[0]
    )
    r["kmeans_vectors"] = int(out["n"])
    r["kmeans_moved"] = int(out["moved"] or 0)
    caches.release_all()

    # --- split leakage: cross-split near-dup yield at scale ---------
    from etl_portfolio_project_spark.operators import corpus

    out, r["leak_secs"] = timed(
        lambda: corpus.split_leakage_audit(spark, sf_dir)
        .agg(
            F.sum("n_leak_pairs").alias("pairs"),
            F.sum("n_docs_exposed").alias("exposed"),
        )
        .collect()[0]
    )
    r["leak_pairs"] = int(out["pairs"] or 0)
    r["leak_docs_exposed"] = int(out["exposed"] or 0)
    caches.release_all()

    # --- hybrid RRF: constant-size fusion regardless of corpus ------
    out, r["rrf_secs"] = timed(
        lambda: similarity.hybrid_rrf_search(spark, sf_dir).count()
    )
    r["rrf_rows"] = int(out)
    caches.release_all()
    return r


def probe_r5_late(spark, sf_dir: str, label: str) -> dict:
    """Ladder rows for the late-round-5 operators whose scale behavior
    is non-obvious:

    - bpe_merge_loop: the claim is that iterations are VOCABULARY-
      sized (Heaps-law sublinear in corpus tokens) — record distinct
      words vs corpus tokens and the 3-merge loop wall time.
    - url_canonical_dedup: syndication groups are the count-window
      hot keys — record canonical-key counts and the largest group
      across the ladder (grows ∝ corpus by design: the same article
      crawled more often; count-only window state, not a join fan-out).
    - ann_pq_adc_topk: the scan-side fan-out is |corpus| x |queries|
      LUT-lookup rows; with the harness's corpus-derived query set
      (|Q| = n/25) that grows quadratically — recorded to quantify
      when a deployment must pin an EXTERNAL query set (the normal
      case: |Q| fixed → linear scan).
    """
    from pyspark.sql import functions as F

    from etl_portfolio_project_spark import caches
    from etl_portfolio_project_spark.operators import corpus as C
    from etl_portfolio_project_spark.operators import similarity, text
    from etl_portfolio_project_spark.sources.registry import load_table

    r = {"sf": label}

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(text.tokens_expr(F.col("text"))).alias("w"))
    stats = toks.agg(
        F.count(F.lit(1)).alias("tokens"),
        F.countDistinct("w").alias("vocab"),
    ).collect()[0]
    r["bpe_corpus_tokens"] = int(stats["tokens"])
    r["bpe_vocab_words"] = int(stats["vocab"])
    out, r["bpe_loop_secs"] = timed(
        lambda: text.bpe_merge_loop(spark, sf_dir).collect()
    )
    r["bpe_merges"] = [(row.merged_pair, int(row.pair_count)) for row in out]
    caches.release_all()

    rows, r["url_secs"] = timed(
        lambda: C.url_canonical_dedup(spark, sf_dir).collect()
    )
    r["url_n"] = int(sum(x.n_urls for x in rows))
    r["url_canonical"] = int(sum(x.n_canonical for x in rows))
    r["url_largest_group"] = int(max(x.largest_group for x in rows))

    e = load_table(spark, sf_dir, "embeddings")
    n_vec = e.count()
    n_q = e.where(F.col("vec_id") % similarity.QUERY_MOD == 0).count()
    n_c = e.where(
        F.expr(f"(vec_id % {similarity.PQ_MOD} = {similarity.PQ_OFF} AND vec_id < {similarity.PQ_ID_BOUND})")
    ).count()
    r["adc_corpus"] = int(n_vec)
    r["adc_queries"] = int(n_q)
    r["adc_cents"] = int(n_c)
    r["adc_lut_rows"] = int(n_q * n_c)
    r["adc_scan_rows"] = int(n_vec * n_q)
    _, r["adc_secs"] = timed(
        lambda: similarity.ann_pq_adc_topk(spark, sf_dir).count()
    )
    caches.release_all()
    # the documented fix for the quadratic corpus-derived query set:
    # pin an EXTERNAL fixed |Q| (~20, the sf0.01 size) and measure the
    # restored-linear scan — QUERY_MOD scaled so n/QUERY_MOD ≈ 20
    fixed_mod = max(25, int(n_vec // 20))
    orig = similarity.QUERY_MOD
    try:
        similarity.QUERY_MOD = fixed_mod
        nq_fixed = e.where(F.col("vec_id") % fixed_mod == 0).count()
        r["adc_fixedq_queries"] = int(nq_fixed)
        _, r["adc_fixedq_secs"] = timed(
            lambda: similarity.ann_pq_adc_topk(spark, sf_dir).count()
        )
    finally:
        similarity.QUERY_MOD = orig
        caches.release_all()
    return r



def probe_r6_caps(spark, sf_dir: str, label: str) -> dict:
    """Ladder rows for the r6 fixed-size sample-set fix (r5 verdict
    #3 — the last corpus-PROPORTIONAL sample sets): the query/anchor
    set (`query_subset_pred`) and the IVF centroid set are id-bounded,
    so their sizes must be CONSTANT once the corpus outgrows the bound
    (sf1e = 10x sf0.1) while each query's wall time stays sub-
    quadratic (cost |Q|·n with constant |Q|, vs the old n²/25)."""
    from pyspark.sql import functions as F

    from etl_portfolio_project_spark import caches
    from etl_portfolio_project_spark.operators import similarity
    from etl_portfolio_project_spark.sources.registry import load_table

    r = {"sf": label}
    e = load_table(spark, sf_dir, "embeddings")
    r["n_vec"] = int(e.count())
    r["n_queries"] = int(
        e.where(F.expr(similarity.query_subset_pred())).count()
    )
    r["n_ivf_cents"] = int(
        e.where(
            F.expr(
                f"(vec_id % {similarity.IVF_MOD} = {similarity.IVF_OFF} "
                f"AND vec_id < {similarity.IVF_ID_BOUND})"
            )
        ).count()
    )
    for name, fn in [
        ("brute", similarity.ann_brute_force_topk),
        ("lsh", similarity.ann_lsh_topk),
        ("ivf", similarity.ann_ivf_topk),
        ("hardneg", similarity.contrastive_hard_negatives),
        ("recall_audit", similarity.ann_lsh_recall_audit),
        ("adc", similarity.ann_pq_adc_topk),
        # r6-new operators (fixed-size sets / constant output by design)
        ("ivfpq", similarity.ann_ivfpq_topk),
        ("covariance", similarity.embedding_covariance_stats),
        ("matryoshka", similarity.embedding_matryoshka_recall),
        ("lloyd_loop", similarity.kmeans_lloyd_loop),
    ]:
        _, r[f"{name}_secs"] = timed(lambda fn=fn: fn(spark, sf_dir).count())
        caches.release_all()
    # adaptive near-dup code length (finding 4 fix): bits + candidates
    r["nd_bits"] = similarity.neardup_lsh_bits(r["n_vec"])
    _, r["nd_pairs_secs"] = timed(
        lambda: similarity.embedding_lsh_neardup_pairs(spark, sf_dir).count()
    )
    caches.release_all()
    return r


def probe_r7(spark, sf_dir: str, label: str) -> dict:
    """Ladder rows for the r7 additions + the shared-index tier:

    - the five new operators' wall times (boilerplate fraction should
      track gram volume ~linearly; maxsim is |Q|·n with constant |Q|;
      bpe encode is corpus-scan + VOCABULARY-sized folds — the vocab
      size column is the Heaps-law sublinearity evidence),
    - IVF-PQ probe-slice selectivity: candidate pairs / (|Q|·n) — the
      fraction of the corpus each query actually scores (verdict r6
      #6), reproduced from the op's own routing blocks,
    - shared-index cold/warm A/B: the same IVF-PQ query with a cold
      vs session-warm shared index (the r7 `caches.shared_index`
      claim, measured),
    - entity_resolution_parts (harness SFs only — the synthetic sf1e
      has no part table): candidate pairs after blocking vs matches,
      the blocking recall/precision dials."""
    from pyspark.sql import functions as F

    from etl_portfolio_project_spark import caches
    from etl_portfolio_project_spark.operators import (
        fuzzy,
        similarity,
        text,
    )
    from etl_portfolio_project_spark.sources.registry import load_table

    r = {"sf": label}
    r["n_docs"] = int(load_table(spark, sf_dir, "documents").count())
    r["n_vec"] = int(load_table(spark, sf_dir, "embeddings").count())

    # --- the five r7 operators
    boiler = text.boilerplate_ngram_fraction(spark, sf_dir)
    agg, r["boiler_secs"] = timed(
        lambda: boiler.agg(
            F.sum("n_grams").alias("g"), F.sum("n_dup_grams").alias("d")
        ).collect()[0]
    )
    r["boiler_grams"] = int(agg["g"])
    r["boiler_dup_frac"] = round(int(agg["d"]) / int(agg["g"]), 4)
    caches.release_all()
    for name, fn in [
        ("mojibake", text.mojibake_encoding_audit),
        ("lexical", text.source_lexical_stats),
        ("maxsim", similarity.multivector_maxsim_topk),
        ("bpe_apply", text.bpe_apply_encode),
    ]:
        _, r[f"{name}_secs"] = timed(lambda fn=fn: fn(spark, sf_dir).count())
        caches.release_all()
    r["bpe_vocab"] = int(
        text._bpe_words_spark(
            load_table(spark, sf_dir, "documents")
        ).count()
    )

    # --- IVF-PQ probe-slice selectivity (the op's own routing blocks)
    caches.release_shared_all()
    quantized = similarity._ivf_quantized(spark, sf_dir)
    assigned = quantized.select(
        "vec_id", F.col("near")[0]["cid"].alias("list_id")
    )
    probes = quantized.where(
        F.expr(similarity.query_subset_pred())
    ).select(
        F.col("vec_id").alias("query_id"),
        F.explode(F.expr("transform(near, s -> s.cid)")).alias("list_id"),
    )
    n_q = int(quantized.where(
        F.expr(similarity.query_subset_pred())).count())
    cand = assigned.join(
        F.broadcast(probes),
        (assigned["list_id"] == probes["list_id"])
        & (assigned["vec_id"] != probes["query_id"]),
    )
    r["ivfpq_cand_pairs"] = int(cand.count())
    r["ivfpq_selectivity"] = round(
        r["ivfpq_cand_pairs"] / (n_q * r["n_vec"]), 4
    )

    # --- shared-index cold vs warm (index already built by the
    # selectivity probe above -> warm; then rebuild cold)
    _, r["ivfpq_warm_secs"] = timed(
        lambda: similarity.ann_ivfpq_topk(spark, sf_dir).count()
    )
    caches.release_all()
    caches.release_shared_all()
    _, r["ivfpq_cold_secs"] = timed(
        lambda: similarity.ann_ivfpq_topk(spark, sf_dir).count()
    )
    caches.release_all()
    caches.release_shared_all()

    # --- entity resolution (needs the part table: harness SFs only)
    if os.path.exists(f"{sf_dir}/part.parquet"):
        p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
        dirty = p.where(
            F.col("p_partkey") % 8 < fuzzy.ER_DIRTY_MOD
        ).select(
            (F.col("p_partkey") + fuzzy.ER_ID_OFFSET).alias("entry_id"),
            F.expr(
                fuzzy._er_dirty_name_sql("p_name", "p_partkey")
            ).alias("entry_name"),
        )
        canon = p.groupBy("p_name").agg(
            F.min("p_partkey").alias("canon_partkey")
        )
        B = fuzzy.ER_BLOCK
        d = dirty.withColumn(
            "d_pre", F.expr(f"substr(entry_name, 1, {B})")
        ).withColumn(
            "d_suf",
            F.expr(
                f"substr(entry_name, length(entry_name) - {B - 1}, {B})"
            ),
        )
        c = canon.withColumn(
            "c_pre", F.expr(f"substr(p_name, 1, {B})")
        ).withColumn(
            "c_suf",
            F.expr(f"substr(p_name, length(p_name) - {B - 1}, {B})"),
        )
        cand_er = (
            d.join(F.broadcast(c), F.col("d_pre") == F.col("c_pre"))
            .select("entry_id", "p_name")
            .unionByName(
                d.join(
                    F.broadcast(c), F.col("d_suf") == F.col("c_suf")
                ).select("entry_id", "p_name")
            )
            .distinct()
        )
        r["er_dirty"] = int(dirty.count())
        r["er_cand_pairs"] = int(cand_er.count())
        out, r["er_secs"] = timed(
            lambda: fuzzy.entity_resolution_parts(spark, sf_dir).count()
        )
        r["er_matched"] = int(out)
        caches.release_all()
    return r


def probe_r8(spark, sf_dir: str, label: str) -> dict:
    """Ladder rows for the r8 additions:

    - boundary-pruned rescorers (VERDICT r7 item 1 done-criterion):
      wall time must track |Q|·n (not n log n), and the SURVIVOR
      count per query — the final window's input — must stay
      ~CONSTANT as the corpus grows 10× (E[survivors] ≈
      k·(TOPK_SAMPLE_MOD+1) per query by construction).
    - ccnet_perplexity_filter: corpus-linear (one bigram explode +
      keyed windows).
    - image_phash_neardup: pairs must track the plant density (n/25),
      never the n² pair space — banding-bound evidence.
    - multimodal_jpeg_decode: pure narrow codec map, linear."""
    from pyspark.sql import functions as F

    from etl_portfolio_project_spark import caches
    from etl_portfolio_project_spark.operators import (
        multimodal,
        similarity,
        text,
    )
    from etl_portfolio_project_spark.sources.registry import load_table

    r = {"sf": label}
    r["n_docs"] = int(load_table(spark, sf_dir, "documents").count())
    r["n_vec"] = int(load_table(spark, sf_dir, "embeddings").count())

    # --- boundary-pruned rescorers: wall + survivor counts
    for name, fn in [
        ("bf_topk", similarity.ann_brute_force_topk),
        ("maxsim_topk", similarity.multivector_maxsim_topk),
    ]:
        _, r[f"{name}_secs"] = timed(lambda fn=fn: fn(spark, sf_dir).count())
        caches.release_all()
    # survivor count via the operator's OWN survivor frame
    # (similarity.boundary_survivors — ADVICE r8: an inline re-
    # implementation here could silently drift from the shipped op)
    for name, scored_fn, col in [
        ("bf", similarity._bf_scored, "cosine"),
        ("maxsim", similarity._maxsim_scored, "maxsim"),
    ]:
        surv = similarity.boundary_survivors(
            scored_fn(spark, sf_dir, None),
            scored_fn(spark, sf_dir, similarity.topk_sample_pred()),
            col,
        )
        n_q = max(
            1, int(surv.select("query_id").distinct().count())
        )
        r[f"{name}_survivors_per_q"] = round(int(surv.count()) / n_q, 1)
        caches.release_all()

    # --- the other r8 operators
    _, r["ccnet_secs"] = timed(
        lambda: text.ccnet_perplexity_filter(spark, sf_dir).count()
    )
    caches.release_all()
    pairs, r["phash_secs"] = timed(
        lambda: multimodal.image_phash_neardup(spark, sf_dir).count()
    )
    r["phash_pairs"] = int(pairs)
    caches.release_all()
    _, r["jpeg_secs"] = timed(
        lambda: multimodal.multimodal_jpeg_decode(spark, sf_dir).count()
    )
    caches.release_all()
    # bitext: both legs boundary-pruned; wall must track the two
    # linear scans (|Q|·|B| fwd + |C|·|A| bwd with |C| ≤ |Q|·k)
    _, r["bitext_secs"] = timed(
        lambda: similarity.bitext_margin_mining(spark, sf_dir).count()
    )
    caches.release_all()
    _, r["retrieval_eval_secs"] = timed(
        lambda: similarity.retrieval_quality_eval(spark, sf_dir).count()
    )
    caches.release_all()
    return r


def probe_r8_relational(spark, sf_dir: str, label: str) -> dict:
    """Relational-table r8 ops (harness SFs only — sf1e synthesizes
    documents/embeddings/events, no orders/customer/lineitem):
    temperature weights (corpus-linear agg), zorder audit (two global
    rank windows — the layout-job stand-in), erasure cascade (keyed
    anti/semi joins, linear per table)."""
    from etl_portfolio_project_spark import caches
    from etl_portfolio_project_spark.operators import (
        corpus,
        io_ops,
        relational,
    )
    from etl_portfolio_project_spark.sources.registry import load_table

    r = {"sf": label}
    r["n_orders"] = int(load_table(spark, sf_dir, "orders").count())
    _, r["temp_weights_secs"] = timed(
        lambda: corpus.temperature_sampling_weights(spark, sf_dir).count()
    )
    caches.release_all()
    rows, r["zorder_secs"] = timed(
        lambda: {
            x.layout: (x.cust_probe_buckets, x.date_probe_buckets)
            for x in io_ops.zorder_layout_audit(spark, sf_dir).collect()
        }
    )
    r["zorder_cust_buckets"] = rows["zorder"][0]
    r["zorder_date_buckets"] = rows["zorder"][1]
    r["linear_cust_buckets"] = rows["linear_date"][0]
    caches.release_all()
    _, r["erasure_secs"] = timed(
        lambda: relational.right_to_erasure_audit(spark, sf_dir).count()
    )
    caches.release_all()
    return r


def probe_r9(spark, sf_dir: str, label: str) -> dict:
    """r9 evidence: (a) distributed global-rank — the rank-stage
    microbench (naive unpartitioned window vs ranking.ranged_row_number
    over the SAME synthetic frame) shows the single-reducer sort is
    gone; the rewired query walls (ccnet, norm outliers; zorder/tiles/
    revenue-rank run under probe_r9_relational at harness SFs) track
    data, not one task's sort. (b) ann_maxsim_rescored_topk — wall
    tracks the operator's own candidate frame
    (`similarity._maxsim_rescore_candidates`), not corpus size.
    (c) html_text_extract / multimodal_malformed_audit — narrow maps,
    linear."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_portfolio_project_spark import caches
    from etl_portfolio_project_spark.operators import (
        multimodal,
        similarity,
        text,
    )
    from etl_portfolio_project_spark.operators.ranking import (
        ranged_row_number,
    )
    from etl_portfolio_project_spark.sources.registry import load_table

    r = {"sf": label}
    r["n_docs"] = int(load_table(spark, sf_dir, "documents").count())
    r["n_vec"] = int(load_table(spark, sf_dir, "embeddings").count())

    # (a) rank-stage microbench: one synthetic scored frame, 400 rows
    # per doc so the sf ladder scales it 10x; identical output both
    # ways (the equality is property-tested; here we time)
    n = r["n_docs"] * 400
    frame = spark.range(n).select(
        F.col("id"),
        (F.expr("CAST(conv(substring(md5(CAST(id AS STRING)),1,8),16,10)"
                " AS DOUBLE)")).alias("score"),
    )
    w = Window.orderBy(F.col("score").desc(), F.col("id"))
    _, r["rank_naive_secs"] = timed(
        lambda: frame.withColumn(
            "rn", F.row_number().over(w)
        ).write.format("noop").mode("overwrite").save()
    )
    _, r["rank_ranged_secs"] = timed(
        lambda: ranged_row_number(
            frame, [F.col("score").desc(), F.col("id").asc()]
        ).write.format("noop").mode("overwrite").save()
    )
    r["rank_rows"] = n

    # rewired corpus queries (documents/embeddings based)
    _, r["ccnet_secs"] = timed(
        lambda: text.ccnet_perplexity_filter(spark, sf_dir).count()
    )
    caches.release_all()
    _, r["norm_outliers_secs"] = timed(
        lambda: similarity.embedding_norm_outliers(spark, sf_dir).count()
    )
    caches.release_all()

    # (b) ANN-routed rescoring: wall + the op's own candidate count
    _, r["maxsim_rescored_secs"] = timed(
        lambda: similarity.ann_maxsim_rescored_topk(spark, sf_dir).count()
    )
    r["maxsim_rescore_candidates"] = int(
        similarity._maxsim_rescore_candidates(spark, sf_dir).count()
    )
    caches.release_all()
    caches.release_shared_all()

    # (c) narrow per-row maps
    _, r["html_extract_secs"] = timed(
        lambda: text.html_text_extract(spark, sf_dir).count()
    )
    caches.release_all()
    _, r["malformed_audit_secs"] = timed(
        lambda: multimodal.multimodal_malformed_audit(spark, sf_dir).count()
    )
    caches.release_all()
    return r


def probe_r9_relational(spark, sf_dir: str, label: str) -> dict:
    """Orders-table r9 rewires (harness SFs only — sf1e has no
    orders): the three remaining distributed-rank consumers."""
    from etl_portfolio_project_spark import caches
    from etl_portfolio_project_spark.operators import analytics, io_ops
    from etl_portfolio_project_spark.sources.registry import load_table

    r = {"sf": label}
    r["n_orders"] = int(load_table(spark, sf_dir, "orders").count())
    _, r["tiles_secs"] = timed(
        lambda: analytics.customer_value_tiles(spark, sf_dir).count()
    )
    caches.release_all()
    _, r["revenue_rank_secs"] = timed(
        lambda: analytics.global_revenue_rank(spark, sf_dir).count()
    )
    caches.release_all()
    _, r["zorder_secs"] = timed(
        lambda: io_ops.zorder_layout_audit(spark, sf_dir).count()
    )
    caches.release_all()
    return r


def probe_r9_curation(spark, sf_dir: str, label: str) -> dict:
    """r9 curation family across the ladder. The scale claims at
    stake: (a) `domain_quota_sample`'s kept set is corpus-INVARIANT
    (≤ CAP × |domains| at any SF — the fixed-size sample-set story),
    (b) `preference_pair_mining` / `dataset_release_manifest` /
    `filter_threshold_sweep` reduce to |groups|-bounded outputs via
    map-side partial aggregation (walls track the scan, not the
    groups), (c) `span_corruption_masks` is a pure narrow map
    (linear). Uses the operators' own frames (the shared-helper rule
    from r8 ADVICE #4 — nothing re-implemented here)."""
    from etl_portfolio_project_spark import caches
    from etl_portfolio_project_spark.operators import curation
    from etl_portfolio_project_spark.sources.registry import load_table

    r = {"sf": label}
    r["n_docs"] = int(load_table(spark, sf_dir, "documents").count())

    rows, r["quota_secs"] = timed(
        lambda: curation.domain_quota_sample(spark, sf_dir).collect()
    )
    r["quota_domains"] = len(rows)
    r["quota_kept_total"] = int(sum(x.n_kept for x in rows))
    caches.release_all()

    r["pref_groups"], r["pref_secs"] = timed(
        lambda: curation.preference_pair_mining(spark, sf_dir).count()
    )
    caches.release_all()
    r["manifest_rows"], r["manifest_secs"] = timed(
        lambda: curation.dataset_release_manifest(spark, sf_dir).count()
    )
    caches.release_all()
    r["sweep_rows"], r["sweep_secs"] = timed(
        lambda: curation.filter_threshold_sweep(spark, sf_dir).count()
    )
    caches.release_all()
    _, r["span_secs"] = timed(
        lambda: curation.span_corruption_masks(spark, sf_dir).count()
    )
    caches.release_all()
    if os.path.exists(f"{sf_dir}/customer.parquet"):
        r["kanon_classes"], r["kanon_secs"] = timed(
            lambda: curation.k_anonymity_audit(spark, sf_dir).count()
        )
        caches.release_all()
    return r


def probe_r9b(spark, sf_dir: str, label: str) -> dict:
    """r9b ops: (a) `ann_binary_hamming_topk` — wall + the
    boundary-pruned survivor count, measuring the docstring's owned
    caveat (integer scores in [0, DIM] make the sampled boundary
    coarser than cosine's: survivors include the full tie mass at the
    k-th value, so unlike the cosine rescorers they are NOT expected
    corpus-invariant at fixed DIM); (b) `kmv_distinct_users` — one
    distinct shuffle + a |groups|-bounded output, wall tracks the
    scan. Uses the operators' own frames (shared-helper rule)."""
    from etl_portfolio_project_spark import caches
    from etl_portfolio_project_spark.operators import similarity, sketch

    r = {"sf": label}
    r["n_vec"] = int(
        similarity.load_table(spark, sf_dir, "embeddings").count()
    )
    surv = similarity.boundary_survivors(
        similarity._bq_scored(spark, sf_dir, None),
        similarity._bq_scored(
            spark, sf_dir, similarity.topk_sample_pred()
        ),
        "hamming_sim",
    )
    r["hamming_survivors"] = int(surv.count())
    _, r["hamming_secs"] = timed(
        lambda: similarity.ann_binary_hamming_topk(spark, sf_dir).count()
    )
    caches.release_all()
    if os.path.exists(f"{sf_dir}/events.parquet"):
        rows, r["kmv_secs"] = timed(
            lambda: sketch.kmv_distinct_users(spark, sf_dir).collect()
        )
        r["kmv_groups"] = len(rows)
    caches.release_all()
    return r


def probe_r9c(spark, sf_dir: str, label: str) -> dict:
    """r9c ops: (a) `epoch_shuffle_audit` — 3 distributed rankings
    per run; wall must track the scan (the ranged_row_number recipe),
    never a single task's sort; (b) `kcore_dedup_graph` — 3 counted
    peel rounds over the jaccard edge list; wall tracks |E| (the
    dedup-candidate invariants already laddered in `ladder`)."""
    from etl_portfolio_project_spark import caches
    from etl_portfolio_project_spark.operators import curation, dedup
    from etl_portfolio_project_spark.sources.registry import load_table

    r = {"sf": label}
    r["n_docs"] = int(load_table(spark, sf_dir, "documents").count())
    _, r["epoch_secs"] = timed(
        lambda: curation.epoch_shuffle_audit(spark, sf_dir).count()
    )
    caches.release_all()
    r["kcore_nodes"], r["kcore_secs"] = timed(
        lambda: dedup.kcore_dedup_graph(spark, sf_dir).count()
    )
    caches.release_all()
    return r


def probe_r10(spark, sf_dir: str, label: str) -> dict:
    """r10 per-group-window retirement + quantized centroids +
    composed pipeline. Claims at stake: (a) the seven former
    per-group corpus-sized windows now have walls that track the SCAN,
    not the largest group (grouped ranged rank/cumsum for full
    rankings, grouped bottom-k boundary prune for selections); (b)
    the boundary-prune survivor set is corpus-INVARIANT (~CAP·(1 +
    CAP/B) per group at any SF — measured below for the domain quota
    via the operator's own shared expressions); (c) the k-means
    centroid update is now a pure mergeable aggregate (no per-group
    collected arrays — wall tracks the posexplode scan); (d) the
    composed release pipeline's wall tracks its dedup+gate stages and
    `kmv_sketch_merge`'s merged == direct equality holds at every
    SF."""
    from etl_portfolio_project_spark import caches
    from etl_portfolio_project_spark.operators import (
        analytics,
        curation,
        similarity,
        sketch,
        text,
    )
    from etl_portfolio_project_spark.operators.ranking import (
        grouped_bottomk_survivors,
    )
    from etl_portfolio_project_spark.sources.registry import (
        balanced,
        load_table,
    )

    r = {"sf": label}
    r["n_docs"] = int(load_table(spark, sf_dir, "documents").count())

    # (b) survivor corpus-invariance: the quota prune via the
    # operator's own shared expressions (no re-implementation)
    per = balanced(load_table(spark, sf_dir, "documents")).where(
        "doc_id IS NOT NULL"
    ).select(
        curation._domain_col().alias("domain"),
        "doc_id",
        curation._quota_r().alias("r"),
    )
    r["quota_survivors"] = int(
        grouped_bottomk_survivors(
            per, ["domain"], "r", curation.DOMAIN_QUOTA_CAP
        ).count()
    )
    caches.release_all()

    if os.path.exists(f"{sf_dir}/events.parquet"):
        _, r["mad_secs"] = timed(
            lambda: analytics.events_mad_outliers(spark, sf_dir).count()
        )
        caches.release_all()
        rows, r["kmv_merge_secs"] = timed(
            lambda: sketch.kmv_sketch_merge(spark, sf_dir).collect()
        )
        r["kmv_merge_all_match"] = bool(all(x.merge_matches for x in rows))
        caches.release_all()
    r["pct_rows"], r["pct_secs"] = timed(
        lambda: analytics.source_quality_percentile_filter(
            spark, sf_dir
        ).count()
    )
    caches.release_all()
    _, r["pack_secs"] = timed(
        lambda: text.sequence_packing_bins(spark, sf_dir).count()
    )
    caches.release_all()
    r["capped_rows"], r["capped_secs"] = timed(
        lambda: analytics.source_capped_docs(spark, sf_dir).count()
    )
    caches.release_all()
    r["mix_rows"], r["mix_secs"] = timed(
        lambda: analytics.corpus_temperature_mixture(spark, sf_dir).count()
    )
    caches.release_all()
    if os.path.exists(f"{sf_dir}/embeddings.parquet"):
        _, r["kmeans_secs"] = timed(
            lambda: similarity.kmeans_lloyd_loop(spark, sf_dir).count()
        )
        caches.release_all()
    r["pipeline_rows"], r["pipeline_secs"] = timed(
        lambda: curation.corpus_release_pipeline(spark, sf_dir).count()
    )
    caches.release_all()
    # count-first hot-gram guard: wall must track the gram scan (the
    # collect agg state is ≤ ES_HOT_CAP structs per group by plan)
    from etl_portfolio_project_spark.operators import dedup

    r["substr_rows"], r["substr_secs"] = timed(
        lambda: dedup.exact_substring_spans(spark, sf_dir).count()
    )
    caches.release_all()
    # hot-data-key window retirement (class 2): agg+join walls must
    # track the scan — no per-hot-key single-task buffering anywhere
    _, r["tfidf_secs"] = timed(
        lambda: text.tfidf_top_terms(spark, sf_dir).count()
    )
    caches.release_all()
    _, r["ccnet_secs"] = timed(
        lambda: text.ccnet_perplexity_filter(spark, sf_dir).count()
    )
    caches.release_all()
    _, r["commonness_secs"] = timed(
        lambda: text.doc_token_commonness(spark, sf_dir).count()
    )
    caches.release_all()
    return r


VIRAL_DIR = os.environ.get("SPARK_GRAFT_VIRAL_DIR", "/tmp/spark_graft_viral")
VIRAL_M = 1000  # copies of one viral page planted into sf0.1


def synthesize_viral(out_dir: str) -> None:
    """sf0.1 documents + VIRAL_M exact copies of one src0 document
    under fresh doc_ids — the hottest-exact-dup-cluster stress input
    for the r11 pre-collapse (VERDICT r10 #1 done-criterion)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    src = pq.read_table(f"{SRC_SF}/documents.parquet")
    cols = src.column_names
    d = src.to_pylist()
    seed = next(r for r in d if r["source"] == "src0")
    max_id = max(r["doc_id"] for r in d)
    for j in range(VIRAL_M):
        c = dict(seed)
        c["doc_id"] = max_id + 1 + j
        d.append(c)
    pq.write_table(
        pa.Table.from_pylist(d, schema=src.schema).select(cols),
        f"{out_dir}/documents.parquet",
    )
    print(f"viral corpus: {len(d)} docs ({VIRAL_M} copies of doc "
          f"{seed['doc_id']}) -> {out_dir}")


def probe_r12(spark, sf_dir: str, label: str) -> dict:
    """r12 ladder rows: (a) incremental_release_diff with the
    PERSISTED v1 manifest — the one-time artifact build wall is
    separated from the warm diff wall, and the claim is that the DIFF
    tracks the |release| join, not the pipeline recompute; (b)
    line_dedup_rewrite — the hot boilerplate set must stay
    vocabulary-shaped (bounded by total_segs / LINE_HOT_MIN_DF, in
    practice far smaller) while the wall tracks the corpus scan; (c)
    unigram_lm_em_step — the E-step input is the Heaps-law word
    vocabulary, so its wall must grow sublinearly in docs."""
    from pyspark.sql import functions as F

    from etl_portfolio_project_spark import caches
    from etl_portfolio_project_spark.operators import curation, text

    r: dict = {"label": label}
    r["n_docs"] = spark.read.parquet(f"{sf_dir}/documents.parquet").count()

    def timed(fn):
        t0 = time.perf_counter()
        out = fn()
        return out, round(time.perf_counter() - t0, 3)

    # (a) release diff: cold run builds the artifact + diffs; the
    # second run diffs against the persisted parquet (the production
    # re-release shape). Reset the memo so `cold` really pays the
    # build whatever ran earlier in this probe session.
    curation._V1_RELEASE_PATHS.clear()
    n, r["reldiff_cold_secs"] = timed(
        lambda: curation.incremental_release_diff(spark, sf_dir).count()
    )
    caches.release_all()
    r["reldiff_partitions"] = int(n)
    _, r["reldiff_warm_secs"] = timed(
        lambda: curation.incremental_release_diff(spark, sf_dir).count()
    )
    caches.release_all()

    # (b) line dedup rewrite: wall + hot-set receipts
    _, r["line_dedup_secs"] = timed(
        lambda: text.line_dedup_rewrite(spark, sf_dir).count()
    )
    caches.release_all()
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("text").isNotNull()
    )
    k = text.LINE_SEG_TOKENS
    segs = d.select(
        "doc_id",
        F.explode(
            F.expr(
                text.bind_once_sql(
                    "split(trim(lower(text)), '\\\\s+')",
                    "tk",
                    f"transform(sequence(1, CAST(ceil(size(tk) / "
                    f"CAST({k} AS DOUBLE)) AS INT)), i -> "
                    f"concat_ws(' ', slice(tk, (i - 1) * {k} + 1, {k})))",
                )
            )
        ).alias("seg"),
    )
    # receipt on the SAME 60-bit hash the operator thresholds on
    # (ADVICE r12): DF over portable_hash60(seg), not the raw string,
    # so n_hot is exactly the operator's hot-set cardinality even
    # under hash collisions at the large ladder rungs
    agg = segs.groupBy(
        text.portable_hash60(F.col("seg")).alias("h")
    ).agg(F.countDistinct("doc_id").alias("df"))
    row = agg.agg(
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(
            F.when(F.col("df") >= text.LINE_HOT_MIN_DF, 1).otherwise(0)
        ).alias("n_hot"),
    ).collect()[0]
    r["line_distinct_segs"] = int(row.n_distinct)
    r["line_hot_segs"] = int(row.n_hot)

    # (c) unigram EM: wall + vocab receipts
    out, r["ulm_em_secs"] = timed(
        lambda: text.unigram_lm_em_step(spark, sf_dir).collect()
    )
    caches.release_all()
    r["ulm_em_vocab"] = len(out)
    r["ulm_em_used"] = int(sum(1 for x in out if x.used))
    return r


def probe_r13(spark, sf_dir: str, label: str) -> dict:
    """r13 ladder rows: (a) exact_substring_rewrite — the claim is
    that the deletion state is bounded by the SPAN INDEX (the spans
    builder's output, ∝ shared k-grams under the ES_HOT_CAP guard),
    never the corpus: receipts are the span count, the docs-with-
    intervals count, and the max per-doc interval count (the size of
    the largest HOF mask any single row evaluates); the wall tracks
    the corpus scan + the span-keyed join. (b)
    corpus_release_pipeline_v2 — warm wall over the persisted v1
    manifest + the rewrite subtree; the rollup is |release
    partitions|-bounded."""
    from pyspark.sql import functions as F

    from etl_portfolio_project_spark import caches
    from etl_portfolio_project_spark.operators import curation, dedup

    r: dict = {"label": label}
    r["n_docs"] = spark.read.parquet(f"{sf_dir}/documents.parquet").count()

    def timed(fn):
        t0 = time.perf_counter()
        out = fn()
        return out, round(time.perf_counter() - t0, 3)

    # (a) span-rewrite: wall + span-index receipts
    _, r["esr_secs"] = timed(
        lambda: dedup.exact_substring_rewrite(spark, sf_dir).count()
    )
    caches.release_all()
    spans = dedup.exact_substring_spans(spark, sf_dir)
    per_doc = spans.groupBy("id2").agg(F.count(F.lit(1)).alias("n_iv"))
    row = per_doc.agg(
        F.count(F.lit(1)).alias("docs_with_iv"),
        F.coalesce(F.max("n_iv"), F.lit(0)).alias("max_iv_per_doc"),
        F.coalesce(F.sum("n_iv"), F.lit(0)).alias("n_spans"),
    ).collect()[0]
    r["esr_n_spans"] = int(row.n_spans)
    r["esr_docs_with_intervals"] = int(row.docs_with_iv)
    r["esr_max_intervals_per_doc"] = int(row.max_iv_per_doc)
    caches.release_all()

    # (b) release v2: artifact warm (the memo holds from (a)'s session
    # unless this is the first touch — pay the build outside the timed
    # region the way the diff probe does)
    curation.persisted_v1_release(spark, sf_dir).count()
    caches.release_all()
    n, r["relv2_secs"] = timed(
        lambda: curation.corpus_release_pipeline_v2(spark, sf_dir).count()
    )
    r["relv2_partitions"] = int(n)
    caches.release_all()
    return r


def probe_r11_viral(spark) -> dict:
    """The r11 pre-collapse receipt: on a corpus with a planted
    m=1,000-copy exact-dup cluster, the UNCOLLAPSED banding baseline
    emits O(m²) candidate pairs from that one cluster (~m²/2 ≈ 500k)
    while the collapsed paths see O(m) rows — measured from the ops'
    OWN helpers (collapse_exact_reps → _band_candidates), plus
    end-to-end walls of all four rewired banding consumers on the
    viral corpus."""
    from pyspark.sql import functions as F

    from etl_portfolio_project_spark import caches
    from etl_portfolio_project_spark.operators import corpus, dedup
    from etl_portfolio_project_spark.sources.registry import load_table

    sf_dir = VIRAL_DIR
    r = {"sf": f"sf0.1+viral{VIRAL_M}"}
    docs = load_table(spark, sf_dir, "documents")
    block = docs.where(F.col("source") == dedup.DEDUP_SOURCE_BLOCK)
    r["n_docs"] = docs.count()
    r["n_block"] = block.count()

    # uncollapsed baseline: band candidates straight off the raw block
    raw = block.select(
        "doc_id", dedup._minhash_signature().alias("sig")
    ).localCheckpoint(eager=True)
    r["mh_cand_uncollapsed"], r["mh_uncollapsed_secs"] = timed(
        lambda: dedup._band_candidates(raw).count()
    )

    # collapsed path (the shipped op's own stages)
    reps = dedup.collapse_exact_reps(
        block.select("doc_id", "text")
    ).localCheckpoint(eager=True)
    r["n_reps"] = reps.count()
    r["max_cluster"] = reps.agg(F.max("n_dup")).collect()[0][0]
    collapsed = reps.select(
        "doc_id",
        dedup._distinct_words(F.col("text")).alias("words"),
        dedup._minhash_signature().alias("sig"),
    ).localCheckpoint(eager=True)
    r["mh_cand_collapsed"], r["mh_collapsed_secs"] = timed(
        lambda: dedup._band_candidates(collapsed).count()
    )

    # PPJoin twin (r11 clusters rewire): uncollapsed prefix-filter
    # candidates vs the rep-level count, + the cluster chain's wall
    raw_items = block.select(
        "doc_id", dedup._distinct_words(F.col("text")).alias("items")
    ).localCheckpoint(eager=True)
    r["pf_cand_uncollapsed"], _ = timed(
        lambda: dedup._prefix_candidates(raw_items, 9, 10).count()
    )
    r["pf_cand_collapsed"], _ = timed(
        lambda: dedup._prefix_candidates(
            collapsed.select("doc_id", F.col("words").alias("items")),
            9,
            10,
        ).count()
    )
    out, r["cc_secs"] = timed(
        lambda: dedup.neardup_clusters(spark, sf_dir)
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.count_distinct("cluster_id").alias("clusters"),
            F.max("cluster_size").alias("max_sz"),
        )
        .collect()[0]
    )
    r["cc_docs_clustered"] = int(out["docs"])
    r["cc_clusters"] = int(out["clusters"])
    r["cc_max_cluster_size"] = int(out["max_sz"] or 0)
    caches.release_all()

    # end-to-end walls of the four rewired consumers on the viral dir
    out, r["lsh_secs"] = timed(
        lambda: dedup.minhash_lsh_neardup(spark, sf_dir)
        .agg(
            F.count(F.lit(1)).alias("rep_pairs"),
            F.coalesce(F.sum("pair_weight"), F.lit(0)).alias("doc_pairs"),
        )
        .collect()[0]
    )
    r["lsh_rep_pairs"] = int(out["rep_pairs"])
    r["lsh_doc_pairs_represented"] = int(out["doc_pairs"])
    caches.release_all()
    _, r["inc_secs"] = timed(
        lambda: dedup.incremental_minhash_dedup(spark, sf_dir).count()
    )
    caches.release_all()
    _, r["xs_secs"] = timed(
        lambda: dedup.cross_source_dup_audit(spark, sf_dir).count()
    )
    caches.release_all()
    _, r["leak_secs"] = timed(
        lambda: corpus.split_leakage_audit(spark, sf_dir).count()
    )
    caches.release_all()
    _, r["tau_secs"] = timed(
        lambda: dedup.minhash_tau_sweep(spark, sf_dir).count()
    )
    caches.release_all()
    return r


def probe_r11(spark, sf_dir: str, label: str) -> dict:
    """r11 ladder rows: (a) the rewired banding consumers' walls must
    track the corpus (collapse adds one keyed agg, removes the
    hot-cluster quadratic); (b) events_lateness_audit after the
    recursive prefix-scan carry (whitelist retired) + the carry
    microbench vs the naive global window at a chunk count that
    forces one recursion level; (c) the three r11 ops: audio
    fingerprint pairs must track the plant density (n/25), the
    unigram-LM inventory is vocabulary-sized (Heaps-sublinear), the
    release diff is |partitions|-bounded."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_portfolio_project_spark import caches
    from etl_portfolio_project_spark.operators import (
        analytics,
        curation,
        dedup,
        multimodal,
        text,
    )
    from etl_portfolio_project_spark.sources.registry import load_table

    r = {"sf": label}
    r["n_docs"] = int(load_table(spark, sf_dir, "documents").count())

    def best2(key, fn):
        """best-of-2 walls (codegen amortized — the bench.py/
        probe_stream_family protocol; single-shot walls were ±10×
        noisy across probe runs while every COUNT was identical)."""
        best = None
        out = None
        for _ in range(2):
            out, secs = timed(lambda: fn())
            caches.release_all()
            best = secs if best is None else min(best, secs)
        r[f"{key}_secs"] = best
        return out

    for key, fn in [
        ("lsh", dedup.minhash_lsh_neardup),
        ("tau", dedup.minhash_tau_sweep),
        ("inc", dedup.incremental_minhash_dedup),
        ("xs", dedup.cross_source_dup_audit),
    ]:
        best2(key, lambda fn=fn: fn(spark, sf_dir).count())

    pairs = best2(
        "audio_fp",
        lambda: multimodal.audio_fingerprint_neardup(spark, sf_dir).count(),
    )
    r["audio_fp_pairs"] = int(pairs)

    rows = best2(
        "ulm", lambda: text.unigram_lm_piece_prune(spark, sf_dir).collect()
    )
    r["ulm_pieces_kept"] = int(sum(1 for x in rows if x.keep))
    r["ulm_pieces_pruned"] = int(sum(1 for x in rows if not x.keep))

    n = best2(
        "reldiff",
        lambda: curation.incremental_release_diff(spark, sf_dir).count(),
    )
    r["reldiff_partitions"] = int(n)

    if os.path.exists(f"{sf_dir}/events.parquet"):
        best2(
            "lateness",
            lambda: analytics.events_lateness_audit(spark, sf_dir).count(),
        )

    # carry microbench, ladder-scaled like the r9 rank microbench.
    # Depth labels (ADVICE r11 — the loop recurses while
    # keys > _LATENESS_CHUNK=1024): 200k keys → 1 sibling level
    # (apex sees ~196), 2M → 2 levels (level-2 apex sees ~2),
    # 20M → 2 levels (apex sees ~19); the dedicated ≤1024-key rung
    # below measures the apex-only case the ladder itself never hits.
    # The naive global window sorts ALL keys in one task.
    n_keys = r["n_docs"] * 400
    frame = spark.range(n_keys).select(
        F.col("id").alias("key"),
        F.expr(
            "CAST(conv(substring(md5(CAST(id AS STRING)),1,8),16,10)"
            " AS BIGINT)"
        ).alias("mx"),
    ).localCheckpoint(eager=True)
    _, r["carry_recursive_secs"] = timed(
        lambda: analytics._prefix_max_carry(frame).count()
    )
    w = Window.orderBy("key").rowsBetween(Window.unboundedPreceding, -1)
    _, r["carry_naive_secs"] = timed(
        lambda: frame.select("key", F.max("mx").over(w)).count()
    )
    r["carry_keys"] = n_keys
    # apex-only rung: 1,000 keys ≤ _LATENESS_CHUNK, so the loop never
    # runs and the timing isolates the triangular broadcast self-join
    apex_frame = spark.range(1000).select(
        F.col("id").alias("key"),
        F.expr(
            "CAST(conv(substring(md5(CAST(id AS STRING)),1,8),16,10)"
            " AS BIGINT)"
        ).alias("mx"),
    ).localCheckpoint(eager=True)
    _, r["carry_apex_only_secs"] = timed(
        lambda: analytics._prefix_max_carry(apex_frame).count()
    )
    return r


def main() -> int:
    if "--skip-generate" not in sys.argv:
        need = not all(
            os.path.exists(f"{SCALE_DIR}/{t}.parquet")
            for t in ("documents", "embeddings", "events", "customer")
        )
        if need:
            synthesize(SCALE_DIR)
        else:
            print(f"reusing {SCALE_DIR}")

    from etl_portfolio_project_spark.session import get_spark

    spark = get_spark(app_name="scaling_probe")
    spark.read.parquet(f"{SRC_SF}/orders.parquet").count()

    #: the full SF ladder; probes that need tables sf1e lacks take
    #: HARNESS_DIRS instead
    LADDER_DIRS = [
        ("/root/testdata/sf0.01", "sf0.01"),
        (SRC_SF, "sf0.1"),
        (SCALE_DIR, "sf1e"),
    ]
    HARNESS_DIRS = LADDER_DIRS[:2]

    def _merge_probes(sections: list) -> int:
        """Run (raw_key, probe_fn, dirs) sections and merge each into
        SCALING_RAW.json — the ONE load/iterate/merge/write
        implementation (a per-flag copy once left sibling sections
        stale: --only-r9 refreshed r9b but not r9c)."""
        raw_path = os.path.join(_REPO, "SCALING_RAW.json")
        with open(raw_path) as f:
            raw = json.load(f)
        for raw_key, probe_fn, dirs in sections:
            rows = []
            for sf_dir, label in dirs:
                print(f"--- {raw_key} at {label}")
                rows.append(probe_fn(spark, sf_dir, label))
                print(json.dumps(rows[-1]))
            raw[raw_key] = rows
        with open(raw_path, "w") as f:
            json.dump(raw, f, indent=1)
        print(
            "merged into SCALING_RAW.json: "
            + ", ".join(k for k, _f, _d in sections)
        )
        return 0

    #: every r9-generation section — --only-r9 refreshes them ALL so
    #: SCALING_RAW.json never mixes measurement generations
    R9_SECTIONS = [
        ("r9_new", probe_r9, LADDER_DIRS),
        ("r9_relational", probe_r9_relational, HARNESS_DIRS),
        ("r9_curation", probe_r9_curation, LADDER_DIRS),
        ("r9b", probe_r9b, LADDER_DIRS),
        ("r9c", probe_r9c, LADDER_DIRS),
    ]

    if "--only-r11" in sys.argv:
        need = not os.path.exists(f"{VIRAL_DIR}/documents.parquet")
        if need and "--skip-generate" not in sys.argv:
            synthesize_viral(VIRAL_DIR)
        rc = _merge_probes([("r11", probe_r11, LADDER_DIRS)])
        raw_path = os.path.join(_REPO, "SCALING_RAW.json")
        with open(raw_path) as f:
            raw = json.load(f)
        row = probe_r11_viral(spark)
        print(json.dumps(row))
        raw["r11_viral"] = [row]
        with open(raw_path, "w") as f:
            json.dump(raw, f, indent=1)
        print("merged r11_viral into SCALING_RAW.json")
        return rc

    if "--only-r13" in sys.argv:
        return _merge_probes([("r13", probe_r13, LADDER_DIRS)])

    if "--only-r12" in sys.argv:
        return _merge_probes([("r12", probe_r12, LADDER_DIRS)])

    if "--only-r10" in sys.argv:
        return _merge_probes([("r10", probe_r10, LADDER_DIRS)])

    if "--only-r9b" in sys.argv:
        return _merge_probes([R9_SECTIONS[3]])

    if "--only-r9c" in sys.argv:
        return _merge_probes([R9_SECTIONS[4]])

    if "--only-r9" in sys.argv:
        return _merge_probes(R9_SECTIONS)

    if "--only-r8" in sys.argv:
        raw_path = os.path.join(_REPO, "SCALING_RAW.json")
        with open(raw_path) as f:
            raw = json.load(f)
        r8_rows = []
        for sf_dir, label in [
            ("/root/testdata/sf0.01", "sf0.01"),
            (SRC_SF, "sf0.1"),
            (SCALE_DIR, "sf1e"),
        ]:
            print(f"--- r8 operators at {label}")
            r8_rows.append(probe_r8(spark, sf_dir, label))
            print(json.dumps(r8_rows[-1]))
        raw["r8_new"] = r8_rows
        rel_rows = []
        for sf_dir, label in [
            ("/root/testdata/sf0.01", "sf0.01"),
            (SRC_SF, "sf0.1"),
        ]:
            print(f"--- r8 relational operators at {label}")
            rel_rows.append(probe_r8_relational(spark, sf_dir, label))
            print(json.dumps(rel_rows[-1]))
        raw["r8_relational"] = rel_rows
        with open(raw_path, "w") as f:
            json.dump(raw, f, indent=1)
        print("merged r8_new into SCALING_RAW.json")
        return 0

    if "--only-r7" in sys.argv:
        raw_path = os.path.join(_REPO, "SCALING_RAW.json")
        with open(raw_path) as f:
            raw = json.load(f)
        r7_rows = []
        for sf_dir, label in [
            ("/root/testdata/sf0.01", "sf0.01"),
            (SRC_SF, "sf0.1"),
            (SCALE_DIR, "sf1e"),
        ]:
            print(f"--- r7 operators at {label}")
            r7_rows.append(probe_r7(spark, sf_dir, label))
            print(json.dumps(r7_rows[-1]))
        raw["r7_new"] = r7_rows
        with open(raw_path, "w") as f:
            json.dump(raw, f, indent=1)
        print("merged r7_new into SCALING_RAW.json")
        return 0

    if "--only-r6" in sys.argv:
        raw_path = os.path.join(_REPO, "SCALING_RAW.json")
        with open(raw_path) as f:
            raw = json.load(f)
        r6_rows = []
        for sf_dir, label in [
            ("/root/testdata/sf0.01", "sf0.01"),
            (SRC_SF, "sf0.1"),
            (SCALE_DIR, "sf1e"),
        ]:
            print(f"--- r6 fixed-size sample sets at {label}")
            r6_rows.append(probe_r6_caps(spark, sf_dir, label))
            print(json.dumps(r6_rows[-1]))
        raw["r6_caps"] = r6_rows
        with open(raw_path, "w") as f:
            json.dump(raw, f, indent=1)
        print("merged r6_caps into SCALING_RAW.json")
        return 0

    if "--only-r5-late" in sys.argv:
        raw_path = os.path.join(_REPO, "SCALING_RAW.json")
        with open(raw_path) as f:
            raw = json.load(f)
        late_rows = []
        for sf_dir, label in [
            ("/root/testdata/sf0.01", "sf0.01"),
            (SRC_SF, "sf0.1"),
            (SCALE_DIR, "sf1e"),
        ]:
            print(f"--- late-r5 operators at {label}")
            late_rows.append(probe_r5_late(spark, sf_dir, label))
            print(json.dumps(late_rows[-1]))
        raw["r5_late"] = late_rows
        with open(raw_path, "w") as f:
            json.dump(raw, f, indent=1)
        print("merged r5_late into SCALING_RAW.json")
        return 0

    if "--only-r5" in sys.argv:
        # incremental mode: measure just the r5-new family and merge
        # into the existing SCALING_RAW.json (other sections unchanged)
        raw_path = os.path.join(_REPO, "SCALING_RAW.json")
        with open(raw_path) as f:
            raw = json.load(f)
        r5_rows = []
        for sf_dir, label in [
            ("/root/testdata/sf0.01", "sf0.01"),
            (SRC_SF, "sf0.1"),
            (SCALE_DIR, "sf1e"),
        ]:
            print(f"--- r5-new operators at {label}")
            r5_rows.append(probe_r5_new(spark, sf_dir, label))
            print(json.dumps(r5_rows[-1]))
        raw["r5_new"] = r5_rows
        with open(raw_path, "w") as f:
            json.dump(raw, f, indent=1)
        print("merged r5_new into SCALING_RAW.json")
        return 0

    rows = []
    for sf_dir, label in [
        ("/root/testdata/sf0.01", "sf0.01"),
        (SRC_SF, "sf0.1"),
        (SCALE_DIR, "sf1e"),
    ]:
        print(f"--- probing {label} ({sf_dir})")
        rows.append(probe_sf(spark, sf_dir, label))
        print(json.dumps(rows[-1]))

    cc_rows = []
    for sf_dir, label in [(SRC_SF, "sf0.1"), (SCALE_DIR, "sf1e")]:
        print(f"--- CC/pagerank distributed branch at {label}")
        cc_rows.append(probe_distributed_cc(spark, sf_dir, label))
        print(json.dumps(cc_rows[-1]))

    stream_rows = []
    for sf_dir, label in [(SRC_SF, "sf0.1"), (SCALE_DIR, "sf1e")]:
        print(f"--- streaming incremental dedup at {label}")
        stream_rows.append(probe_stream_inc_dedup(spark, sf_dir, label))
        print(json.dumps(stream_rows[-1]))

    sf_rows = []
    for sf_dir, label in [(SRC_SF, "sf0.1"), (SCALE_DIR, "sf1e")]:
        print(f"--- streaming family at {label}")
        sf_rows.append(probe_stream_family(spark, sf_dir, label))
        print(json.dumps(sf_rows[-1]))

    r4_rows = []
    for sf_dir, label in [
        ("/root/testdata/sf0.01", "sf0.01"),
        (SRC_SF, "sf0.1"),
        (SCALE_DIR, "sf1e"),
    ]:
        print(f"--- r4-new operators at {label}")
        r4_rows.append(probe_r4_new(spark, sf_dir, label))
        print(json.dumps(r4_rows[-1]))

    r5_rows = []
    for sf_dir, label in [
        ("/root/testdata/sf0.01", "sf0.01"),
        (SRC_SF, "sf0.1"),
        (SCALE_DIR, "sf1e"),
    ]:
        print(f"--- r5-new operators at {label}")
        r5_rows.append(probe_r5_new(spark, sf_dir, label))
        print(json.dumps(r5_rows[-1]))

    print("--- high-diameter path graphs (star vs label-prop)")
    path_rows = probe_path_graphs(spark)

    with open(os.path.join(_REPO, "SCALING_RAW.json"), "w") as f:
        json.dump(
            {
                "ladder": rows,
                "cc": cc_rows,
                "stream": stream_rows,
                "stream_family": sf_rows,
                "r4_new": r4_rows,
                "r5_new": r5_rows,
                "path_graphs": path_rows,
            },
            f,
            indent=1,
        )
    print("wrote SCALING_RAW.json — render SCALING.md from it")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Property tests for the r9 curation family (operators/curation.py).

Oracle differentials are covered by tools/verify_local.py; these tests
pin the SEMANTIC properties each operator exists to provide —
re-identification flags, pair distinctness, sweep monotonicity,
order-free fingerprints, quota caps, and mask determinism — against
independent Python re-implementations where the property is
computable.
"""

from __future__ import annotations

import hashlib

from etl_portfolio_project_spark.operators import curation as CU
from etl_portfolio_project_spark.operators import text as T

from .conftest import SF_SMALL


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_k_anonymity_flags_and_totals(spark):
    rows = CU.k_anonymity_audit(spark, SF_SMALL).collect()
    n_customers = spark.read.parquet(f"{SF_SMALL}/customer.parquet").count()
    assert sum(r.k for r in rows) == n_customers
    for r in rows:
        assert r.k >= 1
        assert r.at_risk == (r.k < CU.K_ANON)


def test_preference_pairs_distinct_and_ordered(spark):
    rows = CU.preference_pair_mining(spark, SF_SMALL).collect()
    assert rows, "harness corpus must yield at least one group"
    for r in rows:
        assert r.n_docs >= 2
        # the (q, -id) struct tie-breaks guarantee distinct docs even
        # when every score in the group is identical
        assert r.chosen_id != r.rejected_id
        assert r.chosen_score >= r.rejected_score
        assert r.margin == r.chosen_score - r.rejected_score


def test_threshold_sweep_monotone(spark):
    rows = {
        (r.min_tokens, r.min_distinct_pct): r
        for r in CU.filter_threshold_sweep(spark, SF_SMALL).collect()
    }
    assert set(rows) == set(CU.SWEEP_GRID)
    # tightening either threshold can only shrink survival
    for mt, dp in CU.SWEEP_GRID:
        r = rows[(mt, dp)]
        assert 0 <= r.n_surviving <= r.n_total
        assert 0 <= r.retained_tokens <= r.total_tokens
        for mt2, dp2 in CU.SWEEP_GRID:
            if mt2 >= mt and dp2 >= dp:
                assert rows[(mt2, dp2)].n_surviving <= r.n_surviving
                assert rows[(mt2, dp2)].retained_tokens <= r.retained_tokens


def test_release_manifest_fingerprint_is_order_free(spark):
    """The content fingerprint must be a pure function of the row SET
    — recomputing it from a reversed-order pandas copy matches."""
    out = {
        (r.lang, r.source): r
        for r in CU.dataset_release_manifest(spark, SF_SMALL).collect()
    }
    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("lang", "source", "doc_id", "text")
        .collect()
    )
    expect: dict[tuple, int] = {}
    for r in reversed(docs):  # reversed: order independence
        t = "<NULL>" if r.text is None else r.text
        h = _h60(f"{r.doc_id}:{t}") % CU.FP_MOD
        k = (r.lang, r.source)
        expect[k] = (expect.get(k, 0) + h) % CU.FP_MOD
    assert {k: r.content_fp for k, r in out.items()} == expect


def test_domain_quota_cap_and_membership(spark):
    out = {r.domain: r for r in CU.domain_quota_sample(spark, SF_SMALL).collect()}
    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "source")
        .collect()
    )
    by_domain: dict[str, list[int]] = {}
    for r in docs:
        dom = (
            "unsourced.example.com"
            if r.source is None
            else f"{r.source}.example.com"
        )
        by_domain.setdefault(dom, []).append(r.doc_id)
    assert set(out) == set(by_domain)
    for dom, ids in by_domain.items():
        r = out[dom]
        assert r.n_docs == len(ids)
        assert r.n_kept == min(len(ids), CU.DOMAIN_QUOTA_CAP)
        hashed = sorted(
            (_h60(f"{CU.QUOTA_SALT}{i}"), i) for i in ids
        )[: CU.DOMAIN_QUOTA_CAP]
        fp = sum(h % CU.FP_MOD for h, _ in hashed) % CU.FP_MOD
        assert r.kept_fp == fp, dom


def test_span_masks_match_python(spark):
    """Independent re-implementation of the span selection rule —
    exact n_masked/n_spans/fingerprint per doc."""
    out = {r.doc_id: r for r in CU.span_corruption_masks(spark, SF_SMALL).collect()}
    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    for r in docs:
        got = out[r.doc_id]
        if r.text is None or r.text.strip() == "":
            assert got.status == "no_text" and got.mask_fp == -1
            continue
        toks = r.text.strip().split()
        ms = [
            p
            for p in range(len(toks))
            if _h60(f"{CU.SPAN_SALT}{r.doc_id}:{p // CU.SPAN_W}")
            % CU.SPAN_MOD
            < CU.SPAN_HIT
        ]
        assert got.status == "masked"
        assert got.n_tokens == len(toks)
        assert got.n_masked == len(ms)
        assert got.n_spans == len({p // CU.SPAN_W for p in ms})
        assert got.mask_fp == _h60(",".join(str(p) for p in ms))


def test_span_mask_rate_targets_density(spark):
    """Aggregate masking rate should track SPAN_HIT/SPAN_MOD = 15%
    (deterministic hash ≈ uniform) — a rule regression that masks the
    wrong granularity (token-level vs span-level) shifts this."""
    rows = [
        r
        for r in CU.span_corruption_masks(spark, SF_SMALL).collect()
        if r.status == "masked"
    ]
    total = sum(r.n_tokens for r in rows)
    masked = sum(r.n_masked for r in rows)
    rate = masked / total
    assert 0.10 < rate < 0.20, rate


def _hm_py(doc_id, text) -> int:
    """Python twin of curation._manifest_hm_of (md5-60 recipe)."""
    s = f"{doc_id}:{'<NULL>' if text is None else text}"
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % CU.FP_MOD


def test_persisted_v1_release_memo_invalidates_on_source_change(
    spark, tmp_path, monkeypatch
):
    """The ADVICE r12 fingerprint: regenerating testdata under sf_dir
    mid-process must invalidate the persisted v1 artifact (a stale
    reuse would silently diverge from the inline-recomputing oracle).
    Simulated on a private copy of sf0.001 by bumping the source
    parquet's mtime."""
    import os
    import shutil

    sf = tmp_path / "sf"
    sf.mkdir()
    for t in ("documents",):
        shutil.copyfile(
            f"{SF_SMALL}/{t}.parquet", sf / f"{t}.parquet"
        )
    CU.persisted_v1_release(spark, str(sf)).count()
    key1 = [k for k in CU._V1_RELEASE_PATHS if k.startswith(str(sf))]
    assert len(key1) == 1
    path1 = CU._V1_RELEASE_PATHS[key1[0]]
    # unchanged source → same artifact (memo hit)
    CU.persisted_v1_release(spark, str(sf)).count()
    assert CU._V1_RELEASE_PATHS[key1[0]] == path1
    # bump the source mtime → new memo key, artifact rebuilt
    p = sf / "documents.parquet"
    st = os.stat(p)
    os.utime(p, (st.st_atime + 5, st.st_mtime + 5))
    CU.persisted_v1_release(spark, str(sf)).count()
    key2 = [k for k in CU._V1_RELEASE_PATHS if k.startswith(str(sf))]
    assert sorted(key2) != sorted(key1) or CU._V1_RELEASE_PATHS[
        key2[0]
    ] != path1


def test_release_pipeline_v2_matches_python_rollup(spark):
    """Recompute the v2 release table in Python from its two graded
    inputs and require exact equality — partition counts, char
    totals, both fingerprints, and the status rule."""
    v1 = CU.persisted_v1_release(spark, SF_SMALL).collect()
    rw = {
        r.doc_id: r for r in T.line_dedup_rewrite(spark, SF_SMALL).collect()
    }
    got = {
        (r.split, r.lang, r.source): r
        for r in CU.corpus_release_pipeline_v2(spark, SF_SMALL).collect()
    }
    agg: dict[tuple, dict] = {}
    for row in v1:
        w = rw[row.doc_id]
        a = agg.setdefault(
            (row.split, row.lang, row.source),
            {
                "n_docs": 0,
                "n_rewritten": 0,
                "chars_v1": 0,
                "chars_v2": 0,
                "fp1": 0,
                "fp2": 0,
            },
        )
        a["n_docs"] += 1
        a["n_rewritten"] += 1 if w.n_removed > 0 else 0
        a["chars_v1"] += row.n_chars
        a["chars_v2"] += w.cleaned_chars
        a["fp1"] += row.hm
        a["fp2"] += _hm_py(row.doc_id, w.cleaned_text)
    assert set(got) == set(agg)
    for k, a in agg.items():
        r = got[k]
        assert r.n_docs == a["n_docs"], (k, r)
        assert r.n_rewritten == a["n_rewritten"], (k, r)
        assert r.chars_v1 == a["chars_v1"], (k, r)
        assert r.chars_v2 == a["chars_v2"], (k, r)
        assert r.content_fp_v1 == a["fp1"] % CU.FP_MOD, (k, r)
        assert r.content_fp_v2 == a["fp2"] % CU.FP_MOD, (k, r)
        assert r.status == (
            "rewritten" if r.content_fp_v1 != r.content_fp_v2 else "unchanged"
        )

"""SF ladder: every registered query, timed as bench.py times it
(`tools.runner.run_registry` with the noop sink, best of `bench.RUNS`)
at sf0.01, sf0.1, "sf1e" and "viral".

The harness ships no sf1 testdata, so the ladder SYNTHESIZES one
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
- events: 10× traffic over the same 30-day window; customer is copied.

"viral" is sf0.1's documents plus VIRAL_M exact copies of one document.
Queries that read a table these two rungs lack become error entries.
All seeded (numpy default_rng(42)). Output: SCALING_RAW.json and the
sf0.1 → sf1e growth table on stdout.

Usage: python tools/scaling_probe.py
Env:   SPARK_GRAFT_SCALE_DIR (default /tmp/spark_graft_sf1e)
       SPARK_GRAFT_VIRAL_DIR (default /tmp/spark_graft_viral)
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


def run_ladder(spark, rungs: list[tuple[str, str]]) -> dict:
    """Time every registered query on each (label, sf_dir) rung, write
    SCALING_RAW.json and print the sf0.1 → sf1e growth table."""
    import bench
    from etl_portfolio_project_spark import api
    from tools.runner import noop_sink, run_registry

    raw: dict = {"cpus": spark.sparkContext.defaultParallelism, "rungs": {}}
    for label, sf_dir in rungs:
        print(f"--- {label} ({sf_dir})")
        t0 = time.perf_counter()
        rec = bench.timing_record(run_registry(
            spark, sf_dir, sorted(api.REGISTRY), noop_sink, bench.RUNS
        ))
        raw["rungs"][label] = {
            "wall_s": round(time.perf_counter() - t0, 1), **rec
        }
        print(f"{len(rec['seconds'])} ran, {len(rec['errors'])} errors")
    with open(os.path.join(_REPO, "SCALING_RAW.json"), "w") as f:
        json.dump(raw, f, indent=1, sort_keys=True)

    small, big = (raw["rungs"].get(k, {}).get("seconds", {})
                  for k in ("sf0.1", "sf1e"))
    growth = {n: big[n] / small[n] for n in small.keys() & big.keys()
              if small[n] > 0}
    print(f"{'query':<40} {'sf0.1 s':>8} {'sf1e s':>8} {'growth':>7}")
    for name in sorted(growth, key=growth.get, reverse=True):
        print(f"{name:<40} {small[name]:>8.2f} {big[name]:>8.2f} "
              f"{growth[name]:>6.1f}x")
    return raw


def main() -> int:
    tables = ("documents", "embeddings", "events", "customer")
    if not all(os.path.exists(f"{SCALE_DIR}/{t}.parquet") for t in tables):
        synthesize(SCALE_DIR)
    if not os.path.exists(f"{VIRAL_DIR}/documents.parquet"):
        synthesize_viral(VIRAL_DIR)

    from etl_portfolio_project_spark.session import get_spark

    spark = get_spark(app_name="scaling_probe")
    # warm the session so the first query doesn't absorb cold start
    spark.read.parquet(f"{SRC_SF}/orders.parquet").count()
    sf001 = os.path.join(os.path.dirname(SRC_SF), "sf0.01")
    run_ladder(spark, [("sf0.01", sf001), ("sf0.1", SRC_SF),
                       ("sf1e", SCALE_DIR), ("viral", VIRAL_DIR)])
    return 0


if __name__ == "__main__":
    sys.exit(main())

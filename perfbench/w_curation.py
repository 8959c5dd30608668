"""``curation_batch``: the LLM-data path over a generated corpus.

Write side (``wall_s``): ``operators.text.quality_score`` gate, then
``dedup.dedup_exact``, then ``dedup.dedup_minhash_arith`` (the md5-family
MinHash, whose plan has the production path's shape and which DuckDB
replays exactly), then ``similarity.write_ann_index`` over the
survivors' embeddings.  Each stage is pinned with ``localCheckpoint`` so
it runs in jobs of its own.

Read side: ``similarity.index_topk`` over a fixed query set, sent in
fixed-size batches by one client in a closed loop, cycling until
``--seconds`` is used up.  Per-call latency gives ``lat_p50_s``; queries
answered per second of calls gives ``eps``.

References: the repo's DuckDB oracle SQL for the quality score, exact
dedup and md5-MinHash survivors, composed over the same generated
corpus; numpy brute force for the top-k (``recall_at_10``).
"""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np
import pandas as pd

from common import compare_frames, pct, plan_seconds

QUALITY_MIN = 0.7  # gate threshold on operators.text.quality_score
STOPWORDS = ["the", "and", "of", "to", "in", "is", "it", "that", "for", "on"]


def make_corpus(cfg: dict, seed: int):
    """Documents, embeddings, queries and the true near-duplicate
    clusters, all from the seed.  Copies always point at a smaller
    doc_id, so the keep-lowest-id rules keep the original."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = int(cfg["docs"])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = ["".join(rng.choice(letters, size=int(k))) for k in rng.integers(3, 10, 4000)]
    zw = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    zcdf = np.cumsum(zw) / zw.sum()
    kinds = rng.choice(4, size=n, p=[1 - cfg["exact_dup_share"] - cfg["near_dup_share"]
                                     - cfg["low_quality_share"], cfg["exact_dup_share"],
                                     cfg["near_dup_share"], cfg["low_quality_share"]])
    kinds[:10] = 0  # copies need earlier originals
    texts, root = [], np.arange(n)
    centers = rng.normal(size=(cfg["clusters"], cfg["dim"]))
    emb = np.empty((n, cfg["dim"]), dtype=np.float32)
    for i in range(n):
        k = kinds[i]
        if k in (1, 2):
            src = int(rng.integers(0, i))
            while kinds[src] == 3:
                src = int(rng.integers(0, i))
            root[i] = root[src]
            words = texts[src].split()
            if k == 1:  # same canonical text: case and whitespace only
                t = "  ".join(w.upper() if rng.random() < 0.3 else w for w in words)
            else:  # one word replaced
                j = int(rng.integers(0, len(words)))
                words[j] = vocab[int(rng.integers(0, len(vocab)))]
                t = " ".join(words)
            emb[i] = emb[src] + rng.normal(scale=0.01, size=cfg["dim"])
        else:
            if k == 3:  # short and symbol-heavy
                t = " ".join(rng.choice(["#", "$$", "%", "&&", "@"], size=int(rng.integers(4, 9))))
            else:
                m = int(rng.integers(40, 120))
                ws = [vocab[j] for j in np.searchsorted(zcdf, rng.random(m), side="right")]
                for j in np.nonzero(rng.random(m) < 0.25)[0]:
                    ws[j] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
                t = " ".join(ws) + "."
            c = centers[int(rng.integers(0, len(centers)))]
            emb[i] = c + rng.normal(scale=0.35, size=cfg["dim"])
        texts.append(t)
    docs = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64), "text": texts, "lang": "en",
        "source": np.where(np.arange(n) % 3 == 0, "web", "books"),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    embs = pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64), "embedding": list(emb),
                         "label": (np.arange(n) % 7).astype(np.int32)})
    return docs, embs, root, rng


def write_inputs(docs, embs, sf_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf_dir)
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   os.path.join(sf_dir, "documents.parquet"))
    t = pa.table({"vec_id": pa.array(embs["vec_id"], pa.int64()),
                  "embedding": pa.array([v.tolist() for v in embs["embedding"]],
                                        pa.list_(pa.float32())),
                  "label": pa.array(embs["label"], pa.int32())})
    pq.write_table(t, os.path.join(sf_dir, "embeddings.parquet"))


def reference_survivors(docs: pd.DataFrame):
    """quality gate -> exact dedup (DuckDB, the library's own oracle SQL
    for each stage) -> md5-MinHash survivors (numpy, see
    :func:`minhash_survivors`).  Returns (survivors, stage counts,
    LSH candidate pairs)."""
    import duckdb

    from tubes_spark.oracles import ORACLES

    con = duckdb.connect()
    con.register("raw", docs)
    con.execute("CREATE VIEW documents AS SELECT * FROM raw")
    con.execute(f"CREATE TEMP TABLE q AS {ORACLES['text_quality']}")
    con.execute(f"""CREATE TEMP TABLE gated AS SELECT raw.* FROM raw JOIN q USING (doc_id)
                    WHERE q.quality >= {QUALITY_MIN}""")
    con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM gated")
    exact = con.execute(f"{ORACLES['dedup_exact_docs']} ORDER BY doc_id").fetchdf()
    n_gated = con.execute("SELECT count(*) FROM gated").fetchone()[0]
    con.close()
    keep, pairs = minhash_survivors(exact)
    surv = exact.loc[keep, ["doc_id", "source", "n_chars"]].reset_index(drop=True)
    return surv, {"gated": int(n_gated), "exact": len(exact)}, pairs


def minhash_survivors(docs: pd.DataFrame, k: int = 3, num_hashes: int = 16, bands: int = 8):
    """``dedup.dedup_minhash_arith`` restated in numpy: distinct word
    3-shingles of the canonical text, each hashed as the first 8 hex
    digits of its md5 mod 2^31-1, 16 universal hashes, 8 bands of 2
    minima; a document sharing any band bucket with a smaller doc_id is
    dropped.  (The DuckDB form of the same rule is exact but takes
    minutes at this corpus size.)  Returns (keep mask, candidate pairs)."""
    import hashlib as _h
    import re

    from tubes_spark.operators.dedup import ARITH_P, arith_hash_family

    fam = np.array(arith_hash_family(num_hashes), dtype=np.int64)
    rows = num_hashes // bands
    buckets: dict = {}
    for doc_id, text in zip(docs["doc_id"].tolist(), docs["text"].tolist()):
        toks = re.sub(r"\s+", " ", text.lower()).strip(" ").split(" ")
        shingles = ({" ".join(toks)} if len(toks) < k else
                    {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)})
        x = np.array([int(_h.md5(s.encode()).hexdigest()[:8], 16) % ARITH_P for s in shingles],
                     dtype=np.int64)
        m = ((fam[:, :1] * x[None, :] + fam[:, 1:]) % ARITH_P).min(axis=1)
        for b in range(bands):
            key = "_".join(str(int(v)) for v in m[b * rows:(b + 1) * rows])
            buckets.setdefault((b, key), []).append(doc_id)
    dropped, pairs = set(), set()
    for ids in buckets.values():
        lo = min(ids)
        dropped.update(i for i in ids if i > lo)
        ids = sorted(set(ids))
        pairs.update((a, b) for n, a in enumerate(ids) for b in ids[n + 1:])
    keep = ~docs["doc_id"].isin(dropped).to_numpy()
    return keep, pd.DataFrame(sorted(pairs), columns=["x", "y"])


def write_side(ctx, sf_dir: str, idx_dir: str) -> dict:
    from pyspark.sql import functions as F

    from tubes_spark.catalog import load_table
    from tubes_spark.operators import dedup, similarity
    from tubes_spark.operators.text import quality_score

    tr = ctx.tracer
    with tr.span("catalog.load"):
        docs = load_table(ctx.spark, "documents", sf_dir)
        embs = load_table(ctx.spark, "embeddings", sf_dir)
    with tr.span("text.exec"):
        gated = docs.filter(quality_score(F.col("text")) >= QUALITY_MIN).localCheckpoint(eager=True)
    with tr.span("dedup.exact"):
        exact = dedup.dedup_exact(gated).localCheckpoint(eager=True)
    with tr.span("dedup.minhash"):
        surv = dedup.dedup_minhash_arith(exact).localCheckpoint(eager=True)
    with tr.span("similarity.write"):
        batch = embs.join(surv.select(F.col("doc_id").alias("vec_id")), "vec_id")
        similarity.write_ann_index(batch, idx_dir, n_anchors=int(ctx.cfg["anchors"]))
    out = {"survivors": surv.select("doc_id", "source", "n_chars").toPandas()}
    if tr.enabled:
        out["counts"] = {"rows_in": docs.count(), "gated": gated.count(), "exact": exact.count()}
        out["plan_s"] = sum(plan_seconds(d) for d in (gated, exact, surv))
    return out


def serve(ctx, idx_dir: str, qdf: pd.DataFrame, batch: int, seconds: float):
    """Closed loop, one client: send the query set batch after batch,
    cycling.  The first call is the warm-up (it registers the index
    tables); then calls follow until ``seconds`` have passed and every
    batch was sent at least once.  Returns (first call s, call
    latencies, failed queries, each batch's latest answer)."""
    from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

    from tubes_spark.operators.similarity import index_topk

    schema = StructType([StructField("vec_id", LongType(), False),
                         StructField("embedding", ArrayType(FloatType()), False)])
    k, n_probe = int(ctx.cfg["k"]), int(ctx.cfg["n_probe"])
    parts = [qdf.iloc[s:s + batch] for s in range(0, len(qdf), batch)]

    def call(part):
        arriving = ctx.spark.createDataFrame(
            list(zip(part["vec_id"].tolist(), [v.tolist() for v in part["embedding"]])), schema)
        return index_topk(arriving, ctx.spark, idx_dir, k=k, n_probe=n_probe).toPandas()

    t = time.perf_counter()
    with ctx.tracer.span("similarity.serve_cold"):
        call(parts[0])
    first = time.perf_counter() - t
    calls, failures, answers = [], 0, {}
    deadline = time.perf_counter() + seconds
    i = 0
    while i < len(parts) or time.perf_counter() < deadline:
        b = i % len(parts)
        t = time.perf_counter()
        with ctx.tracer.span("similarity.serve"):
            try:
                answers[b] = call(parts[b])
            except Exception as exc:  # a failed call counts; the loop goes on
                failures += len(parts[b])
                answers[b] = ("error", repr(exc))
        calls.append(time.perf_counter() - t)
        i += 1
    return first, calls, failures, list(answers.values())


def check_answers(answers, qdf, index_vecs, index_ids, k) -> "tuple[int, int, float]":
    """Every query gets k ranked matches from the index whose similarity
    is the cosine numpy computes; recall is against numpy's exact top-k."""
    got = pd.concat([a for a in answers if isinstance(a, pd.DataFrame)], ignore_index=True)
    n_err = sum(1 for a in answers if not isinstance(a, pd.DataFrame))
    S = index_vecs / np.linalg.norm(index_vecs, axis=1, keepdims=True)
    failed, hits = 0, 0
    pos = {int(v): i for i, v in enumerate(index_ids)}
    by_q = dict(tuple(got.groupby("vec_id")))
    for qid, vec in zip(qdf["vec_id"], qdf["embedding"]):
        q = np.asarray(vec, dtype=np.float64)
        sims = S @ (q / np.linalg.norm(q))
        exact = set(index_ids[np.argsort(-sims, kind="stable")[:k]].tolist())
        rows = by_q.get(int(qid))
        if rows is None:  # a call that raised is already counted by serve()
            failed += 0 if n_err else 1
            continue
        ok = sorted(rows["rank"].tolist()) == list(range(1, k + 1))
        ok = ok and all(int(m) in pos for m in rows["match_id"])
        if ok:
            want = np.round(sims[[pos[int(m)] for m in rows["match_id"]]], 6)
            ok = bool(np.all(np.abs(rows["match_sim"].to_numpy() - want) <= 2e-6))
        failed += 0 if ok else 1
        hits += len(exact & set(int(m) for m in rows["match_id"]))
    return len(qdf), failed, hits / (k * len(qdf))


def _setup(ctx):
    docs, embs, root, rng = make_corpus(ctx.cfg, ctx.seed)
    sf_dir = os.path.join(ctx.work, "sf")
    write_inputs(docs, embs, sf_dir)
    return docs, embs, root, rng, sf_dir


def run(ctx) -> dict:
    cfg = ctx.cfg
    docs, embs, root, rng, sf_dir = _setup(ctx)
    digest = hashlib.sha256(pd.util.hash_pandas_object(docs, index=False).to_numpy().tobytes())
    want, ref_counts, cand = reference_survivors(docs)
    idx_dir = os.path.join(ctx.work, "index")
    t = time.perf_counter()
    wr = write_side(ctx, sf_dir, idx_dir)
    wall = time.perf_counter() - t
    bad_s, msg_s = compare_frames(wr["survivors"], want)

    surv_ids = np.sort(want["doc_id"].to_numpy())
    index_vecs = np.stack(embs.set_index("vec_id").loc[surv_ids, "embedding"].to_list())
    index_vecs = index_vecs.astype(np.float64)
    pick = rng.choice(len(surv_ids), size=int(cfg["queries"]), replace=False)
    qvec = index_vecs[pick] + rng.normal(scale=0.05, size=(len(pick), cfg["dim"]))
    qdf = pd.DataFrame({"vec_id": np.arange(len(pick), dtype=np.int64) + 10**9,
                        "embedding": list(qvec.astype(np.float32))})
    batch = int(cfg["batch"])
    first, calls, serve_fail, answers = serve(ctx, idx_dir, qdf, batch, ctx.seconds)
    q_att, q_bad, recall = check_answers(answers, qdf, index_vecs, surv_ids, int(cfg["k"]))
    metrics = {"wall_s": wall, "lat_p50_s": pct(calls, 50), "lat_p99_s": pct(calls, 99),
               "eps": batch * len(calls) / sum(calls)}
    detail = {"input_digest": digest.hexdigest(), "docs": len(docs),
              "survivors": len(want), "calls_s": calls, "serve_cold_s": first,
              "recall_at_10": recall, "check_survivors": msg_s,
              "failed_queries": q_bad + serve_fail, **ref_counts}
    layers = {}
    if ctx.tracer.enabled:
        layers = _layers(ctx, wr, cand, root, first, calls, recall, idx_dir, batch, len(qdf))
    return {"metrics": metrics, "attempted": len(want) + q_att,
            "failed": bad_s + q_bad + serve_fail, "detail": detail, "layers": layers}


def _layers(ctx, wr, cand, root, first, calls, recall, idx_dir, batch, n_q) -> dict:
    tr = ctx.tracer
    true_pairs = int(sum(root[cand["x"].to_numpy()] == root[cand["y"].to_numpy()]))
    files = [os.path.join(d, f) for d, _, fs in os.walk(idx_dir) for f in fs
             if f.endswith(".parquet")]
    serve_spans = [s for s in tr.spans if s["name"] == "similarity.serve"]
    out = {
        "catalog.load_s": tr.total("catalog.load"),
        # the documents scan runs in the text stage
        "sources.input_bytes": tr.total("catalog.load", "input_bytes")
        + tr.total("text.exec", "input_bytes"),
        "text.exec_s": tr.total("text.exec"),
        "text.rows_in": wr["counts"]["rows_in"], "text.rows_kept": wr["counts"]["gated"],
        "dedup.exec_s": tr.total("dedup"),
        "dedup.shuffle_bytes": tr.total("dedup", "shuffle_bytes"),
        "dedup.candidate_pairs": len(cand), "dedup.dup_pairs": true_pairs,
        "dedup.candidate_precision": true_pairs / max(1, len(cand)),
        "similarity.write_s": tr.total("similarity.write"),
        "similarity.files_written": len(files),
        "similarity.serve_batch_p50_s": pct(calls, 50),
        "similarity.serve_cold_s": first,
        # time to answer the whole query set at the measured mean call rate
        "similarity.serve_s": sum(calls) / len(calls) * -(-n_q // batch),
        "similarity.recall_at_10": recall,
        "spark.plan_s": wr["plan_s"],
        "spark.driver_gap_s": sum(s["spark"]["driver_gap_s"] for s in tr.spans),
    }
    for key in ("jobs", "stages", "tasks", "failed_tasks", "task_cpu_s", "task_run_s",
                "gc_s", "shuffle_bytes", "spill_bytes"):
        out[f"spark.{key}"] = sum(s["spark"][key] for s in tr.spans)
    out["similarity.rows_read"] = _rows_read(ctx, serve_spans)
    answered = batch * int(ctx.cfg["k"]) * len(calls)
    out["similarity.useful_ratio"] = answered / max(1, out["similarity.rows_read"])
    return out


def _rows_read(ctx, spans) -> int:
    """Index rows the serving calls scanned: records read by their stages."""
    store = ctx.spark._jsc.sc().statusStore()
    st = ctx.spark.sparkContext.statusTracker()
    stages = set()
    for s in spans:
        for jid in st.getJobIdsForGroup(s["group"]):
            try:
                sids = store.job(int(jid)).stageIds()
            except Exception:  # py4j NoSuchElementException: job evicted
                continue
            stages.update(int(sids.apply(i)) for i in range(sids.size()))
    total = 0
    for sid in stages:
        try:
            total += int(store.lastStageAttempt(sid).inputRecords())
        except Exception:  # evicted or never submitted
            continue
    return total


def baseline(ctx) -> dict:
    """The write side once at local[1], as the single-thread reference point."""
    docs, embs, root, rng, sf_dir = _setup(ctx)
    t = time.perf_counter()
    write_side(ctx, sf_dir, os.path.join(ctx.work, "index"))
    return {"write_s": time.perf_counter() - t}

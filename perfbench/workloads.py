"""The benchmark's workloads, driven through the library's public API.

Each workload runs its set-up (untimed, reported as ``setup_s`` and its
parts), then a closed loop of a fixed number of rounds, and returns what
``run.py`` needs to report. Every round runs the same operations in the
same order, so every run measures the same mix in the same warm state.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

import checks
import data
from tracing import Ops, cached_mb


class Setup:
    """Named set-up parts, each a wall-clock duration in seconds."""

    def __init__(self):
        self.parts: dict[str, float] = {}

    def time(self, name, fn):
        t0 = time.perf_counter()
        out = fn()
        self.parts[name] = self.parts.get(name, 0.0) + time.perf_counter() - t0
        return out


# -- serve_topk -----------------------------------------------------------------

WHERE = "metadata['label'] = '{}'"


def serve_requests(sz: dict) -> list:
    """(name, call(collection, query, label), exact) per request type."""
    k = sz["k"]
    return [
        ("search", lambda c, q, lab: c.search(q, limit=k), True),
        ("search_where",
         lambda c, q, lab: c.search(q, limit=k, where=WHERE.format(lab)), True),
        ("quantized_search", lambda c, q, lab: c.quantized_search(
            q, limit=k, candidates=sz["quantized_candidates"]), False),
        ("hybrid_search", lambda c, q, lab: c.hybrid_search(
            q, limit=k, candidates=sz["hybrid_candidates"]), False),
        ("hnsw_search", lambda c, q, lab: c.hnsw_search(q, limit=k), False),
        ("ivf_search", lambda c, q, lab: c.ivf_search(
            q, limit=k, n_cells=sz["ivf_cells"], n_probe=sz["ivf_probe"]), False),
        ("sq_search", lambda c, q, lab: c.sq_search(
            q, limit=k, candidates=sz["sq_candidates"]), False),
    ]


# set-up part charged with the first (untimed) call of each request type
FIRST_CALL = {"hnsw_search": "hnsw.build_s", "ivf_search": "ivf.build_s",
              "sq_search": "sq.train_s"}


def serve_topk(spark, ops: Ops, setup: Setup, sz: dict, seed: int,
               work: str, rounds: int, t_start: float) -> dict:
    from vettore_spark import Collection

    corpus = setup.time("setup.generate_s", lambda: data.make_corpus(
        seed, sz["rows"], sz["centres"], sz["labels"],
        os.path.join(work, "collection.parquet")))
    coll = setup.time("setup.ingest_s", lambda: Collection.create(
        spark, "serve", data.DIM, metric="cosine").put_many(
            spark.read.parquet(corpus.path)))
    requests = serve_requests(sz)
    label_names = sorted(set(corpus.labels))
    k = sz["k"]

    def one(name, call, exact, rnd, timed):
        q = data.fresh_query(corpus)
        lab = label_names[corpus.rng.integers(0, len(label_names))]
        mask = corpus.labels == lab if name == "search_where" else None
        truth = data.exact_topk(corpus.unit, q, k, mask)
        return ops.run(
            name, lambda: call(coll, q, lab), lambda df: df.collect(),
            lambda rows: checks.topk_request(rows, corpus, truth, k, exact, mask),
            rows_in=len(corpus.ids), rnd=rnd, timed=timed)

    for name, call, exact in requests:
        setup.time(FIRST_CALL.get(name, "setup.warmup_s"),
                   lambda: one(name, call, exact, -1, False))
    setup_s = time.perf_counter() - t_start

    for rnd in range(rounds):
        for name, call, exact in requests:
            one(name, call, exact, rnd, True)
    return {"setup_s": setup_s, "rounds": rounds, "cached_mb": cached_mb(spark)}


# -- batch_pairs ------------------------------------------------------------------

# gate -> (input schema, output mode, gate call, check of its final output)
GATES = {
    "streaming_topk_per_key": (
        "user_id long, event_id long, value double", "update",
        lambda S, sdf, sz: S.streaming_topk_per_key(sdf, k=sz["stream_k"]),
        lambda rows, truth, sz: checks.stream_topk(rows, truth, sz["stream_k"])),
    "streaming_exact_dedup": (
        "doc_id long, text string", "append",
        lambda S, sdf, sz: S.streaming_exact_dedup(sdf),
        lambda rows, truth, sz: checks.stream_dedup(rows, truth)),
    "streaming_moment_stats": (
        "label string, embedding array<double>", "update",
        lambda S, sdf, sz: S.streaming_moment_stats(sdf, dim=data.DIM),
        lambda rows, truth, sz: checks.stream_moments(rows, truth)),
}


def _replay(spark, df, mode: str, qname: str, ckpt: str) -> dict:
    """Replay a streaming DataFrame to completion into a memory sink."""
    q = (df.writeStream.outputMode(mode).format("memory").queryName(qname)
         .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
    if not q.awaitTermination(60):
        q.stop()
        raise TimeoutError(f"{qname} did not finish within 60 s")
    return {"run_id": str(q.runId), "rows": qname,
            "progress": [json.loads(p.json) for p in q.recentProgress]}


def batch_ops(spark, shard: data.Shard, sz: dict, work: str, tag: str) -> list:
    """One iteration's operations over ``shard``, in order, as
    ``(name, build, action, check, rows_in)``."""
    from vettore_spark.operators import ann, dedup, search

    k, th = sz["k"], sz["threshold"]
    n, nd = shard.n_vec, shard.n_docs
    vecs = lambda: spark.read.parquet(shard.vec_path)  # noqa: E731
    docs = lambda: spark.read.parquet(shard.doc_path)  # noqa: E731
    collect = lambda df: df.collect()  # noqa: E731
    out = [
        ("ann.self_knn_topk",
         lambda: ann.self_knn_topk(vecs(), k=k, exclude_self=True), collect,
         lambda rows: checks.knn_edges(rows, shard.gram, shard.knn, k, True), n),
        ("ann.blocked_knn_topk",
         lambda: ann.blocked_knn_topk(vecs(), k=k, n_bands=sz["blocked_bands"]),
         collect,
         lambda rows: checks.knn_edges(rows, shard.gram, shard.knn, k, False), n),
        ("search.multi_query_topk",
         lambda: search.multi_query_topk(
             spark.read.parquet(shard.query_path), vecs(), k=k,
             id_col="vec_id", vector_col="embedding"), collect,
         lambda rows: checks.knn_edges(rows, shard.qs, shard.mq, k, True),
         n + shard.n_queries),
        ("dedup.minhash_lsh_pairs",
         lambda: dedup.minhash_lsh_pairs(docs(), threshold=th), collect,
         lambda rows: checks.jaccard_pairs(rows, shard.jaccard, nd, False), nd),
        ("dedup.ngram_jaccard_pairs",
         lambda: dedup.ngram_jaccard_pairs(docs(), threshold=th), collect,
         lambda rows: checks.jaccard_pairs(rows, shard.jaccard, nd, True), nd),
    ]
    from vettore_spark.streaming import stateful

    for gate, (src_dir, truth) in shard.streams.items():
        schema, mode, make, check = GATES[gate]
        qname = f"{gate}_{tag}"

        def build(schema=schema, make=make, src_dir=src_dir):
            sdf = (spark.readStream.schema(schema)
                   .option("maxFilesPerTrigger", 1).parquet(src_dir))
            return make(stateful, sdf, sz)

        def replay(df, mode=mode, qname=qname):
            return _replay(spark, df, mode, qname,
                           os.path.join(work, "checkpoints", qname))

        def verify(name, check=check, truth=truth):
            rows = spark.table(name).collect()
            spark.catalog.dropTempView(name)
            return check(rows, truth, sz)

        out.append((f"stateful.{gate}", build, replay, verify,
                    sz["stream_files"] * sz["stream_rows"]))
    return out


# Set-up warms one operation of each execution path: the first pandas UDF
# starts the Python workers, the first Arrow UDF and the first stateful
# stream start theirs. The rest of the cold start stays in the measurement.
WARMUP = ("ann.self_knn_topk", "dedup.minhash_lsh_pairs",
          "stateful.streaming_topk_per_key")


def batch_pairs(spark, ops: Ops, setup: Setup, sz: dict, seed: int,
                work: str, rounds: int, t_start: float) -> dict:
    from vettore_spark.plans import cache

    scale = sz["warmup_scale"]
    small = dict(sz)
    for key in ("vectors", "planted_vectors", "queries", "docs", "planted_docs",
                "stream_rows"):
        small[key] = max(4, int(sz[key] * scale))
    shard = setup.time("setup.generate_s", lambda: data.make_shard(
        seed, 0, small, os.path.join(work, "warmup"), sz["threshold"]))

    def warm():
        for name, build, action, check, rows_in in batch_ops(
                spark, shard, small, work, "warmup"):
            if name in WARMUP:
                ops.run(name, build, action, check, rows_in=rows_in, timed=False)

    setup.time("setup.warmup_s", warm)
    cache.clear()
    setup_s = time.perf_counter() - t_start

    mb = []
    for rnd in range(rounds):
        shard = data.make_shard(seed, rnd + 1, sz, work, sz["threshold"])
        for name, build, action, check, rows_in in batch_ops(
                spark, shard, sz, work, f"r{rnd}"):
            ops.run(name, build, action, check, rows_in=rows_in, rnd=rnd)
        mb.append(cached_mb(spark))
        cache.clear()
    return {"setup_s": setup_s, "rounds": rounds, "cached_mb": float(np.median(mb))}


WORKLOADS = {"serve_topk": serve_topk, "batch_pairs": batch_pairs}

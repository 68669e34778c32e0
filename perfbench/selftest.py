"""Self-test of the benchmark at tiny sizes.

    python3 perfbench/selftest.py            # checker tests + every workload
    python3 perfbench/selftest.py --quick    # checker tests only (no Spark)

1. The checkers accept the truth and reject a corrupted result: one id
   swapped for another corpus id or for an id outside the corpus, or a
   self edge in a kNN table that must exclude self.
2. Every workload completes at tiny sizes, traced and untraced, with no
   failed operation, and prints exactly the metrics BENCHMARK.json names,
   each with its unit.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
from pyspark.sql import Row

import checks
import data

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise AssertionError(what)
    print(f"ok  {what}")


def check_checkers() -> None:
    tmp = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    try:
        _check_checkers(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _check_checkers(tmp: str) -> None:
    corpus = data.make_corpus(7, 300, 8, 4, os.path.join(tmp, "c.parquet"))
    q = data.fresh_query(corpus)
    truth = data.exact_topk(corpus.unit, q, 10)
    rows = [Row(id=corpus.ids[i], score=float(truth[2][i]))
            for i in truth[0]]
    expect(checks.topk_request(rows, corpus, truth, 10, True)[0],
           "exact top-k truth passes")
    outside = next(i for i in np.argsort(truth[2]) if i not in truth[0])
    swapped = rows[:-1] + [Row(id=corpus.ids[outside],
                               score=float(truth[2][outside]))]
    expect(not checks.topk_request(swapped, corpus, truth, 10, True)[0],
           "top-k with one id swapped for a non-member is rejected")
    foreign = rows[:-1] + [Row(id="nope", score=rows[-1]["score"])]
    expect(not checks.topk_request(foreign, corpus, truth, 10, False)[0],
           "top-k with an id outside the corpus is rejected")
    mask = corpus.labels == corpus.labels[0]
    ftruth = data.exact_topk(corpus.unit, q, 10, mask)
    unfiltered = [Row(id=corpus.ids[i], score=float(truth[2][i]))
                  for i in truth[0]]
    expect(not checks.topk_request(unfiltered, corpus, ftruth, 10, True, mask)[0]
           or mask[truth[0]].all(),
           "a result that ignores the where predicate is rejected")

    sizes = {"vectors": 60, "planted_vectors": 4, "queries": 5, "centres": 4,
             "k": 5, "docs": 40, "doc_words": 40, "planted_docs": 4,
             "stream_files": 2, "stream_rows": 50, "stream_keys": 5,
             "stream_k": 3, "stream_groups": 3}
    sh = data.make_shard(7, 1, sizes, tmp, 0.8)
    gram = sh.gram
    edges = [Row(query_id=q_, vec_id=int(j), score=float(gram[q_, j]), rank=r + 1)
             for q_, (ids, _) in enumerate(sh.knn) for r, j in enumerate(ids)]
    expect(checks.knn_edges(edges, gram, sh.knn, 5, True)[0],
           "exact kNN edge truth passes")
    bad = edges[0]
    j = next(j for j in range(sh.n_vec)
             if j != bad["query_id"] and j not in sh.knn[0][0])
    swapped = [Row(query_id=bad["query_id"], vec_id=j,
                   score=float(gram[bad["query_id"], j]), rank=1)] + edges[1:]
    expect(not checks.knn_edges(swapped, gram, sh.knn, 5, True)[0],
           "kNN edges with one neighbour swapped are rejected")
    # a self edge scores ~1.0, above every true neighbour, so only the
    # diagonal's -inf in the truth can catch it
    self_score = float(sh.unit[0] @ sh.unit[0])
    selfed = [Row(query_id=0, vec_id=0, score=self_score, rank=1)] + edges[1:]
    for exact in (True, False):
        expect(not checks.knn_edges(selfed, gram, sh.knn, 5, exact)[0],
               f"kNN edges with a self edge are rejected (exact={exact})")

    pairs = [Row(doc_a=a, doc_b=b, jac=j_) for (a, b), j_ in sh.jaccard.items()]
    expect(len(pairs) >= 1 and checks.jaccard_pairs(pairs, sh.jaccard, sh.n_docs, True)[0],
           "exact Jaccard pair truth passes")
    a, b = next(iter(sh.jaccard))
    other = next(x for x in range(sh.n_docs) if x > a and (a, x) not in sh.jaccard)
    swapped = [Row(doc_a=a, doc_b=other, jac=pairs[0]["jac"])] + pairs[1:]
    expect(not checks.jaccard_pairs(swapped, sh.jaccard, sh.n_docs, False)[0],
           "Jaccard pairs with one id swapped are rejected")

    _, dedup_truth = sh.streams["streaming_exact_dedup"]
    kept = [Row(doc_id=d) for d in sorted(dedup_truth)]
    expect(checks.stream_dedup(kept, dedup_truth)[0], "dedup twin passes")
    extra = max(dedup_truth) + 1
    expect(not checks.stream_dedup(kept[:-1] + [Row(doc_id=extra)], dedup_truth)[0],
           "dedup output with one id swapped is rejected")
    _, mom = sh.streams["streaming_moment_stats"]
    rows = [Row(label=g, n=n, mean_norm=m, var_trace=v) for g, (n, m, v) in mom.items()]
    expect(checks.stream_moments(rows, mom)[0], "moment twin passes")
    rows[0] = Row(label=rows[0]["label"], n=rows[0]["n"],
                  mean_norm=rows[0]["mean_norm"] + 1e-3, var_trace=rows[0]["var_trace"])
    expect(not checks.stream_moments(rows, mom)[0], "moment twin mismatch is rejected")
    _, top = sh.streams["streaming_topk_per_key"]
    ev = {e: 0.0 for _, e in top}
    rows = [Row(user_id=u, event_id=e, value=ev[e]) for u, e in top]
    expect(checks.stream_topk(rows, top, 3)[0], "top-k per key twin passes")
    u, e = next(iter(top))
    rows = [r for r in rows if r["event_id"] != e] + [Row(user_id=u, event_id=-1, value=0.0)]
    expect(not checks.stream_topk(rows, top, 3)[0],
           "top-k per key with one id swapped is rejected")


def check_workloads() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for wl in (w["name"] for w in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", "3", "--seconds", "1", "--trace", str(trace),
                   "--scale", "0.05"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                               timeout=600)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0:
                print(p.stderr[-3000:], file=sys.stderr)
            expect(p.returncode == 0 and bool(lines), f"{wl} trace={trace} exits 0")
            res = json.loads(lines[-1])
            expect(set(res) == {"correct", "attempted", "failed", "metrics"}
                   and res["attempted"] >= 1 and res["failed"] == 0 and res["correct"],
                   f"{wl} trace={trace}: {res['attempted']} attempted, 0 failed")
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{wl} trace={trace} prints every {key} metric with its unit")
            printed = "\n".join(lines[:-1])
            expect(all(f" {u}" in printed for u in want.values()),
                   f"{wl} trace={trace} human-readable lines carry the units")


if __name__ == "__main__":
    check_checkers()
    if "--quick" not in sys.argv:
        check_workloads()
    print("selftest passed")

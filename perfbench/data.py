"""Seeded input generation and ground truth for the retrieval benchmark.

Every input is drawn from ``numpy.random.default_rng(seed)`` and written as
parquet with pyarrow, so the same seed always gives the same files. The
ground truth is computed here in numpy/pandas, never by the library under
test.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
# Scores this close to the k-th best count as ties: the library stores
# vectors as float32, so exact top-k sets may legitimately swap members
# whose scores differ below float32 resolution.
SCORE_TIE = 1e-5


def _unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def _list_array(mat: np.ndarray, value_type: pa.DataType) -> pa.Array:
    n, d = mat.shape
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(mat.ravel(), type=value_type))


def write_parquet(path: str, table: pa.Table) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def stored_unit(x: np.ndarray) -> np.ndarray:
    """The vectors a cosine collection stores: unit-normalized in double,
    then narrowed to float32, as ``Collection.put_many`` does."""
    return _unit(x.astype(np.float64)).astype(np.float32).astype(np.float64)


def topk_ids(scores: np.ndarray, k: int) -> np.ndarray:
    """Indices of the k highest scores, best first (ties by index)."""
    k = min(k, scores.shape[-1])
    part = np.argpartition(-scores, k - 1)[:k]
    return part[np.lexsort((part, -scores[part]))]


def admissible(scores: np.ndarray, k: int) -> float:
    """Lowest score an exact top-k member may have, tie tolerance included."""
    if scores.size == 0:
        return np.inf
    kk = min(k, scores.size)
    return float(np.partition(-scores, kk - 1)[kk - 1] * -1) - SCORE_TIE


# -- serve_topk: one resident collection plus a stream of fresh queries ------


@dataclass
class Corpus:
    ids: np.ndarray  # str ids, row order
    labels: np.ndarray  # str label per row
    unit: np.ndarray  # float64 copy of the stored unit vectors
    centres: np.ndarray
    rng: np.random.Generator  # draws the query stream
    path: str
    id_index: dict  # id -> row


def make_corpus(seed: int, n: int, n_centres: int, n_labels: int,
                path: str) -> Corpus:
    """n x DIM vectors drawn around seeded centres, each row carrying a
    ``label`` metadata key (~1/n_labels selective), written in the
    collection's canonical parquet layout."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(n_centres, DIM))
    cluster = rng.integers(0, n_centres, n)
    x = (centres[cluster] + 0.35 * rng.normal(size=(n, DIM))).astype(np.float32)
    ids = np.array([f"v{i}" for i in range(n)], dtype=object)
    labels = np.array([f"l{c % n_labels}" for c in cluster], dtype=object)
    write_parquet(path, collection_table(ids, x, labels))
    return Corpus(ids=ids, labels=labels, unit=stored_unit(x),
                  centres=centres, rng=rng, path=path,
                  id_index={s: i for i, s in enumerate(ids)})


def collection_table(ids, x: np.ndarray, labels) -> pa.Table:
    n = len(ids)
    return pa.table({
        "id": pa.array(list(ids), type=pa.string()),
        "value": pa.nulls(n, pa.string()),
        "vector": _list_array(x.astype(np.float32), pa.float32()),
        "vectors": pa.nulls(n, pa.list_(pa.list_(pa.float32()))),
        "binary_vector": pa.nulls(n, pa.list_(pa.int64())),
        "metadata": pa.array([[("label", lab)] for lab in labels],
                             type=pa.map_(pa.string(), pa.string())),
    })


def fresh_query(corpus: Corpus) -> list[float]:
    """A new query near a random centre. Never repeated: the search kernels
    inline the query as literals, so a repeat would time Spark's codegen
    cache instead of a request."""
    c = corpus.centres[corpus.rng.integers(0, len(corpus.centres))]
    return (c + 0.35 * corpus.rng.normal(size=DIM)).tolist()


def exact_topk(unit: np.ndarray, query: list[float], k: int,
               mask: np.ndarray | None = None) -> tuple[np.ndarray, float, np.ndarray]:
    """Row indices of the exact cosine top-k (restricted to ``mask``), the
    lowest admissible score, and every row's score."""
    q = np.asarray(query, dtype=np.float64)
    s = unit @ (q / np.linalg.norm(q))
    rows = np.arange(len(s)) if mask is None else np.flatnonzero(mask)
    sub = s[rows]
    return rows[topk_ids(sub, k)], admissible(sub, k), s


# -- batch_pairs: one fresh shard per timed iteration -------------------------

WORDS = np.array([f"w{i}" for i in range(5000)], dtype=object)


@dataclass
class Shard:
    vec_path: str
    query_path: str
    doc_path: str
    n_vec: int
    n_queries: int
    n_docs: int
    unit: np.ndarray  # stored (float32-rounded) unit vectors
    queries: np.ndarray
    gram: np.ndarray  # exact vector-vector scores, -inf on the diagonal
    qs: np.ndarray  # exact query-vector scores
    knn: list  # per row: (neighbour indices, admissible score)
    mq: list  # per query: (indices, admissible score)
    jaccard: dict  # {(a, b): jac} for every pair with jac >= threshold
    streams: dict  # gate -> (micro-batch directory, truth)


def shingles(text: str, n: int = 3) -> frozenset:
    """The library's word n-gram shingle set: split on whitespace after
    trim, n consecutive tokens joined by one space."""
    toks = text.strip().split()
    return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def exact_jaccard(texts: list[str], threshold: float) -> dict:
    """Exact Jaccard over shingle sets for every pair sharing a shingle."""
    sets = [shingles(t) for t in texts]
    post: dict = {}
    for i, s in enumerate(sets):
        for sh in s:
            post.setdefault(sh, []).append(i)
    inter: dict = {}
    for ids in post.values():
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                key = (ids[x], ids[y])
                inter[key] = inter.get(key, 0) + 1
    out = {}
    for (a, b), c in inter.items():
        jac = c / (len(sets[a]) + len(sets[b]) - c)
        if jac >= threshold:
            out[(a, b)] = jac
    return out


def make_shard(seed: int, it: int, sizes: dict, root: str,
               threshold: float) -> Shard:
    """A fresh shard for iteration ``it``: vectors with planted
    near-duplicate pairs, a query set, documents with planted near-duplicate
    texts, and one set of micro-batch files per streaming gate — each on its
    own path, so nothing derived from an earlier shard can be reused."""
    rng = np.random.default_rng([seed, it])
    d = os.path.join(root, f"shard{it:03d}")
    n, nq, nd = sizes["vectors"], sizes["queries"], sizes["docs"]
    k = sizes["k"]

    centres = rng.normal(size=(sizes["centres"], DIM))
    x = centres[rng.integers(0, len(centres), n)] + 0.35 * rng.normal(size=(n, DIM))
    n_plant = min(sizes["planted_vectors"], n // 2)
    src = rng.choice(n, size=2 * n_plant, replace=False)
    planted_vec = set()
    for a, b in zip(src[:n_plant], src[n_plant:]):
        x[b] = x[a] + 1e-3 * rng.normal(size=DIM)
        planted_vec.add((min(a, b), max(a, b)))
    unit32 = _unit(x).astype(np.float32)
    unit = unit32.astype(np.float64)
    q = _unit(centres[rng.integers(0, len(centres), nq)]
              + 0.35 * rng.normal(size=(nq, DIM))).astype(np.float32)
    write_parquet(os.path.join(d, "vectors.parquet"), pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": _list_array(unit32, pa.float32()),
    }))
    write_parquet(os.path.join(d, "queries.parquet"), pa.table({
        "query_id": pa.array(np.arange(nq, dtype=np.int64)),
        "query_vector": _list_array(q.astype(np.float64), pa.float64()),
    }))

    gram = unit @ unit.T
    np.fill_diagonal(gram, -np.inf)  # self is never its own neighbour
    kk = min(k, n - 1)
    knn = [(topk_ids(row, kk), admissible(row, kk)) for row in gram]
    qs = q.astype(np.float64) @ unit.T
    mq = [(topk_ids(row, k), admissible(row, k)) for row in qs]

    words = sizes["doc_words"]
    texts = [" ".join(rng.choice(WORDS, size=words)) for _ in range(nd)]
    n_dup = min(sizes["planted_docs"], nd // 2)
    src = rng.choice(nd, size=2 * n_dup, replace=False)
    planted_docs = set()
    for a, b in zip(src[:n_dup], src[n_dup:]):
        toks = texts[a].split()
        toks[int(rng.integers(0, words))] = str(rng.choice(WORDS))
        texts[b] = " ".join(toks)
        planted_docs.add((min(a, b), max(a, b)))
    write_parquet(os.path.join(d, "docs.parquet"), pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
    }))
    jaccard = exact_jaccard(texts, threshold)
    # the planted pairs are part of the truth: each planted vector is its
    # twin's nearest neighbour, each planted text clears the threshold
    if any(b not in knn[a][0] for a, b in planted_vec) or not planted_docs <= set(jaccard):
        raise RuntimeError("a planted near-duplicate pair is missing from the truth")
    return Shard(
        vec_path=os.path.join(d, "vectors.parquet"),
        query_path=os.path.join(d, "queries.parquet"),
        doc_path=os.path.join(d, "docs.parquet"),
        n_vec=n, n_queries=nq, n_docs=nd, unit=unit, queries=q, gram=gram, qs=qs,
        knn=knn, mq=mq,
        jaccard=jaccard,
        streams=make_streams(rng, sizes, os.path.join(d, "streams")),
    )


# -- streaming gates: micro-batch files plus pandas twins ---------------------


def _write_batches(dirpath: str, tables: list[pa.Table]) -> str:
    """One parquet file per micro-batch, with strictly increasing mtimes so
    the file source replays them in generation order."""
    os.makedirs(dirpath, exist_ok=True)
    for i, t in enumerate(tables):
        p = os.path.join(dirpath, f"part-{i:04d}.parquet")
        pq.write_table(t, p)
        os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))
    return dirpath


def make_streams(rng: np.random.Generator, sizes: dict, root: str) -> dict:
    files, rows = sizes["stream_files"], sizes["stream_rows"]
    total = files * rows
    streams = {}

    # per-key top-k: event values, some keys hot, a few non-finite rows
    keys = rng.integers(0, sizes["stream_keys"], total).astype(np.int64)
    vals = np.round(rng.normal(size=total), 6)
    vals[rng.choice(total, size=max(1, total // 200), replace=False)] = np.nan
    ev = pd.DataFrame({"user_id": keys, "event_id": np.arange(total, dtype=np.int64),
                       "value": vals})
    tables = [pa.Table.from_pandas(ev.iloc[i * rows:(i + 1) * rows], preserve_index=False)
              for i in range(files)]
    fin = ev[np.isfinite(ev["value"])].sort_values(
        ["user_id", "value", "event_id"], ascending=[True, False, True])
    truth = fin.groupby("user_id", sort=False).head(sizes["stream_k"])
    streams["streaming_topk_per_key"] = (
        _write_batches(os.path.join(root, "topk"), tables),
        {(int(u), int(e)) for u, e in zip(truth["user_id"], truth["event_id"])},
    )

    # exact dedup: a pool of texts drawn with repeats across batches; ids
    # grow with arrival, so first-seen is also lowest id per digest
    pool = [" ".join(rng.choice(WORDS, size=8)) for _ in range(total // 2)]
    texts = [pool[i] for i in rng.integers(0, len(pool), total)]
    docs = pd.DataFrame({"doc_id": np.arange(total, dtype=np.int64), "text": texts})
    tables = [pa.Table.from_pandas(docs.iloc[i * rows:(i + 1) * rows], preserve_index=False)
              for i in range(files)]
    digest = docs["text"].map(lambda t: hashlib.md5(t.encode()).hexdigest())
    first = docs[~digest.duplicated(keep="first")]
    streams["streaming_exact_dedup"] = (
        _write_batches(os.path.join(root, "dedup"), tables),
        set(first["doc_id"].astype(int)),
    )

    # running moment stats per label, fixed-point twin of the gate's state
    labels = np.array([f"g{i}" for i in rng.integers(0, sizes["stream_groups"], total)],
                      dtype=object)
    vec = np.round(rng.normal(size=(total, DIM)), 4)
    tables = [pa.table({"label": pa.array(list(labels[i * rows:(i + 1) * rows])),
                        "embedding": _list_array(vec[i * rows:(i + 1) * rows],
                                                 pa.float64())})
              for i in range(files)]
    streams["streaming_moment_stats"] = (
        _write_batches(os.path.join(root, "moments"), tables),
        moment_twin(labels, vec),
    )
    return streams


def moment_twin(labels: np.ndarray, vec: np.ndarray, scale_bits: int = 24) -> dict:
    """Per-group (n, mean_norm, var_trace) from the same fixed-point sums
    and left fold over ascending dims that the streaming gate defines."""
    s = float(1 << scale_bits)
    out = {}
    for g in sorted(set(labels)):
        x = vec[labels == g]
        n = x.shape[0]
        sfx = np.floor(x * s + 0.5).astype(np.int64).sum(axis=0)
        qfx = np.floor(x * x * s + 0.5).astype(np.int64).sum(axis=0)
        acc_m = acc_v = 0.0
        for i in range(x.shape[1]):
            m_i = float(sfx[i]) / float(n) / s
            q_i = float(qfx[i]) / float(n) / s
            acc_m = acc_m + m_i * m_i
            acc_v = acc_v + (q_i - m_i * m_i)
        out[g] = (n, float(np.sqrt(acc_m)), acc_v)
    return out

"""Seeded document corpus with planted duplicate families and planted
embedding neighbours, plus the truth derived from them.

Documents are lower-case words joined by single spaces, so the
engine's whitespace tokenizer and 3-token shingles are reproduced here
exactly. Families:

- exact: 2-4 byte-identical copies of one text;
- near: a base text plus 1-3 variants that each append one distinct
  word. With texts of at least 60 tokens every pair in a family has
  shingle Jaccard >= 0.96, so the 32x8 MinHash banding of the engine
  misses one with probability below 1e-7, and unrelated texts (uniform
  draws from a 3000-word vocabulary) share almost no shingle.

Embeddings: one 32-float vector per document. Each query document gets
five planted neighbours at noise scales 0.1..0.5, whose cosines (about
0.99 to 0.89) sit far above any random pair's (about 0.2, rarely above
0.7), so the exact top-5 is the planted set.

The corpus is also cut into microbatches for the ingest workload; the
truth of each batch's duplicate pairs is every planted pair whose later
member lands in that batch.
"""

from __future__ import annotations

import os
from collections import defaultdict
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from data_quality_checks_in_relational_database_spark.operators.text import LANG_MARKERS, STOPWORDS

LANGS = ["de", "en", "fr"]
DIM = 32
TOP_K = 5
NOISE = (0.1, 0.2, 0.3, 0.4, 0.5)
THRESHOLD = 0.5


@dataclass
class Corpus:
    docs_path: str
    embeddings_path: str
    batch_paths: list[str]
    docs_bytes: int
    embeddings_bytes: int
    batch_bytes: list[int]
    quality: dict  # lang -> (n_docs, total_chars, total_tokens, total_stopwords)
    exact_groups: dict  # representative id -> group size, for sizes > 1
    n_distinct_texts: int
    pairs: dict  # (a, b) with a < b -> jaccard
    clusters: dict  # doc id -> (cluster id, cluster size)
    removal: set
    queries: list[int]
    topk: dict  # query id -> [(neighbour id, cosine)] in rank order
    batch_pairs: list[set]  # per batch: pairs (a, b) first complete in it
    batch_quality: list[dict]  # per batch: cumulative quality after it


def _shingles(text: str, n: int = 3) -> frozenset:
    toks = text.split()
    return frozenset(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    reserved = set(STOPWORDS) | {w for ws in LANG_MARKERS.values() for w in ws}
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        w = "".join(rng.choice(letters, int(rng.integers(4, 9))))
        if w not in reserved:
            words.add(w)
    return sorted(words)


def _quality(texts, langs) -> dict:
    out: dict = {}
    for text, lang in zip(texts, langs):
        toks = text.split()
        n, c, t, s = out.get(lang, (0, 0, 0, 0))
        out[lang] = (n + 1, c + len(text), t + len(toks), s + sum(tok in STOPWORDS for tok in toks))
    return out


def _add_quality(a: dict, b: dict) -> dict:
    out = dict(a)
    for k, v in b.items():
        out[k] = tuple(x + y for x, y in zip(out.get(k, (0, 0, 0, 0)), v))
    return out


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


def generate(root: str, seed: int, n_docs: int, n_batches: int, n_queries: int = 40) -> Corpus:
    """Write ``docs.parquet``, ``embeddings.parquet`` and one parquet
    file per microbatch under ``root``; return them with their truth."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, 3000)
    stop = list(STOPWORDS)

    def text(length: int) -> list[str]:
        words = [vocab[j] for j in rng.integers(0, len(vocab), length)]
        for j in np.flatnonzero(rng.random(length) < 0.1):
            words[j] = stop[int(rng.integers(0, len(stop)))]
        return words

    texts: list[str] = []
    while len(texts) < n_docs:
        base = text(int(rng.integers(60, 120)))
        r = rng.random()
        if r < 0.05:
            size = int(rng.integers(2, 5))
            members = [" ".join(base)] * size
        elif r < 0.11:
            extra = rng.choice(len(vocab), int(rng.integers(1, 4)), replace=False)
            members = [" ".join(base)] + [" ".join(base + [vocab[e]]) for e in extra]
        else:
            members = [" ".join(base)]
        texts.extend(members[: n_docs - len(texts)])

    ids = (rng.permutation(n_docs) + 1).astype(np.int64)  # position -> doc id
    langs = [LANGS[j] for j in rng.integers(0, len(LANGS), n_docs)]
    batch = rng.integers(0, n_batches, n_docs)
    batch[:n_batches] = np.arange(n_batches)  # no empty batch

    # --- dedup truth ------------------------------------------------------
    sh = [_shingles(t) for t in texts]
    index: dict = defaultdict(list)
    for pos, s in enumerate(sh):
        for g in s:
            index[g].append(pos)
    cand = set()
    for posting in index.values():
        if 1 < len(posting) <= 50:
            cand.update((a, b) for k, a in enumerate(posting) for b in posting[k + 1 :])
    pairs = {}
    for a, b in cand:
        inter = len(sh[a] & sh[b])
        jac = inter / (len(sh[a]) + len(sh[b]) - inter)
        if jac >= THRESHOLD:
            ia, ib = sorted((int(ids[a]), int(ids[b])))
            pairs[(ia, ib)] = jac

    groups: dict = defaultdict(list)
    for pos, t in enumerate(texts):
        groups[t].append(int(ids[pos]))
    exact_groups = {min(g): len(g) for g in groups.values() if len(g) > 1}

    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for a, b in sorted(pairs):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members = defaultdict(list)
    for x in {x for p in pairs for x in p}:
        members[find(x)].append(x)
    clusters = {x: (min(m), len(m)) for m in members.values() for x in m}
    removal = {x for x, (c, _) in clusters.items() if x != c}

    # --- embeddings with planted neighbours -------------------------------
    vecs = rng.standard_normal((n_docs, DIM))
    order = rng.permutation(n_docs)
    qpos = order[:n_queries]
    npos = order[n_queries : n_queries * (1 + TOP_K)].reshape(n_queries, TOP_K)
    for q, ns in zip(qpos, npos):
        for eps, p in zip(NOISE, ns):
            vecs[p] = vecs[q] + eps * rng.standard_normal(DIM)
    vecs = vecs.astype(np.float32)
    unit = vecs.astype(np.float64)
    unit /= np.linalg.norm(unit, axis=1, keepdims=True)
    topk = {}
    for q in qpos:
        cos = unit @ unit[q]
        cos[q] = -2.0
        best = np.argsort(-cos, kind="stable")[:TOP_K]
        topk[int(ids[q])] = [(int(ids[p]), float(cos[p])) for p in best]

    # --- files ------------------------------------------------------------
    os.makedirs(os.path.join(root, "batches"), exist_ok=True)
    docs = pa.table({"doc_id": ids, "text": texts, "lang": langs})
    docs_path = os.path.join(root, "docs.parquet")
    docs_bytes = _write(docs, docs_path)
    emb_path = os.path.join(root, "embeddings.parquet")
    emb_bytes = _write(
        pa.table({"vec_id": ids, "embedding": pa.array(list(vecs), type=pa.list_(pa.float32()))}),
        emb_path,
    )
    batch_paths, batch_bytes = [], []
    for k in range(n_batches):
        p = os.path.join(root, "batches", f"b{k:02d}.parquet")
        batch_bytes.append(_write(docs.filter(pa.array(batch == k)), p))
        batch_paths.append(p)

    batch_of = {int(ids[pos]): int(batch[pos]) for pos in range(n_docs)}
    batch_pairs = [set() for _ in range(n_batches)]
    for a, b in pairs:
        batch_pairs[max(batch_of[a], batch_of[b])].add((a, b))
    batch_quality, running = [], {}
    for k in range(n_batches):
        sel = np.flatnonzero(batch == k)
        running = _add_quality(running, _quality([texts[p] for p in sel], [langs[p] for p in sel]))
        batch_quality.append(running)

    return Corpus(
        docs_path=docs_path,
        embeddings_path=emb_path,
        batch_paths=batch_paths,
        docs_bytes=docs_bytes,
        embeddings_bytes=emb_bytes,
        batch_bytes=batch_bytes,
        quality=_quality(texts, langs),
        exact_groups=exact_groups,
        n_distinct_texts=len(groups),
        pairs=pairs,
        clusters=clusters,
        removal=removal,
        queries=[int(ids[q]) for q in qpos],
        topk=topk,
        batch_pairs=batch_pairs,
        batch_quality=batch_quality,
    )

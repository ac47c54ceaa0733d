"""Seeded curation corpus in the testdata schema.

    documents(doc_id long, text string, lang string, source string, n_chars long)
    embeddings(vec_id long, embedding array<float>[64] L2-normalized, label int)

Planted structure, all drawn from ``numpy.random.default_rng(seed)``:

* near-duplicate clusters: copies of a root document with up to 22% of
  tokens replaced, so 3-gram Jaccard to the root spans about 0.3-1.0
  (no replacement gives exact duplicates; two copies of one root sit
  further apart);
* boilerplate: 3-token paragraphs from a small shared pool, prepended and
  appended on 3-token boundaries;
* held-out overlap: the held-out slice is ``doc_id % 10 == 0`` (the
  registry's convention) and some training documents carry a 12-token span
  copied from a held-out document;
* a length tail: a few documents run to about ten times the longest
  testdata document (577 chars);
* embeddings: ten label centroids plus noise, and near copies of held-out
  vectors among the training vectors.

Each table is written as four parquet files so a scan has four splits.
"""

from __future__ import annotations

import os

import numpy as np

SIZES = {"full": (2_500, 1_250), "tiny": (240, 200)}
DIM = 64
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.13, 0.15, 0.14]
STOP = ["the", "and", "of", "to", "in", "is", "a", "that", "it", "for"]
STOP_RATE = {"en": 0.3, "de": 0.06, "fr": 0.06, "es": 0.06, "zh": 0.03}


def _vocab() -> list[str]:
    """A fixed 600-word vocabulary of pronounceable tokens (seed-independent)."""
    rng = np.random.default_rng(0)
    cons, vow = list("bcdfghklmnprstvz"), list("aeiou")
    words: set[str] = set()
    while len(words) < 600:
        n = int(rng.integers(2, 4))
        words.add("".join(cons[int(rng.integers(16))] + vow[int(rng.integers(5))] for _ in range(n)))
    return sorted(words - set(STOP))


def grams3(text: str) -> set[str]:
    """Word 3-gram set under the minhash_pairs oracle's tokenization."""
    import re

    tk = [t for t in re.split(r"\s+", re.sub(r"[^a-z0-9\s]+", " ", text.lower())) if t]
    if len(tk) < 3:
        return {" ".join(tk)}
    return {" ".join(tk[i:i + 3]) for i in range(len(tk) - 2)}


def generate(seed: int, scale: str) -> dict:
    """Documents, embeddings and the planted near-duplicate pairs."""
    rng = np.random.default_rng(seed)
    n_docs, n_vecs = SIZES[scale]
    vocab = _vocab()
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    zipf /= zipf.sum()
    boiler = [" ".join(rng.choice(vocab, 3)) for _ in range(12)]

    def body(lang: str) -> list[str]:
        n = int(np.clip(rng.lognormal(3.7, 0.6), 9, 300))
        if rng.random() < 0.01:  # length tail
            n = int(rng.integers(600, 900))
        n -= n % 3
        words = list(rng.choice(vocab, n, p=zipf))
        stop = rng.random(n) < STOP_RATE[lang]
        return [STOP[int(rng.integers(len(STOP)))] if s else w for w, s in zip(words, stop)]

    def framed(words: list[str]) -> list[str]:
        pre = [boiler[int(i)] for i in rng.choice(12, int(rng.integers(0, 3)))]
        post = [boiler[int(i)] for i in rng.choice(12, int(rng.integers(0, 2)))]
        if rng.random() < 0.7:
            pre, post = [], []
        return " ".join(pre + [" ".join(words)] + post).split(" ")

    # base documents, then near-duplicate clusters drawn from them
    docs: list[tuple[list[str], str]] = []
    n_base = int(n_docs * 0.8)
    for _ in range(n_base):
        lang = LANGS[int(rng.choice(5, p=LANG_P))]
        docs.append((framed(body(lang)), lang))
    clusters: list[list[int]] = []
    while len(docs) < n_docs:
        root = int(rng.integers(n_base))
        members = [root]
        for _ in range(int(rng.integers(1, 4))):
            if len(docs) >= n_docs:
                break
            words, lang = docs[root]
            share = 0.0 if rng.random() < 0.2 else float(rng.uniform(0.02, 0.22))
            swap = rng.random(len(words)) < share
            copy = [vocab[int(rng.integers(len(vocab)))] if s else w for w, s in zip(words, swap)]
            members.append(len(docs))
            docs.append((copy, lang))
        clusters.append(members)

    # ids after a shuffle, so clusters and the held-out slice interleave
    order = rng.permutation(len(docs))
    doc_id = np.empty(len(docs), dtype=np.int64)
    doc_id[order] = np.arange(len(docs))
    words_by_id = {int(doc_id[i]): list(w) for i, (w, _) in enumerate(docs)}
    lang_by_id = {int(doc_id[i]): lang for i, (_, lang) in enumerate(docs)}
    held = [i for i in words_by_id if i % 10 == 0]
    for i in sorted(words_by_id):
        if i % 10 and rng.random() < 0.03:  # held-out overlap
            src = words_by_id[held[int(rng.integers(len(held)))]]
            a = int(rng.integers(max(1, len(src) - 12)))
            at = int(rng.integers(len(words_by_id[i]) + 1))
            words_by_id[i][at:at] = src[a:a + 12]

    ids = sorted(words_by_id)
    texts = [" ".join(words_by_id[i]) for i in ids]
    documents = {
        "doc_id": ids,
        "text": texts,
        "lang": [lang_by_id[i] for i in ids],
        "source": [f"src{int(s)}" for s in rng.integers(0, 20, len(ids))],
        "n_chars": [len(t) for t in texts],
    }
    text_of = dict(zip(ids, texts))
    planted = []
    for members in clusters:
        m = sorted(int(doc_id[k]) for k in members)
        planted += [(a, b) for x, a in enumerate(m) for b in m[x + 1:]]

    cent = rng.normal(size=(10, DIM))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vecs)
    vecs = 0.6 * cent[labels] + rng.normal(scale=1 / np.sqrt(DIM), size=(n_vecs, DIM))
    for v in range(n_vecs):
        if v % 10 and rng.random() < 0.05:  # near copy of a held-out vector
            src = int(rng.integers(n_vecs // 10)) * 10
            vecs[v] = vecs[src] + rng.normal(scale=0.02, size=DIM)
            labels[v] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": [row.astype(np.float32) for row in vecs],
        "label": labels.astype(np.int32),
    }
    return {"documents": documents, "embeddings": embeddings, "text_of": text_of,
            "planted": planted}


def write(corpus: dict, out_dir: str) -> None:
    """``<out_dir>/{documents,embeddings}.parquet/part-<k>.parquet``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schemas = {
        "documents": pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                                ("lang", pa.string()), ("source", pa.string()),
                                ("n_chars", pa.int64())]),
        "embeddings": pa.schema([("vec_id", pa.int64()),
                                 ("embedding", pa.list_(pa.float32())),
                                 ("label", pa.int32())]),
    }
    for name, schema in schemas.items():
        table = pa.table(corpus[name], schema=schema)
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        n = table.num_rows
        for k in range(4):
            lo, hi = n * k // 4, n * (k + 1) // 4
            pq.write_table(table.slice(lo, hi - lo), os.path.join(d, f"part-{k}.parquet"))


def jaccard3(a: str, b: str) -> float:
    ga, gb = grams3(a), grams3(b)
    return len(ga & gb) / max(len(ga | gb), 1)


def planted_truth(corpus: dict) -> list[tuple[int, int, float]]:
    """Planted pairs with their exact 3-gram Jaccard."""
    t = corpus["text_of"]
    return [(a, b, jaccard3(t[a], t[b])) for a, b in corpus["planted"]]

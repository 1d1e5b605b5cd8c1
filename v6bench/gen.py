"""Deterministic input generation for the benchmark.

Both corpora are made from the run's ``--seed`` (the same seed gives
the same bytes) and are written before anything is timed.  Nothing
here imports the program under test.

* ``dedup_corpus``: ``SCALE`` replicas of a base set of documents and
  embeddings shaped like the repository's judged corpus (30-word
  vocabulary, 20-100 words a document; 64-dimensional unit vectors
  around ten label centres).  Replica ``r`` shifts its keys by
  ``r * KEY_SHIFT``; its text goes through a letter substitution
  cipher (``a * i + b mod 26``) and its vectors are hash noise, so a
  bigger corpus keeps the near-duplicate density of the base set
  instead of growing ``SCALE``-member twin groups.  Near-duplicate
  pairs with known Jaccard are planted in the base set, so every
  replica carries them too.
* ``publish_corpus``: documents with some verbatim copies (so the
  prepare stage's exact dedup removes rows) plus a fixed-size upsert
  delta (updates of surviving keys and inserts of new ones).
"""

from __future__ import annotations

import numpy as np

import reference

VOCAB = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]

# dedup corpus
N_BASE_DOCS = 500
N_PLANTED = 60
N_BASE_VECS = 500
SCALE = 6
DIM = 64
KEY_SHIFT = 1_000_000_000
_COPRIMES = [1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25]
_LOWER = "abcdefghijklmnopqrstuvwxyz"

# publish corpus
N_PUBLISH_DOCS = 1000
N_PUBLISH_DUPS = 50  # verbatim copies of earlier documents
N_UPSERT_UPDATES = 40
N_UPSERT_INSERTS = 10
INSERT_KEY_BASE = 10_000_000
# rows the retract stage removes: a fixed predicate over doc_id
RETRACT_PREDICATE = "doc_id % 53 = 7"


def retracted(doc_id: int) -> bool:
    """Python statement of ``RETRACT_PREDICATE``."""
    return doc_id % 53 == 7


def random_text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def near_copy(text: str, kind: int) -> str:
    """A planted near-duplicate of ``text``: 0 appends one word, 1
    replaces one word near the end, 2 replaces two words, 3 replaces
    every fifth word (a distant pair the LSH need not find)."""
    words = text.split()
    n = len(words)
    if kind == 0:
        return text + " dup"
    if kind == 1:
        words[n - 2] = "planted"
    elif kind == 2:
        words[n // 3] = "planted"
        words[2 * n // 3] = "copy"
    else:
        for i in range(0, n, 5):
            words[i] = "planted"
    return " ".join(words)


def cipher(replica: int) -> dict[int, int]:
    """The letter substitution of a replica (identity for replica 0)."""
    a, b = _COPRIMES[replica % 12], replica // 12
    return str.maketrans(_LOWER, "".join(_LOWER[(a * i + b) % 26] for i in range(26)))


def dedup_corpus(seed: int) -> tuple[dict, dict, list[dict]]:
    """(documents columns, embeddings columns, planted pairs)."""
    rng = np.random.default_rng(seed)
    texts = [random_text(rng, int(rng.integers(20, 100))) for _ in range(N_BASE_DOCS)]
    planted_base = []
    for j in range(N_PLANTED):
        base = int(rng.integers(0, N_BASE_DOCS))
        texts.append(near_copy(texts[base], j % 4))
        planted_base.append((base, len(texts) - 1))
    langs = [LANGS[i] for i in rng.integers(0, 5, len(texts))]

    centres = rng.normal(size=(10, DIM))
    labels = rng.integers(0, 10, N_BASE_VECS).astype(np.int32)
    base_vecs = centres[labels] * 0.5 + rng.normal(size=(N_BASE_VECS, DIM))
    for i in range(10, N_BASE_VECS, 10):  # near-neighbours sharing every cell
        base_vecs[i] = base_vecs[i - 1] + 0.01 * rng.normal(size=DIM)
        labels[i] = labels[i - 1]
    base_vecs /= np.linalg.norm(base_vecs, axis=1, keepdims=True)

    docs = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    vec_ids, vecs, vec_labels = [], [], []
    planted = []
    for r in range(SCALE):
        table = cipher(r)
        for i, t in enumerate(texts):
            salted = t.translate(table)
            docs["doc_id"].append(r * KEY_SHIFT + i)
            docs["text"].append(salted)
            docs["lang"].append(langs[i])
            docs["source"].append(f"src{i % 20}")
            docs["n_chars"].append(len(salted))
        noise = (
            base_vecs
            if r == 0
            else np.random.default_rng([seed, r]).uniform(-1.0, 1.0, (N_BASE_VECS, DIM))
        )
        vec_ids.extend(r * KEY_SHIFT + i for i in range(N_BASE_VECS))
        vecs.append(noise.astype(np.float32))
        vec_labels.append(labels)
        for a, b in planted_base:
            planted.append(
                {
                    "a": r * KEY_SHIFT + a,
                    "b": r * KEY_SHIFT + b,
                    "jaccard": reference.jaccard(texts[a], texts[b]),
                }
            )
    emb = {
        "vec_id": vec_ids,
        "embedding": np.concatenate(vecs),
        "label": np.concatenate(vec_labels),
    }
    return docs, emb, planted


def publish_corpus(seed: int) -> tuple[list[dict], list[dict]]:
    """(documents, upsert delta) for ``corpus_publish``.  The delta
    rewrites the text of ``N_UPSERT_UPDATES`` surviving keys and
    inserts ``N_UPSERT_INSERTS`` new keys into ``train``."""
    rng = np.random.default_rng(seed)
    n_base = N_PUBLISH_DOCS - N_PUBLISH_DUPS
    texts = [random_text(rng, int(rng.integers(20, 120))) for _ in range(n_base)]
    for src in rng.choice(n_base, N_PUBLISH_DUPS, replace=False):
        texts.append(texts[int(src)])
    docs = [{"doc_id": i, "text": t, "lang": LANGS[i % 5]} for i, t in enumerate(texts)]
    first: dict[str, int] = {}
    for d in docs:
        first.setdefault(d["text"], d["doc_id"])
    survivors = sorted(first.values())
    picks = sorted(rng.choice(len(survivors), N_UPSERT_UPDATES, replace=False))
    delta = [
        {"doc_id": survivors[int(p)], "text": "revised " + random_text(rng, 40), "lang": "en", "split": None}
        for p in picks
    ]
    delta += [
        {"doc_id": INSERT_KEY_BASE + j, "text": "inserted " + random_text(rng, 40), "lang": "en", "split": "train"}
        for j in range(N_UPSERT_INSERTS)
    ]
    return docs, delta

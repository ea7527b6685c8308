"""Seeded input generators: the program under test sees only these.

Every generator is a pure function of its arguments and a NumPy
``Generator`` built from the run's ``--seed``, so one seed always yields
byte-identical inputs (pinned in ``perfbench/tests``).

* ``knn_pair`` — a Gaussian-mixture train/test pair with 11 features,
  the width of the reference's large ARFF dataset.
* ``zipf_corpus`` — space-tokenized documents whose term frequencies
  follow a Zipf law, with planted exact duplicates, planted
  near-duplicates (a few token substitutions) and planted copies of the
  held-out benchmark slice (``doc_id % 10 == 0``, the curation
  pipeline's contract).
* ``clustered_embeddings`` — unit-scale vectors around random centres.
"""

from __future__ import annotations

import numpy as np

# The text operators' stop-word list: the most frequent Zipf ranks are
# stop words, as in natural text, so quality scores spread over [0, 1].
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "on", "for", "that")
BENCH_MOD = 10
N_CLASSES = 4  # KNN mixture components
VOCAB, DOC_LEN = 4000, (24, 96)  # Zipf corpus vocabulary, token range
# shares of planted exact copies, near copies and benchmark copies
EXACT, NEAR, CONTAM = 0.08, 0.08, 0.03
N_CLUSTERS = 32  # embedding clusters


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, input stream)."""
    return np.random.default_rng([seed, *stream.encode()])


def knn_pair(seed: int, n_train: int, n_test: int, dim: int = 11):
    """(train_x, train_y, test_x, test_y): float64 features, int labels.

    Classes overlap (centre spread ~ noise scale), so predictions are
    not trivially perfect and the vote matters."""
    rng = rng_for(seed, "knn")
    centres = rng.normal(0.0, 0.8, size=(N_CLASSES, dim))

    def draw(n):
        y = rng.integers(0, N_CLASSES, size=n)
        x = centres[y] + rng.normal(0.0, 1.0, size=(n, dim))
        return np.round(x, 6), y.astype(np.int64)

    train_x, train_y = draw(n_train)
    test_x, test_y = draw(n_test)
    return train_x, train_y, test_x, test_y


def _vocab(rng: np.random.Generator, size: int) -> list[str]:
    """Distinct lowercase pseudo-words; stop words take the top ranks."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = list(STOPWORDS)
    seen = set(words)
    while len(words) < size:
        n = int(rng.integers(3, 9))
        w = "".join(rng.choice(letters, size=n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_corpus(seed: int, n_docs: int, *, first_id: int = 0,
                stream: str = "corpus"):
    """Documents as ``(doc_ids, texts, plants)``.

    ``plants`` maps ``"exact"``, ``"near"`` and ``"contam"`` to the
    doc ids planted as copies of earlier documents. Exact copies and
    near copies take their source among non-benchmark documents, so the
    planted sets stay disjoint from the contamination plants."""
    rng = rng_for(seed, stream)
    vocab = np.array(_vocab(rng, VOCAB))
    ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
    p = ranks ** -1.07
    p /= p.sum()
    ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    toks: list[np.ndarray] = []
    kind = rng.random(n_docs)
    plants: dict[str, list[int]] = {"exact": [], "near": [], "contam": []}
    for i in range(n_docs):
        did = int(ids[i])
        fresh = vocab[rng.choice(VOCAB, size=int(
            rng.integers(DOC_LEN[0], DOC_LEN[1] + 1)), p=p)]
        # sources must already exist; benchmark docs stay originals
        if i < 20 or did % BENCH_MOD == 0:
            toks.append(fresh)
            continue
        k = kind[i]
        if k < EXACT + NEAR:
            j = int(rng.integers(0, i))
            while int(ids[j]) % BENCH_MOD == 0:
                j = int(rng.integers(0, i))
            src = toks[j].copy()
            if k < EXACT:
                plants["exact"].append(did)
            else:
                for pos in rng.choice(len(src), size=2, replace=False):
                    src[pos] = vocab[int(rng.integers(0, VOCAB))]
                plants["near"].append(did)
            toks.append(src)
        elif k < EXACT + NEAR + CONTAM:
            bench = [j for j in range(0, i) if int(ids[j]) % BENCH_MOD == 0]
            src = toks[bench[int(rng.integers(0, len(bench)))]]
            toks.append(np.concatenate([fresh[:8], src]))
            plants["contam"].append(did)
        else:
            toks.append(fresh)
    texts = [" ".join(t) for t in toks]
    return ids, texts, plants


def text_queries(seed: int, n: int, vocab_texts: list[str], *,
                 first_id: int = 0):
    """(query_ids, texts): 2-4 keyword queries drawn from corpus tokens
    (never stop words), so every query matches something."""
    rng = rng_for(seed, f"tq{first_id}")
    pool = sorted({w for t in vocab_texts for w in t.split(" ")}
                  - set(STOPWORDS))
    qids = np.arange(first_id, first_id + n, dtype=np.int64)
    out = []
    for _ in range(n):
        m = int(rng.integers(2, 5))
        out.append(" ".join(pool[int(j)] for j in
                            rng.choice(len(pool), size=m, replace=False)))
    return qids, out


def clustered_embeddings(seed: int, n: int, *, dim: int = 64,
                         first_id: int = 0, stream: str = "emb"):
    """(vec_ids, float32 vectors [n, dim], cluster labels).

    Cluster centres are drawn from the seed alone (not the stream), so
    query and append batches land in the corpus's clusters."""
    crng = rng_for(seed, "emb-centres")
    centres = crng.normal(0.0, 1.0, size=(N_CLUSTERS, dim))
    rng = rng_for(seed, stream)
    lab = rng.integers(0, N_CLUSTERS, size=n)
    x = centres[lab] + rng.normal(0.0, 0.35, size=(n, dim))
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return ids, x.astype(np.float32), lab.astype(np.int32)

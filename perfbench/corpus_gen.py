"""Seeded word-soup corpus for the curation workload, shaped like
``scripts/scale_smoke.py::synth_docs``: ~40 tokens per doc from a
skewed 2,000-word vocabulary, with planted exact duplicates, near
duplicates and benchmark contamination, plus a benchmark slice and
fresh deliveries for the incremental admit."""

from __future__ import annotations

import numpy as np

EXACT_EVERY = 97  # doc i repeats doc i-1 verbatim
NEAR_EVERY = 89  # doc i is doc i-1 with one token replaced
CONTAM_EVERY = 101  # doc i carries a benchmark 3-gram
DELIVERY_NEAR_EVERY = 10  # delivery doc near-duplicates a corpus doc
DELIVERY_DUP_EVERY = 13  # delivery doc repeats the previous delivery doc


def _soup(rng: np.random.Generator, n: int, k: int = 40) -> np.ndarray:
    # skewed vocabulary: the product of two uniforms folds mass onto
    # low word ids, like stopwords
    a = rng.integers(0, 2000, (n, k))
    b = rng.integers(0, 47, (n, k))
    return (a * b) % 2000


def _text(ids) -> str:
    return " ".join(f"w{i}" for i in ids)


def benchmark(seed: int, n: int = 25) -> list[str]:
    rng = np.random.default_rng([seed, 1])
    return [" ".join(f"b{i}" for i in row)
            for row in rng.integers(0, 500, (n, 30))]


def corpus(seed: int, n: int) -> tuple[list[int], list[str], dict]:
    """Docs ``0..n-1`` and the planted ids by kind."""
    rng = np.random.default_rng([seed, 0])
    soup = _soup(rng, n)
    bench = benchmark(seed)
    texts: list[str] = []
    planted = {"exact": [], "near": [], "contaminated": []}
    for i in range(n):
        if i and i % EXACT_EVERY == 0:
            texts.append(texts[-1])
            planted["exact"].append(i)
            continue
        ids = soup[i]
        if i and i % NEAR_EVERY == 0:
            ids = soup[i - 1].copy()
            ids[int(rng.integers(0, len(ids)))] = 1999
            soup[i] = ids
            planted["near"].append(i)
        t = _text(ids)
        if i % CONTAM_EVERY == 0:
            words = bench[i % len(bench)].split()
            t = f"{t} {' '.join(words[3:6])}"
            planted["contaminated"].append(i)
        texts.append(t)
    return list(range(n)), texts, planted


def delivery(seed: int, first_id: int, m: int,
             corpus_texts: list[str]) -> tuple[list[int], list[str], dict]:
    """``m`` fresh docs with ids ``first_id..``: mostly novel, some near
    duplicates of corpus docs, some exact in-batch repeats."""
    rng = np.random.default_rng([seed, 2])
    soup = _soup(rng, m)
    ids, texts = [], []
    planted = {"near_corpus": [], "dup_in_batch": []}
    for j in range(m):
        did = first_id + j
        if j and j % DELIVERY_DUP_EVERY == 0:
            texts.append(texts[-1])
            planted["dup_in_batch"].append(did)
        elif j % DELIVERY_NEAR_EVERY == 0:
            src = corpus_texts[int(rng.integers(0, len(corpus_texts)))].split()
            src[int(rng.integers(0, len(src)))] = "w1998"
            texts.append(" ".join(src))
            planted["near_corpus"].append(did)
        else:
            texts.append(_text(soup[j]))
        ids.append(did)
    return ids, texts, planted

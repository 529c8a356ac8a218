"""Seeded input generator for the benchmark.

Self-contained on purpose: it imports nothing from ``jam_spark``, so a
change to the program (``corpus.py`` included) cannot change the inputs
a workload measures. Every table is a pure function of ``seed`` and the
size arguments (numpy ``PCG64`` streams, no wall clock).

Ground truth rides along as a ``family`` column: rows planted as exact
or near copies of one base text share a family id; every other row is a
family of its own. The checker uses it for the recall floor; it is
dropped before the table reaches the program.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_LANGS = np.array(["en", "de", "fr", "es", "zh"])


def _words(rng: np.random.Generator, n: int, lo: int = 3, hi: int = 11) -> np.ndarray:
    """``n`` distinct pseudo-words of ``lo``..``hi``-1 letters."""
    out: dict[str, None] = {}
    while len(out) < n:
        lens = rng.integers(lo, hi, n)
        letters = (rng.integers(0, 26, int(lens.sum())) + ord("a")).astype(np.uint8)
        buf = letters.tobytes().decode("ascii")
        ends = np.cumsum(lens)
        for s, e in zip(ends - lens, ends):
            out.setdefault(buf[s:e])
            if len(out) == n:
                break
    return np.array(list(out), dtype=object)


def _perturb(rng: np.random.Generator, toks: np.ndarray, rate: float, vocab_n: int) -> np.ndarray:
    """Substitute ``rate`` of the tokens (at least one) with random words."""
    out = toks.copy()
    n_edit = max(1, int(len(out) * rate))
    out[rng.integers(0, len(out), n_edit)] = rng.integers(0, vocab_n, n_edit)
    return out


def _pages_frame(rng: np.random.Generator, vocab: np.ndarray, docs: list[np.ndarray], fams: list[int]) -> pd.DataFrame:
    """Shuffle rows so planted copies land in different scan splits, then
    number urls in shuffled order (cluster ids are min member urls)."""
    order = rng.permutation(len(docs))
    urls = [f"https://site{i % 97:02d}.example/p/{i:07d}" for i in range(len(docs))]
    return pd.DataFrame(
        {
            "url": urls,
            "text": [" ".join(vocab[docs[j]]) for j in order],
            "lang": _LANGS[np.arange(len(docs)) % 4],
            "family": np.asarray(fams, dtype=np.int64)[order],
        }
    )


def web_pages(seed: int, n_docs: int) -> pd.DataFrame:
    """Mostly-unique web pages: ~60% unique, ~30% near-dup family members
    (a base page plus 1-3 copies with 1-3% of tokens substituted) and ~10%
    exact copies of an earlier page. Columns: url, text, lang, family."""
    rng = np.random.default_rng([seed, 1])
    vocab = _words(rng, 20_000)
    docs: list[np.ndarray] = []
    fams: list[int] = []
    n_fam = 0
    while len(docs) < n_docs:
        r = rng.random()
        if r < 0.75 or not docs:
            docs.append(rng.integers(0, len(vocab), rng.integers(100, 400)))
            fams.append(n_fam)
            n_fam += 1
        elif r < 0.875:
            base = rng.integers(0, len(vocab), rng.integers(150, 400))
            docs.append(base)
            fams.append(n_fam)
            for _ in range(rng.integers(1, 4)):
                docs.append(_perturb(rng, base, rng.uniform(0.01, 0.03), len(vocab)))
                fams.append(n_fam)
            n_fam += 1
        else:
            j = int(rng.integers(0, len(docs)))
            docs.append(docs[j])
            fams.append(fams[j])
    return _pages_frame(rng, vocab, docs[:n_docs], fams[:n_docs])


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    """A ``documents`` table with the sf0.1 schema (doc_id int64, text,
    lang, source, n_chars int64) and its shape: a 31-word vocabulary,
    10-100 tokens per doc, 20 sources. 10% of rows are near copies (one
    or two substituted tokens) of an earlier row, so the duplicate
    operators have pairs to find. Ground truth in ``family``."""
    rng = np.random.default_rng([seed, 3])
    vocab = _words(rng, 31, lo=1, hi=9)
    rows: list[np.ndarray] = []
    fams: list[int] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.10:
            j = int(rng.integers(0, i))
            rows.append(_perturb(rng, rows[j], 0.02, len(vocab)))
            fams.append(fams[j])
        else:
            rows.append(rng.integers(0, len(vocab), rng.integers(10, 101)))
            fams.append(i)
    texts = [" ".join(vocab[r]) for r in rows]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            "family": np.asarray(fams, dtype=np.int64),
        }
    )


def embeddings(seed: int, n_vecs: int, dim: int = 64, n_labels: int = 10) -> pd.DataFrame:
    """An ``embeddings`` table with the sf0.1 schema (vec_id int64,
    embedding array<float>, label int32): unit vectors scattered around
    ``n_labels`` class centres."""
    rng = np.random.default_rng([seed, 4])
    centres = rng.standard_normal((n_labels, dim))
    label = rng.integers(0, n_labels, n_vecs)
    v = centres[label] + 0.6 * rng.standard_normal((n_vecs, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(v.astype(np.float32)),
            "label": label.astype(np.int32),
        }
    )

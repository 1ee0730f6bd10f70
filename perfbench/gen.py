"""Seeded input generator for the benchmark workloads.

Everything a workload checks its outputs against is returned here, next
to the inputs, so a verifier never re-derives expectations from the
program under test. The same seed always gives the same bytes.

Vectors: ``n`` rows of ``dim``-d float32, drawn around ten cluster
centres (label 0-9, uniform). A ``dup_frac`` share of rows are
near-copies of an earlier row (noise 1e-3 of the cluster spread) and
carry a larger id than their original, so an id-ordered keep rule keeps
the original.

Documents: ``n`` documents of 60-90 random words with the Gopher
stopwords mixed in. Shares ``exact_frac`` / ``near_frac`` are exact
copies / two-word edits of an earlier original (3-shingle Jaccard about
0.9), and ``short_frac`` are originals too short for the Gopher word
floor. Originals never share a 3-shingle with each other in practice
(a 4,000-word vocabulary).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
LABELS = 10
_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


@dataclass
class Vectors:
    ids: np.ndarray  # int64, 0..n-1
    vecs: np.ndarray  # float32 (n, dim)
    labels: np.ndarray  # int64 0..9
    dup_of: dict[int, int] = field(default_factory=dict)  # copy id -> original

    def label_sum(self, ids) -> int:
        return int(self.labels[np.asarray(sorted(ids), dtype=np.int64)].sum())

    def ids_with_label(self, label: int) -> set[str]:
        return {str(i) for i in self.ids[self.labels == label]}

    def write_parquet(self, path: str) -> None:
        write_parts(
            pa.table(
                {
                    "vec_id": pa.array(self.ids, pa.int64()),
                    "embedding": pa.array(list(self.vecs), pa.list_(pa.float32())),
                    "label": pa.array(self.labels, pa.int64()),
                }
            ),
            path,
        )


@dataclass
class Documents:
    ids: np.ndarray  # int64
    texts: list[str]
    originals: set[int]  # ids that are not copies or edits of another doc
    short: set[int]  # originals below the Gopher word floor

    def write_parquet(self, path: str) -> None:
        write_parts(
            pa.table({"doc_id": pa.array(self.ids, pa.int64()),
                      "text": pa.array(self.texts, pa.string())}),
            path,
        )

    def distinct_text_keep_ids(self) -> set[int]:
        """Smallest id per distinct text: what exact dedup must keep."""
        keep: dict[str, int] = {}
        for i, t in zip(self.ids, self.texts):
            keep.setdefault(t, int(i))
        return set(keep.values())


def write_parts(table: pa.Table, path: str, parts: int = 8) -> None:
    """A directory of ``parts`` parquet files, like a real corpus: Spark
    plans one scan split per file group instead of one for the lot."""
    import os

    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), f"{path}/part-{i:03d}.parquet")


def vectors(seed: int, n: int, *, dim: int = DIM, dup_frac: float = 0.05,
            spread: float = 1.0) -> Vectors:
    rng = np.random.default_rng([seed, 1])
    centres = rng.normal(size=(LABELS, dim))
    labels = rng.integers(0, LABELS, size=n)
    vecs = centres[labels] + rng.normal(scale=spread, size=(n, dim))
    dup_of: dict[int, int] = {}
    n_dup = int(n * dup_frac)
    # copies sit in the upper id range and point at an original below it
    copies = rng.choice(np.arange(n // 2, n), size=n_dup, replace=False)
    copy_set = set(int(c) for c in copies)
    pool = np.array([i for i in range(n // 2) if i not in copy_set])
    srcs = rng.choice(pool, size=n_dup, replace=False)
    for c, s in zip(copies, srcs):
        labels[c] = labels[s]
        vecs[c] = vecs[s] + rng.normal(scale=spread * 1e-3, size=dim)
        dup_of[int(c)] = int(s)
    return Vectors(
        ids=np.arange(n, dtype=np.int64),
        vecs=vecs.astype(np.float32),
        labels=labels.astype(np.int64),
        dup_of=dup_of,
    )


def _vocab(rng: np.random.Generator, size: int = 4000) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        k = int(rng.integers(3, 10))
        words.add("".join(rng.choice(_LETTERS, size=k)))
    return sorted(words - set(_STOPWORDS))


def documents(seed: int, n: int, *, exact_frac: float = 0.1,
              near_frac: float = 0.1, short_frac: float = 0.1) -> Documents:
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng)
    n_exact = int(n * exact_frac)
    n_near = int(n * near_frac)
    n_orig = n - n_exact - n_near
    n_short = int(n * short_frac)

    def doc(n_words: int) -> list[str]:
        words = [vocab[i] for i in rng.integers(0, len(vocab), size=n_words)]
        for pos in rng.choice(n_words, size=max(3, n_words // 8), replace=False):
            words[pos] = _STOPWORDS[int(rng.integers(0, len(_STOPWORDS)))]
        return words

    texts: list[list[str]] = []
    short: set[int] = set()
    for i in range(n_orig):
        if i < n_short:
            texts.append(doc(int(rng.integers(20, 35))))
            short.add(i)
        else:
            texts.append(doc(int(rng.integers(60, 91))))
    # copies of long originals only, so every Gopher verdict is known
    long_ids = np.arange(n_short, n_orig)
    for j in range(n_exact + n_near):
        src = texts[int(rng.choice(long_ids))]
        if j < n_exact:
            texts.append(list(src))
        else:
            edited = list(src)
            for pos in rng.choice(len(edited), size=2, replace=False):
                edited[pos] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(edited)
    return Documents(
        ids=np.arange(n, dtype=np.int64),
        texts=[" ".join(t) for t in texts],
        originals=set(range(n_orig)),
        short=short,
    )

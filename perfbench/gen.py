"""Seeded input generators. Every input the benchmark hands the engine comes
from here, driven by one ``numpy.random.Generator`` built from ``--seed``;
nothing is read from fixture directories.
"""

from __future__ import annotations

import numpy as np

DIM = 64
_SYL = ("ka", "lo", "mi", "ne", "ru", "ta", "vi", "zo", "pe", "su",
        "da", "fi", "go", "hu", "je", "bo")


def vocabulary(n: int) -> list[str]:
    """``n`` distinct lowercase words made of two or three syllables."""
    words = []
    for i in range(n):
        a, b, c = i % 16, (i // 16) % 16, i // 256
        words.append(_SYL[a] + _SYL[b] + (_SYL[c % 16] * (1 + c // 16)
                                          if c else ""))
    return words


def zipf_ranks(rng: np.random.Generator, n: int, size: int,
               s: float = 1.1) -> np.ndarray:
    """``size`` ranks in [0, n) with P(rank r) proportional to 1/(r+1)^s."""
    p = 1.0 / np.arange(1, n + 1) ** s
    return rng.choice(n, size=size, p=p / p.sum())


def unit_rows(m: np.ndarray) -> np.ndarray:
    return m / np.linalg.norm(m, axis=1, keepdims=True)


class Corpus:
    """Clustered unit vectors with captions: ``n`` rows around
    ``n_centres`` seeded centres. Each cluster owns a band of topic words,
    so a caption's words and its vector agree on the cluster."""

    def __init__(self, rng: np.random.Generator, n: int,
                 n_centres: int = 32, noise: float = 0.35,
                 vocab_size: int = 512, id_base: int = 0):
        self.rng = rng
        self.n_centres = n_centres
        self.noise = noise
        self.vocab = vocabulary(vocab_size)
        self.centres = unit_rows(rng.standard_normal((n_centres, DIM)))
        self.ids = np.arange(id_base, id_base + n, dtype=np.int64)
        self.vectors, self.labels = self.draw(n)
        self.captions = self.caption(self.labels)

    def draw(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        labels = self.rng.integers(0, self.n_centres, n)
        v = self.centres[labels] + self.noise * self.rng.standard_normal(
            (n, DIM)) / np.sqrt(DIM)
        return unit_rows(v).astype(np.float32), labels

    def caption(self, labels: np.ndarray) -> list[str]:
        band = len(self.vocab) // self.n_centres
        topic = self.rng.integers(0, band, (len(labels), 3))
        common = zipf_ranks(self.rng, len(self.vocab), len(labels) * 2)
        out = []
        for i, lab in enumerate(labels):
            ws = [self.vocab[lab * band + t] for t in topic[i]]
            ws += [self.vocab[c] for c in common[2 * i:2 * i + 2]]
            out.append(" ".join(ws))
        return out

    def append(self, n: int) -> tuple[np.ndarray, np.ndarray, list[str]]:
        """``n`` new rows with fresh ids after the current maximum."""
        start = int(self.ids[-1]) + 1
        ids = np.arange(start, start + n, dtype=np.int64)
        vecs, labels = self.draw(n)
        caps = self.caption(labels)
        self.ids = np.concatenate([self.ids, ids])
        self.vectors = np.concatenate([self.vectors, vecs])
        self.labels = np.concatenate([self.labels, labels])
        self.captions += caps
        return ids, vecs, caps


def events(rng: np.random.Generator, n: int, users: int, days: float
           ) -> list[tuple]:
    """``events`` rows (event_id, ts_us, user_id, event_type, value) in the
    fixture schema, spread over ``days``."""
    base = 1_704_067_200_000_000  # 2024-01-01 UTC in microseconds
    span = int(days * 86_400_000_000)
    user = rng.integers(0, users, n)
    ts = base + rng.integers(0, span, n)
    kinds = ("click", "error", "purchase", "signup", "view")
    kind = rng.integers(0, 5, n)
    val = rng.gamma(2.0, 30.0, n)
    return [(i, int(ts[i]), int(user[i]), kinds[kind[i]], float(val[i]))
            for i in range(n)]

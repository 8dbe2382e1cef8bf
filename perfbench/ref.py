"""Reference answers the engine's outputs are checked against: NumPy float64
exact top-k, a re-statement of the fixture embedder's definition, and
pure-Python session windows."""

from __future__ import annotations

import hashlib
from collections import defaultdict

import numpy as np

TOL = 1e-9


def embed_text(text: str, dim: int = 64) -> np.ndarray:
    """unit(normal(rng(sha256(text)[:8]))), the deterministic test
    embedder as FIXTURES.md defines it."""
    seed = int.from_bytes(hashlib.sha256(text.encode()).digest()[:8], "big")
    v = np.random.default_rng(seed).standard_normal(dim)
    return v / np.linalg.norm(v)


def exact_topk(vecs: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int
               ) -> tuple[np.ndarray, np.ndarray]:
    """Top-k (ids, scores) by float64 dot product, ties by ascending id."""
    s = vecs.astype(np.float64) @ np.asarray(q, dtype=np.float64)
    order = np.lexsort((ids, -s))[:k]
    return ids[order], s[order]


def same_topk(got_ids, want_ids, want_scores) -> bool:
    """Equal id lists, allowing a swap only between scores within TOL."""
    got_ids, want_ids = list(got_ids), list(want_ids)
    if got_ids == want_ids:
        return True
    if len(got_ids) != len(want_ids) or set(got_ids) != set(want_ids):
        return False
    pos = {i: n for n, i in enumerate(want_ids)}
    return all(abs(want_scores[pos[g]] - want_scores[n]) <= TOL
               for n, g in enumerate(got_ids))


class Vectors:
    """id -> float64 vector lookup over live rows, for score checks."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray):
        self.ids = np.asarray(ids)
        self.vecs = np.asarray(vecs, dtype=np.float64)
        self.pos = {int(i): n for n, i in enumerate(self.ids)}

    def scores_ok(self, rows, q, k: int) -> bool:
        """At most k distinct live ids, descending, each score equal to the
        exact dot product of that id's vector with ``q``."""
        if len(rows) > k or len({r[0] for r in rows}) != len(rows):
            return False
        prev = np.inf
        for rid, score in rows:
            n = self.pos.get(int(rid))
            if n is None or score > prev + TOL:
                return False
            if abs(float(self.vecs[n] @ q) - score) > TOL:
                return False
            prev = score
        return True

    def recall(self, got_ids, q, k: int, mask=None) -> float:
        ids, vecs = self.ids, self.vecs
        if mask is not None:
            ids, vecs = ids[mask], vecs[mask]
        want, _ = exact_topk(vecs, ids, q, k)
        return len(set(map(int, got_ids)) & set(map(int, want))) / len(want)


def sessions(events, gap_us: int) -> set:
    """{(user_id, start_us, end_us, n_events, first_event_id)}: per user,
    an event opens the window [ts, ts + gap) and overlapping windows merge,
    as Spark's ``session_window`` defines a session."""
    by_user = defaultdict(list)
    for eid, ts, user, *_ in events:
        by_user[user].append((ts, eid))
    out = set()
    for user, evs in by_user.items():
        evs.sort()
        start, end, n, first = evs[0][0], evs[0][0] + gap_us, 0, evs[0][1]
        for ts, eid in evs:
            if ts >= end:
                out.add((user, start, end, n, first))
                start, n, first = ts, 0, eid
            end = max(end, ts + gap_us)
            n, first = n + 1, min(first, eid)
        out.add((user, start, end, n, first))
    return out

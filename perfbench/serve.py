"""``serve``: read-only search traffic over a generated corpus.

The corpus is in two places, as in the reference server: the ``api`` images
table (parquet, read again on every request) and the versioned ``img``
table with ANN (hyperplane LSH), IVF and BM25 indexes. Beside them lies a
generated log of user events, which one request kind sessionizes. Requests
follow a fixed pattern of kinds, so every run sends the same mix; payloads
(query terms, query vectors, ids) are drawn by Zipf from one seeded pool, so
some repeat.

Each request method makes the engine call and returns a function that
checks the answer; only the call is timed.
"""

from __future__ import annotations

import os
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import ref
from store import Store, disk_bytes, row_bytes

N = 5_000
K = 10
POOL = 64          # payload pool: query vectors, term triples, point ids
BATCH = 32
RECALL_POOL = 64   # held-out query vectors for the recall pass
LOG_EVENTS = 3_000  # user events in the log, over one day
LOG_USERS = 100
SESSION_GAP_US = 30 * 60 * 1_000_000   # session_windows' default gap

PATTERN = ("grammar", "ann", "ivf", "ann_filtered", "bm25", "sql_ann",
           "hybrid", "sql_text", "similar_words", "batch32", "gemm32", "info",
           "img", "sessions")
NOT_SEARCH = ("info", "img", "sessions")


def by_query(rows, qcol: str, idcol: str) -> dict:
    """{query id: [(id, score)] best first} from a batched top-k answer."""
    out = defaultdict(list)
    for r in rows:
        out[r[qcol]].append((int(r[idcol]), float(r["score"])))
    return {q: sorted(v, key=lambda t: (-t[1], t[0])) for q, v in out.items()}


class Workload:
    name = "serve"
    pattern = PATTERN
    rounds = 3         # rounds at least, the first cold: three samples a kind
    # request kinds whose latencies make up cycle_ms, and search_ms
    cycle_kinds = PATTERN
    searches = tuple(k for k in PATTERN if k not in NOT_SEARCH)

    def __init__(self):
        self.inputs = {}
        self.i, self.seen, self.repeats = 0, set(), 0

    # -- set-up ----------------------------------------------------------
    def setup(self, ctx, root: str) -> None:
        from rclip_server_spark.api import RclipServerApi
        from rclip_server_spark.plans import DeterministicEmbedder

        spark, rng = ctx.spark, ctx.rng
        c = self.corpus = gen.Corpus(rng, N)
        self.ref = ref.Vectors(c.ids, c.vectors)
        self.sizes = rng.integers(1_000, 5_000_000, N)
        self.images = os.path.join(root, "input", "images")
        os.makedirs(self.images)
        pq.write_table(pa.table({
            "id": pa.array(c.ids),
            "deleted": pa.array(np.zeros(N, dtype=bool)),
            "filepath": pa.array([f"/images/{i}.jpg" for i in c.ids]),
            "modified_at": pa.array([None] * N,
                                    type=pa.timestamp("us", tz="UTC")),
            "size": pa.array(self.sizes),
            "vector": pa.array(list(c.vectors), type=pa.list_(pa.float32())),
            "wikimedia_descr_url": pa.array([None] * N, type=pa.string()),
            "wikimedia_thumb_url": pa.array([None] * N, type=pa.string()),
        }), os.path.join(self.images, "part-0.parquet"))
        words = os.path.join(root, "input", "words.parquet")
        self.word_vecs = np.stack([ref.embed_text(w) for w in c.vocab]
                                  ).astype(np.float32)
        pq.write_table(pa.table({
            "word": pa.array(c.vocab),
            "vector": pa.array(list(self.word_vecs),
                               type=pa.list_(pa.float32())),
        }), words)
        self.log = gen.events(rng, LOG_EVENTS, LOG_USERS, days=1)
        log = os.path.join(root, "input", "events.parquet")
        ev = list(zip(*self.log))
        pq.write_table(pa.table({
            "event_id": pa.array(ev[0], type=pa.int64()),
            "ts": pa.array(ev[1], type=pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(ev[2], type=pa.int64()),
            "event_type": pa.array(ev[3]),
            "value": pa.array(ev[4]),
        }), log)
        self.events = spark.read.parquet(log)
        self.store = Store(ctx, root, c)
        self.api = RclipServerApi(spark, self.images,
                                  DeterministicEmbedder(gen.DIM),
                                  words_df=spark.read.parquet(words))
        self.qvecs, self.recall_qvecs = (
            gen.unit_rows(c.vectors[rng.choice(N, n, replace=False)]
                          .astype(np.float64)
                          + 0.05 * rng.standard_normal((n, gen.DIM)))
            for n in (POOL, RECALL_POOL))
        self.terms = rng.integers(0, len(c.vocab), (POOL, 3))
        self.point_ids = c.ids[rng.choice(N, POOL, replace=False)]
        self.inputs = {"corpus_rows": N, "dim": gen.DIM,
                       "vocab": len(c.vocab), "payload_pool": POOL,
                       "log_events": LOG_EVENTS, "pattern": len(PATTERN)}

    def teardown(self, ctx) -> None:
        ctx.spark.catalog.clearCache()

    # -- requests --------------------------------------------------------
    def step(self, ctx) -> str:
        kind = PATTERN[self.i % len(PATTERN)]
        self.i += 1
        j = int(gen.zipf_ranks(ctx.rng, POOL, 1)[0])
        self.repeats += j in self.seen
        self.seen.add(j)
        with ctx.timed(f"bench.{kind}"):
            verify = getattr(self, "_" + kind)(ctx, j)
        with ctx.reference():
            verify()
        return kind

    def _words(self, j: int) -> list[str]:
        return [self.corpus.vocab[t] for t in self.terms[j]]

    def _grammar(self, ctx, j: int):
        """Exact brute-force search through the reference's grammar."""
        a, b, c = self._words(j)
        pid = int(self.point_ids[j])
        q = f'{a} -{b} +2{c} +{{"image_id": {pid}}}'
        got = self.api.search_api(q, num=K)

        def verify():
            want = (ref.embed_text(a) - ref.embed_text(b)
                    + 2 * ref.embed_text(c) + self.ref.vecs[self.ref.pos[pid]])
            want /= np.linalg.norm(want)
            ids, scores = ref.exact_topk(self.ref.vecs, self.ref.ids, want, K)
            ctx.check(ref.same_topk([r[0] for r in got], ids, scores)
                      and self.ref.scores_ok([tuple(r) for r in got], want, K),
                      f"search_api {q!r}")
        return verify

    def _vector(self, ctx, rows, q, mask=None, what=""):
        rows = [tuple(r) for r in rows]

        def verify():
            ok = len(rows) > 0 and self.ref.scores_ok(rows, q, K)
            if mask is not None:
                ok = ok and all(mask[self.ref.pos[r[0]]] for r in rows)
            ctx.check(ok, what)
        return verify

    def _ann(self, ctx, j: int):
        from rclip_server_spark.sources import annindex as AI

        q = self.qvecs[j]
        rows = AI.query_ann_index(ctx.spark, self.store.path("ai"), q, k=K,
                                  n_probe_bits=1).collect()
        return self._vector(ctx, rows, q, what="ann")

    def _ann_filtered(self, ctx, j: int):
        from rclip_server_spark.sources import annindex as AI

        q = self.qvecs[j]
        lab = int(self.corpus.labels[self.ref.pos[int(self.point_ids[j])]])
        rows = AI.query_ann_index(ctx.spark, self.store.path("ai"), q, k=K,
                                  n_probe_bits=1,
                                  where=f"label <> {lab}").collect()
        return self._vector(ctx, rows, q, self.corpus.labels != lab,
                            "filtered ann")

    def _ivf(self, ctx, j: int):
        from rclip_server_spark.sources import ivfindex as II

        q = self.qvecs[j]
        rows = II.query_ivf_index(ctx.spark, self.store.path("ii"), q, k=K,
                                  n_probe=2).collect()
        return self._vector(ctx, rows, q, what="ivf")

    def _sql_ann(self, ctx, j: int):
        from rclip_server_spark import sql as S

        q = self.qvecs[j]
        arr = ", ".join(repr(float(x)) for x in q)
        rows = S.execute(ctx.spark, "SELECT id, score FROM ANN_SEARCH("
                         f"'ai', array({arr}), {K}, 1) ORDER BY score DESC,"
                         " id", self.store.cat).collect()
        return self._vector(ctx, rows, q, what="ANN_SEARCH")

    def _text(self, ctx, rows, words, what):
        """At most K rows, BM25 descending, each containing a query term."""
        caps = self.corpus.captions

        def verify():
            scores = [r[1] for r in rows]
            ctx.check(0 < len(rows) <= K
                      and scores == sorted(scores, reverse=True)
                      and all(set(words) & set(caps[self.ref.pos[r[0]]]
                                               .split()) for r in rows),
                      f"{what} {words}")
        return verify

    def _bm25(self, ctx, j: int):
        from rclip_server_spark.sources import textindex as TI

        words = self._words(j)[:2]
        rows = TI.query_text_index(ctx.spark, self.store.path("ti"),
                                   " ".join(words), k=K).collect()
        return self._text(ctx, rows, words, "bm25")

    def _sql_text(self, ctx, j: int):
        from rclip_server_spark import sql as S

        words = self._words(j)[1:]
        rows = S.execute(ctx.spark, "SELECT id, bm25 FROM TEXT_SEARCH('ti',"
                         f" '{' '.join(words)}', {K}) ORDER BY bm25 DESC, id",
                         self.store.cat).collect()
        return self._text(ctx, rows, words, "TEXT_SEARCH")

    def _hybrid(self, ctx, j: int):
        """BM25 and ANN fused by reciprocal rank."""
        from rclip_server_spark.operators import retrieval
        from rclip_server_spark.sources import annindex as AI
        from rclip_server_spark.sources import textindex as TI

        q, words = self.qvecs[j], self._words(j)[:2]
        t = TI.query_text_index(ctx.spark, self.store.path("ti"),
                                " ".join(words), k=50)
        v = AI.query_ann_index(ctx.spark, self.store.path("ai"), q, k=50)
        rows = retrieval.rrf_fusion(t, v, id_col="id", k=K).collect()

        def verify():
            rrf = [r["rrf"] for r in rows]
            ctx.check(0 < len(rows) <= K and rrf == sorted(rrf, reverse=True)
                      and all(int(r["id"]) in self.ref.pos for r in rows),
                      "hybrid rrf")
        return verify

    def _similar_words(self, ctx, j: int):
        a, b, _ = self._words(j)
        got = self.api.similar_words(f"{a} -{b}")["similar_words"]

        def verify():
            q = ref.embed_text(a) - ref.embed_text(b)
            q /= np.linalg.norm(q)
            s = self.word_vecs.astype(np.float64) @ q
            pos = {w: n for n, w in enumerate(self.corpus.vocab)}
            want = sorted(self.corpus.vocab,
                          key=lambda w: (-s[pos[w]], w))[:50]
            ctx.check([w for w, _ in got] == want
                      and all(abs(sc - s[pos[w]]) <= ref.TOL
                              for w, sc in got), "similar_words")
        return verify

    def _batch32(self, ctx, j: int):
        from rclip_server_spark.sources import annindex as AI

        qs = [(n, self.qvecs[(j + n) % POOL]) for n in range(BATCH)]
        rows = AI.query_ann_index_batch(ctx.spark, self.store.path("ai"),
                                        qs, k=K).collect()

        def verify():
            got = by_query(rows, "qid", "id")
            ok = len(got) == BATCH
            for qid, q in qs:
                ok = ok and self.ref.scores_ok(got.get(qid, []), q, K)
            ctx.check(ok, "ann batch")
        return verify

    def _gemm32(self, ctx, j: int):
        """Exact 32-query batch: one Arrow GEMM pass over the api table."""
        from rclip_server_spark.operators import ann
        from rclip_server_spark.sources import writer

        qs = [self.qvecs[(j + n) % POOL] for n in range(BATCH)]
        live = writer.live_rows(ctx.spark.read.parquet(self.images))
        rows = ann.brute_force_topk_multi_gemm(
            live, qs, [f"q{n}" for n in range(BATCH)], k=K, id_col="id",
            vec_col="vector").collect()

        def verify():
            got = by_query(rows, "query_id", "id")
            ok = len(got) == BATCH
            for n, q in enumerate(qs):
                ids, scores = ref.exact_topk(self.ref.vecs, self.ref.ids, q, K)
                ok = ok and ref.same_topk([r[0] for r in got.get(f"q{n}", [])],
                                          ids, scores)
            ctx.check(ok, "gemm batch differs from exact")
        return verify

    def _info(self, ctx, j: int):
        pid = int(self.point_ids[j])
        got = self.api.info(pid)
        want = {"id": pid, "filepath": f"/images/{pid}.jpg",
                "size": int(self.sizes[self.ref.pos[pid]])}
        return lambda: ctx.check(got == want, f"info {pid}")

    def _img(self, ctx, j: int):
        pid = int(self.point_ids[(j + 1) % POOL])
        got = self.api.img_redirect(pid)
        return lambda: ctx.check(got == f"/images/{pid}.jpg", f"img {pid}")

    def _sessions(self, ctx, j: int):
        """Per-user session windows over the event log."""
        from rclip_server_spark.streaming import windows

        rows = windows.session_windows(self.events).selectExpr(
            "user_id", "unix_micros(session_start)",
            "unix_micros(session_end)", "n_events", "first_event_id"
        ).collect()
        return lambda: ctx.check(
            sorted(map(tuple, rows))
            == sorted(ref.sessions(self.log, SESSION_GAP_US)),
            "session windows")

    # -- results ---------------------------------------------------------
    def recall(self, ctx) -> float:
        """Mean recall@10 of the ANN and IVF indexes over a held-out query
        set, one untimed batched search each, so the figure does not depend
        on which payloads the loop happened to draw."""
        from rclip_server_spark.sources import annindex as AI
        from rclip_server_spark.sources import ivfindex as II

        qs = list(enumerate(self.recall_qvecs))
        out = []
        for rows in (AI.query_ann_index_batch(
                         ctx.spark, self.store.path("ai"), qs, k=K),
                     II.query_ivf_index_batch(
                         ctx.spark, self.store.path("ii"), qs, k=K,
                         n_probe=2)):
            got = by_query(rows.collect(), "qid", "id")
            with ctx.reference():
                for qid, q in qs:
                    rs = got.get(qid, [])
                    ctx.check(self.ref.scores_ok(rs, q, K), "recall pass")
                    out.append(self.ref.recall([r[0] for r in rs], q, K))
        return float(np.mean(out))

    def result(self, ctx) -> dict:
        user = sum(map(row_bytes, self.corpus.captions))
        _, on_disk = disk_bytes(self.store.paths())
        return {"recall_at_10": self.recall(ctx),
                "space_amp": on_disk / user,
                "repeated_request_share": self.repeats / self.i}

    def layer_metrics(self, rep, n_ops: int) -> dict:
        return {"streaming.session_windows_ms":
                rep.mean_ms("bench.sessions")}

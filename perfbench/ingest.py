"""``ingest``: the indexer beside the server. One round of the pattern is
one write cycle, and each step of it is one statement the indexer sends:

* check the incoming batch's captions for near-duplicates of the live
  table's (minhash, batch against table), and embed them (pandas UDF);
* INSERT the batch and DELETE a few live ids (SQL);
* REFRESH the ANN, IVF and BM25 index views (SQL);
* apply the engine's ``maybe_compact`` policy and VACUUM to the table and
  to every index;
* search for new rows, one at a time and batched (they must be found, with
  exact scores), for the deleted rows (they must not be), and for new rows'
  unique caption tokens.

The searches are query-by-example on new ids, so none repeats.
"""

from __future__ import annotations

import os
from collections import defaultdict

import numpy as np

import gen
import ref
from store import Store, disk_bytes, row_bytes, write_rows

N = 5_000
B = 200            # rows inserted per cycle
D = 5              # live ids deleted per cycle
READS = 32         # new rows searched for by each batched search
SINGLE = 1         # new rows searched for one at a time, per vector index
TAGS = 4           # new rows searched for by caption token
PLANTED = 4        # new rows whose caption copies a live caption
# Each cycle adds a segment and a delete vector to every table, so a
# bound of 2 compacts every table in every cycle: each cycle then does
# the same work, the first cycle included.
MAX_SEGMENTS = 2
K = 10
TABLES = ("img", "ai", "ii", "ti")
READ_KINDS = ("read_ann", "read_ivf") * SINGLE + (
    "read_annbatch", "read_ivfbatch", "read_text")
WRITE_KINDS = (("dedup", "embed", "insert", "delete", "refresh_ai",
                "refresh_ii", "refresh_ti")
               + tuple(f"compact_{t}" for t in TABLES))
PATTERN = WRITE_KINDS + READ_KINDS


class Workload:
    name = "ingest"
    pattern = PATTERN
    rounds = 3         # cycles at least, the first cold: three samples a kind
    # statement kinds whose latencies make up cycle_ms, and search_ms
    cycle_kinds = WRITE_KINDS
    searches = READ_KINDS

    def __init__(self):
        self.inputs = {}

    def setup(self, ctx, root: str) -> None:
        self.root = root
        self.corpus = gen.Corpus(ctx.rng, N)
        self.store = Store(ctx, root, self.corpus)
        self.live = np.ones(N, dtype=bool)
        self.cycle = 0
        self.i = 0
        self.inputs = {"corpus_rows": N, "batch_rows": B,
                       "deletes_per_cycle": D,
                       "planted_dups_per_batch": PLANTED,
                       "max_segments": MAX_SEGMENTS,
                       "repeated_query_share": 0.0}

    def _reset(self) -> None:
        from rclip_server_spark.sources import versioned as V

        self.recalls = []
        self.busy_s, self.cycle0 = 0.0, self.cycle
        self.compactions = 0
        self.user_bytes = 0
        self.files, _ = disk_bytes(self.store.paths())
        self.written = [0, 0]    # bytes, files
        self.v0 = [V.current_version(p) for p in self.store.paths()]

    def teardown(self, ctx) -> None:
        ctx.spark.catalog.clearCache()

    def step(self, ctx) -> str:
        if self.i == 0:
            self._reset()     # counters start with the first cycle
        kind = PATTERN[self.i % len(PATTERN)]
        self.i += 1
        if kind == PATTERN[0]:
            self._new_batch(ctx)
        verb, _, arg = kind.partition("_")
        t0 = ctx.op_s
        with ctx.timed(f"bench.{kind}"):
            verify = getattr(self, "_" + verb)(ctx, arg)
        self.busy_s += ctx.op_s - t0
        with ctx.reference():
            if verify is not None:
                verify()
            if kind == PATTERN[-1]:
                self._account()
        return kind

    def _new_batch(self, ctx) -> None:
        """Generate the cycle's rows, deletions and read-back picks."""
        c = self.corpus
        # captions of the rows live in the table, for the dedup reference.
        # The new rows are checked on their untagged text; captions of the
        # first corpus carry no tag, so a few new rows copy one verbatim.
        live = np.flatnonzero(self.live)
        by_text = defaultdict(list)
        for n in live:
            by_text[c.captions[n]].append(int(c.ids[n]))
        ids, vecs, texts = c.append(B)
        for n, src in zip(ctx.rng.choice(B, PLANTED, replace=False),
                          ctx.rng.choice(live[live < N], PLANTED,
                                         replace=False)):
            texts[n] = c.captions[src]
        self.dups = {(a, int(b)) for t, b in zip(texts, ids)
                     for a in by_text.get(t, ())}
        # a unique token per new row, so a text search can find it
        caps = [f"{t} tag{i}" for t, i in zip(texts, ids)]
        c.captions[-B:] = caps
        self.cycle += 1
        self.batch = os.path.join(self.root, "input",
                                  f"batch{self.cycle}.parquet")
        write_rows(self.batch, ids, vecs, caps, c.labels[-B:], text=texts)
        self.gone = c.ids[ctx.rng.choice(np.flatnonzero(self.live), D,
                                         replace=False)]
        self.live = np.concatenate([self.live, np.ones(B, dtype=bool)])
        self.live[np.isin(c.ids, self.gone)] = False
        self.user_bytes += sum(row_bytes(t) for t in caps)
        pick = ctx.rng.choice(B, READS, replace=False)
        self.qs = [(int(ids[n]), vecs[n].astype(np.float64)) for n in pick]
        self.singles = {"ann": iter(self.qs[:SINGLE]),
                        "ivf": iter(self.qs[:SINGLE])}
        self.live_ref = ref.Vectors(c.ids[self.live], c.vectors[self.live])

    # -- write statements ------------------------------------------------
    def _dedup(self, ctx, _):
        """Near-duplicate pairs between the batch and the live table."""
        from rclip_server_spark import sql as S
        from rclip_server_spark.operators import dedup

        table = S.execute(ctx.spark, "SELECT id AS doc_id, caption AS text "
                                     "FROM img", self.store.cat)
        batch = ctx.spark.read.parquet(self.batch).selectExpr(
            "id AS doc_id", "text")
        rows = dedup.minhash_near_dup_incremental(table, batch).collect()

        def verify():
            got = {(int(r[0]), int(r[1])): r[2] for r in rows}
            ctx.check(self.dups <= {p for p, j in got.items() if j == 1.0}
                      and all(0.7 <= j <= 1.0 for j in got.values()),
                      f"near-dup pairs of batch {self.cycle}")
        return verify

    def _embed(self, ctx, _):
        """The batch's captions through the text-embedding pandas UDF."""
        from rclip_server_spark.operators import multimodal

        rows = multimodal.embed_documents(
            ctx.spark.read.parquet(self.batch).selectExpr(
                "id AS doc_id", "caption AS text")).collect()

        def verify():
            cap = dict(zip(self.corpus.ids[-B:].tolist(),
                           self.corpus.captions[-B:]))
            ctx.check(len(rows) == B and all(
                np.abs(np.asarray(r[1]) - ref.embed_text(cap[r[0]])).max()
                <= ref.TOL for r in rows), f"embeddings of batch {self.cycle}")
        return verify

    def _insert(self, ctx, _):
        from rclip_server_spark import sql as S

        ctx.spark.read.parquet(self.batch).createOrReplaceTempView("pb_batch")
        S.execute(ctx.spark, "INSERT INTO img SELECT id, vector, caption, "
                             "label FROM pb_batch", self.store.cat)

    def _delete(self, ctx, _):
        from rclip_server_spark import sql as S

        S.execute(ctx.spark, "DELETE FROM img WHERE id IN "
                             f"({', '.join(map(str, self.gone))})",
                  self.store.cat)

    def _refresh(self, ctx, view: str):
        from rclip_server_spark import sql as S

        S.execute(ctx.spark, f"REFRESH MATERIALIZED VIEW {view}",
                  self.store.cat)

    def _compact(self, ctx, name: str):
        from rclip_server_spark import sql as S
        from rclip_server_spark.sources import versioned as V

        p = self.store.path(name)
        v = V.current_version(p)
        self.compactions += V.maybe_compact(ctx.spark, p,
                                            max_segments=MAX_SEGMENTS) != v
        S.execute(ctx.spark, f"VACUUM {name}", self.store.cat)

    # -- read-back -------------------------------------------------------
    def _read(self, ctx, what: str):
        from rclip_server_spark.sources import annindex as AI
        from rclip_server_spark.sources import ivfindex as II
        from rclip_server_spark.sources import textindex as TI

        spark, live, c = ctx.spark, self.live_ref, self.corpus
        if what in ("ann", "ivf"):
            qid, q = next(self.singles[what])
            query, view = ((AI.query_ann_index, "ai") if what == "ann"
                           else (II.query_ivf_index, "ii"))
            rows = [tuple(r) for r in query(
                spark, self.store.path(view), q, k=K).collect()]
            return lambda: ctx.check(
                qid in [r[0] for r in rows] and live.scores_ok(rows, q, K),
                f"{what} misses new row {qid} after cycle {self.cycle}")
        if what == "text":
            tags = [qid for qid, _ in self.qs[:TAGS]]
            rows = TI.query_text_index(
                spark, self.store.path("ti"),
                " ".join(f"tag{i}" for i in tags), k=K).collect()
            return lambda: ctx.check(
                sorted(int(r[0]) for r in rows) == sorted(tags),
                f"text read-back after cycle {self.cycle}")
        if what == "annbatch":
            dead = [(-1 - n, c.vectors[c.ids == g][0].astype(np.float64))
                    for n, g in enumerate(self.gone)]
            rows = AI.query_ann_index_batch(
                spark, self.store.path("ai"), self.qs + dead, k=K).collect()
        else:
            rows = II.query_ivf_index_batch(
                spark, self.store.path("ii"), self.qs, k=K,
                n_probe=2).collect()
        return lambda: self._check_batch(ctx, what, rows)

    def _check_batch(self, ctx, what: str, rows) -> None:
        by_q = defaultdict(list)
        for r in rows:
            by_q[r["qid"]].append((int(r["id"]), float(r["score"])))
        gone = set(map(int, self.gone))
        ok = all(not gone & {i for i, _ in rs} for rs in by_q.values())
        for qid, q in self.qs:
            rs = sorted(by_q.get(qid, []), key=lambda t: (-t[1], t[0]))
            got = [i for i, _ in rs]
            ok = ok and qid in got and self.live_ref.scores_ok(rs, q, K)
            self.recalls.append(self.live_ref.recall(got, q, K))
        ctx.check(ok, f"{what} read-back after cycle {self.cycle}")

    def _account(self) -> None:
        files, _ = disk_bytes(self.store.paths())
        new = set(files) - set(self.files)
        self.written[0] += sum(files[f] for f in new)
        self.written[1] += len(new)
        self.files = files

    # -- results ---------------------------------------------------------
    def result(self, ctx) -> dict:
        from rclip_server_spark.sources import versioned as V

        c = self.corpus
        live_bytes = sum(row_bytes(c.captions[i])
                         for i in np.flatnonzero(self.live))
        _, on_disk = disk_bytes(self.store.paths())
        cycles = self.cycle - self.cycle0
        return {
            "recall_at_10": float(np.mean(self.recalls)),
            "space_amp": on_disk / live_bytes,
            "ingest_rows_per_s": B * cycles / self.busy_s,
            # write-side counts per cycle
            "sources.compactions": self.compactions / cycles,
            "sources.versions_committed": sum(
                V.current_version(p) - v for p, v in
                zip(self.store.paths(), self.v0)) / cycles,
            "sources.bytes_written": self.written[0] / cycles,
            "sources.files_written": self.written[1] / cycles,
            "sources.segments_end": sum(V.describe(p)["n_segments"]
                                        for p in self.store.paths()),
            "sources.write_amp": self.written[0] / self.user_bytes,
        }

    def layer_metrics(self, rep, n_ops: int) -> dict:
        m = rep.mean_ms
        return {"sources.insert_ms": m("sources.insert"),
                "sources.delete_ms": m("sources.delete"),
                "sources.refresh_ann_ms": m("sources.refresh_ann"),
                "sources.refresh_ivf_ms": m("sources.refresh_ivf"),
                "sources.refresh_text_ms": m("sources.refresh_text"),
                "sources.compact_ms": m("sources.compact"),
                "operators.minhash_ms": m("bench.dedup"),
                "operators.embed_udf_ms": m("bench.embed"),
                "sources.read_after_write_ms": m(
                    *(f"bench.{k}" for k in set(self.searches)))}

"""Spans recorded from outside the engine, and the Spark counters that
attach to them.

A span is opened around every call into a layer. Calls the benchmark makes
itself are wrapped with ``Tracer.span``; calls the engine makes internally
(grammar parse inside ``search_api``, an index query inside a SQL rewrite, a
``collect`` inside an operator) are reached by ``Tracer.instrument``, which
replaces the engine's module attributes with timing wrappers for the length
of a traced run and puts them back afterwards. No engine file changes.

Each span sets a Spark job group, so jobs launched from the benchmark's
thread name their span. Jobs the engine launches from its own threads carry
no group and are attached to the innermost span open when they were
submitted. Stage counters come from Spark's JSON event log, read after the
session stops.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict

# layers whose calls the benchmark can wrap; the Python/Arrow UDF layer
# runs in Spark's Python workers and is measured by SQL metrics instead
LAYERS = ("api", "plans", "sql", "sources", "operators", "streaming",
          "spark")

_STAGE_KEYS = {
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.input.recordsRead": "input_records",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.jvmGCTime": "gc_ms",
    # SQL metrics of the ArrowEvalPython / MapInPandas plan nodes
    "time to run Python workers": "python_eval_ms",
    "data sent to Python workers": "python_bytes_sent",
}


class Tracer:
    """In-memory span recorder; records nothing until ``set(True)``."""

    def __init__(self, spark):
        self.enabled = False
        self.sc = spark.sparkContext
        self.spans: list[list] = []   # [id, parent, name, req, t0, t1]
        self.stack: list[int] = []
        self.req = 0
        self.counts: dict[str, float] = defaultdict(float)
        self._undo: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        rec = [sid, parent, name, self.req, time.time(), None]
        self.spans.append(rec)
        self.stack.append(sid)
        self.sc.setJobGroup(f"pb{sid}", name)
        try:
            yield
        finally:
            rec[5] = time.time()
            self.stack.pop()
            if self.stack:
                top = self.stack[-1]
                self.sc.setJobGroup(f"pb{top}", self.spans[top][2])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper that opens span ``name``;
        ``after(result, kwargs)`` runs outside the span."""
        fn = getattr(owner, attr)
        tr = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            with tr.span(name):
                out = fn(*a, **kw)
            if after is not None:
                after(out, kw)
            return out

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, fn))

    def instrument(self) -> None:
        """Wrap the engine's layer entry points and Spark's actions."""
        from pyspark.sql.classic import dataframe as cdf
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        from rclip_server_spark import api, sql
        from rclip_server_spark.operators import ann, dedup, multimodal
        from rclip_server_spark.operators import retrieval, similarity
        from rclip_server_spark.plans import combinator
        from rclip_server_spark.sources import annindex, ivfindex
        from rclip_server_spark.sources import textindex, versioned
        from rclip_server_spark.streaming import windows

        for method in ("search_api", "similar_words", "info", "img_redirect"):
            self.wrap(api.RclipServerApi, method, f"api.{method}")
        self.wrap(combinator, "parse_query", "plans.parse")
        self.wrap(combinator, "resolve_term", "plans.embed")
        self.wrap(api, "resolve_query", "plans.resolve")
        self.wrap(sql, "execute", "sql.dispatch")

        def scanned(df, kw):
            # files the plan names and k asked for, per index query
            self.counts["files"] += len(df.inputFiles())
            self.counts["k"] += kw.get("k", 10)

        for mod, fn in ((annindex, "query_ann_index"),
                        (ivfindex, "query_ivf_index"),
                        (textindex, "query_text_index")):
            self.wrap(mod, fn, "sources.plan", after=scanned)
        for mod, fn, name in (
                (annindex, "query_ann_index_batch", "sources.plan_batch"),
                (ivfindex, "query_ivf_index_batch", "sources.plan_batch"),
                (similarity, "topk_similar", "operators.topk"),
                (similarity, "best_words", "operators.best_words"),
                (similarity, "best_phrases", "operators.best_phrases"),
                (retrieval, "rrf_fusion", "operators.rrf"),
                (ann, "brute_force_topk_multi_gemm", "operators.gemm_topk"),
                (dedup, "minhash_near_dup_incremental", "operators.minhash"),
                (multimodal, "embed_documents", "operators.embed_udf"),
                (windows, "session_windows", "streaming.session_windows"),
                (DataFrameReader, "parquet", "sources.read"),
                (versioned, "append", "sources.insert"),
                (versioned, "delete_rows", "sources.delete"),
                (annindex, "refresh_ann_index", "sources.refresh_ann"),
                (ivfindex, "refresh_ivf_index", "sources.refresh_ivf"),
                (textindex, "refresh_text_index", "sources.refresh_text"),
                (versioned, "maybe_compact", "sources.compact")):
            self.wrap(mod, fn, name)
        df_cls = cdf.DataFrame
        tr = self
        for action in ("collect", "count", "first", "toPandas"):
            fn = getattr(df_cls, action)

            def traced(df, *a, __fn=fn, **kw):
                if tr.stack and tr.spans[tr.stack[-1]][2].startswith(
                        "spark."):
                    return __fn(df, *a, **kw)
                with tr.span("spark.optimize"):
                    df._jdf.queryExecution().executedPlan()
                with tr.span("spark.exec"):
                    return __fn(df, *a, **kw)

            functools.update_wrapper(traced, fn)
            setattr(df_cls, action, traced)
            self._undo.append((df_cls, action, fn))
        for write in ("parquet", "save"):
            self.wrap(DataFrameWriter, write, "spark.exec")

    def restore(self) -> None:
        while self._undo:
            owner, attr, fn = self._undo.pop()
            setattr(owner, attr, fn)

    def set(self, on: bool) -> None:
        """Switch span recording and the engine wrappers on or off."""
        if on and not self.enabled:
            self.enabled = True
            self.instrument()
        elif not on and self.enabled:
            self.restore()
            self.enabled = False


def _events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def spark_counters(log_dir: str) -> tuple[dict, dict]:
    """Parse the event log into ({job_id: (group, submit_s, [stages])},
    {stage_id: counters})."""
    jobs, stages = {}, {}
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = (props.get("spark.jobGroup.id"),
                                  ev["Submission Time"] / 1000.0,
                                  list(ev.get("Stage IDs") or []))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            c = defaultdict(float)
            c["tasks"] = info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables") or []:
                name, val = acc.get("Name"), acc.get("Value")
                try:
                    val = float(val)
                except (TypeError, ValueError):
                    continue
                if name in _STAGE_KEYS:
                    c[_STAGE_KEYS[name]] += val
            stages[info["Stage ID"]] = c
    return jobs, stages


class Report:
    """Per-span totals: wall, self time, and the Spark counters of the jobs
    attached to each span."""

    def __init__(self, tracer: Tracer, log_dir: str):
        self.spans = [s for s in tracer.spans if s[5] is not None]
        self.tracer_counts = tracer.counts
        self.children = defaultdict(list)
        for s in self.spans:
            if s[1] is not None:
                self.children[s[1]].append(s)
        self.jobs_of = defaultdict(list)
        self.job_stages = {}
        jobs, self.stage_counters = spark_counters(log_dir)
        self._attach(jobs)

    def _attach(self, jobs: dict) -> None:
        by_id = {s[0]: s for s in self.spans}
        for jid, (group, t_sub, stage_ids) in jobs.items():
            self.job_stages[jid] = stage_ids
            sid = None
            if group and group.startswith("pb"):
                sid = int(group[2:])
            if sid is None or sid not in by_id:
                # innermost span open at submission (engine threads)
                inner = [s for s in self.spans if s[4] <= t_sub <= s[5]]
                if not inner:
                    continue
                sid = max(inner, key=lambda s: s[4])[0]
            self.jobs_of[sid].append(jid)

    def dump(self, path: str) -> None:
        """Write every span, with the Spark jobs attached to it, as JSON
        lines."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sid, parent, name, req, t0, t1 in self.spans:
                f.write(json.dumps({
                    "id": sid, "parent": parent, "name": name, "req": req,
                    "start": t0, "end": t1,
                    "jobs": self.jobs_of.get(sid, [])}) + "\n")

    def wall(self, s) -> float:
        return s[5] - s[4]

    def self_time(self, s) -> float:
        """Span duration minus the union of its children's intervals."""
        ivs = sorted((c[4], c[5]) for c in self.children[s[0]])
        covered, end = 0.0, s[4]
        for a, b in ivs:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        return max(self.wall(s) - covered, 0.0)

    def named(self, prefix: str) -> list:
        return [s for s in self.spans
                if s[2] == prefix or s[2].startswith(prefix + ".")]

    def mean_ms(self, *prefixes: str) -> float:
        """Mean wall time, in ms, of the spans ``named`` by ``prefixes``."""
        s = [x for p in prefixes for x in self.named(p)]
        return 1000.0 * sum(map(self.wall, s)) / len(s) if s else 0.0

    def layer_self_s(self) -> dict:
        out = dict.fromkeys(LAYERS, 0.0)
        for s in self.spans:
            layer = s[2].split(".")[0]
            if layer in out:
                out[layer] += self.self_time(s)
        return out

    def roots(self) -> list:
        return [s for s in self.spans if s[1] is None]

    def counters_of_requests(self, reqs: set) -> dict:
        return self.counters([s for s in self.roots() if s[3] in reqs])

    def counters(self, spans: list) -> dict:
        """Summed stage counters and job/stage/task counts over the jobs
        attached to ``spans`` and to every span nested under them."""
        ids, todo = set(), [s[0] for s in spans]
        while todo:
            sid = todo.pop()
            if sid in ids:
                continue
            ids.add(sid)
            todo.extend(c[0] for c in self.children[sid])
        tot = defaultdict(float)
        for sid in ids:
            for jid in self.jobs_of[sid]:
                tot["jobs"] += 1
                for st in self.job_stages.get(jid, []):
                    c = self.stage_counters.get(st)
                    if c is None:
                        continue
                    tot["stages"] += 1
                    for k, v in c.items():
                        tot[k] += v
        return tot

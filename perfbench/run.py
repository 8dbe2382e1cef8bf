"""Benchmark entry point.

    python3 perfbench/run.py --workload {serve,ingest} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout of the repository. One invocation is one
run: a fresh process and a fresh Spark session (``local[n]``, n = ``CPUS``),
set up ``SETUPS`` times from inputs generated from ``--seed``, then a closed
loop with one client in whole rounds of the workload's pattern, at least
``rounds`` of them and at least ``--seconds`` long. Every output is checked
against a NumPy or pure-Python reference. The last line of standard output
is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.
Working files go under ``.perfbench-work/`` in the checkout and are removed
at the end; a traced run leaves its spans in ``.perfbench-spans/``.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

WORKLOADS = ("serve", "ingest")
SETUPS = 3
CPUS = min(4, os.cpu_count() or 1)   # Spark local[n], never above nproc
SPANS_DIR = ".perfbench-spans"   # traced runs write their spans here


def metric_names(trace: bool) -> dict:
    """{name: unit} of the metrics BENCHMARK.json lists for this mode."""
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    if a.seconds <= 0:
        p.error("--seconds must be positive")
    return a


def tail(lat_s: list[float]) -> str:
    """'p50 / pNN' in ms, pNN the highest percentile with at least ten
    samples beyond it (none below 20 samples)."""
    xs = sorted(lat_s)
    n = len(xs)
    s = f"p50 {statistics.median(xs) * 1000.0:.1f} ms"
    if n >= 20:
        s += f", p{100 * (n - 10) / n:.0f} {xs[n - 11] * 1000.0:.1f} ms"
    return s + f" (n={n})"


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this process plus the Spark JVM (VmHWM)."""
    total = 0
    for pid in (os.getpid(), jvm_pid):
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


class Ctx:
    """What a workload sees: the session, the tracer, the seeded generator
    and the failure log."""

    def __init__(self, spark, tracer, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.rng = np.random.default_rng(seed)
        self.failures: list[str] = []
        self.op_s = 0.0

    @contextlib.contextmanager
    def timed(self, span: str):
        """An engine call that counts toward the unit operation's latency."""
        t0 = time.perf_counter()
        with self.tracer.span(span):
            yield
        self.op_s += time.perf_counter() - t0

    def reference(self):
        """Reference computations and checks: traced apart, never timed."""
        return self.tracer.span("bench.check")

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.failures.append(what)
            print(f"check failed: {what}", file=sys.stderr)
        return bool(ok)


def start_spark(work: str, cpus: int, event_log: str | None):
    from rclip_server_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": "1g",
        # the whole heap is touched at start, so peak RSS measures the
        # JVM's other memory and the Python side, not when GC ran
        "spark.driver.extraJavaOptions": "-Xms1g -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    os.makedirs(tmp)
    # inherited by the launcher JVM, the driver JVM and the Python workers:
    # no temporary file outside ``work``
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    if event_log:
        os.makedirs(event_log)
        conf |= {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": event_log,
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false"}
    spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def measure(ctx, wl, seconds: float, trace: bool = False
            ) -> tuple[list, int]:
    """Closed loop, one client: run ``wl.step`` in whole rounds of the
    workload's pattern of request kinds, at least ``wl.rounds`` of them and
    then until ``seconds`` pass, so every run holds the same mix. There is
    no separate warm-up: the first round runs cold and is measured like the
    others. With ``trace``, every second operation runs traced and the
    phase flips each round, so every kind runs both ways, half of them
    traced in the cold first round. Returns ([(kind, latency of its timed
    engine calls, traced)], failed)."""
    samples, failed = [], 0
    t_end = time.perf_counter() + seconds
    n = len(wl.pattern)
    least = n * wl.rounds
    while len(samples) % n or len(samples) < least \
            or time.perf_counter() < t_end:
        rnd, pos = divmod(len(samples), n)
        traced = trace and (rnd + pos) % 2 == 1
        ctx.tracer.set(traced)
        n_fail = len(ctx.failures)
        ctx.tracer.req += 1
        ctx.op_s = 0.0
        kind = "raised"
        try:
            with ctx.tracer.span("bench.op"):
                kind = wl.step(ctx)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ctx.check(False, f"{wl.name} step raised")
        samples.append((kind, ctx.op_s, traced))
        failed += len(ctx.failures) > n_fail
    ctx.tracer.set(False)
    return samples, failed


def kind_best(samples: list, traced: bool = False) -> dict:
    """{kind: fastest latency in seconds} over the samples of one mode.
    A stall of the host only ever adds time, so the fastest of a kind's
    samples is the one least disturbed. The first round, which runs cold,
    is one of them and bounds how far a stall in the later rounds can move
    the figure."""
    by = {}
    for kind, s, t in samples:
        if t == traced:
            by.setdefault(kind, []).append(s)
    return {k: min(v) for k, v in by.items()}


def pattern_ms(best: dict, pattern, kinds) -> float:
    """Summed per-kind fastest latency, in ms, of the entries of ``pattern``
    that are in ``kinds``: the time of one round of them, so every kind
    weighs by its share of that time."""
    return 1000.0 * sum(best[k] for k in pattern if k in kinds)


def layer_metrics(rep, n_ops: int) -> dict:
    """Per-layer metrics every workload shares, from the traced spans."""
    out = {f"{k}.self_ms": 1000.0 * v / n_ops
           for k, v in rep.layer_self_s().items()}
    resolves = rep.named("plans.resolve")
    c_res = rep.counters(resolves)
    plans = rep.named("sources.plan")
    q = rep.tracer_counts
    c_scan = rep.counters_of_requests({s[3] for s in plans})
    n_q = len(plans)
    scored = c_scan["input_records"] / n_q if n_q else 0.0
    c_all = rep.counters(rep.roots())
    out |= {
        "plans.parse_ms": rep.mean_ms("plans.parse"),
        "plans.resolve_ms": rep.mean_ms("plans.resolve"),
        "plans.resolve_jobs": c_res["jobs"] / len(resolves)
        if resolves else 0.0,
        "sql.dispatch_ms": (1000.0 * sum(rep.self_time(s) for s in
                                         rep.named("sql.dispatch"))
                            / max(len(rep.named("sql.dispatch")), 1)),
        "sources.plan_ms": rep.mean_ms("sources.plan"),
        "sources.files_per_query": q["files"] / n_q if n_q else 0.0,
        "sources.rows_scored_per_query": scored,
        "sources.k_per_scored": q["k"] / n_q / scored if scored else 0.0,
        "spark.optimize_ms": rep.mean_ms("spark.optimize"),
        "spark.exec_ms": rep.mean_ms("spark.exec"),
        "spark.jobs_per_op": c_all["jobs"] / n_ops,
        "spark.stages_per_op": c_all["stages"] / n_ops,
        "spark.tasks_per_op": c_all["tasks"] / n_ops,
        "spark.input_bytes": c_all["input_bytes"] / n_ops,
        "spark.shuffle_write_bytes": c_all["shuffle_write_bytes"] / n_ops,
        "spark.executor_run_ms": c_all["executor_run_ms"] / n_ops,
        "spark.gc_ms": c_all["gc_ms"] / n_ops,
        "functions.python_bytes_sent": c_all["python_bytes_sent"] / n_ops,
        "functions.python_eval_ms": c_all["python_eval_ms"] / n_ops,
        "trace.spans_per_op": len(rep.spans) / n_ops,
    }
    return out


def run(args) -> tuple[dict, dict]:
    sys.path.insert(0, os.getcwd())
    # the engine under test: a directory without it fails here, before any
    # result is printed
    importlib.import_module("rclip_server_spark")
    import pyspark

    from spans import Report, Tracer

    wl = importlib.import_module(args.workload).Workload()
    info = {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "nproc": os.cpu_count(),
            "cpus": CPUS, "loadavg_before": os.getloadavg(),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__, "numpy": np.__version__}
    work = os.path.join(os.getcwd(), ".perfbench-work", str(os.getpid()))
    os.makedirs(work)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, CPUS, event_log)
        info["spark_start_s"] = time.perf_counter() - t0
        jvm_pid = _jvm_pid()
        tracer = Tracer(spark)
        ctx = Ctx(spark, tracer, args.seed)
        setup_s = []
        for i in range(SETUPS):
            if i:
                wl.teardown(ctx)
            t = time.perf_counter()
            wl.setup(ctx, os.path.join(work, f"setup{i}"))
            setup_s.append(time.perf_counter() - t)
        info["setup_runs_s"] = setup_s
        info["inputs"] = wl.inputs
        m = {"setup_s": statistics.median(setup_s)}
        samples, f = measure(ctx, wl, args.seconds, trace=args.trace)
        att = len(samples)
        best = kind_best(samples)
        m["cycle_ms"] = pattern_ms(best, wl.pattern, wl.cycle_kinds)
        m["search_ms"] = (pattern_ms(best, wl.pattern, wl.searches)
                          / sum(k in wl.searches for k in wl.pattern))
        if args.trace:
            n_traced = sum(t for _, _, t in samples)
            traced = pattern_ms(kind_best(samples, True), wl.pattern,
                                wl.cycle_kinds)
            m |= {"trace.cycle_ms": traced,
                  "trace.overhead_pct": 100.0 * (traced / m["cycle_ms"] - 1)}
        m |= wl.result(ctx)
        m["peak_rss_mb"] = peak_rss_mb(jvm_pid)
        info["op_latency"] = tail([s for _, s, t in samples if not t])
        info["kind_best_ms"] = {k: round(1000.0 * v, 1)
                                for k, v in best.items()}
        wl.teardown(ctx)
        stop_spark(spark)
        spark = None
        if args.trace:
            # the event log is complete once the session has stopped
            rep = Report(tracer, event_log)
            rep.dump(os.path.join(os.getcwd(), SPANS_DIR,
                                  f"{args.workload}-seed{args.seed}.jsonl"))
            m |= (layer_metrics(rep, n_traced)
                  | wl.layer_metrics(rep, n_traced))
    finally:
        if spark is not None:
            stop_spark(spark)
        info["loadavg_after"] = os.getloadavg()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    info["failures"] = ctx.failures[:20]
    return info, m | {"attempted": att, "failed": f}


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    return getattr(getattr(SparkContext._gateway, "proc", None), "pid", None)


def main(argv=None) -> int:
    args = parse_args(argv)
    names = metric_names(args.trace)
    info, m = run(args)
    attempted, failed = m.pop("attempted"), m.pop("failed")
    # a layer the workload does not drive reads 0; an end-to-end metric
    # the workload does not produce is left out rather than made up
    metrics = {k: {"value": float(m.get(k, 0.0)), "unit": u}
               for k, u in names.items() if args.trace or k in m}
    for k, v in info.items():
        print(f"# {k}: {v}")
    print(f"# failed_ratio: {failed / attempted:.4f} "
          f"({failed} of {attempted})")
    for k, v in m.items():
        if k not in names:
            print(f"# {k}: {v}")
    for k, v in metrics.items():
        print(f"{k:32s} {v['value']:14.4f} {v['unit']}")
    print(json.dumps({"correct": failed == 0 and not info["failures"],
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

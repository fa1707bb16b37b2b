"""Workload runner shared by every workload: Spark session, warm-up and
timed ops, /proc sampling, correctness bookkeeping and the metric sets.

A workload module provides:

- ``WARMUP_OPS`` — ops run before the timed window (their time is set-up);
- ``MIN_TIMED_OPS`` — ops the timed window holds at least;
- ``OP_CYCLE`` — the timed window holds a multiple of this many ops (so
  a workload that cycles through op kinds times each kind equally often);
- ``setup(run)`` — build inputs from ``run.seed`` and the program state;
- ``op(run, i)`` — ``(kind, fn)``: ``fn()`` performs op ``i`` and returns
  the items it handled (URLs for a crawl round, 1 for a query);
- ``check(run)`` — after the timed window: ``(ok, {op index: ok})``;
- ``detail(run)`` — workload-specific figures for the detail line.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import procfs
import tracing


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    out_dir: str
    t_start: float
    cores: int
    conf: dict
    spark: object = None
    tracer: tracing.Tracer | None = None
    state: dict = field(default_factory=dict)
    store_root: str | None = None  # tables whose growth an op is charged for
    ops: list[dict] = field(default_factory=list)
    get_spark_s: float = 0.0
    setup_s: float = 0.0
    peak_rss_mib: float = 0.0
    udf_s: dict = field(default_factory=dict)


def pct(values, q: float) -> float:
    return float(np.percentile(values, q)) if len(values) else 0.0


def dir_files(root: str | None) -> dict[str, int]:
    out: dict[str, int] = {}
    if root is None:
        return out
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                continue
    return out


def start_spark(run: Run) -> None:
    from azure_blob_crawler_spark.session import get_spark

    t0 = time.perf_counter()
    run.spark = get_spark(f"perfbench-{run.workload}", cores=run.cores, extra_conf=run.conf)
    run.get_spark_s = time.perf_counter() - t0
    run.spark.sparkContext.setLogLevel("ERROR")
    if run.trace:
        run.tracer = tracing.Tracer(run.spark)
        run.tracer.install()


def stop_spark(run: Run) -> None:
    """Stop the session and the JVM, and wait until every process this run
    started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    if run.spark is None:
        return
    pids = [p for p in procfs.tree_pids() if p != os.getpid()]
    gateway = SparkContext._gateway
    run.spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def run_op(run: Run, workload, i: int, timed: bool) -> bool:
    kind, fn = workload.op(run, i)
    before = dir_files(run.store_root)
    cpu0 = procfs.tree_cpu_s()
    rec = {"i": i, "kind": kind, "timed": timed, "items": 0, "error": None}
    t0 = time.perf_counter()
    try:
        if run.tracer is not None:
            with run.tracer.span(f"op.{kind}", op=i):
                rec["items"] = fn()
        else:
            rec["items"] = fn()
    except Exception:  # op boundary: record, count as failed, stop the loop
        rec["error"] = traceback.format_exc()
        print(rec["error"], file=sys.stderr)
    rec["ms"] = (time.perf_counter() - t0) * 1000.0
    rec["cpu_s"] = procfs.tree_cpu_s() - cpu0
    after = dir_files(run.store_root)
    new = {p: s for p, s in after.items() if before.get(p) != s}
    rec["bytes_written"] = sum(new.values())
    rec["files_written"] = sum(1 for p in new if p.endswith(".parquet"))
    if run.tracer is not None:
        run.tracer.collect()
    run.peak_rss_mib = max(run.peak_rss_mib, procfs.tree_hwm_mib())
    run.ops.append(rec)
    return rec["error"] is None


def execute(run: Run, workload) -> dict:
    try:
        start_spark(run)
        workload.setup(run)
        ok = True
        for i in range(workload.WARMUP_OPS):
            ok = ok and run_op(run, workload, i, timed=False)
        run.setup_s = time.perf_counter() - run.t_start
        if run.tracer is not None:
            run.tracer.clear_udf_profiles()
        host = procfs.HostCpu()
        t0 = time.perf_counter()
        i = workload.WARMUP_OPS
        while ok:
            ok = run_op(run, workload, i, timed=True)
            i += 1
            n_timed = i - workload.WARMUP_OPS
            if (n_timed >= workload.MIN_TIMED_OPS and n_timed % workload.OP_CYCLE == 0
                    and time.perf_counter() - t0 >= run.seconds):
                break
        run.state["steal_pct"] = host.steal_pct()
        run.state["window_s"] = time.perf_counter() - t0
        if run.tracer is not None:
            run.udf_s = run.tracer.udf_seconds(os.path.join(run.work, "udf-profile"))
        checks_ok, per_op = workload.check(run) if ok else (False, {})
        run.peak_rss_mib = max(run.peak_rss_mib, procfs.tree_hwm_mib())
        detail = workload.detail(run)
        if run.tracer is not None:
            run.tracer.dump(
                os.path.join(run.out_dir, f"trace-{run.workload}-seed{run.seed}.json"),
                {"workload": run.workload, "seed": run.seed, "ops": run.ops},
            )
    finally:
        stop_spark(run)
    return summarize(run, checks_ok and ok, per_op, detail)


def summarize(run: Run, correct: bool, per_op: dict, detail: dict) -> dict:
    failed = sum(1 for r in run.ops if r["error"] or per_op.get(r["i"]) is False)
    attempted = max(1, len(run.ops))
    timed = [r for r in run.ops if r["timed"] and not r["error"]]
    ms = [r["ms"] for r in timed]
    items = sum(r["items"] for r in timed)
    written = sum(r["bytes_written"] for r in timed)
    e2e = {
        "setup_s": (run.setup_s, "s"),
        "items_per_s": (items / (sum(ms) / 1000.0) if ms else 0.0, "1/s"),
        "op_ms_p50": (pct(ms, 50), "ms"),
        "peak_rss_mb": (run.peak_rss_mib, "MiB"),
    }
    full = {
        "workload": run.workload, "seed": run.seed, "trace": int(run.trace),
        "timed_ops": len(timed), "warmup_ops": len(run.ops) - len(timed),
        "failed_ratio": failed / attempted,
        "steal_pct": run.state.get("steal_pct", 0.0),
        "get_spark_s": run.get_spark_s,
        "cpu_s_per_op": float(np.mean([r["cpu_s"] for r in timed])) if timed else 0.0,
        # fewer than ten samples lie beyond it, so it is not a bounded metric
        "op_ms_p90": pct(ms, 90),
        "store_bytes_per_item": written / items if items and run.store_root else 0.0,
        "ops_ms": [round(r["ms"], 1) for r in run.ops],
        **{k: v for k, (v, _) in e2e.items()},
        **detail,
    }
    if run.trace:
        metrics = layer_metrics(run, timed, full)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    return {
        "detail": full,
        "result": {
            "correct": bool(correct and failed == 0),
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        },
    }


# --- per-layer metrics (traced runs) ------------------------------------------

# name → unit, in BENCHMARK.json order
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "crawl_round.jobs": "count",
    "crawl_round.stages": "count",
    "crawl_round.tasks": "count",
    "crawl_round.self_ms": "ms",
    "crawl_round.init_frontier_ms": "ms",
    "store.merge_calls": "count",
    "store.merge_ms": "ms",
    "store.merge_jobs": "count",
    "store.create_ms": "ms",
    "store.create_jobs": "count",
    "store.bytes_written": "B",
    "store.files_written": "count",
    "store.bytes_per_item": "B",
    "store.read_buckets_files": "count",
    "scheduler.claim_round_plan_ms": "ms",
    "scheduler.hot_host_widths_ms": "ms",
    "search_index.update_ms": "ms",
    "search_index.update_jobs": "count",
    "search_index.bm25_ms": "ms",
    **{
        f"query.{k}_{m}": u
        for k in ("bm25", "vector", "hybrid")
        for m, u in (("jobs", "count"), ("input_bytes", "B"), ("executor_ms", "ms"), ("ms_p50", "ms"))
    },
    **{name: "s" for name in tracing.UDFS.values()},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.executor_run_ms": "ms",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.task_skew": "ratio",
    "proc.cpu_s": "s",
    "host.steal_pct": "%",
    "trace.op_ms_p50": "ms",
    "trace.missing_stages": "count",
}


def layer_metrics(run: Run, timed: list[dict], detail: dict) -> dict:
    """Per-layer metrics from the spans of the timed ops; figures the
    detail line already holds are taken from it."""
    tr = run.tracer
    kids = tr.children()
    n_ops = max(1, len(timed))
    timed_ids = {r["i"] for r in timed}
    op_spans = [s for s in tr.spans if s.parent is None and s.op in timed_ids]
    in_timed = [s for s in tr.spans if s.op in timed_ids]

    def named(name, spans=in_timed):
        return [s for s in spans if s.name == name]

    def per_op(total):
        return total / n_ops

    def mean(xs):
        return float(np.mean(xs)) if xs else 0.0

    def jobs(spans):
        return sum(len(x.jobs) for s in spans for x in tr.subtree(s, kids))

    v: dict[str, float] = {"session.get_spark_s": run.get_spark_s}

    rounds = named("crawl_round.run_round")
    rt = tracing.stage_totals([x for s in rounds for x in tr.subtree(s, kids)])
    v["crawl_round.jobs"] = per_op(rt["jobs"])
    v["crawl_round.stages"] = per_op(rt["stages"])
    v["crawl_round.tasks"] = per_op(rt["tasks"])
    v["crawl_round.self_ms"] = per_op(sum(tr.self_ms(s, kids) for s in rounds))
    v["crawl_round.init_frontier_ms"] = mean([s.ms for s in named("crawl_round.init_frontier", tr.spans)])

    merges = named("store.merge")
    v["store.merge_calls"] = per_op(len(merges))
    v["store.merge_ms"] = per_op(sum(s.ms for s in merges))
    v["store.merge_jobs"] = per_op(jobs(merges))
    creates = named("store.create", tr.spans)
    v["store.create_ms"] = mean([s.ms for s in creates])
    v["store.create_jobs"] = mean([jobs([s]) for s in creates])
    v["store.bytes_written"] = per_op(sum(r["bytes_written"] for r in timed))
    v["store.files_written"] = per_op(sum(r["files_written"] for r in timed))
    v["store.bytes_per_item"] = detail["store_bytes_per_item"]
    v["store.read_buckets_files"] = per_op(sum(s.attrs.get("files", 0) for s in named("store.read_buckets")))

    v["scheduler.claim_round_plan_ms"] = per_op(sum(s.ms for s in named("scheduler.claim_round")))
    v["scheduler.hot_host_widths_ms"] = mean([s.ms for s in named("scheduler.hot_host_widths", tr.spans)])

    updates = named("search_index.update")
    v["search_index.update_ms"] = per_op(sum(s.ms for s in updates))
    v["search_index.update_jobs"] = per_op(jobs(updates))
    v["search_index.bm25_ms"] = mean([s.ms for s in named("search_index.bm25")])

    for kind in ("bm25", "vector", "hybrid"):
        spans = [s for s in op_spans if s.name == f"op.{kind}"]
        t = tracing.stage_totals([x for s in spans for x in tr.subtree(s, kids)])
        n = max(1, len(spans))
        v[f"query.{kind}_jobs"] = t["jobs"] / n
        v[f"query.{kind}_input_bytes"] = t["input_bytes"] / n
        v[f"query.{kind}_executor_ms"] = t["executor_ms"] / n
        v[f"query.{kind}_ms_p50"] = detail.get(f"{kind}_ms_p50", 0.0)

    for name in tracing.UDFS.values():
        v[name] = per_op(run.udf_s.get(name, 0.0))

    allt = tracing.stage_totals(in_timed)
    v["spark.jobs"] = per_op(allt["jobs"])
    v["spark.stages"] = per_op(allt["stages"])
    v["spark.executor_run_ms"] = per_op(allt["executor_ms"])
    v["spark.shuffle_write_bytes"] = per_op(allt["shuffle_write_bytes"])
    v["spark.spill_bytes"] = per_op(allt["spill_bytes"])
    v["spark.task_skew"] = allt["task_skew"]
    v["proc.cpu_s"] = per_op(sum(r["cpu_s"] for r in timed))
    v["host.steal_pct"] = run.state.get("steal_pct", 0.0)
    v["trace.op_ms_p50"] = pct([r["ms"] for r in timed], 50)
    v["trace.missing_stages"] = tr.missing_stages
    return {k: {"value": float(v[k]), "unit": u} for k, u in LAYER_UNITS.items()}

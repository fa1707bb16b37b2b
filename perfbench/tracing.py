"""Spans around calls into the program's public layers, measured from outside.

``Tracer.install()`` replaces each public callable listed in ``TRACED`` with
a wrapper that records a span (name, start, end, parent) and runs the call
under a Spark job group of its own. ``Tracer.collect()`` then reads, for
every job of every span, the stage metrics Spark keeps in its status store
(executor run time, tasks, input/shuffle/spill bytes, max and median task
time). Call it after every op: the store evicts stages beyond
``spark.ui.retainedStages`` (1000), and one crawl round runs ~500. It first
waits for Spark's asynchronous listener bus to drain, so the last stages of
the op have reached the store; a stage it still cannot read as complete or
skipped counts in ``missing_stages`` instead of vanishing from the sums.

A lazy callable (one that returns an unexecuted DataFrame, e.g.
``claim_round``) only builds a plan inside its span; the Spark jobs of that
plan run later under the span of the eager caller (``run_round`` or
``store.merge``) and are counted there.

Spans stay in memory; ``dump()`` writes them out when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import pstats
import sys
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

PKG = "azure_blob_crawler_spark"

# (module, attribute path, span name). Module-level functions are also
# re-bound in every package module that imported them by name.
TRACED = [
    ("plans.crawl_round", "CrawlRunner.run_round", "crawl_round.run_round"),
    ("plans.crawl_round", "CrawlRunner.init_frontier", "crawl_round.init_frontier"),
    ("sources.store", "SnapshotStore.merge", "store.merge"),
    ("sources.store", "SnapshotStore.create", "store.create"),
    ("sources.store", "SnapshotStore.read_buckets", "store.read_buckets"),
    ("operators.scheduler", "claim_round", "scheduler.claim_round"),
    ("operators.scheduler", "hot_host_widths", "scheduler.hot_host_widths"),
    ("operators.search_index", "TextSearchIndex.update", "search_index.update"),
    ("operators.search_index", "TextSearchIndex.bm25", "search_index.bm25"),
    ("operators.query", "text_search", "query.text_search"),
    ("operators.query", "vector_search", "query.vector_search"),
    ("operators.query", "hybrid_search", "query.hybrid_search"),
    ("operators.query", "bm25_scores", "query.bm25_scores"),
    ("operators.seen", "cuckoo_probe", "seen.cuckoo_probe"),
    ("operators.seen", "cuckoo_insert", "seen.cuckoo_insert"),
    ("operators.linkextract", "extract_links", "linkextract.extract_links"),
    ("operators.sequence", "assign_global_seq", "sequence.assign_global_seq"),
]

# Python UDF functions (file, function name) → per-layer metric name.
UDFS = {
    ("synthetic.py", "fetch"): "udf.fetch_s",
    ("extraction.py", "extract_spans"): "udf.extract_spans_s",
    ("chunker.py", "chunk_doc_udf"): "udf.chunk_doc_s",
    ("embedding.py", "embed"): "udf.embed_s",
    ("seen.py", "probe"): "udf.cuckoo_probe_s",
    ("seen.py", "upd"): "udf.cuckoo_insert_s",
}

STAGE_FIELDS = ("executor_ms", "tasks", "input_bytes", "shuffle_write_bytes", "spill_bytes")


class Span:
    __slots__ = ("idx", "name", "parent", "op", "t0", "t1", "group", "attrs", "jobs", "stages")

    def __init__(self, idx, name, parent, op):
        self.idx, self.name, self.parent, self.op = idx, name, parent, op
        self.t0 = time.perf_counter()
        self.t1 = None
        self.group = f"perfbench-{idx}"
        self.attrs: dict = {}
        self.jobs: list[int] = []
        self.stages: list[dict] = []

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: int | None = None
        self._seen_stages: set[int] = set()
        self._collected = 0
        self.missing_stages = 0

    # --- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is not None:
            self._op = op
        s = Span(len(self.spans), name, parent.idx if parent else None, self._op)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            if op is not None:
                self._op = None

    def _wrap(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name) as s:
                out = fn(*args, **kwargs)
                if name == "store.read_buckets":
                    s.attrs["files"] = _bucket_files(args, kwargs)
                return out

        return traced

    def install(self) -> None:
        """Wrap every ``TRACED`` callable, in its defining module or class
        and wherever a package module imported it by name."""
        for mod_name, path, span_name in TRACED:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            owner_name, _, attr = path.rpartition(".")
            owner = getattr(mod, owner_name) if owner_name else mod
            orig = getattr(owner, attr)
            wrapped = self._wrap(orig, span_name)
            setattr(owner, attr, wrapped)
            if not owner_name:
                for m in list(sys.modules.values()):
                    if (
                        m is not mod
                        and getattr(m, "__name__", "").startswith(PKG)
                        and getattr(m, attr, None) is orig
                    ):
                        setattr(m, attr, wrapped)

    # --- Spark status store ----------------------------------------------------

    def collect(self) -> None:
        """Attach job ids and executed-stage metrics to every span recorded
        since the last call. A stage is counted once, under the first job
        (by id) that ran it; skipped stages count nowhere."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        fresh = self.spans[self._collected:]
        self._collected = len(self.spans)
        tracker = self.sc.statusTracker()
        owned = []
        for s in fresh:
            s.jobs = sorted(tracker.getJobIdsForGroup(s.group))
            owned.extend((j, s) for j in s.jobs)
        store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        for job_id, s in sorted(owned, key=lambda p: p[0]):
            info = tracker.getJobInfo(job_id)
            for stage_id in sorted(info.stageIds) if info else []:
                if stage_id in self._seen_stages:
                    continue
                try:
                    sd = store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # evicted from the status store
                    self.missing_stages += 1
                    continue
                status = sd.status().toString()
                if status == "SKIPPED":
                    continue
                if status != "COMPLETE":  # still active, or failed
                    self.missing_stages += 1
                    continue
                self._seen_stages.add(stage_id)
                st = {
                    "id": stage_id,
                    "executor_ms": sd.executorRunTime(),
                    "tasks": sd.numTasks(),
                    "input_bytes": sd.inputBytes(),
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                }
                if st["tasks"] >= 2:
                    summ = store.taskSummary(stage_id, sd.attemptId(), quantiles)
                    if summ.isDefined():
                        run = summ.get().executorRunTime()
                        st["task_p50_ms"], st["task_max_ms"] = run.apply(0), run.apply(1)
                s.stages.append(st)

    # --- Python UDF profiler ---------------------------------------------------

    def clear_udf_profiles(self) -> None:
        self.spark.profile.clear(type="perf")

    def udf_seconds(self, dump_dir: str) -> dict[str, float]:
        """Cumulative seconds per known UDF since the last clear, read from
        the ``perf`` profiler's pstats dump (one file per UDF)."""
        self.spark.profile.dump(dump_dir, type="perf")
        out = {name: 0.0 for name in UDFS.values()}
        if not os.path.isdir(dump_dir):
            return out
        for fname in sorted(os.listdir(dump_dir)):
            st = pstats.Stats(os.path.join(dump_dir, fname))
            for (path, _line, func), row in st.stats.items():
                name = UDFS.get((os.path.basename(path), func))
                if name:
                    out[name] += row[3]  # cumulative time
        return out

    # --- aggregation -------------------------------------------------------------

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return kids

    def subtree(self, root: Span, kids=None) -> list[Span]:
        kids = self.children() if kids is None else kids
        out, stack = [], [root]
        while stack:
            s = stack.pop()
            out.append(s)
            stack.extend(kids.get(s.idx, []))
        return out

    def self_ms(self, s: Span, kids=None) -> float:
        """Duration minus the part covered by direct child spans (children
        run sequentially on the calling thread, so they never overlap)."""
        kids = self.children() if kids is None else kids
        return s.ms - sum(c.ms for c in kids.get(s.idx, []))

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = [
            {
                "idx": s.idx, "name": s.name, "parent": s.parent, "op": s.op,
                "ms": round(s.ms, 3), "jobs": s.jobs, "attrs": s.attrs,
                "stages": s.stages,
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({**extra, "missing_stages": self.missing_stages, "spans": rows}, f)


def stage_totals(spans: list[Span]) -> dict[str, float]:
    """Sums of stage metrics over ``spans`` plus the executor-time-weighted
    mean of per-stage max/median task time (DS2's skew signal)."""
    tot = {k: 0.0 for k in STAGE_FIELDS}
    tot["jobs"] = tot["stages"] = 0
    skew_w = skew_sum = 0.0
    for s in spans:
        tot["jobs"] += len(s.jobs)
        for st in s.stages:
            tot["stages"] += 1
            for k in STAGE_FIELDS:
                tot[k] += st[k]
            if st.get("task_p50_ms"):
                w = st["executor_ms"]
                skew_sum += w * st["task_max_ms"] / st["task_p50_ms"]
                skew_w += w
    tot["task_skew"] = skew_sum / skew_w if skew_w else 1.0
    return tot


def _bucket_files(args, kwargs) -> int:
    """Parquet files a ``SnapshotStore.read_buckets`` call selected."""
    store, name, buckets = args[0], args[1], args[2] if len(args) > 2 else kwargs["buckets"]
    version = args[3] if len(args) > 3 else kwargs.get("version")
    manifest = store._manifest(name, version)
    wanted = {str(b) for b in buckets}
    n = 0
    for b, rels in manifest["buckets"].items():
        if b in wanted:
            for rel in rels:
                d = os.path.join(store.root, name, rel)
                n += sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
    return n

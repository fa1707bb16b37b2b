"""Benchmark self-test: exact counts repeat, and the cost of tracing.

    python3 perfbench/selftest.py

For each workload, runs the benchmark twice traced and once untraced with
the same seed. Passes when every exact count of the two traced runs (job,
stage, task and file counts, bytes written) is identical, when no stage
went missing from Spark's status store, and when each run reports
exactly the metric names BENCHMARK.json lists; the values
themselves are not pinned. Every run uses ``--seconds 0``, so it holds
exactly the workload's minimum number of timed ops and per-op counts are
comparable. Also prints the tracing overhead: the traced run's end-to-end
figures minus the untraced run's.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# per-layer metrics that must repeat exactly across runs of the same code
EXACT = (
    "crawl_round.jobs", "crawl_round.stages", "crawl_round.tasks",
    "store.merge_calls", "store.merge_jobs", "store.create_jobs",
    "store.bytes_written", "store.files_written", "store.bytes_per_item",
    "store.read_buckets_files", "search_index.update_jobs",
    "query.bm25_jobs", "query.vector_jobs", "query.hybrid_jobs", "spark.jobs",
)
OVERHEAD = ("setup_s", "items_per_s", "op_ms_p50", "op_ms_p90")
SEED = 3


def bench(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(SEED), "--seconds", "0", "--trace", str(trace),
    ]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{' '.join(cmd)} failed with exit code {out.returncode}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def names_match(result: dict, listed: list[dict]) -> bool:
    return sorted(result["metrics"]) == sorted(m["name"] for m in listed)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ok = True
    for w in ("crawl", "serve"):
        runs = [bench(w, 1) for _ in range(2)]
        (d1, r1), (d2, r2) = runs
        if not (names_match(r1, spec["per_layer"]) and names_match(r2, spec["per_layer"])):
            print(f"{w:6s} traced metric names differ from BENCHMARK.json per_layer")
            ok = False
        missing = [r["metrics"]["trace.missing_stages"]["value"] for r in (r1, r2)]
        if any(missing):
            print(f"{w:6s} stages missing from the status store: {missing}")
            ok = False
        if d1["timed_ops"] != d2["timed_ops"]:
            print(f"{w:6s} timed ops differ ({d1['timed_ops']} vs {d2['timed_ops']})")
            ok = False
        for name in EXACT:
            a, b = r1["metrics"][name]["value"], r2["metrics"][name]["value"]
            ok &= a == b
            print(f"{w:6s} {name:28s} {a:>16.1f} {b:>16.1f} {'same' if a == b else 'DIFFERENT'}")
        du, ru = bench(w, 0)
        if not names_match(ru, spec["end_to_end"]):
            print(f"{w:6s} untraced metric names differ from BENCHMARK.json end_to_end")
            ok = False
        for name in OVERHEAD:
            t = (d1[name] + d2[name]) / 2
            print(f"{w:6s} tracing overhead {name:12s} traced {t:12.3f} untraced {du[name]:12.3f} "
                  f"diff {t - du[name]:+.3f} ({100 * (t - du[name]) / du[name]:+.1f}%)")
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

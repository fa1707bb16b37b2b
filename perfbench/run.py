"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repository. The program under test
is the ``azure_blob_crawler_spark`` package beside this directory; it runs
unmodified in a local-mode Spark session. Every file the run writes (Spark
scratch, the tables, temp files) lives under ``.perfbench_work/`` in the
checkout and is removed at exit; traces go to ``.perfbench_out/``.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace 1``
installs the span wrappers (tracing.py) and prints the per-layer metrics.
The last stdout line is the result object; the line before it carries the
full detail (all workload-specific figures) for people reading the log.
Exit status is 0 only when every correctness check passed.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM = "azure_blob_crawler_spark"
WORKLOADS = ("crawl", "serve")

# Local-mode task slots. Both workloads are bound by per-job overhead, not
# by cores (a crawl round takes the same ~22 s at 2 and 4 slots), so two
# slots lose nothing and leave headroom that keeps host contention down.
CORES = max(1, min(2, os.cpu_count() or 1))
DRIVER_MEM = "2g"


def process_age_s() -> float:
    """Seconds since this process started (so set-up time includes the
    interpreter start and imports, not only what follows them)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Point every temp/scratch location of Python, the JVM and Spark into
    ``work``, and make the program importable by the Python UDF workers the
    JVM forks (they inherit this environment, not ``sys.path``)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # spark-submit first runs a launcher JVM, which extraJavaOptions misses
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts(work)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    path = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    import tempfile

    tempfile.tempdir = tmp


def java_opts(work: str) -> str:
    """JVM temp files into ``work``; no hsperfdata file in /tmp."""
    return f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"


def spark_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.driver.extraJavaOptions": java_opts(work),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf["spark.sql.pyspark.udf.profiler"] = "perf"
    return conf


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter() - process_age_s()
    if not os.path.isdir(os.path.join(ROOT, PROGRAM)) or importlib.util.find_spec("pyspark") is None:
        print(f"perfbench: {PROGRAM}/ or pyspark not found next to {HERE}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        prepare_environment(work)
        import harness

        if args.workload == "crawl":
            import crawl as workload
        else:
            import serve as workload
        run = harness.Run(
            workload=args.workload, seed=args.seed, seconds=args.seconds,
            trace=bool(args.trace), work=work, out_dir=out_dir, t_start=t_start,
            cores=CORES, conf=spark_conf(work, bool(args.trace)),
        )
        result = harness.execute(run, workload)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result["detail"], sort_keys=True))
    print(json.dumps(result["result"]))
    return 0 if result["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload {nightly,intraday} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root.  The run generates its inputs from the
seed (``datagen.py``), starts one Spark session on ``local[nproc]``,
sets the workload up, measures it for ``--seconds`` seconds, checks
every answer, and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run turns
on Spark's event log and reports the per-layer table instead.  Lines
before it, starting with ``#``, carry the environment stamp and the
details behind each metric (sample counts, percentiles).

See ``perfbench/README.md`` for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

WORKLOADS = ("nightly", "intraday")


class Run:
    """State shared by the workloads: session, trace, counters, samples."""

    def __init__(self, spark, trace, rss, data_dir: str, work: str, seed: int, seconds: int):
        self.spark = spark
        self.rss = rss
        self.trace = trace
        self.data_dir = data_dir
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.counts: dict[str, list[float]] = {}
        self.metrics: dict[str, tuple[float, str]] = {}
        self.details: dict[str, object] = {}

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def count(self, name: str, value: float) -> None:
        self.counts.setdefault(name, []).append(float(value))

    def check(self, what: str, ok: bool, detail: str = "") -> bool:
        """Record one operation's outcome: attempted, and failed when
        its answer did not match."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{what}: {detail}"[:500])
        return ok

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _setup_env(work: str) -> dict[str, str]:
    cpus = str(_nproc())
    env = {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY", "2g"),
        "TMPDIR": os.path.join(work, "tmp"),
        # Python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    os.environ.update(env)
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    return env


def main(argv: list[str] | None = None) -> int:
    t_begin = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # fail before writing or printing anything when the engine is not
    # beside the benchmark
    from prod_recommendation_pyspark_spark.session import get_spark  # noqa: E402

    import datagen  # noqa: E402
    import procs  # noqa: E402
    import workloads  # noqa: E402
    from spans import Trace  # noqa: E402

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = _setup_env(work)

    spark = None
    try:
        with procs.RssSampler() as rss:
            # the input fixture is generated three times and the median
            # kept, so set-up time is a median of repeated set-ups
            data_dir = os.path.join(work, "data")
            gen_s = []
            for _ in range(3):
                t = time.monotonic()
                datagen.generate(args.seed, data_dir)
                gen_s.append(time.monotonic() - t)
            conf = {
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env['TMPDIR']}",
                "spark.ui.showConsoleProgress": "false",
            }
            log_dir = os.path.join(work, "eventlog")
            if args.trace:
                os.makedirs(log_dir)
                conf.update({
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.dir": f"file://{log_dir}",
                })
            t_sess = time.monotonic()
            spark = get_spark(app_name="perfbench", extra_conf=conf)
            par = spark.sparkContext.defaultParallelism
            session_s = time.monotonic() - t_sess
            run = Run(spark, Trace(spark, bool(args.trace)), rss, data_dir, work,
                      args.seed, args.seconds)
            stamp = {
                "workload": args.workload,
                "seed": args.seed,
                "seconds": args.seconds,
                "trace": args.trace,
                "nproc": _nproc(),
                "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
                "SPARK_LOCAL_DIRS": os.path.relpath(env["SPARK_LOCAL_DIRS"], ROOT),
                "default_parallelism": par,
                "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
                "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
                "spark": spark.version,
                "python": sys.version.split()[0],
                "duckdb": __import__("duckdb").__version__,
                "data": os.path.relpath(data_dir, ROOT),
                "rows": datagen.SIZES,
                "commit": _git_commit(),
            }
            print("# env " + json.dumps(stamp), flush=True)

            fixture_s = workloads.run(args.workload, run)
            # set-up: session start, the median input generation, and
            # the workload's own set-up and untimed warm-up
            setup_s = session_s + statistics.median(gen_s) + fixture_s
            run.details["setup_s"] = setup_s
            if args.trace:
                procs.stop_spark(spark)
                spark = None
                run.trace.fold(log_dir)
                workloads.layer_metrics(run)
            else:
                run.metric("setup_s", setup_s, "s")
    finally:
        if spark is not None:
            procs.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for e in run.errors[:20]:
        print(f"# error {e}", file=sys.stderr)
    print("# details " + json.dumps(run.details, default=str), flush=True)
    print(f"# wall_s {time.monotonic() - t_begin:.1f}", flush=True)
    out = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in run.metrics.items()},
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Bridge record between the committed ``BENCH_r*.json`` trajectory and
fully materialized timings.

``bench.py`` times ``QUERIES[name](...).count()``, which lets Catalyst
prune every column ``count()`` does not need.  This script times each
of ``bench.py``'s 17 headline queries both ways in one session —
``count()`` as ``bench.py`` does, and a ``noop`` write that materializes
every output column — alternating the two modes, after
``clearCache()``, and prints one JSON object with the per-query
medians.

    python3 perfbench/bridge.py <sf_dir> [repeats]

``perfbench/BRIDGE.md`` holds one recorded run.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    sf_dir = sys.argv[1]
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    sys.path.insert(0, ROOT)
    from bench import HEADLINE
    from prod_recommendation_pyspark_spark.queries import QUERIES
    from prod_recommendation_pyspark_spark.session import get_spark

    spark = get_spark(app_name="bridge", extra_conf={"spark.ui.showConsoleProgress": "false"})
    par = spark.sparkContext.defaultParallelism
    spark.range(par * 4, numPartitions=par).mapInPandas(lambda it: it, "id long").count()

    def count(name: str) -> None:
        QUERIES[name](spark, sf_dir).count()

    def noop(name: str) -> None:
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    times: dict[str, dict[str, list[float]]] = {n: {"count": [], "noop": []} for n in HEADLINE}
    for name in HEADLINE:
        noop(name)  # untimed warm-up at the measured scale
    for rep in range(repeats):
        modes = (("count", count), ("noop", noop))
        for label, fn in modes if rep % 2 == 0 else modes[::-1]:
            for name in HEADLINE:
                spark.catalog.clearCache()
                t0 = time.monotonic()
                fn(name)
                times[name][label].append(time.monotonic() - t0)
    rows = {
        n: {m: round(statistics.median(v), 3) for m, v in t.items()} for n, t in times.items()
    }
    total = {m: round(sum(r[m] for r in rows.values()), 3) for m in ("count", "noop")}
    print(json.dumps({
        "sf_dir": os.path.basename(sf_dir.rstrip("/")),
        "repeats": repeats,
        "cpus": os.environ["SPARK_GRAFT_CPUS"],
        "spark": spark.version,
        "rows": rows,
        "total": total,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

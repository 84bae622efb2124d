"""Pieces both workloads use: the serving features, the rank-window
artifact's build and publish, answer grouping, and the loop clock."""

from __future__ import annotations

import gc
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datagen import SIZES  # noqa: F401  (the workloads read the table sizes here)
from prod_recommendation_pyspark_spark.operators.hybrid import rank_window_index
from prod_recommendation_pyspark_spark.queries.similarity import (
    _RANK_WINDOW,
    _firmographics,
)
from prod_recommendation_pyspark_spark.sources.writers import publish_versioned

TOPK = 15
# round scores before comparing: the exact kernel and the probe route
# score in different plans, so only the last bits may differ
SCORE_DIGITS = 9


def serving_sides(spark: SparkSession, data_dir: str) -> tuple[DataFrame, DataFrame]:
    """(prospects, clients) of the 2-D firmographics features the
    registered rank-window queries use, split the same way (every
    tenth customer is a prospect), on one checkpointed feature frame."""
    frame = _firmographics(spark, data_dir).localCheckpoint()
    prospects = frame.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("tgt_custkey"), "vec", "naics", "lat", "lon"
    )
    clients = frame.filter(F.col("c_custkey") % 10 != 0).select(
        F.col("c_custkey").alias("src_custkey"), "vec", "naics", "lat", "lon"
    )
    return prospects, clients


def build_index(clients: DataFrame) -> DataFrame:
    return rank_window_index(clients, "src_custkey", window=_RANK_WINDOW)


def publish_index(index: DataFrame, base: str, features: DataFrame) -> int:
    return publish_versioned(
        index, base, partition_by=["__lvl"], companions={"features": features}
    )


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, data files) under a directory, hidden files excluded."""
    total, files = 0, 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def peers_answer(rows, left: str = "tgt_custkey", right: str = "src_custkey") -> dict:
    """Group ``(left, right, score)`` rows into ranked peer lists."""
    out: dict = {}
    for r in rows:
        out.setdefault(r[left], []).append((r[right], round(r["score"], SCORE_DIGITS)))
    for k in out:
        out[k].sort(key=lambda x: (-x[1], x[0]))
    return out


def percentile_tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it, as
    ``(value, percentile, n)``.  Below eleven samples no percentile has
    ten beyond it, and the maximum is reported (percentile 100)."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    idx = n - 11  # ten samples lie above xs[idx]
    return xs[idx], round(100.0 * (idx + 1) / n, 1), n


def live_heap_mib(spark) -> float:
    """JVM heap in use after a full collection: what the engine keeps
    alive (cached and checkpointed blocks, broadcasts, job history).
    Python's collector runs first, so JVM objects only a dead Python
    frame referenced are released, and Spark's context cleaner gets a
    moment to drop the blocks of collected frames."""
    jvm = spark._jvm
    gc.collect()
    for _ in range(3):
        jvm.java.lang.System.gc()
        time.sleep(0.5)
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


class Clock:
    """Deadline for the measured loop."""

    def __init__(self, seconds: float):
        self.deadline = time.monotonic() + seconds

    def running(self) -> bool:
        return time.monotonic() < self.deadline

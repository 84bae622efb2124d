"""Round-14 large-scale lifecycle for the 9-D PROJECTION-window
serving artifact — the general-dim twin of the round-12 sf10
nightly-artifact measurement (scripts/measure_nightly_sf10.py).

At sf1 (/tmp/sf1: 150k customers -> 15k prospects / 135k clients via
the production %10 split), build ``rank_window_index(direction=...)`` at the
sf1-DERIVED window 4096 (SCALE.md round-13/14: measured max-need 1305
-> x2 pad -> ladder 4096; re-deriving here would re-pay the
calibration the round-14 appendix already records), WRITE it
partitioned by ``__lvl``, reload cold, and walk the full serving
lifecycle on the round-14 broadcast-only probe:

* ~1k-prospect probe, window-less AND direction-less (both read off
  the artifact's ``__w``/``__dir`` metadata) + exact dim-9 re-rank —
  the serving answer.  The probe wall must ride arms x 2·window x
  batch (fetch rows), NOT the corpus.
* recall vs the exact blocked kernel on a ~100-prospect subsample
  (the full-batch kernel at sf1 is the 636s-vs-51s crossover story —
  the subsample protocol of measure_rank_window_sf10.py).
* DELETE: tombstone ~1% of clients -> the SHARED metadata-dispatched
  ``rank_window_compact`` (re-ranks stored ``__v1n`` keys under the
  stamped ``__dir``; no corpus rescan) -> rewrite -> the compacted
  probe serves no deleted client.
* INSERT: hold ~1% of clients out of a second build, feed them back
  through the metadata-dispatched ``rank_window_insert`` (one index
  scan + arrivals arming under the STORED direction), and check the
  grown artifact reaches full-index row count.

Usage (24g driver for the 15k x 135k exact subsample re-rank):
    PYSPARK_SUBMIT_ARGS="--driver-memory 24g pyspark-shell" \
        python scripts/measure_projection_artifact.py \
        [SF_DIR=/tmp/sf1] [OUT=/tmp/proj_index_sf1] [WINDOW=4096]
Prints one JSON line for SCALE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from prod_recommendation_pyspark_spark.operators.hybrid import (
    hybrid_topk,
    hybrid_topk_pruned,
    rank_window_compact,
    rank_window_index,
    rank_window_insert,
    rank_window_probe,
)
from prod_recommendation_pyspark_spark.queries.similarity import (
    _FD_DIM,
    _FD_DIRECTION,
    THRESHOLD,
    TOPK_PEERS,
    W_HAVS,
    W_HOPS,
    _fd_sides,
)
from prod_recommendation_pyspark_spark.session import get_spark

KW = dict(k=TOPK_PEERS, threshold=THRESHOLD, w_hops=W_HOPS, w_havs=W_HAVS)


def run(spark, sf_dir: str, out_dir: str, window: int) -> dict:
    pros, clis = _fd_sides(spark, sf_dir)
    pros, clis = pros.localCheckpoint(), clis.localCheckpoint()
    out: dict = {
        "sf_dir": sf_dir,
        "window": window,
        "n_pros": pros.count(),
        "n_clis": clis.count(),
    }

    # 1. nightly BUILD at the (already-derived) window, written out
    t0 = time.time()
    rank_window_index(
        clis, "src_custkey", window=window, direction=_FD_DIRECTION
    ).write.mode("overwrite").partitionBy("__lvl").parquet(out_dir)
    out["build_write_wall_s"] = round(time.time() - t0, 1)
    artifact = spark.read.parquet(out_dir)
    out["index_rows"] = artifact.count()

    # 2. window-less, direction-less ~1k probe off the cold artifact
    mod = max(1, out["n_pros"] // 1000)
    batch = pros.filter(
        F.col("tgt_custkey") % (10 * mod) == 0
    ).localCheckpoint()
    out["probe_batch_rows"] = batch.count()

    def serve(idx, clients):
        cand = rank_window_probe(
            batch, idx, "tgt_custkey", "src_custkey"
        )
        served = hybrid_topk_pruned(
            batch, clients, "tgt_custkey", "src_custkey",
            vec_col="vec", naics_col="naics", lat_col="lat", lon_col="lon",
            candidates=cand, dim=_FD_DIM, broadcast_sides=True, **KW,
        )
        return {
            (r[0], r[1])
            for r in served.select("tgt_custkey", "src_custkey").collect()
        }

    t0 = time.time()
    got = serve(artifact, clis)
    out["probe_wall_s"] = round(time.time() - t0, 1)
    out["served_pairs"] = len(got)

    # 3. recall vs the exact kernel on a ~100-prospect subsample
    sub = batch.filter(
        F.col("tgt_custkey") % (100 * mod) == 0
    ).localCheckpoint()
    out["subsample_rows"] = sub.count()
    t0 = time.time()
    exact = hybrid_topk(
        sub, clis, "tgt_custkey", "src_custkey",
        vec_col="vec", naics_col="naics", lat_col="lat", lon_col="lon",
        **KW,
    )
    want = {
        (r[0], r[1])
        for r in exact.select("tgt_custkey", "src_custkey").collect()
    }
    out["exact_subsample_wall_s"] = round(time.time() - t0, 1)
    sub_ids = {r[0] for r in sub.select("tgt_custkey").collect()}
    sub_got = {p for p in got if p[0] in sub_ids}
    out["recall"] = round(len(sub_got & want) / len(want), 4) if want else None

    # 4. DELETE lifecycle: tombstone ~1% of clients, compact from the
    #    artifact alone (metadata-dispatched: __dir read and kept),
    #    rewrite, probe compacted
    tombs = clis.filter(F.col("src_custkey") % 100 == 7).select(
        "src_custkey"
    ).localCheckpoint()
    out["tombstone_rows"] = tombs.count()
    t0 = time.time()
    rank_window_compact(artifact, tombs).write.mode("overwrite").partitionBy(
        "__lvl"
    ).parquet(out_dir + "_compacted")
    out["compact_write_wall_s"] = round(time.time() - t0, 1)
    compacted = spark.read.parquet(out_dir + "_compacted")
    out["compacted_rows"] = compacted.count()
    kept = clis.join(F.broadcast(tombs), "src_custkey", "left_anti")
    t0 = time.time()
    got_c = serve(compacted, kept)
    out["compacted_probe_wall_s"] = round(time.time() - t0, 1)
    deleted = {r[0] for r in tombs.collect()}
    out["compacted_serves_deleted"] = len(
        {p[1] for p in got_c} & deleted
    )  # MUST be 0

    # 5. INSERT lifecycle: hold ~1% out of a second build, insert them
    #    back through the metadata-dispatched path (arrivals armed
    #    under the STORED __dir), grown row count == full build's
    arrivals = clis.filter(F.col("src_custkey") % 100 == 13)
    held = clis.join(
        F.broadcast(arrivals.select("src_custkey")),
        "src_custkey",
        "left_anti",
    )
    out["arrival_rows"] = arrivals.count()
    holdout_idx = rank_window_index(
        held, "src_custkey", window=window, direction=_FD_DIRECTION
    ).localCheckpoint()
    t0 = time.time()
    grown = rank_window_insert(
        holdout_idx, arrivals, "src_custkey"
    ).localCheckpoint()
    out["grown_rows"] = grown.count()
    out["insert_wall_s"] = round(time.time() - t0, 1)
    out["insert_matches_full_build"] = out["grown_rows"] == out["index_rows"]
    t0 = time.time()
    got_g = serve(grown, clis)
    out["grown_probe_wall_s"] = round(time.time() - t0, 1)
    out["grown_served_pairs"] = len(got_g)
    return out


if __name__ == "__main__":
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/proj_index_sf1"
    window = int(sys.argv[3]) if len(sys.argv) > 3 else 4096
    spark = get_spark(app_name="projection_artifact_sf1")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        print(json.dumps(run(spark, sf_dir, out_dir, window)), flush=True)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(out_dir + "_compacted", ignore_errors=True)

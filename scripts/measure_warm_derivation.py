"""Optimization round 15 (VERDICT r14 #3): measure the WARM-START
window derivation against the cold full-sample derivation, per family.

Per SF_DIR, for the 2-D rank family and the 9-D projection family:

1. COLD full derivation (``derive_*_window_stats``, sample_mod 500)
   — the nightly cost the warm start amortizes (sf10 measured 361 s
   for the projection family, SCALE.md round-14);
2. WARM derivation with ``prev_window`` = the cold window (the
   steady-state nightly: yesterday's corpus ≈ today's) — must KEEP
   the window (``warm_start=True``, same ``window``) at a fraction of
   the cold wall;
3. ESCALATION with ``prev_window`` = cold window / 4 (a corpus that
   drifted past yesterday's pad) — must land on the cold window again
   (full pass re-run), paying warm + full.

The derived window must be IDENTICAL across 1/2/3 — warm start changes
the nightly wall, never the artifact.

Usage: python scripts/measure_warm_derivation.py SF_DIR [family ...]
  family ∈ {rank, projection}, default both.
Prints one JSON line per (sf_dir, family) for OPTIMIZATION_r15.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from prod_recommendation_pyspark_spark.operators.hybrid import (
    derive_rank_window_stats,
)
from prod_recommendation_pyspark_spark.queries.similarity import (
    _FD_DIRECTION,
    THRESHOLD,
    TOPK_PEERS,
    W_HAVS,
    W_HOPS,
    _fd_sides,
    _rank_sides,
)
from prod_recommendation_pyspark_spark.session import get_spark


def run(spark, sf_dir: str, family: str) -> dict:
    kw = dict(
        k=TOPK_PEERS, threshold=THRESHOLD, w_hops=W_HOPS, w_havs=W_HAVS
    )
    if family == "rank":
        pros, clis = _rank_sides(spark, sf_dir)
    else:
        pros, clis = _fd_sides(spark, sf_dir)
        kw["direction"] = _FD_DIRECTION
    derive = lambda **extra: derive_rank_window_stats(  # noqa: E731
        pros, clis, "tgt_custkey", "src_custkey", **kw, **extra
    )
    out: dict = {
        "sf_dir": sf_dir,
        "family": family,
        "n_pros": pros.count(),
        "n_clis": clis.count(),
    }

    t0 = time.time()
    cold = derive()
    out["cold"] = {**cold, "wall_s": round(time.time() - t0, 1)}

    t0 = time.time()
    warm = derive(prev_window=cold["window"])
    out["warm_keep"] = {**warm, "wall_s": round(time.time() - t0, 1)}

    # boundary drift (prev = cold/4): the warm check's sensitivity
    # limit — a small warm sample can under-estimate max-need and
    # false-keep a prev sitting exactly on the warm ladder rung
    t0 = time.time()
    bnd = derive(prev_window=max(64, cold["window"] // 4))
    out["boundary"] = {**bnd, "wall_s": round(time.time() - t0, 1)}

    # clear drift (prev = cold/8): must escalate to the full pass and
    # land back on the cold window
    t0 = time.time()
    esc = derive(prev_window=max(64, cold["window"] // 8))
    out["escalate"] = {**esc, "wall_s": round(time.time() - t0, 1)}

    out["steady_state_invariant"] = cold["window"] == warm["window"]
    out["warm_kept"] = bool(warm.get("warm_start"))
    out["boundary_escalated"] = not bnd.get("warm_start")
    out["clear_drift_escalated"] = (
        not esc.get("warm_start") and esc["window"] == cold["window"]
    )
    return out


if __name__ == "__main__":
    spark = get_spark(app_name="warm_derivation_measure")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    families = sys.argv[2:] or ["rank", "projection"]
    for fam in families:
        print(json.dumps(run(spark, sf_dir, fam)), flush=True)
    spark.stop()

"""The two workloads, and the metrics a run reports.

``nightly``: the nightly job, measured cold as a scheduled job runs —
the three pipeline stages with the real ALS fit and both report tables
materialized, then the rank-window artifact rebuilt over the client
corpus, published with its feature snapshot and pruned to two
versions, then its first five probes (four small batches, one large).

``intraday``: one client in a closed loop over the published
rank-window artifact.  Each block (``BLOCK``) interleaves six probes —
five small (1-16 prospects), one large (400 of the 450 prospects) —
with three writes: insert, delete, compact + prune.
"""

from __future__ import annotations

import statistics
import time

import common as C
import nightly
from serving import Serving

WRITES = ("insert", "delete", "compact")
BLOCK = ("small", "insert", "small", "small", "delete", "small", "small", "compact", "large")

# (name, unit): per-layer measures read from the span table
LAYER_MEASURES = [
    ("plans.pipeline.run_peer_search", "wall_s", "s"),
    ("plans.pipeline.run_peer_search", "jobs", "count"),
    ("plans.pipeline.run_peer_search", "exec_cpu_s", "s"),
    ("plans.pipeline.run_peer_search", "shuffle_bytes", "bytes"),
    ("recommender.ratings.dense_id_ratings", "wall_s", "s"),
    ("recommender.als.train_als", "wall_s", "s"),
    ("recommender.als.train_als", "exec_cpu_s", "s"),
    ("recommender.als.train_als", "gc_s", "s"),
    ("recommender.als.recommend_topn", "wall_s", "s"),
    ("recommender.als.recommend_topn", "exec_cpu_s", "s"),
    ("recommender.als.recommend_topn", "shuffle_bytes", "bytes"),
    ("plans.pipeline.run_postprocess", "wall_s", "s"),
    ("plans.pipeline.run_postprocess", "shuffle_bytes", "bytes"),
    ("operators.hybrid.rank_window_index", "wall_s", "s"),
    ("operators.hybrid.rank_window_index", "jobs", "count"),
    ("sources.writers.publish_versioned", "wall_s", "s"),
    ("sources.writers.prune_published_versions", "wall_s", "s"),
    ("sources.readers.read_published", "wall_s", "s"),
    ("operators.hybrid.serve_batch", "wall_s", "s"),
    ("operators.hybrid.serve_batch", "jobs", "count"),
    ("operators.hybrid.serve_batch", "driver_idle_s", "s"),
    ("operators.hybrid.serve_batch", "exec_cpu_s", "s"),
    ("operators.hybrid.rank_window_probe", "wall_s", "s"),
    ("operators.hybrid.hybrid_topk_pruned", "wall_s", "s"),
    ("operators.hybrid.rank_window_insert", "wall_s", "s"),
    ("operators.hybrid.rank_window_compact", "wall_s", "s"),
    ("operators.hybrid.hybrid_topk", "wall_s", "s"),
]
# (name, unit): per-layer counts the benchmark itself records
COUNT_MEASURES = [
    ("sources.writers.publish_versioned.bytes_written", "bytes"),
    ("sources.writers.publish_versioned.files_written", "count"),
    ("sources.writers.publish_versioned.bytes_written_per_changed_row", "bytes/row"),
    ("operators.hybrid.serve_batch.probe_route_share", "ratio"),
    ("operators.hybrid.rank_window_probe.candidates_per_prospect", "pairs"),
    ("operators.hybrid.hybrid_topk_pruned.useful_pair_ratio", "ratio"),
]


def _nightly(r) -> float:
    t0 = time.monotonic()
    # the peer-search kernel runs in Python workers: start them all
    # before the timed job (intraday's timed calls use none)
    par = r.spark.sparkContext.defaultParallelism
    r.spark.range(par * 4, numPartitions=par).mapInPandas(lambda it: it, "id long").count()
    inp = nightly.Inputs(r.spark, r.data_dir)
    pros, cli = C.serving_sides(r.spark, r.data_dir)
    traced = r.trace.enabled
    srv = Serving(r, pros, cli, arrivals=32 if traced else 0, max_deleted=16)
    fixture_s = time.monotonic() - t0

    clock = C.Clock(r.seconds)
    r.rss.reset()
    cycles = 0
    while clock.running() or cycles == 0:
        t = time.perf_counter()
        with r.trace.span("perfbench.pipeline"):
            peers, prod, pipe_s = nightly.pipeline(r, inp)
        with r.trace.span("perfbench.write"):
            r.add("write_s", srv.publish())
            srv.prune()
        for large in (False, False, False, False, True):
            srv.probe(srv.batch(large))
        r.add("pipeline_s", pipe_s)
        r.add("cycle_s", time.perf_counter() - t)
        cycles += 1
    r.rss.sample()
    r.details["peak_rss_mb"] = r.rss.peak_mib
    r.details["heap_live_mb"] = C.live_heap_mib(r.spark)
    r.details["cycles"] = cycles
    if traced:
        # layers the nightly job does not call, once each, so every
        # per-layer row of the traced table has a value
        for kind in WRITES:
            srv.write(kind)
    nightly.check_als(r, prod)
    nightly.check_frozen(r, inp, peers)
    srv.check_answers()
    return fixture_s


def _intraday(r) -> float:
    t0 = time.monotonic()
    pros, cli = C.serving_sides(r.spark, r.data_dir)
    srv = Serving(r, pros, cli, arrivals=160, max_deleted=48)
    srv.publish()
    srv.probe(srv.batch(False))  # untimed warm-up request
    r.samples.clear()
    r.counts.clear()
    fixture_s = time.monotonic() - t0

    clock = C.Clock(r.seconds)
    r.rss.reset()
    blocks = 0
    while clock.running():
        t = time.perf_counter()
        for op in BLOCK:
            if op in WRITES:
                srv.write(op)
            else:
                srv.probe(srv.batch(op == "large"))
        r.add("cycle_s", time.perf_counter() - t)
        blocks += 1
    r.rss.sample()
    r.details["peak_rss_mb"] = r.rss.peak_mib
    r.details["heap_live_mb"] = C.live_heap_mib(r.spark)
    r.details["blocks"] = blocks
    if r.trace.enabled:
        # the pipeline layers, once on every fourth customer, so every
        # per-layer row of the traced table has a value
        with r.trace.span("perfbench.pipeline"):
            nightly.pipeline(r, nightly.Inputs(r.spark, r.data_dir, custkey_mod=4))
    srv.check_answers()
    srv.check_index()
    return fixture_s


def run(name: str, r) -> float:
    """Set the workload up, measure it and check every answer; returns
    the set-up seconds spent after the session started."""
    fixture_s = {"nightly": _nightly, "intraday": _intraday}[name](r)
    s = r.samples
    r.details["n"] = {k: len(v) for k, v in s.items()}
    r.details["median"] = {k: statistics.median(v) for k, v in s.items()}
    if r.trace.enabled:
        return fixture_s
    r.metric("cycle_s", statistics.median(s["cycle_s"]), "s")
    for op in ("probe", "write"):
        r.metric(f"{op}_p50_s", statistics.median(s[f"{op}_s"]), "s")
        # the tail is a metric only where the sample supports one
        tail, pct, n = C.percentile_tail(s[f"{op}_s"])
        r.details[f"{op}_tail"] = {"value": tail, "percentile": pct, "n": n}
    r.metric("rows_per_s", sum(s["probe_rows"]) / sum(s["probe_s"]), "rows/s")
    return fixture_s


def layer_metrics(r) -> None:
    """Fold the traced run's spans into the per-layer metrics."""
    table = r.trace.layer_table()
    for layer, measure, unit in LAYER_MEASURES:
        row = table.get(layer)
        r.metric(f"{layer}.{measure}", row[measure] if row else 0.0, unit)
    for key, unit in COUNT_MEASURES:
        layer, measure = key.rsplit(".", 1)
        short = f"{layer.rsplit('.', 1)[1]}.{measure}"
        vals = r.counts.get(short, [])
        r.metric(key, statistics.median(vals) if vals else 0.0, unit)
    r.metric("trace.unattributed_exec_cpu_s", r.trace.unattributed.get("exec_cpu_s", 0.0), "s")
    s = r.samples
    r.metric("trace.overhead_ratio", sum(s["decomposed_s"]) / sum(s["plain_s"]), "ratio")
    r.metric("trace.span_coverage", r.trace.coverage(), "ratio")
    r.details["layers"] = table

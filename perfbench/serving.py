"""The rank-window serving artifact under reads and writes.

``Serving`` owns one published rank-window index (with its client
feature snapshot as a companion) and a published tombstone set, the
driver-side record of which clients are live, and every probe answer
it has served.  Answers are checked after the measured loop, against
the exact ``hybrid_topk`` kernel over the whole client pool restricted
to the clients live when the probe ran.
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import functions as F

import common as C
from prod_recommendation_pyspark_spark.operators.hybrid import (
    hybrid_topk,
    hybrid_topk_pruned,
    rank_window_compact,
    rank_window_insert,
    rank_window_probe,
    serve_batch,
    serving_probe_wins,
)
from prod_recommendation_pyspark_spark.queries.similarity import _RANK_WINDOW
from prod_recommendation_pyspark_spark.sources.readers import (
    latest_published_version,
    read_published,
)
from prod_recommendation_pyspark_spark.sources.writers import (
    prune_published_versions,
    publish_versioned,
)

SMALL = (1, 16)
LARGE = 400


class Serving:
    def __init__(self, run, prospects, clients, arrivals: int, max_deleted: int):
        self.run = run
        self.spark = run.spark
        self.tr = run.trace
        self.pros, self.cli = prospects, clients
        self.rng = np.random.default_rng([run.seed, 7])
        art = os.path.join(run.work, "artifacts")
        self.base = os.path.join(art, "rank_window")
        self.tomb_base = os.path.join(art, "tombstones")
        n = C.SIZES["customer"]
        self.pros_ids = [i for i in range(n) if i % 10 == 0]
        pool = [i for i in range(n) if i % 10 != 0]
        self.arrivals = sorted(self.rng.choice(pool, arrivals, replace=False).tolist())
        self.n_arrivals = arrivals
        self.live = set(pool) - set(self.arrivals)  # clients in the index
        self.tombs: set[int] = set()  # deleted, not compacted yet
        self.max_deleted = max_deleted
        self.deleted = 0
        self.answers: list[tuple[list[int], dict, frozenset]] = []

    def ids_df(self, ids, name: str = "src_custkey"):
        return self.spark.createDataFrame([(int(i),) for i in sorted(ids)], f"{name} long")

    def live_clients(self):
        return self.cli.join(self.ids_df(self.live), "src_custkey")

    def publish(self) -> float:
        """Build the index over the live clients and publish it with its
        feature snapshot; returns the wall of build plus publish."""
        tr = self.tr
        t0 = time.perf_counter()
        feats = self.live_clients()
        with tr.span("operators.hybrid.rank_window_index"):
            index = C.build_index(feats)
            if tr.enabled:
                index = index.localCheckpoint()
        self._publish(index, feats)
        if not os.path.exists(self.tomb_base):
            publish_versioned(self.ids_df([]), self.tomb_base)
        return time.perf_counter() - t0

    def _publish(self, index, feats) -> None:
        with self.tr.span("sources.writers.publish_versioned"):
            v = C.publish_index(index, self.base, feats)
        size, files = C.dir_size(os.path.join(self.base, f"__v={v}"))
        self.run.count("publish_versioned.bytes_written", size)
        self.run.count("publish_versioned.files_written", files)
        self.last_publish_bytes = size

    # --- reads ---------------------------------------------------------
    def batch(self, large: bool) -> list[int]:
        n = LARGE if large else int(self.rng.integers(SMALL[0], SMALL[1] + 1))
        return sorted(self.rng.choice(self.pros_ids, n, replace=False).tolist())

    def resolve(self):
        with self.tr.span("sources.readers.read_published"):
            v = latest_published_version(self.spark, self.base)
            index = read_published(self.spark, self.base, version=v)
            feats = read_published(self.spark, self.base, version=v, companion="features")
            tombs = read_published(self.spark, self.tomb_base)
        return index, feats, tombs

    def probe(self, ids: list[int]) -> float:
        """One request: resolve the newest committed version, serve the
        batch, collect the answer.  Returns the request wall."""
        tr = self.tr
        t0 = time.perf_counter()
        with tr.span("perfbench.probe"):
            index, feats, tombs = self.resolve()
            batch = self.pros.filter(F.col("tgt_custkey").isin(ids))
            with tr.span("operators.hybrid.serve_batch"):
                rows = serve_batch(
                    batch, index, feats, "tgt_custkey", "src_custkey",
                    k=C.TOPK, n_right=len(self.live), tombstones=tombs,
                ).collect()
        wall = time.perf_counter() - t0
        self.answers.append((ids, C.peers_answer(rows), frozenset(self.live - self.tombs)))
        self.run.add("probe_s", wall)
        self.run.add("probe_rows", len(ids))
        if tr.enabled:
            self.decompose(ids, wall)
        return wall

    def decompose(self, ids: list[int], plain_wall: float) -> None:
        """Traced runs only: the same request once more, with the window
        probe and the exact re-rank materialized separately."""
        tr = self.tr
        t0 = time.perf_counter()
        with tr.span("perfbench.probe_decomposed"):
            index, feats, tombs = self.resolve()
            batch = self.pros.filter(F.col("tgt_custkey").isin(ids)).localCheckpoint()
            self.run.count("serve_batch.probe_route_share",
                           serving_probe_wins(_RANK_WINDOW, len(self.live)))
            with tr.span("operators.hybrid.rank_window_probe"):
                cand = rank_window_probe(
                    batch, index, "tgt_custkey", "src_custkey", tombstones=tombs
                ).localCheckpoint()
                n_cand = cand.count()
            with tr.span("operators.hybrid.hybrid_topk_pruned"):
                top = hybrid_topk_pruned(
                    batch, feats, "tgt_custkey", "src_custkey", k=C.TOPK,
                    candidates=cand, dim=2, broadcast_sides=True,
                ).collect()
        self.run.count("rank_window_probe.candidates_per_prospect", n_cand / len(ids))
        self.run.count("hybrid_topk_pruned.useful_pair_ratio", len(top) / max(n_cand, 1))
        self.run.add("decomposed_s", time.perf_counter() - t0)
        self.run.add("plain_s", plain_wall)

    # --- writes --------------------------------------------------------
    def write(self, kind: str) -> float:
        """One write, timed from its start until the new version is
        committed and readable.  Returns its wall."""
        tr, rng = self.tr, self.rng
        t0 = time.perf_counter()
        changed = 0
        with tr.span("perfbench.write"):
            if kind == "insert":
                if not self.arrivals:
                    raise RuntimeError("arrival pool exhausted; enlarge it")
                n = min(int(rng.integers(8, 33)), len(self.arrivals))
                ids, self.arrivals = self.arrivals[:n], self.arrivals[n:]
                index, feats, _ = self.resolve()
                arr = self.cli.filter(F.col("src_custkey").isin(ids))
                with tr.span("operators.hybrid.rank_window_insert"):
                    grown = rank_window_insert(index, arr, "src_custkey")
                    if tr.enabled:
                        grown = grown.localCheckpoint()
                self._publish(grown, feats.unionByName(arr))
                self.live |= set(ids)
                changed = n
            elif kind == "delete":
                n = min(int(rng.integers(4, 17)), self.max_deleted - self.deleted)
                alive = sorted(self.live - self.tombs)
                ids = rng.choice(alive, max(n, 0), replace=False).tolist()
                self.tombs |= set(ids)
                self.deleted += len(ids)
                with tr.span("sources.writers.publish_versioned"):
                    publish_versioned(self.ids_df(self.tombs), self.tomb_base)
                changed = len(ids)
            elif kind == "compact":
                index, feats, _ = self.resolve()
                tombs = self.ids_df(self.tombs)
                with tr.span("operators.hybrid.rank_window_compact"):
                    dense = rank_window_compact(index, tombs)
                    if tr.enabled:
                        dense = dense.localCheckpoint()
                kept = feats.join(F.broadcast(tombs), "src_custkey", "left_anti")
                self._publish(dense, kept)
                with tr.span("sources.writers.publish_versioned"):
                    publish_versioned(self.ids_df([]), self.tomb_base)
                changed = len(self.tombs)
                self.live -= self.tombs
                self.tombs = set()
                self.prune()
        wall = time.perf_counter() - t0
        self.run.add("write_s", wall)
        if kind != "delete" and changed:
            self.run.count("publish_versioned.bytes_written_per_changed_row",
                           self.last_publish_bytes / changed)
        return wall

    def prune(self) -> None:
        with self.tr.span("sources.writers.prune_published_versions"):
            for base in (self.base, self.tomb_base):
                prune_published_versions(self.spark, base, keep=2)

    # --- checks --------------------------------------------------------
    def check_answers(self) -> None:
        """Every served answer against the exact kernel over the whole
        client pool, cut to the clients live when it was served."""
        run = self.run
        asked = sorted({p for ids, _, _ in self.answers for p in ids})
        if not asked:
            return
        # a client outside the live set is a pending arrival or deleted
        deep = C.TOPK + self.n_arrivals + self.max_deleted
        with self.tr.span("operators.hybrid.hybrid_topk"):
            ref = C.peers_answer(
                hybrid_topk(
                    self.pros.filter(F.col("tgt_custkey").isin(asked)), self.cli,
                    "tgt_custkey", "src_custkey", k=deep,
                ).collect()
            )
        for ids, got, alive in self.answers:
            bad = None
            for p in ids:
                full = ref.get(p, [])
                want = [x for x in full if x[0] in alive][: C.TOPK]
                if len(want) < C.TOPK and len(full) >= deep:
                    raise RuntimeError("reference answer too shallow")
                if got.get(p, []) != want:
                    bad = p
                    break
            run.check("probe", bad is None, f"prospect {bad}")

    def check_index(self) -> None:
        """The published index must equal a fresh build over the live
        clients (outstanding tombstones compacted first)."""
        index = read_published(self.spark, self.base)
        if self.tombs:
            index = rank_window_compact(index, self.ids_df(self.tombs))
        alive = self.cli.join(self.ids_df(self.live - self.tombs), "src_custkey")
        cols = ["__rid", "__lvl", "__blk", "__cpos", "__wb", "__w"]
        a = sorted(tuple(r) for r in index.select(*cols).collect())
        b = sorted(tuple(r) for r in C.build_index(alive).select(*cols).collect())
        self.run.check("published index equals rebuild", a == b, f"{len(a)} vs {len(b)} rows")

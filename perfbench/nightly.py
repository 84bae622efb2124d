"""The nightly job: the three pipeline stages, then the rank-window
artifact rebuilt, published and pruned, then its first probes.

Stage inputs follow the registered ``pipeline_e2e_*`` queries: the
firmographics derived from ``customer``, product usage from
``lineitem ⨝ orders ⨝ part``.  Stage 2 fits the real ALS model.
"""

from __future__ import annotations

import time

import duckdb
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prod_recommendation_pyspark_spark.plans.pipeline import (
    PeerSearchConfig,
    PostprocessConfig,
    ProdRecConfig,
    run_peer_search,
    run_postprocess,
    run_prod_rec,
)
from prod_recommendation_pyspark_spark.queries.pipeline_e2e import _firmo
from prod_recommendation_pyspark_spark.queries.registry import ORACLES
from prod_recommendation_pyspark_spark.recommender.als import recommend_topn, train_als
from prod_recommendation_pyspark_spark.recommender.ratings import (
    accumulated_volume,
    dense_id_ratings,
    key_remap,
    percent_rank_ratings,
)
from prod_recommendation_pyspark_spark.sources.catalog import Catalog

TABLES = "customer part orders lineitem"


class Inputs:
    def __init__(self, spark, data_dir: str, custkey_mod: int = 1):
        """Stage inputs; ``custkey_mod > 1`` keeps every n-th customer
        only (the small pass traced intraday runs use)."""
        keep = F.col("custkey") % custkey_mod == 0
        self.firmo = _firmo(spark, data_dir).filter(keep)
        self.prospects = self.firmo.filter(F.col("custkey") % 10 == 0)
        self.clients = self.firmo.filter(F.col("custkey") % 10 != 0)
        cat = Catalog(spark, data_dir)
        self.pup = (
            cat.table("lineitem")
            .join(cat.table("orders"), F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(cat.table("part")), F.col("l_partkey") == F.col("p_partkey"))
            .filter(F.col("o_custkey") % custkey_mod == 0)
            .select(
                F.concat(F.lit("E"), F.lpad(F.col("o_custkey").cast("string"), 7, "0")).alias("eci"),
                F.col("p_brand").alias("sku"),
                F.col("l_quantity").cast("double").alias("primary_intensity_value"),
            )
        )
        self.eci_map = self.firmo.select("eci", "cid")


def _prod_traced(run, inp: Inputs) -> DataFrame:
    """``run_prod_rec``'s composition with each layer materialized in
    its own span (traced runs only)."""
    tr, cfg = run.trace, ProdRecConfig()
    remapped = key_remap(inp.pup, inp.eci_map, "eci", "cid")
    rated = percent_rank_ratings(remapped, "cid", "sku", "primary_intensity_value")
    acc = accumulated_volume(rated, "cid", "sku", "rating", out_col="acc")
    with tr.span("recommender.ratings.dense_id_ratings"):
        als_input, user_map, item_map = dense_id_ratings(acc, "cid", "sku", "acc")
        als_input = als_input.cache()
        als_input.count()
    with tr.span("recommender.als.train_als"):
        model = train_als(als_input, cfg.als)
    with tr.span("recommender.als.recommend_topn"):
        recs = recommend_topn(model, cfg.top_n, user_map, item_map).localCheckpoint()
    return recs


def pipeline(run, inp: Inputs) -> tuple[DataFrame, DataFrame, float]:
    """Stages 1-3, both report tables materialized.  Returns the
    checkpointed peers and product tables and the wall."""
    tr, spark = run.trace, run.spark
    t0 = time.perf_counter()
    with tr.span("plans.pipeline.run_peer_search"):
        peers = run_peer_search(
            spark, inp.prospects, inp.clients, PeerSearchConfig(id_col="custkey")
        ).select(
            F.col("tgt_eci").alias("prospect"), F.col("src_cid").alias("coname"), "score"
        ).localCheckpoint()
    with tr.span("plans.pipeline.run_prod_rec"):
        if tr.enabled:
            recs = _prod_traced(run, inp)
        else:
            recs = run_prod_rec(spark, inp.pup, inp.eci_map).localCheckpoint()
    prod = recs.select(
        F.col("cid").alias("coname"), F.col("sku").alias("product"), "rating"
    )
    with tr.span("plans.pipeline.run_postprocess"):
        conf, pen = run_postprocess(spark, peers, prod)
        for table in (conf, pen):
            table.write.format("noop").mode("overwrite").save()
    return peers, prod, time.perf_counter() - t0


def check_als(run, prod: DataFrame) -> None:
    """The invariants ``als_recommend_topn_contract`` pins: ten items
    per user, nonnegative scores, no item twice for one user."""
    df = prod.toPandas()
    per_user = df.groupby("coname")["product"].agg(["count", "nunique"])
    ok = bool(
        len(df) > 0
        and (per_user["count"] == 10).all()
        and (per_user["nunique"] == 10).all()
        and (df["rating"] >= 0).all()
    )
    run.check("als top-n invariants", ok, f"{len(df)} rows")


def _canon(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == "float64":
            df[c] = df[c].round(6)
    return df.sort_values(list(df.columns)).reset_index(drop=True).to_csv(index=False)


def check_frozen(run, inp: Inputs, peers: DataFrame) -> None:
    """One untimed frozen-ratings pass (stage 1 shared with the timed
    job) against the registered DuckDB oracles of ``pipeline_e2e_*``."""
    spark = run.spark
    frozen = run_prod_rec(spark, inp.pup, inp.eci_map, freeze_ratings=True)
    conf, pen = run_postprocess(spark, peers, frozen, cfg=PostprocessConfig(round_confidence=4))
    ours = {
        "pipeline_e2e_confidence": conf.select("prospect", "product", "confidence", "rnk"),
        "pipeline_e2e_penetration": pen.select(
            "prospect", "product", F.round("penetration", 4).alias("penetration"), "rnk"
        ),
    }
    con = duckdb.connect()
    try:
        for t in TABLES.split():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{run.data_dir}/{t}.parquet')")
        for name, df in ours.items():
            want = con.execute(ORACLES[name]).df()
            got = df.toPandas()
            run.check(f"oracle {name}", _canon(got) == _canon(want), f"{len(got)} vs {len(want)} rows")
    finally:
        con.close()

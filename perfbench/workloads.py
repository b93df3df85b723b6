"""Workload inputs, jobs and output checks for the tiling benchmark.

Every workload reads the committed 5,000-document sf0.1 table
(``data/documents_sf0.1.parquet``: doc_id, text) and shifts ``doc_id``
by ``seed * 10**7``. The geocoder keys every feature off ``doc_id``, so
the seed changes the geometry while the document count and the text
stay fixed; seed 0 is the unshifted table.

``load_docs`` is the set-up of every workload. ``WORKLOADS`` maps each
workload to its rep: one closed-loop job returning its output summary
(counts plus order-independent digests), which ``check_summary``
compares with the pinned summary and with the run's first rep.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tilemaker_spark import classify, geocode, pipeline, spatial, textops

HERE = os.path.dirname(os.path.abspath(__file__))
DOCS_PATH = os.path.join(HERE, "data", "documents_sf0.1.parquet")
N_DOCS = 5000
DOC_ID_STRIDE = 10_000_000
# seeds fold into this range so shifted ids keep node_id = d * 256 far
# below the int64 limit
SEED_RANGE = 100_000
# MinHash pairs depend on text only, which the seed leaves unchanged
MINHASH_PAIRS = 256

# order-independent digests: (z, x, y) and the join keys are unique per
# output row, so XOR over row hashes never cancels two equal rows
TILE_SUMMARY = ["count(*) AS tiles",
                "sum(feature_count) AS features",
                "sum(CASE WHEN feature_count = 0 THEN 1 ELSE 0 END) AS empty_tiles",
                "bit_xor(xxhash64(z, x, y, geometry_hash)) AS digest"]


def seed_offset(seed: int) -> int:
    return (seed % SEED_RANGE) * DOC_ID_STRIDE


def load_docs(spark: SparkSession, seed: int) -> DataFrame:
    """The seeded document table, cached and counted."""
    docs = (spark.read.parquet(DOCS_PATH)
            .select((F.col("doc_id") + F.lit(seed_offset(seed))).alias("doc_id"),
                    "text")
            .cache())
    n = docs.count()
    if n != N_DOCS:
        raise RuntimeError(f"{DOCS_PATH}: {n} rows, expected {N_DOCS}")
    return docs


def tile_summary(tiles: DataFrame) -> dict:
    row = tiles.selectExpr(*TILE_SUMMARY).collect()[0]
    return {k: int(row[k]) for k in ("tiles", "features", "empty_tiles", "digest")}


def digest_count(df: DataFrame, cols: list) -> tuple:
    row = df.selectExpr("count(*) AS n",
                        f"bit_xor(xxhash64({', '.join(cols)})) AS d").collect()[0]
    return int(row["n"]), int(row["d"] or 0)


# ------------------------------------------------------------ pyramid

def pyramid_rep(spark: SparkSession, docs: DataFrame) -> dict:
    """The flagship job: lazy z0-z14 pyramid, one action."""
    return tile_summary(pipeline.pyramid_df(spark, docs))


# --------------------------------------------------------- companions

def knn_sides(points: DataFrame) -> tuple:
    """poi queries and place targets, as ``spatial.poi_knn`` splits them."""
    queries = points.where(F.col("layer") == "poi").select("object_id", "lon", "latp")
    places = points.where(F.col("layer") == "place").select(
        F.col("object_id").alias("place_id"), "lon", "latp")
    return queries, places


PIP_COLS = ["object_id", "layer", "district_id"]
KNN_COLS = ["object_id", "place_id", "dist2", "rank"]
MINHASH_COLS = ["doc_a", "doc_b", "jac"]


def companions_rep(spark: SparkSession, docs: DataFrame) -> dict:
    """Point-in-polygon join, poi->place kNN and MinHash-LSH pairs."""
    nodes, _, _ = geocode.geocode(docs)
    points = classify.classify_nodes(nodes)
    pip = spatial.point_in_polygon_join(points, spatial.district_table(spark))
    out = {}
    out["pip_rows"], out["pip_digest"] = digest_count(pip, PIP_COLS)
    knn = spatial.knn_join(*knn_sides(points))
    out["knn_rows"], out["knn_digest"] = digest_count(knn, KNN_COLS)
    pairs = textops.minhash_lsh_pairs(docs)
    out["minhash_pairs"], out["minhash_digest"] = digest_count(pairs, MINHASH_COLS)
    return out


# ------------------------------------------------------------- checks

def check_summary(summary: dict, pin: dict | None, first: dict | None) -> list:
    """Failed checks of one rep's output summary.

    ``pin`` holds the recorded summary for this seed (None for a seed
    without a pin); ``first`` is the run's first successful summary,
    which every later rep must reproduce exactly."""
    errors = []
    if pin is not None:
        for k, v in pin.items():
            if summary.get(k) != v:
                errors.append(f"{k}={summary.get(k)} != pinned {v}")
    if first is not None and summary != first:
        errors.append(f"summary {summary} differs from first rep {first}")
    for k, v in summary.items():
        if not k.endswith("digest") and not k.startswith("empty") and v <= 0:
            errors.append(f"{k}={v} must be positive")
    if "minhash_pairs" in summary and summary["minhash_pairs"] != MINHASH_PAIRS:
        errors.append(f"minhash_pairs={summary['minhash_pairs']} != {MINHASH_PAIRS}")
    return errors


def out_rows(summary: dict) -> int:
    """Output rows that ``out_rows_per_s`` divides by ``wall_s``."""
    if "tiles" in summary:
        return summary["tiles"]
    return summary["pip_rows"] + summary["knn_rows"]


WORKLOADS = {
    "pyramid_sf0.1": pyramid_rep,
    "companions_sf0.1": companions_rep,
}

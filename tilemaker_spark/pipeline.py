"""End-to-end pyramid pipeline with resumable checkpoint stages.

Stage graph (SURVEY.md §3.1 "Spark shape"), described once by
``stage_graph`` and walked by both entry points:

  features     documents --extract/geocode--> stores (nodes/ways/relations)
               --classify--> feature emissions --assemble--> features+geometry
  base_tiles   assign_tiles at the base zoom (the big fan-out)
  tiles        all-zoom rollup + encode, fused into one job
               (or one ``tiles_z{z}`` stage per zoom: per_zoom_stages)

then a sink: file-per-tile or MBTiles. ``pyramid_df`` builds the graph
as one lazy plan; ``run_pyramid`` writes every stage as a Parquet
checkpoint (the sandbox stand-in for Iceberg snapshots — same
resumability contract: a completed stage directory is reused on re-run,
per-partition lineage metrics recorded alongside). Replaces the
reference's in-process TileIndex shard store (include/tile_data.h:12)
per the north_rule.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import assemble, classify, extract, geocode, tileassign
from .config import Config, default_config
from .encode import encode_zoom
from .session import python_stage_partitions

BASE_TILE_COLS = ["object_id", "elem", "layer", "kind", "attrs", "attrs_num",
                  "attrs_bool", "as_centroid", "geom", "lon", "latp",
                  "tile_x", "tile_y", "feat_minzoom"]


def _stage_done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _write_stage(df: DataFrame, path: str, partition_by: tuple = ()) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def _append_snapshot(out_dir: str, stage: str, rows: int, partitions: int) -> dict:
    """Iceberg-style snapshot chain (north_rule): every completed stage
    checkpoint appends a record with a monotonically increasing
    snapshot_id and a parent pointer to the previous snapshot — an
    append-only JSONL standing in for Iceberg's snapshot log (the
    runtime is absent in this sandbox; the provenance contract is not).
    Resumed runs append nothing for reused stages, so the chain is an
    audit trail of what actually recomputed."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "snapshots.jsonl")
    parent = None
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                if line.strip():
                    parent = json.loads(line)["snapshot_id"]
    snap = {"snapshot_id": (parent + 1) if parent is not None else 0,
            "parent_id": parent, "stage": stage, "ts": time.time(),
            "rows": rows, "partitions": partitions}
    with open(path, "a") as f:
        f.write(json.dumps(snap) + "\n")
    return snap


def _lineage(spark: SparkSession, df: DataFrame, stage: str, out_dir: str,
             hash_col: str | None = None) -> dict:
    """Per-partition lineage + row-count (+ optional content hash) metrics
    (north_rule). Written as JSON next to the stage table, and stamped
    into the snapshot chain (see _append_snapshot)."""
    aggs = [F.count(F.lit(1)).alias("rows")]
    if hash_col:
        aggs.append(F.sum(F.crc32(F.col(hash_col).cast("string"))).alias("content_hash"))
    per_part = (df.withColumn("_pid", F.spark_partition_id())
                  .groupBy("_pid").agg(*aggs).collect())
    rows = int(sum(r["rows"] for r in per_part))
    snap = _append_snapshot(out_dir, stage, rows, len(per_part))
    m = {
        "stage": stage,
        "ts": time.time(),
        "snapshot_id": snap["snapshot_id"],
        "parent_snapshot_id": snap["parent_id"],
        "partitions": len(per_part),
        "rows": rows,
        "per_partition": [{"pid": int(r["_pid"]), "rows": int(r["rows"]),
                           **({"hash": int(r["content_hash"] or 0)} if hash_col else {})}
                          for r in per_part],
    }
    with open(os.path.join(out_dir, f"metrics_{stage}.json"), "w") as f:
        json.dump(m, f)
    return m


def build_stores(spark: SparkSession, docs: DataFrame, verify_extract: bool = False):
    """documents -> (geo_nodes, geo_ways, geo_relations).

    When ``verify_extract`` and the table carries html, re-derive text
    from html (the invariant path); geocode keys off url/doc_id either way.
    """
    if verify_extract and "html" in docs.columns:
        docs = extract.with_extracted_text(docs)
    return geocode.geocode(docs)


def build_features(nodes: DataFrame, ways: DataFrame, relations: DataFrame) -> DataFrame:
    node_feats = classify.classify_nodes(nodes)
    way_feats = classify.classify_ways(ways)
    rel_feats = classify.classify_relations(relations)
    return assemble.assemble_features(nodes, ways, relations,
                                      node_feats, way_feats, rel_feats)


@dataclass(frozen=True)
class Stage:
    """One node of the pyramid's stage graph. ``build`` maps the output
    of ``source`` (None for the first stage) to this stage's lazy
    DataFrame; the remaining fields only shape its parquet checkpoint
    (``stage_<name>/`` + ``_lineage/metrics_<name>.json``)."""
    name: str
    source: str | None
    build: Callable[[DataFrame | None], DataFrame]
    layout: Callable[[DataFrame, DataFrame], DataFrame] | None = None
    partition_by: tuple = ()
    hash_col: str | None = None


def stage_graph(spark: SparkSession, docs: DataFrame, cfg: Config,
                zooms: list | None = None, per_zoom_stages: bool = False) -> list:
    """The pyramid's stage graph, in execution order — the ONE
    description both pyramid_df (lazy) and run_pyramid (checkpointed)
    walk. The tile stages are the sinks: nothing consumes them."""
    zooms = zooms if zooms is not None else list(range(cfg.minzoom, cfg.maxzoom + 1))

    def features(_):
        return build_features(*build_stores(spark, docs))

    def base_tiles(feats):
        return tileassign.assign_base_tiles(feats, cfg.basezoom)

    def cluster_by_tile(assigned, feats):
        # cluster by tile for locality of every downstream rollup/encode
        # (pinned count: an unpinned repartition(col) may be rewritten by
        # AQE's local shuffle read, silently dropping the clustering)
        return (assigned.repartition(python_stage_partitions(spark, input_df=feats),
                                     F.col("tile_x"), F.col("tile_y"))
                .select(*BASE_TILE_COLS))

    graph = [Stage("features", None, features),
             Stage("base_tiles", "features", base_tiles, layout=cluster_by_tile)]
    if per_zoom_stages:
        # one resumable stage per zoom level (north_rule) — the shape a
        # week-long 100 TB run wants: a failed z re-runs alone.
        graph += [Stage(f"tiles_z{z}", "base_tiles",
                        lambda base, z=z: encode_zoom(
                            tileassign.rollup_to_zoom(base, z, cfg.basezoom, cfg=cfg), cfg),
                        hash_col="geometry_hash")
                  for z in zooms]
    else:
        # fused (default): the whole pyramid in one job — one scan of the
        # base table, map-side-combined dedup, one encode shuffle.
        graph.append(Stage("tiles", "base_tiles",
                           lambda base: encode_zoom(tileassign.rollup_all_zooms(
                               base, zooms, cfg.basezoom, cfg=cfg), cfg),
                           partition_by=("z",), hash_col="geometry_hash"))
    return graph


def pyramid_df(spark: SparkSession, docs: DataFrame, cfg: Config | None = None,
               zooms: list | None = None) -> DataFrame:
    """Lazy end-to-end pyramid: documents -> tiles DataFrame, no
    checkpoint writes — one declarative plan for Catalyst to optimize
    whole (used by entry()/bench; run_pyramid adds resumability)."""
    out: dict = {}
    for st in stage_graph(spark, docs, cfg or default_config(), zooms):
        df = st.build(out.get(st.source))
        # assign_base_tiles consumes features through two filter branches
        # (points / geometries) — eager localCheckpoint so the
        # classify+assemble subtree executes once (run_pyramid gets the
        # same effect from its parquet stage checkpoint)
        out[st.name] = df.localCheckpoint() if st.name == "features" else df
    return out["tiles"]


def run_pyramid(spark: SparkSession, docs: DataFrame, out_dir: str,
                cfg: Config | None = None, zooms: list | None = None,
                resume: bool = True, per_zoom_stages: bool = False) -> DataFrame:
    """Full z pyramid -> tiles DataFrame (z,x,y,tile,feature_count,...).

    Writes checkpoints under ``out_dir`` and returns the union tiles DF
    (read back from the checkpoint parquet — stable for downstream use).
    ``per_zoom_stages=True`` checkpoints each zoom separately (finer
    resume granularity at the cost of re-scanning the base table per
    zoom); the default fuses all zooms into one rollup+encode job.
    """
    graph = stage_graph(spark, docs, cfg or default_config(), zooms, per_zoom_stages)
    os.makedirs(out_dir, exist_ok=True)
    metrics_dir = os.path.join(out_dir, "_lineage")
    path = {st.name: os.path.join(out_dir, f"stage_{st.name}") for st in graph}
    read: dict = {}

    def load(name):
        if name not in read:
            read[name] = spark.read.parquet(path[name])
        return read[name]

    for st in graph:
        if resume and _stage_done(path[st.name]):
            continue
        src = load(st.source) if st.source else None
        df = st.build(src)
        if st.layout:
            df = st.layout(df, src)
        _write_stage(df, path[st.name], st.partition_by)
        _lineage(spark, spark.read.parquet(path[st.name]), st.name, metrics_dir,
                 hash_col=st.hash_col)
    sources = {st.source for st in graph}
    return spark.read.parquet(*[path[st.name] for st in graph if st.name not in sources])


# ------------------------------------------------------------------ sinks
def write_tile_files(tiles: DataFrame, out_dir: str) -> int:
    """S9: {out}/{z}/{x}/{y}.pbf file-per-tile sink
    (reference: src/tile_worker.cpp:236-249). Distributed-friendly:
    executors write via foreachPartition."""
    import pathlib

    def _write_part(rows):
        for r in rows:
            d = pathlib.Path(out_dir) / str(r["z"]) / str(r["x"])
            d.mkdir(parents=True, exist_ok=True)
            (d / f"{r['y']}.pbf").write_bytes(bytes(r["tile"]))

    tiles.select("z", "x", "y", "tile").foreachPartition(_write_part)
    return 0


def write_mbtiles(tiles: DataFrame, path: str, cfg: Config | None = None,
                  metadata: dict | None = None) -> str:
    """S10: MBTiles SQLite sink with the TMS y-flip (2^z - 1 - y)
    (reference: src/mbtiles.cpp:29) — single-process packaging pass over
    the tiles table, like the reference's mutex-serialized writer."""
    import sqlite3

    cfg = cfg or default_config()
    rows = tiles.select("z", "x", "y", "tile").toLocalIterator()
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    cur = con.cursor()
    cur.execute("CREATE TABLE tiles (zoom_level int, tile_column int, tile_row int, tile_data blob)")
    cur.execute("CREATE UNIQUE INDEX tile_index ON tiles (zoom_level, tile_column, tile_row)")
    cur.execute("CREATE TABLE metadata (name text, value text)")
    md = {
        "name": cfg.name, "format": "pbf",
        "minzoom": str(cfg.minzoom), "maxzoom": str(cfg.maxzoom),
        "json": json.dumps({"vector_layers": [
            {"id": group[0], "minzoom": min(cfg.layers[s].minzoom for s in group),
             "maxzoom": max(cfg.layers[s].maxzoom for s in group)}
            for group in cfg.layer_order]}),
    }
    md.update(metadata or {})
    cur.executemany("INSERT INTO metadata VALUES (?,?)", list(md.items()))
    for r in rows:
        flipped = (1 << r["z"]) - 1 - r["y"]
        cur.execute("INSERT INTO tiles VALUES (?,?,?,?)",
                    (r["z"], r["x"], flipped, sqlite3.Binary(bytes(r["tile"]))))
    con.commit()
    con.close()
    return path

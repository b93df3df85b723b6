"""Traced run: one pass per workload that times each layer's public call.

Each layer has a plan phase (the call that returns a lazy DataFrame)
and an exec phase that materialises its output once: localCheckpoint
for an upstream boundary, the digest aggregation for the last one.
Row counts are taken between layers, outside both phases, so they land
in ``trace.residual_s`` together with everything else no layer owns.
Stage, task and job numbers come from Spark's own event log, assigned
to layers by time window (``eventlog``); Python time comes from
``spark.sql.pyspark.udf.profiler=perf``, cleared before each layer.

No tracing code runs inside ``tilemaker_spark``.
"""

from __future__ import annotations

import os
import shutil
import sqlite3
import time
from contextlib import closing

from pyspark.sql import functions as F

from tilemaker_spark import (assemble, classify, encode, geocode, pipeline, spatial,
                             textops, tileassign)
from tilemaker_spark.config import default_config

import eventlog
import workloads as W

def _now_ms() -> float:
    return time.time() * 1000.0


class Tracer:
    """Layer windows, Python profile totals and counts of one traced run."""

    def __init__(self, spark):
        self.spark = spark
        self.layers: dict = {}      # name -> {"plan_s", "exec_s", extras...}
        self.windows: dict = {}     # name -> [(t0_ms, t1_ms)]

    def _layer(self, name: str) -> dict:
        return self.layers.setdefault(name, {"plan_s": 0.0, "exec_s": 0.0, "py_s": 0.0})

    def phase(self, name: str, phase: str, fn, *args, **kw):
        """Run ``fn`` as layer ``name``'s ``phase`` ("plan" or "exec")."""
        self.spark.profile.clear()
        t0 = _now_ms()
        out = fn(*args, **kw)
        t1 = _now_ms()
        lay = self._layer(name)
        lay[phase + "_s"] += (t1 - t0) / 1000.0
        lay["py_s"] += self._py_seconds()
        self.windows.setdefault(name, []).append((t0, t1))
        return out

    def _py_seconds(self) -> float:
        # the perf profiler keeps one cProfile Stats per UDF; total_tt is
        # the Python time inside the UDF across all of its tasks
        stats = self.spark._profiler_collector._perf_profile_results
        return sum(s.total_tt for s in stats.values())

    def set(self, name: str, **vals):
        self._layer(name).update(vals)

    def plan_exec(self, name: str, plan_fn, rows_in: int):
        """Plan a layer, localCheckpoint its DataFrame(s), count rows out."""
        out = self.phase(name, "plan", plan_fn)
        dfs = out if isinstance(out, tuple) else (out,)
        dfs = self.phase(name, "exec", lambda: tuple(d.localCheckpoint() for d in dfs))
        self.set(name, rows_in=rows_in, rows_out=sum(d.count() for d in dfs))
        return dfs if isinstance(out, tuple) else dfs[0]


# ------------------------------------------------------------- passes

def pyramid_pass(tr: Tracer, spark, docs, n_docs: int) -> dict:
    cfg = default_config()
    zooms = list(range(cfg.minzoom, cfg.maxzoom + 1))
    nodes, ways, rels = tr.plan_exec("geocode", lambda: geocode.geocode(docs), n_docs)
    n_stores = tr.layers["geocode"]["rows_out"]
    nf, wf, rf = tr.plan_exec(
        "classify", lambda: (classify.classify_nodes(nodes), classify.classify_ways(ways),
                             classify.classify_relations(rels)), n_stores)
    feats = tr.plan_exec(
        "assemble", lambda: assemble.assemble_features(nodes, ways, rels, nf, wf, rf),
        tr.layers["classify"]["rows_out"])
    n_feats = tr.layers["assemble"]["rows_out"]
    assigned = tr.plan_exec("tileassign.cover",
                            lambda: tileassign.assign_base_tiles(feats, cfg.basezoom), n_feats)
    n_assigned = tr.layers["tileassign.cover"]["rows_out"]
    tr.set("tileassign.cover", fanout=n_assigned / n_feats)
    rolled = tr.plan_exec(
        "tileassign.rollup",
        lambda: tileassign.rollup_all_zooms(assigned, zooms, cfg.basezoom, cfg=cfg),
        n_assigned)
    n_rolled = tr.layers["tileassign.rollup"]["rows_out"]
    sentinels = rolled.where(F.col("object_id") == -1).count()
    tr.set("tileassign.rollup", sentinel_share=sentinels / n_rolled)
    tiles = tr.phase("encode", "plan", lambda: encode.encode_zoom(rolled, cfg))
    summary = tr.phase("encode", "exec", W.tile_summary, tiles)
    tr.set("encode", rows_in=n_rolled, rows_out=summary["tiles"],
           empty_tile_share=summary["empty_tiles"] / summary["tiles"])
    return summary


def checkpoint_sink(tr: Tracer, spark, docs, out_dir: str) -> dict:
    """run_pyramid into a fresh dir, write_mbtiles, then a partial resume
    that recomputes rollup+encode from the base-tile checkpoint."""
    shutil.rmtree(out_dir, ignore_errors=True)
    tiles = tr.phase("pipeline.checkpoint", "exec", pipeline.run_pyramid, spark, docs, out_dir)
    summary = W.tile_summary(tiles)
    mbtiles = os.path.join(out_dir, "tiles.mbtiles")
    tr.phase("pipeline.sink", "exec", pipeline.write_mbtiles, tiles, mbtiles)
    with closing(sqlite3.connect(mbtiles)) as con:
        written = con.execute("SELECT count(*) FROM tiles").fetchone()[0]
    tr.set("pipeline.sink", rows_in=summary["tiles"], rows_out=written, tiles_written=written)
    shutil.rmtree(os.path.join(out_dir, "stage_tiles"))
    t0 = time.perf_counter()
    resumed = W.tile_summary(pipeline.run_pyramid(spark, docs, out_dir))
    tr.set("pipeline.checkpoint", resume_s=time.perf_counter() - t0,
           rows_in=W.N_DOCS, rows_out=summary["tiles"])
    return {"summary": summary, "resumed": resumed, "mbtiles_rows": written}


def companions_pass(tr: Tracer, spark, docs, n_docs: int) -> dict:
    # the companions use the node store only
    nodes = tr.plan_exec("geocode", lambda: geocode.geocode(docs)[0], n_docs)
    points = tr.plan_exec("classify", lambda: classify.classify_nodes(nodes),
                          tr.layers["geocode"]["rows_out"])
    n_points = tr.layers["classify"]["rows_out"]
    out = {}
    districts = spatial.district_table(spark)
    pip = tr.phase("spatial.pip", "plan", spatial.point_in_polygon_join, points, districts)
    out["pip_rows"], out["pip_digest"] = tr.phase("spatial.pip", "exec", W.digest_count,
                                                  pip, W.PIP_COLS)
    tr.set("spatial.pip", rows_in=n_points, rows_out=out["pip_rows"])
    queries, places = W.knn_sides(points)
    knn = tr.phase("spatial.knn", "plan", spatial.knn_join, queries, places)
    out["knn_rows"], out["knn_digest"] = tr.phase("spatial.knn", "exec", W.digest_count,
                                                  knn, W.KNN_COLS)
    tr.set("spatial.knn", rows_in=n_points, rows_out=out["knn_rows"])
    pairs = tr.phase("textops.minhash", "plan", textops.minhash_lsh_pairs, docs)
    out["minhash_pairs"], out["minhash_digest"] = tr.phase(
        "textops.minhash", "exec", W.digest_count, pairs, W.MINHASH_COLS)
    tr.set("textops.minhash", rows_in=n_docs, rows_out=out["minhash_pairs"])
    return out


PASSES = {"pyramid_sf0.1": pyramid_pass, "companions_sf0.1": companions_pass}


# ------------------------------------------------------ event-log join

def attach_eventlog(tr: Tracer, log: dict, pass_window: tuple, cores: int) -> dict:
    """Fill every layer's task/stage numbers; return trace-wide metrics."""
    for name, lay in tr.layers.items():
        if name == "pipeline.checkpoint":
            continue
        stats = eventlog.stage_stats(eventlog.stages_in(log, tr.windows.get(name, [])))
        stats.pop("stages")
        lay.update(stats)
    ck = tr.windows.get("pipeline.checkpoint")
    if ck:
        # attributed by call site within run_pyramid's window: the stage
        # writes (jobs of SQL executions that write files) and the
        # _lineage read-backs (its `collect` calls); driver-side planning
        # and the read-backs' schema listing between them are not counted
        jobs = eventlog.jobs_in(log, ck)
        writes = [j for j in jobs if j["writes_files"]]
        lineage = [j for j in jobs if j["call_site"].startswith("collect at")
                   and "pipeline.py" in j["call_site"]]
        stats = eventlog.stage_stats(eventlog.stages_of(log, writes + lineage))
        stats.pop("stages")
        tr.set("pipeline.checkpoint", exec_s=eventlog.job_seconds(writes + lineage),
               write_jobs=len(writes), lineage_jobs=len(lineage),
               lineage_s=eventlog.job_seconds(lineage), **stats)
    wall = (pass_window[1] - pass_window[0]) / 1000.0
    in_pass = eventlog.stages_in(log, [pass_window])
    stats = eventlog.stage_stats(in_pass)
    pass_layers = [lay for name, lay in tr.layers.items()
                   if name not in ("session", "pipeline.checkpoint", "pipeline.sink")]
    layer_sum = sum(lay["plan_s"] + lay["exec_s"] for lay in pass_layers)
    return {
        "trace.wall_s": wall,
        "trace.plan_total_s": sum(lay["plan_s"] for lay in pass_layers),
        "trace.jobs": len(eventlog.jobs_in(log, [pass_window])),
        "trace.stages": stats["stages"],
        "trace.core_util": stats["task_sum_s"] / (wall * cores),
        "trace.sched_gap_s": wall - eventlog.covered_ms(in_pass, pass_window) / 1000.0,
        "trace.residual_s": wall - layer_sum,
    }

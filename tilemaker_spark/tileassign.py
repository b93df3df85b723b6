"""Base-zoom tile assignment (J5-J9) + zoom rollup (A2/A3).

- Points (J9): pure Catalyst column math — the exact reference formula
  (src/coordinates.cpp:38-41) expressed as floor((lon/1e7+180)/360*2^z).
- Lines (J5) / polygons (J5+J6): Arrow-vectorized pandas UDF running the
  faithful DDA walk + scanline fill (kernels.tilecover), emitting
  ARRAY<BIGINT> tile ids -> explode. This is the cell-cover +
  equi-join pattern of the north_rule: the "spatial theta join"
  becomes an equi-join on tile_id.
- Rollup (A2/A3): parent tile at zoom z is a shiftright of base-zoom
  x/y (reference: src/tile_data.cpp:8-55) — partial aggregation free
  from Catalyst.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from .encode import attrs_key, sentinelize_out_of_range
from .kernels import geompack, tilecover


def point_tile_expr(lon_col, latp_col, zoom: int):
    """J9 as Catalyst expressions. Matches trunc(ldexp((lon+180)/360, z))
    for in-range coords (positive -> floor == trunc). Returns (x, y)."""
    lon = lon_col.cast("double") / 1e7
    latp = latp_col.cast("double") / 1e7
    x = F.floor((lon + F.lit(180.0)) * F.lit(1.0 / 360.0) * F.lit(float(1 << zoom))).cast("long")
    y = F.floor((F.lit(180.0) - latp) * F.lit(1.0 / 360.0) * F.lit(float(1 << zoom))).cast("long")
    return x, y


def _cover_udf(base_zoom: int):
    @pandas_udf(ArrayType(LongType()))
    def cover(geom: pd.Series) -> pd.Series:
        # geometry kind comes from the packed buffer itself (geompack
        # header), so only the geom column ships through Arrow
        # Flatten the whole Arrow batch into one coordinate soup and run
        # ONE vectorized DDA walk + ONE scanline fill over it, instead of
        # a Python call per chain (the per-row dispatch dominated for the
        # small-way population). Chains (line parts / polygon rings) are
        # labelled; fills group per polygon (a poly's rings fill
        # together, matching src/osm_lua_processing.cpp:448-458).
        n = len(geom)
        if n == 0:
            return pd.Series([], dtype=object)
        lon_parts, lat_parts, chain_lens = [], [], []
        chain_feat, chain_gid, gid_feat = [], [], []
        for i, buf in enumerate(geom):
            gk, payload = geompack.unpack(bytes(buf))
            if gk == geompack.KIND_LINE:
                for lo, la in payload:
                    lon_parts.append(lo)
                    lat_parts.append(la)
                    chain_lens.append(len(lo))
                    chain_feat.append(i)
                    chain_gid.append(-1)  # lines: no interior fill
            else:
                for rings in payload:
                    gid = len(gid_feat)
                    gid_feat.append(i)
                    for lo, la in rings:
                        lon_parts.append(lo)
                        lat_parts.append(la)
                        chain_lens.append(len(lo))
                        chain_feat.append(i)
                        chain_gid.append(gid)
        lons = np.concatenate(lon_parts).astype(np.float64) / 1e7
        lats = np.concatenate(lat_parts).astype(np.float64) / 1e7
        chain_ids = np.repeat(
            np.arange(len(chain_lens), dtype=np.int64),
            np.asarray(chain_lens, dtype=np.int64))
        c_out, t_out = tilecover.batched_segment_walk(lons, lats, chain_ids, base_zoom)

        feat_of_chain = np.asarray(chain_feat, dtype=np.int64)
        gid_of_chain = np.asarray(chain_gid, dtype=np.int64)
        feats = feat_of_chain[c_out]
        gids = gid_of_chain[c_out]
        is_poly = gids >= 0
        parts_f = [feats[~is_poly]]
        parts_t = [t_out[~is_poly]]
        if is_poly.any():
            fg, ft = tilecover.batched_fill_covered(gids[is_poly], t_out[is_poly])
            parts_f.append(np.asarray(gid_feat, dtype=np.int64)[fg])
            parts_t.append(ft)
        all_f = np.concatenate(parts_f)
        all_t = np.concatenate(parts_t)

        # unique (feature, tile) pairs, sorted — identical output order
        # to the previous per-feature np.unique
        order = np.lexsort((all_t, all_f))
        f, t = all_f[order], all_t[order]
        keep = np.ones(len(f), dtype=bool)
        keep[1:] = (f[1:] != f[:-1]) | (t[1:] != t[:-1])
        f, t = f[keep], t[keep]
        bounds = np.searchsorted(f, np.arange(n + 1, dtype=np.int64))
        return pd.Series([t[bounds[i]:bounds[i + 1]].tolist() for i in range(n)])

    return cover


def assign_base_tiles(features: DataFrame, base_zoom: int = 14,
                      rebalance: bool | None = None) -> DataFrame:
    """features (assembled) -> one row per (feature x base-zoom tile).

    -> columns: tile_x, tile_y + all feature columns. The explode is the
    central fan-out; downstream groupBys key on (zoom, x, y).

    ``rebalance`` overrides the input-size heuristic for the pre-cover
    shuffle (None = size the input; an unpersisted driver-local RDD is
    unsizable and conservatively lands in scale mode, so callers with
    provably tiny inputs pass False to skip the pointless exchange).
    """
    pts = features.where(F.col("geom").isNull())
    px, py = point_tile_expr(F.col("lon"), F.col("latp"), base_zoom)
    pts_assigned = pts.withColumn("tile_x", px).withColumn("tile_y", py)

    from .session import is_small_input, python_stage_partitions

    geoms = features.where(F.col("geom").isNotNull())
    # round-robin rebalance ahead of the Python cover walk: the feature
    # checkpoint's partitioning reflects upstream join keys, and one
    # partition dense in large polygons floors this stage at its max
    # task (measured 7.9 s max vs 1.4 s mean at 8 cores / x64). At
    # small inputs the rebalance shuffle + fine task count cost more
    # than the balance buys (BENCH.md A/B: 4.2 s bare vs 6.6-10.9 s
    # with it at sf0.1), so it is skipped below the size threshold.
    if rebalance is None:
        rebalance = not is_small_input(features)
    if rebalance:
        geoms = geoms.repartition(python_stage_partitions(features.sparkSession))
    cover = _cover_udf(base_zoom)
    geoms_assigned = (
        geoms.withColumn("tile_id", F.explode(cover(F.col("geom"))))
        .withColumn("tile_x", F.shiftright("tile_id", 32))
        .withColumn("tile_y", F.col("tile_id").bitwiseAND(F.lit(0xFFFFFFFF)))
        .drop("tile_id")
    )
    return pts_assigned.unionByName(geoms_assigned)


def rollup_to_zoom(base_assigned: DataFrame, zoom: int, base_zoom: int = 14,
                   cfg=None) -> DataFrame:
    """A2/A3: derive zoom-z tile content from the base-zoom assignment.

    parent x = x >> (bz - z) (reference: src/tile_data.cpp:21-22 divides
    by 2^(bz-z)). Distinct per feature (a feature covering many base
    cells appears once per parent tile) — the A4 dedup semantic
    (src/tile_data.cpp:135). ``cfg`` enables the same F8 sentinel
    pushdown as rollup_all_zooms.
    """
    s = base_zoom - zoom
    df = base_assigned.withColumn("z", F.lit(zoom)) \
        .withColumn("x", F.shiftright("tile_x", s)) \
        .withColumn("y", F.shiftright("tile_y", s))
    if "feat_minzoom" in df.columns:
        df = df.where(F.col("feat_minzoom") <= zoom)
    if cfg is not None:
        df = sentinelize_out_of_range(df, cfg)
    df, keys = _dedup_identity(df)
    return df.dropDuplicates(keys).drop("_akd")


def rollup_all_zooms(base_assigned: DataFrame, zooms: list, base_zoom: int = 14,
                     cfg=None) -> DataFrame:
    """A2/A3 for the whole pyramid in ONE pass over the base table.

    explode(zooms) fans each base-cell row out to every requested zoom,
    shiftright derives the parent tile, and dropDuplicates — which
    Catalyst executes as partial+final HashAggregate — removes the
    per-parent duplicate blowup MAP-SIDE, before the shuffle. At z0 a
    feature covering 10^4 base cells collapses to one row per mapper
    partition instead of 10^4 shuffled rows; this is what makes the
    low-zoom levels survive a 100× scale-up. (The reference re-derives
    each zoom from the base index too: src/tile_data.cpp:8-55, but
    serially per zoom.) ``cfg`` projects out-of-zoom-range rows onto
    sentinels (encode.sentinelize_out_of_range) below that exchange.
    """
    zoom_arr = F.array(*[F.lit(int(z)) for z in zooms])
    df = (base_assigned
          .withColumn("z", F.explode(zoom_arr))
          .withColumn("x", F.expr(f"shiftright(tile_x, {base_zoom} - z)"))
          .withColumn("y", F.expr(f"shiftright(tile_y, {base_zoom} - z)")))
    if "feat_minzoom" in df.columns:
        # per-feature size-based minzoom (assemble.AREA2_MINZOOM): a z6
        # tile only ever receives features big enough to matter at z6 —
        # this bounds low-zoom group sizes independent of input scale
        df = df.where(F.col("feat_minzoom") <= F.col("z"))
    if cfg is not None:
        df = sentinelize_out_of_range(df, cfg)
    df, keys = _dedup_identity(df)
    return df.dropDuplicates(keys).drop("_akd")


def _dedup_identity(df: DataFrame):
    """U3 dedup identity, matching the reference's OutputObject
    equality (layer, geomType, ATTRIBUTES, objectID —
    src/output_object.cpp:142-148): two emissions of one object to the
    same layer with different attrs are DISTINCT objects there, so the
    attrs must be part of the key. Spark cannot dedup on MapType;
    encode.attrs_key renders the maps to the canonical injective string
    the encoder also sorts/dedups by (A4)."""
    keys = ["z", "x", "y", "layer", "kind", "elem", "object_id"]
    if "attrs" in df.columns:
        df = df.withColumn("_akd", attrs_key("attrs_num" in df.columns,
                                             "attrs_bool" in df.columns))
    else:
        df = df.withColumn("_akd", F.lit(""))
    return df, keys + ["_akd"]

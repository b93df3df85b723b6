"""Core relational queries + DuckDB oracle SQL (driver correctness gate).

Each entry here exists twice: a Spark-side callable running the real
engine code path (geocode -> classify -> assemble -> assign), and an
ANSI-SQL string that re-derives the same answer in DuckDB from first
principles (the geocoder is pure integer arithmetic — SURVEY.md §0.1 —
so every relational operator has a closed-form SQL oracle).

Column names and types are aligned pairwise: the driver's compare
sorts columns by name and hashes values.

Operators covered (SURVEY.md §2): F1/F2/F4/F5/F6 (classification),
J1 (way→node join), J3 (ways-in-relation semi-join), J9 (point tile
assignment), A1 (tile groupBy), A2 (zoom rollup), A7 (measures),
U1/U3 (union/distinct), J2 (relation assembly — ring/poly counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import assemble, classify, geocode
from .config import default_config

# ---------------------------------------------------------------- loaders

def load_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _stores(spark: SparkSession, sf_dir: str):
    return geocode.geocode(load_docs(spark, sf_dir))


# ------------------------------------------------------- Spark-side queries

def q_geocode_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, _ = _stores(spark, sf_dir)
    return nodes.select("node_id", "lon", "latp")


def q_geocode_ways(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, ways, _ = _stores(spark, sf_dir)
    return ways.select(
        "way_id",
        F.size("refs").alias("n_refs"),
        F.aggregate("refs", F.lit(0).cast("long"), lambda a, x: a + x).alias("refs_sum"),
        F.element_at("refs", 1).alias("first_ref"),
        F.element_at("refs", -1).alias("last_ref"),
        (F.element_at("refs", 1) == F.element_at("refs", -1)).alias("is_closed"),
    )


def q_geocode_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, rels = _stores(spark, sf_dir)
    return rels.select(
        "rel_id",
        F.size("outer_refs").alias("n_outer"),
        F.size("inner_refs").alias("n_inner"),
        F.element_at("tags", "type").alias("rel_type"),
    )


def q_classify_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, ways, rels = _stores(spark, sf_dir)
    nf = classify.classify_nodes(nodes).select("object_id", "elem", "layer", "kind", "attrs")
    wf = classify.classify_ways(ways).select("object_id", "elem", "layer", "kind", "attrs")
    rf = classify.classify_relations(rels).select("object_id", "elem", "layer", "kind", "attrs")
    feats = nf.unionByName(wf).unionByName(rf)  # U1
    return feats.select(
        "object_id", "elem", "layer", "kind",
        F.element_at("attrs", "class").alias("cls"),
        F.element_at("attrs", "name").alias("name"),
    )


def q_j1_way_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: way→node equi-join with order restoration (assemble.ways_with_coords)."""
    nodes, ways, _ = _stores(spark, sf_dir)
    wc = assemble.ways_with_coords(ways, nodes)
    return wc.select(
        "way_id",
        F.size("refs").alias("n_pts"),
        F.aggregate("lons", F.lit(0).cast("long"), lambda a, x: a + x).alias("sum_lon"),
        F.aggregate("latps", F.lit(0).cast("long"), lambda a, x: a + x).alias("sum_latp"),
        F.element_at("lons", 1).cast("long").alias("first_lon"),
        F.element_at("latps", -1).cast("long").alias("last_latp"),
    )


def q_j3_ways_in_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: left-semi join marking ways referenced by any relation
    (reference: src/read_pbf.cpp:221-233)."""
    _, ways, rels = _stores(spark, sf_dir)
    members = rels.select(F.explode(F.concat("outer_refs", "inner_refs")).alias("way_id"))
    return ways.join(members, "way_id", "left_semi").select("way_id")


def q_j9_point_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: point → z14 tile, pure Catalyst column math
    (reference: src/coordinates.cpp:38-41)."""
    from .tileassign import point_tile_expr
    nodes, _, _ = _stores(spark, sf_dir)
    feats = classify.classify_nodes(nodes)
    x, y = point_tile_expr(F.col("lon"), F.col("latp"), 14)
    return feats.select("object_id", "layer", x.alias("x"), y.alias("y"))


def q_a1_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: groupBy(tile) — the central shuffle aggregation."""
    df = q_j9_point_tiles(spark, sf_dir)
    return df.groupBy("x", "y").agg(F.count(F.lit(1)).alias("n_features"))


def q_a2_rollup_z6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: zoom rollup z14 → z6 by shiftright (reference: src/tile_data.cpp:8-27)."""
    df = q_j9_point_tiles(spark, sf_dir)
    return (df.select("object_id", F.shiftright("x", 8).alias("x"),
                      F.shiftright("y", 8).alias("y"))
              .distinct()                               # U3 set semantics
              .groupBy("x", "y").agg(F.count(F.lit(1)).alias("n_objects")))


def q_a7_poly_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 Area(): exact integer shoelace (×2) over closed simple-polygon
    ways — fixed-point int math keeps the oracle comparison exact
    (reference: src/osm_lua_processing.cpp:143-156)."""
    nodes, ways, _ = _stores(spark, sf_dir)
    wc = assemble.ways_with_coords(ways, nodes)
    closed = wc.where(F.element_at("refs", 1) == F.element_at("refs", -1))
    shoelace = F.aggregate(
        F.sequence(F.lit(1), F.size("lons") - 1),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + F.element_at("lons", i).cast("long") * F.element_at("latps", i + 1).cast("long")
        - F.element_at("lons", i + 1).cast("long") * F.element_at("latps", i).cast("long"),
    )
    return closed.select("way_id", F.abs(shoelace).alias("area2"))


def q_a7_line_len2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 Length() skeleton: exact integer sum of squared segment lengths
    over open (line) ways — order-sensitive array arithmetic in Catalyst."""
    nodes, ways, _ = _stores(spark, sf_dir)
    wc = assemble.ways_with_coords(ways, nodes)
    open_ways = wc.where(F.element_at("refs", 1) != F.element_at("refs", -1))
    len2 = F.aggregate(
        F.sequence(F.lit(1), F.size("lons") - 1),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + (F.element_at("lons", i + 1).cast("long") - F.element_at("lons", i).cast("long"))
        * (F.element_at("lons", i + 1).cast("long") - F.element_at("lons", i).cast("long"))
        + (F.element_at("latps", i + 1).cast("long") - F.element_at("latps", i).cast("long"))
        * (F.element_at("latps", i + 1).cast("long") - F.element_at("latps", i).cast("long")),
    )
    return open_ways.select("way_id", len2.alias("sum_seg_len2"))


def q_a6_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 LayerAsCentroid: area-weighted multipolygon centroid
    (reference: src/osm_lua_processing.cpp:263-325). The synthetic
    relations are symmetric octagons, so the oracle knows the exact
    center; the Spark side runs the general kernel."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from .kernels import geomops, geompack

    nodes, ways, rels = _stores(spark, sf_dir)
    rf = classify.classify_relations(rels)
    wc = assemble.ways_with_coords(ways, nodes)
    geoms = assemble.assemble_relation_geometries(rf, rels, wc)

    @pandas_udf("struct<cx:double, cy:double>")
    def centroid(geom):
        rows = []
        for buf in geom:
            _, polys = geompack.unpack(bytes(buf))
            rings_f = [[(x / 1e7, y / 1e7) for x, y in rings] for rings in polys]
            cx, cy = geomops.multipolygon_centroid(
                [[(pd.Series(x).to_numpy(), pd.Series(y).to_numpy())
                  for x, y in rings] for rings in rings_f])
            rows.append({"cx": cx, "cy": cy})
        return pd.DataFrame(rows)

    r4 = lambda c: F.floor(c * 10000.0 + F.lit(0.5)) / 10000.0
    return (geoms.withColumn("c", centroid("geom"))
            .select(F.col("object_id").alias("rel_id"),
                    r4(F.col("c.cx")).alias("cx4"),
                    r4(F.col("c.cy")).alias("cy4")))


def q_typed_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 typed attribute values: AttributeNumeric (place rank, double)
    and AttributeBoolean (transportation paved) through the rule table
    (reference: src/osm_lua_processing.cpp:335-356)."""
    nodes, ways, _ = _stores(spark, sf_dir)
    nf = classify.classify_nodes(nodes).where(F.col("layer") == "place")
    wf = classify.classify_ways(ways).where(F.col("layer") == "transportation")
    n = nf.select("object_id", "layer",
                  F.element_at("attrs_num", "rank").alias("rank"),
                  F.lit(None).cast("boolean").alias("paved"))
    w = wf.select("object_id", "layer",
                  F.lit(None).cast("double").alias("rank"),
                  F.element_at("attrs_bool", "paved").alias("paved"))
    return n.unionByName(w)


def q_a5_union_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/G15 --combine geometric union: per polygon-doc, two congruent
    axis-aligned 'octagon' squares (side 2r) offset by a DOC-SEEDED
    distance d = floor(r*(2k+1)/16), k = h2 % 16, along one axis are
    unioned by the even-odd kernel (kernels/polyunion — reference:
    Clipper ctUnion in src/tile_worker.cpp:45-54). The union runs on
    LOCAL integer coordinates (translated to the anchor — exact in
    doubles, |coord| <= 3r < 2^16), and the doubled shoelace area is an
    exact integer: area2 = 2*(4r^2 + 2rd) = 8r^2 + 4rd, a closed form
    the SQL oracle re-derives per row. ratio = area2/(2r^2) then varies
    over 16 doc-seeded offset fractions (4.125 .. 7.875) instead of the
    round-2/3 constant 5.00 — a degenerate union can no longer pass by
    accident."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from .kernels import geomops, polyunion

    docs = load_docs(spark, sf_dir)
    seeds = geocode._seed_frame(docs)
    polys = seeds.where(F.col("kind") == 2).select(
        "wid0", "h2",
        geocode._poly_r(F.col("h2")).alias("r"),
        (F.col("h2") % 2).alias("axis"))

    @pandas_udf("struct<n_polys:int, area2:long>")
    def union_stats(r, axis, h2):
        import numpy as np
        dx = np.array([1, 1, 0, -1, -1, -1, 0, 1])
        dy = np.array([0, 1, 1, 1, 0, -1, -1, -1])
        rows = []
        for rr, ax, h in zip(r, axis, h2):
            rr = int(rr)
            k = int(h) % 16
            d = (rr * (2 * k + 1)) // 16   # d/r in {1/16 .. 31/16} < 2: always overlapping
            ox = d if ax == 0 else 0
            oy = d if ax == 1 else 0

            def octo(cx, cy):
                xs = (cx + dx * rr).astype(np.float64)
                ys = (cy + dy * rr).astype(np.float64)
                xs = np.concatenate((xs, xs[:1]))
                ys = np.concatenate((ys, ys[:1]))
                return geomops.correct_winding(xs, ys, outer=True)

            res = polyunion.union_polygons(
                [[octo(0, 0)], [octo(ox, oy)]])
            # the kernel snaps to its own (non-integer-multiple) grid,
            # leaving ~1e-5 vertex noise; the TRUE union vertices are
            # exact lattice points in this local frame, so rint + an
            # int64 shoelace recovers the exact doubled area
            area2 = 0
            for rings in res:
                for xs, ys in rings:
                    xi = np.rint(xs).astype(np.int64)
                    yi = np.rint(ys).astype(np.int64)
                    area2 += int(np.sum(xi[1:] * yi[:-1] - xi[:-1] * yi[1:]))
            rows.append({"n_polys": len(res),
                         "area2": int(area2)})
        return pd.DataFrame(rows)

    return (polys.withColumn("s", union_stats("r", "axis", "h2"))
            .select(F.col("wid0").alias("way_id"),
                    F.col("s.n_polys").alias("n_polys"),
                    F.col("s.area2").alias("area2"),
                    (F.col("s.area2").cast("double")
                     / (F.lit(2.0) * F.col("r") * F.col("r"))).alias("ratio")))


def q_pyramid_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/J6/A2/A3/U3 composition, driver-visible: per-(z,x,y) distinct
    feature counts of the rolled-up pyramid at z in {6, 13, 14} — the
    base-zoom DDA cover (J5), scanline fill (J6), shiftright rollup
    (A2/A3) and set-dedup (U3) all feed this count. The SQL oracle
    re-derives the DDA walk exactly (segments here never span more than
    one tile border per axis, so the walk closes in SQL)."""
    from . import tileassign

    docs = load_docs(spark, sf_dir)
    nodes, ways, rels = geocode.geocode(docs)
    nf = classify.classify_nodes(nodes)
    wf = classify.classify_ways(ways)
    rf = classify.classify_relations(rels)
    feats = assemble.assemble_features(nodes, ways, rels, nf, wf, rf).localCheckpoint()
    assigned = tileassign.assign_base_tiles(feats, 14)
    rolled = tileassign.rollup_all_zooms(assigned, [6, 13, 14], 14)
    return rolled.groupBy("z", "x", "y").agg(F.count(F.lit(1)).alias("n_features"))


# F7 driver row: config bounding_box, chosen to CUT the synthetic
# corpus (lon 9.47-11.05, latp 53.46-55.2) at z13/z14 while keeping
# its single z6 tile. Every constant sits >=0.036 tile units from an
# integer tile boundary at all three zooms, so the engine's numpy
# lon2tilex/lat2tileyf floors and the oracle's DuckDB re-derivation
# (same op order; libm last-ULP differences are 11 orders of magnitude
# below the margin) agree exactly; no tile edge coincides with the
# bbox, so the encoder's exact TileBbox touch-exclusion equals the
# integer-range test.
PYRAMID_BBOX = [9.9, 47.39, 10.6, 47.93]   # [minlon, minlat, maxlon, maxlat]


def q_pyramid_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 driver row (tile-vs-bbox skip, reference src/tilemaker.cpp
    bounding-box clip + src/tile_worker.cpp:229-250 empty-tile parity):
    the full pyramid_tiles pipeline run THROUGH encode_zoom with a
    config bounding_box — the returned tile coords are the encoder's
    F7-filtered output set (its per-tile TileBbox overlap test),
    joined back to the rollup index for per-tile feature counts the
    oracle re-derives in SQL."""
    from . import pipeline, tileassign
    from .config import default_config
    from .encode import encode_zoom

    cfg = default_config()
    cfg.bounding_box = list(PYRAMID_BBOX)
    docs = load_docs(spark, sf_dir)
    nodes, ways, rels = geocode.geocode(docs)
    feats = pipeline.build_features(nodes, ways, rels).localCheckpoint()
    assigned = tileassign.assign_base_tiles(feats, 14)
    rolled = tileassign.rollup_all_zooms(assigned, [6, 13, 14], 14)
    tiles = encode_zoom(rolled, cfg)
    idx = rolled.groupBy("z", "x", "y").agg(F.count(F.lit(1)).alias("n_features"))
    return (tiles.select("z", "x", "y").join(idx, ["z", "x", "y"], "left")
            .select("z", "x", "y",
                    F.coalesce("n_features", F.lit(0)).alias("n_features")))


F8_ZOOMS = [4, 8, 12, 13, 14]   # spans every default-layer minzoom threshold


def q_f8_zoom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 driver row (per-layer zoom-range filter, reference LayerDef
    minzoom/maxzoom): the rolled pyramid at zooms spanning every layer
    threshold (place 4, transportation/waterway 8, landcover/water 6,
    poi 12, building 13) run through the EXACT production filter
    expression (encode.zoom_range_predicate — the literal-map predicate
    encode_zoom's sentinel projection uses below its shuffle), counted
    per (z, layer). The oracle re-derives the rolled pyramid in SQL (the
    proven pyramid_tiles CTEs at the wider zoom list) and applies the
    zoom ranges from the same default_config()."""
    from . import pipeline, tileassign
    from .encode import zoom_range_predicate

    docs = load_docs(spark, sf_dir)
    nodes, ways, rels = geocode.geocode(docs)
    feats = pipeline.build_features(nodes, ways, rels).localCheckpoint()
    assigned = tileassign.assign_base_tiles(feats, 14)
    rolled = tileassign.rollup_all_zooms(assigned, F8_ZOOMS, 14)
    return (rolled.where(zoom_range_predicate(default_config()))
            .groupBy("z", "layer")
            .agg(F.count(F.lit(1)).alias("n_rows")))


def q_tile_bytes_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G16/A8/G18/W4 driver-visible (VERDICT r2 missing #5): the REAL
    z14 MVT tile BYTES (gzip, protobuf framing, dictionary-encoded
    tags, zigzag/varint point geometry) are re-read by a from-scratch
    wire parser written against the MVT spec (deliberately independent
    of kernels/mvt) and reduced to per-tile invariants:

    - n_points / sum_px: point count and absolute pixel-x sum. The SQL
      oracle re-derives sum_px bit-exactly — the x axis uses NO
      transcendentals (tilex2lon is ldexp arithmetic,
      reference src/coordinates.cpp:27,33,90-94).
    - n_tag_pairs / str_len / rank_sum: tag-index pairs resolved
      through the layer key/value dictionaries back to strings and
      float values (A8, reference src/write_geometry.cpp + proto).
    - py_ok: pixel-y values cannot be SQL-replicated (DuckDB's libm
      differs from numpy's in last ULPs on the latp round-trip), so
      the decoded py multiset (sum + sum of squares) is compared
      against the engine formula re-evaluated from RAW feature coords
      (reference: src/coordinates.cpp:73-94) — verifying the WIRE
      encoding of y; the formula itself is kernel-golden-tested.
    """
    import gzip
    import struct

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from . import pipeline
    from .kernels import mercator as M

    docs = load_docs(spark, sf_dir)
    tiles = pipeline.pyramid_df(spark, docs, zooms=[14])

    def _rdv(b, i):
        r = 0
        s = 0
        while True:
            c = b[i]
            i += 1
            r |= (c & 0x7F) << s
            if not (c & 0x80):
                return r, i
            s += 7

    def _fields(b):
        i, n = 0, len(b)
        while i < n:
            k, i = _rdv(b, i)
            fn, wt = k >> 3, k & 7
            if wt == 0:
                v, i = _rdv(b, i)
            elif wt == 2:
                ln, i = _rdv(b, i)
                v = b[i:i + ln]
                i += ln
            elif wt == 5:
                v = b[i:i + 4]
                i += 4
            else:
                v = b[i:i + 8]
                i += 8
            yield fn, wt, v

    def decode_stream(batches):
        for pdf in batches:
            rows = []
            for x, y, buf in zip(pdf["x"], pdf["y"], pdf["tile"]):
                b = bytes(buf)
                if b[:2] == b"\x1f\x8b":
                    b = gzip.decompress(b)
                npts = spx = spy = spy2 = ntag = slen = rnk = 0
                for fn, _wt, layer in _fields(b):
                    if fn != 3:
                        continue
                    name = None
                    keys: list = []
                    vals: list = []
                    fbufs: list = []
                    for lf, _lwt, lv in _fields(layer):
                        if lf == 1:
                            name = lv.decode()
                        elif lf == 2:
                            fbufs.append(lv)
                        elif lf == 3:
                            keys.append(lv.decode())
                        elif lf == 4:
                            vals.append(lv)
                    if name not in ("poi", "place"):
                        continue
                    dvals = []
                    for vb in vals:
                        dv = None
                        for vf, _vwt, vv in _fields(vb):
                            if vf == 1:
                                dv = ("s", vv.decode())
                            elif vf == 2:
                                dv = ("f", struct.unpack("<f", vv)[0])
                            elif vf == 7:
                                dv = ("b", bool(vv))
                        dvals.append(dv)
                    for fb in fbufs:
                        gtype = None
                        tags: list = []
                        geom: list = []
                        for ff, _fwt, fv in _fields(fb):
                            if ff == 3:
                                gtype = fv
                            elif ff == 2:
                                i = 0
                                while i < len(fv):
                                    t, i = _rdv(fv, i)
                                    tags.append(t)
                            elif ff == 4:
                                i = 0
                                while i < len(fv):
                                    g, i = _rdv(fv, i)
                                    geom.append(g)
                        if gtype != 1:
                            continue
                        cx = cy = 0
                        gi = 0
                        while gi < len(geom):
                            cmd = geom[gi]
                            gi += 1
                            if (cmd & 7) != 1:
                                break
                            for _ in range(cmd >> 3):
                                dx, dy = geom[gi], geom[gi + 1]
                                gi += 2
                                cx += (dx >> 1) ^ -(dx & 1)
                                cy += (dy >> 1) ^ -(dy & 1)
                                npts += 1
                                spx += cx
                                spy += cy
                                spy2 += cy * cy
                        for ti in range(0, len(tags), 2):
                            k = keys[tags[ti]]
                            tv = dvals[tags[ti + 1]]
                            ntag += 1
                            if tv[0] == "s":
                                slen += len(k) + len(tv[1])
                            elif tv[0] == "f":
                                rnk += int(tv[1])
                if npts:
                    rows.append({"x": int(x), "y": int(y), "n_points": npts,
                                 "sum_px": spx, "n_tag_pairs": ntag,
                                 "str_len": slen, "rank_sum": rnk,
                                 "sum_py": spy, "sum_py2": spy2})
            yield pd.DataFrame(rows, columns=["x", "y", "n_points", "sum_px",
                                              "n_tag_pairs", "str_len", "rank_sum",
                                              "sum_py", "sum_py2"])

    decoded = tiles.where(F.col("z") == 14).select("x", "y", "tile").mapInPandas(
        decode_stream,
        schema=("x long, y long, n_points long, sum_px long, n_tag_pairs long, "
                "str_len long, rank_sum long, sum_py long, sum_py2 long"))

    # expected py multiset from RAW coords through the reference formula
    # (src/coordinates.cpp:73-94: min/max latp via the lat round-trip)
    def _pxy_stream(batches):
        for pdf in batches:
            lo = pdf["lon"].to_numpy(np.float64) / 1e7
            la = pdf["latp"].to_numpy(np.float64) / 1e7
            tx = M.lon2tilex(lo, 14)
            ty = M.latp2tiley(la, 14)
            maxlatp = M.lat2latp(M.tiley2lat(ty, 14))
            minlatp = M.lat2latp(M.tiley2lat(ty + 1, 14))
            yscale = (maxlatp - minlatp) / 4096.0
            py = np.trunc((maxlatp - la) / yscale).astype(np.int64)
            yield pd.DataFrame({"x": tx, "y": ty, "py": py})

    nodes, _, _ = _stores(spark, sf_dir)
    pts = classify.classify_nodes(nodes).where(F.col("kind") == 1)
    expected = (pts.select("lon", "latp")
                .mapInPandas(_pxy_stream, schema="x long, y long, py long")
                .groupBy("x", "y")
                .agg(F.count(F.lit(1)).alias("_n"),
                     F.sum("py").alias("_spy"),
                     F.sum(F.col("py") * F.col("py")).alias("_spy2")))

    return (decoded.join(expected, ["x", "y"], "left")
            .select("x", "y", "n_points", "sum_px", "n_tag_pairs", "str_len",
                    "rank_sum",
                    ((F.col("n_points") == F.col("_n"))
                     & (F.col("sum_py") == F.col("_spy"))
                     & (F.col("sum_py2") == F.col("_spy2"))).alias("py_ok")))


def q_sink_mbtiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 driver-visible (VERDICT r3 ask #8): write the real z14 tiles
    through the MBTiles SQLite sink (TMS y-flip 2^z-1-y, reference
    src/mbtiles.cpp:29), read the file back, and verify per tile that
    the stored bytes are IDENTICAL to the engine's tile bytes
    (sha256 round-trip). The oracle re-derives the z14 tile coordinate
    set from first principles (the proven pyramid walk) + the y-flip."""
    import hashlib
    import os
    import shutil
    import sqlite3
    import tempfile

    from . import pipeline

    docs = load_docs(spark, sf_dir)
    tiles = pipeline.pyramid_df(spark, docs, zooms=[14]).localCheckpoint()
    tmpd = tempfile.mkdtemp(prefix="tms_mbtiles_")
    try:
        path = pipeline.write_mbtiles(tiles, os.path.join(tmpd, "t.mbtiles"))
        con = sqlite3.connect(path)
        rows = con.execute(
            "SELECT zoom_level, tile_column, tile_row, tile_data FROM tiles").fetchall()
        con.close()
    finally:
        shutil.rmtree(tmpd, ignore_errors=True)
    rb = spark.createDataFrame(
        [(int(z), int(xx), int(rr), hashlib.sha256(bytes(b)).hexdigest())
         for z, xx, rr, b in rows],
        "zoom_level long, tile_column long, tile_row long, rb_sha string")
    orig = tiles.select(
        F.col("z").cast("long").alias("zoom_level"),
        F.col("x").alias("tile_column"),
        (F.lit((1 << 14) - 1) - F.col("y")).alias("tile_row"),
        F.lower(F.sha2(F.col("tile"), 256)).alias("o_sha"))
    j = rb.join(orig, ["zoom_level", "tile_column", "tile_row"], "full")
    return j.select(
        "zoom_level", "tile_column", "tile_row",
        F.coalesce(F.col("rb_sha") == F.col("o_sha"), F.lit(False)).alias("bytes_ok"))


def q_sink_tilefiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 driver-visible: executor-side {z}/{x}/{y}.pbf file-per-tile
    sink (reference src/tile_worker.cpp:236-249) read back from the
    file tree with byte-identity per tile."""
    import hashlib
    import os
    import shutil
    import tempfile

    from . import pipeline

    docs = load_docs(spark, sf_dir)
    tiles = pipeline.pyramid_df(spark, docs, zooms=[14]).localCheckpoint()
    tmpd = tempfile.mkdtemp(prefix="tms_files_")
    try:
        pipeline.write_tile_files(tiles, tmpd)
        rows = []
        for zdir in os.listdir(tmpd):
            for xdir in os.listdir(os.path.join(tmpd, zdir)):
                for yf in os.listdir(os.path.join(tmpd, zdir, xdir)):
                    with open(os.path.join(tmpd, zdir, xdir, yf), "rb") as f:
                        b = f.read()
                    rows.append((int(zdir), int(xdir), int(yf.split(".")[0]),
                                 hashlib.sha256(b).hexdigest()))
    finally:
        shutil.rmtree(tmpd, ignore_errors=True)
    rb = spark.createDataFrame(rows, "z long, x long, y long, rb_sha string")
    orig = tiles.select(F.col("z").cast("long").alias("z"), "x", "y",
                        F.lower(F.sha2(F.col("tile"), 256)).alias("o_sha"))
    j = rb.join(orig, ["z", "x", "y"], "full")
    return j.select("z", "x", "y",
                    F.coalesce(F.col("rb_sha") == F.col("o_sha"),
                               F.lit(False)).alias("bytes_ok"))


def q_u1_layer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 multi-source union + per-layer aggregation."""
    feats = q_classify_features(spark, sf_dir)
    return feats.groupBy("layer", "elem").agg(F.count(F.lit(1)).alias("n"))


def q_j2_relation_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: multipolygon ring assembly — verifies the stitcher produced
    the expected polygon/ring structure per relation
    (reference: include/osm_store.h:172-256)."""
    import pandas as pd
    from .kernels import geompack

    nodes, ways, rels = _stores(spark, sf_dir)
    rf = classify.classify_relations(rels)
    wc = assemble.ways_with_coords(ways, nodes)
    geoms = assemble.assemble_relation_geometries(rf, rels, wc)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<n_polys:int, n_rings:int, outer_pts:int>")
    def ring_stats(geom):
        rows = []
        for buf in geom:
            _, polys = geompack.unpack(bytes(buf))
            rows.append({
                "n_polys": len(polys),
                "n_rings": sum(len(r) for r in polys),
                "outer_pts": len(polys[0][0][0]) if polys else 0,
            })
        return pd.DataFrame(rows)

    return (geoms.withColumn("s", ring_stats("geom"))
            .select(F.col("object_id").alias("rel_id"), "layer",
                    F.col("s.n_polys").alias("n_polys"),
                    F.col("s.n_rings").alias("n_rings"),
                    F.col("s.outer_pts").alias("outer_pts")))


# ------------------------------------------------------------- oracle SQL
# Shared CTE prefix re-deriving the geocode stores in DuckDB from the
# documents table (pure integer arithmetic — mirrors geocode.py 1:1).

# (d * 2654435761) mod 2^32 via the same 16-bit-split modular multiply
# as geocode._h — the naive product overflows DuckDB's INT64 check at
# doc_id >= 2^63/MUL ≈ 3.47e9, so the oracle must mirror the split form
# to stay comparable at planetary ids (bit-identical for nonneg longs).
_H_SQL = ("(((((({d} % 4294967296) // 65536) * 2654435761) % 65536) * 65536"
          " + (({d} % 4294967296) % 65536) * 2654435761) % 4294967296)")

GEOCODE_CTE = f"""
WITH seeds0 AS (
  SELECT doc_id AS d, {_H_SQL.format(d='doc_id')} AS h FROM documents
),""" + """
seeds AS (
  SELECT d, h, k, (h + k*1013904223) % 4294967296 AS hk
  FROM seeds0, (SELECT unnest(range(3)) AS k) ks
  WHERE k < h % 4
),
s2 AS (
  SELECT d, k, hk,
    ((hk // 64) * 2654435761 + 40503) % 4294967296 AS h2,
    hk % 3 AS kind,
    CAST(94710000 + (hk % 1630)*1000 + (((h // 65536) % 64) % 8) * 2000000 AS BIGINT) AS lon0,
    CAST(534600000 + ((hk // 7) % 3200)*1000 + (((h // 65536) % 64) // 8) * 2000000 AS BIGINT) AS latp0,
    d*256 + k*32 AS nid0,
    d*8 + k*2 AS wid0,
    d*8 + k AS rid
  FROM seeds
),
lines AS (
  SELECT *, CAST(4 + h2 % 9 AS INT) AS nv,
    CASE WHEN h2 % 3 = 1 AND (h2 // 3) % 3 = 1 THEN 4000
         ELSE ((h2 % 3) - 1) * 4000 END AS sx,
    (((h2 // 3) % 3) - 1) * 4000 AS sy
  FROM s2 WHERE kind = 1
),
polys AS (
  SELECT *, CAST(2000 + h2 % 8000 AS BIGINT) AS r FROM s2 WHERE kind = 2
),
oct AS (
  SELECT [1,1,0,-1,-1,-1,0,1] AS dx, [0,1,1,1,0,-1,-1,-1] AS dy
),
all_nodes AS (
  SELECT nid0 AS node_id, CAST(lon0 AS INT) AS lon, CAST(latp0 AS INT) AS latp
  FROM s2 WHERE kind = 0
  UNION ALL
  SELECT nid0 + j,
    CAST(lon0 + j*sx + ((hk*(j+1)) % 7)*500 AS INT),
    CAST(latp0 + j*sy + ((hk*(j+2)) % 5)*500 AS INT)
  FROM (SELECT *, unnest(range(nv)) AS j FROM lines)
  UNION ALL
  SELECT nid0 + j,
    CAST(lon0 + dx[CAST(j+1 AS INT)]*r AS INT),
    CAST(latp0 + dy[CAST(j+1 AS INT)]*r AS INT)
  FROM (SELECT *, unnest(range(8)) AS j FROM polys), oct
  UNION ALL
  SELECT nid0 + 8 + j,
    CAST(lon0 + dx[CAST(j+1 AS INT)]*(r // 3) AS INT),
    CAST(latp0 + dy[CAST(j+1 AS INT)]*(r // 3) AS INT)
  FROM (SELECT *, unnest(range(8)) AS j FROM polys WHERE h2 % 16 = 0), oct
),
way_pts AS (
  -- line ways
  SELECT wid0 AS way_id,
    list_transform(range(nv), j -> nid0 + j) AS refs,
    list_transform(range(nv), j -> lon0 + j*sx + ((hk*(j+1)) % 7)*500) AS lons,
    list_transform(range(nv), j -> latp0 + j*sy + ((hk*(j+2)) % 5)*500) AS latps
  FROM lines
  UNION ALL
  -- simple closed polygon ways (ring of 9, closing vertex repeats j=0)
  SELECT wid0,
    list_append(list_transform(range(8), j -> nid0 + j), nid0),
    list_append(list_transform(range(8), j -> lon0 + dx[CAST(j+1 AS INT)]*r), lon0 + r),
    list_append(list_transform(range(8), j -> latp0 + dy[CAST(j+1 AS INT)]*r), latp0)
  FROM polys, oct WHERE h2 % 8 <> 0
  UNION ALL
  -- relation outer half A: octagon vertices 0..4
  SELECT wid0,
    list_transform(range(5), j -> nid0 + j),
    list_transform(range(5), j -> lon0 + dx[CAST(j+1 AS INT)]*r),
    list_transform(range(5), j -> latp0 + dy[CAST(j+1 AS INT)]*r)
  FROM polys, oct WHERE h2 % 8 = 0
  UNION ALL
  -- relation outer half B: vertices 4..7 then 0
  SELECT wid0 + 1,
    list_append(list_transform(range(4), j -> nid0 + 4 + j), nid0),
    list_append(list_transform(range(4), j -> lon0 + dx[CAST(j+5 AS INT)]*r), lon0 + r),
    list_append(list_transform(range(4), j -> latp0 + dy[CAST(j+5 AS INT)]*r), latp0)
  FROM polys, oct WHERE h2 % 8 = 0
  UNION ALL
  -- inner-hole ring ways (ids offset by 2^40)
  SELECT wid0 + 1099511627776,
    list_append(list_transform(range(8), j -> nid0 + 8 + j), nid0 + 8),
    list_append(list_transform(range(8), j -> lon0 + dx[CAST(j+1 AS INT)]*(r // 3)), lon0 + (r // 3)),
    list_append(list_transform(range(8), j -> latp0 + dy[CAST(j+1 AS INT)]*(r // 3)), latp0)
  FROM polys, oct WHERE h2 % 16 = 0
),
rels AS (
  SELECT rid AS rel_id, wid0, h2,
    2 AS n_outer,
    CASE WHEN h2 % 16 = 0 THEN 1 ELSE 0 END AS n_inner
  FROM polys WHERE h2 % 8 = 0
),
node_feats AS (
  SELECT nid0 AS object_id, 'node' AS elem,
    CASE WHEN h2 % 6 = 4 THEN 'place' ELSE 'poi' END AS layer,
    1 AS kind,
    (['cafe','school','bakery','supermarket','town','bank'])[CAST(h2 % 6 AS INT)+1] AS cls,
    'poi-' || d || '-' || k AS name,
    CAST(lon0 AS INT) AS lon, CAST(latp0 AS INT) AS latp
  FROM s2 WHERE kind = 0
),
way_feats AS (
  SELECT wid0 AS object_id, 'way' AS elem,
    CASE WHEN h2 % 5 = 0 THEN 'waterway' ELSE 'transportation' END AS layer,
    2 AS kind,
    CASE WHEN h2 % 5 = 0 THEN 'stream'
         ELSE (['primary','secondary','residential','track'])[CAST(h2 % 4 AS INT)+1] END AS cls,
    CAST(NULL AS VARCHAR) AS name
  FROM lines
  UNION ALL
  SELECT wid0, 'way',
    (['building','water','landcover'])[CAST(h2 % 3 AS INT)+1], 3,
    ([CAST(NULL AS VARCHAR),'water','forest'])[CAST(h2 % 3 AS INT)+1],
    CAST(NULL AS VARCHAR)
  FROM polys WHERE h2 % 8 <> 0
),
rel_feats AS (
  SELECT rid AS object_id, 'relation' AS elem,
    (['building','water','landcover'])[CAST(h2 % 3 AS INT)+1] AS layer,
    3 AS kind,
    ([CAST(NULL AS VARCHAR),'water','forest'])[CAST(h2 % 3 AS INT)+1] AS cls,
    CAST(NULL AS VARCHAR) AS name
  FROM polys WHERE h2 % 8 = 0
),
point_tiles AS (
  SELECT object_id, layer,
    CAST(floor((CAST(lon AS DOUBLE)/10000000.0 + 180.0) * (1.0/360.0) * 16384.0) AS BIGINT) AS x,
    CAST(floor((180.0 - CAST(latp AS DOUBLE)/10000000.0) * (1.0/360.0) * 16384.0) AS BIGINT) AS y
  FROM node_feats
)
"""


# ---- pyramid-tiles oracle: exact SQL re-derivation of the DDA walk.
# Valid because every synthetic segment is shorter than a z14 tile
# (max vertex delta 9999 fixed units < 219726), so each segment crosses
# at most ONE border per axis; the engine's float ops are replicated
# with the identical IEEE op order (x*16384.0 == ldexp(x,14) exactly).
# Polygon rings are walked REVERSED (correct_winding makes outers
# clockwise before packing), so poly/rel-outer segments swap endpoints.
_XF = "((CAST({v} AS DOUBLE)/10000000.0 + 180.0) * (1.0/360.0)) * 16384.0"
_YF = "((180.0 - CAST({v} AS DOUBLE)/10000000.0) * (1.0/360.0)) * 16384.0"

_LEN2_SQL = """CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1, CAST(len(lons) AS INT)),
                     i -> (lons[i+1]-lons[i])*(lons[i+1]-lons[i])
                        + (latps[i+1]-latps[i])*(latps[i+1]-latps[i]))),
      (a,b) -> a + b) AS BIGINT)"""
_AREA2_SQL = """abs(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1, CAST(len(lons) AS INT)),
                     i -> lons[i]*latps[i+1] - lons[i+1]*latps[i])),
      (a,b) -> a + b) AS BIGINT))"""
_FMZ_AREA = ("CASE WHEN {a} >= 400000000 THEN 6 WHEN {a} >= 150000000 THEN 9 "
             "WHEN {a} >= 40000000 THEN 11 ELSE 12 END")
_FMZ_LEN = ("CASE WHEN {l} >= 300000000 THEN 8 WHEN {l} >= 100000000 THEN 10 "
            "ELSE 11 END")

# zoom-list placeholder filled by _pyramid_ctes() below — the same CTE
# chain serves pyramid_tiles ([6, 13, 14]) and f8_zoom_filter
# ([4, 8, 12, 13, 14])
_PYRAMID_CTES_T = f"""
, seg_src AS (
  SELECT 'way' AS elem, wid0 AS fid, wid0 AS seg_way, FALSE AS swap FROM lines
  UNION ALL
  SELECT 'way', wid0, wid0, TRUE FROM polys WHERE h2 % 8 <> 0
  UNION ALL
  SELECT 'relation', rel_id, wid0, TRUE FROM rels
  UNION ALL
  SELECT 'relation', rel_id, wid0 + 1, TRUE FROM rels
  UNION ALL
  SELECT 'relation', rel_id, wid0 + 1099511627776, FALSE FROM rels WHERE h2 % 16 = 0
),
feat_fmz AS (
  SELECT 'node' AS elem, object_id AS fid, 0 AS fmz FROM node_feats
  UNION ALL
  SELECT 'way', w.way_id, {_FMZ_LEN.format(l=_LEN2_SQL)}
  FROM way_pts w JOIN lines l ON w.way_id = l.wid0
  UNION ALL
  SELECT 'way', w.way_id, {_FMZ_AREA.format(a=_AREA2_SQL)}
  FROM way_pts w JOIN (SELECT wid0 FROM polys WHERE h2 % 8 <> 0) p ON w.way_id = p.wid0
  UNION ALL
  SELECT 'relation', rel_id, {_FMZ_AREA.format(a="(8 * CAST(2000 + h2 % 8000 AS BIGINT) * CAST(2000 + h2 % 8000 AS BIGINT))")}
  FROM rels
),
segj AS (
  SELECT s.elem, s.fid, s.swap, w.lons, w.latps
  FROM seg_src s JOIN way_pts w ON w.way_id = s.seg_way
),
segv AS (
  SELECT elem, fid, lons, latps, swap,
         unnest(range(1, CAST(len(lons) AS INT))) AS i
  FROM segj
),
segs AS (
  SELECT elem, fid,
    CASE WHEN swap THEN lons[i+1] ELSE lons[i] END AS al,
    CASE WHEN swap THEN latps[i+1] ELSE latps[i] END AS ap,
    CASE WHEN swap THEN lons[i] ELSE lons[i+1] END AS bl,
    CASE WHEN swap THEN latps[i] ELSE latps[i+1] END AS bp
  FROM segv
),
segf AS (
  SELECT elem, fid,
    {_XF.format(v='al')} AS xf1, {_YF.format(v='ap')} AS yf1,
    {_XF.format(v='bl')} AS xf2, {_YF.format(v='bp')} AS yf2
  FROM segs
),
segt AS (
  SELECT *, CAST(trunc(xf1) AS BIGINT) AS x1, CAST(trunc(yf1) AS BIGINT) AS y1,
            CAST(trunc(xf2) AS BIGINT) AS x2, CAST(trunc(yf2) AS BIGINT) AS y2
  FROM segf
),
cand AS (
  SELECT elem, fid, x1 AS x, y1 AS y FROM segt
  UNION ALL SELECT elem, fid, x2, y2 FROM segt
  UNION ALL
  SELECT elem, fid, greatest(x1, x2),
    CAST(trunc(yf1 + (CAST(greatest(x1, x2) AS DOUBLE) - xf1) * ((yf2 - yf1) / (xf2 - xf1))) AS BIGINT)
  FROM segt WHERE x1 <> x2
  UNION ALL
  SELECT elem, fid,
    CAST(trunc(xf1 + (CAST(greatest(y1, y2) AS DOUBLE) - yf1) * ((xf2 - xf1) / (yf2 - yf1))) AS BIGINT),
    greatest(y1, y2)
  FROM segt WHERE y1 <> y2
),
allc AS (
  SELECT * FROM cand
  UNION ALL
  SELECT 'node' AS elem, object_id AS fid, x, y FROM point_tiles
),
rolled AS (
  SELECT DISTINCT zs.z, c.x >> (14 - zs.z) AS x, c.y >> (14 - zs.z) AS y,
         c.elem, c.fid
  FROM allc c
  JOIN feat_fmz f ON f.elem = c.elem AND f.fid = c.fid,
       (SELECT unnest(__ZOOM_LIST__) AS z) zs
  WHERE f.fmz <= zs.z
)
"""


def _pyramid_ctes(zoom_list: str) -> str:
    return _PYRAMID_CTES_T.replace("__ZOOM_LIST__", zoom_list)


_PYRAMID_CTES = _pyramid_ctes("[6, 13, 14]")

_PYRAMID_SQL = _PYRAMID_CTES + """
SELECT z, x, y, count(*) AS n_features FROM rolled GROUP BY 1, 2, 3
"""

# F8 oracle: the rolled pyramid joined to each object's (single) layer
# emission, filtered by the per-layer zoom range taken from the SAME
# default_config() the Spark side uses (no duplicated constants), then
# counted per (z, layer). Granularity matches the engine's rollup
# dedup identity because every synthetic object has exactly one
# (layer, kind, attrs) emission — the assumption pyramid_tiles already
# proves.
_F8_LAYER_VALUES = ", ".join(
    f"('{name}', {ld.minzoom}, {ld.maxzoom})"
    for name, ld in default_config().layers.items())

_F8_SQL = GEOCODE_CTE + _pyramid_ctes(str(F8_ZOOMS)) + f"""
, feat_layer AS (
  SELECT 'node' AS elem, object_id AS fid, layer FROM node_feats
  UNION ALL SELECT 'way', object_id, layer FROM way_feats
  UNION ALL SELECT 'relation', object_id, layer FROM rel_feats
),
layer_zr AS (
  SELECT * FROM (VALUES {_F8_LAYER_VALUES}) AS t(layer, minz, maxz)
)
SELECT r.z, fl.layer, count(*) AS n_rows
FROM rolled r
JOIN feat_layer fl ON fl.elem = r.elem AND fl.fid = r.fid
JOIN layer_zr lz ON lz.layer = fl.layer
WHERE r.z >= lz.minz AND r.z <= lz.maxz
GROUP BY 1, 2
"""


ORACLES = {
    "geocode_nodes": GEOCODE_CTE + """
SELECT node_id, lon, latp FROM all_nodes
""",
    "geocode_ways": GEOCODE_CTE + """
SELECT way_id,
  CAST(len(refs) AS INT) AS n_refs,
  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), refs), (a,b) -> a + b) AS BIGINT) AS refs_sum,
  refs[1] AS first_ref,
  refs[-1] AS last_ref,
  refs[1] = refs[-1] AS is_closed
FROM way_pts
""",
    "geocode_relations": GEOCODE_CTE + """
SELECT rel_id, n_outer AS n_outer, n_inner AS n_inner,
  'multipolygon' AS rel_type
FROM rels
""",
    "classify_features": GEOCODE_CTE + """
SELECT object_id, elem, layer, kind, cls, name FROM node_feats
UNION ALL
SELECT object_id, elem, layer, kind, cls, name FROM way_feats
UNION ALL
SELECT object_id, elem, layer, kind, cls, name FROM rel_feats
""",
    "j1_way_coords": GEOCODE_CTE + """
SELECT way_id,
  CAST(len(refs) AS INT) AS n_pts,
  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), lons), (a,b) -> a + b) AS BIGINT) AS sum_lon,
  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), latps), (a,b) -> a + b) AS BIGINT) AS sum_latp,
  CAST(lons[1] AS BIGINT) AS first_lon,
  CAST(latps[-1] AS BIGINT) AS last_latp
FROM way_pts
""",
    "j3_ways_in_relation": GEOCODE_CTE + """
SELECT wid0 AS way_id FROM rels
UNION ALL SELECT wid0 + 1 FROM rels
UNION ALL SELECT wid0 + 1099511627776 FROM rels WHERE h2 % 16 = 0
""",
    "j9_point_tiles": GEOCODE_CTE + """
SELECT object_id, layer, x, y FROM point_tiles
""",
    "a1_tile_counts": GEOCODE_CTE + """
SELECT x, y, count(*) AS n_features FROM point_tiles GROUP BY x, y
""",
    "a2_rollup_z6": GEOCODE_CTE + """
SELECT x // 256 AS x, y // 256 AS y, count(DISTINCT object_id) AS n_objects
FROM point_tiles GROUP BY 1, 2
""",
    "a7_poly_area": GEOCODE_CTE + """
SELECT way_id,
  abs(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1, CAST(len(lons) AS INT)),
                     i -> lons[i]*latps[i+1] - lons[i+1]*latps[i])),
      (a,b) -> a + b) AS BIGINT)) AS area2
FROM way_pts WHERE refs[1] = refs[-1]
""",
    "a7_line_len2": GEOCODE_CTE + """
SELECT way_id,
  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1, CAST(len(lons) AS INT)),
                     i -> (lons[i+1]-lons[i])*(lons[i+1]-lons[i])
                        + (latps[i+1]-latps[i])*(latps[i+1]-latps[i]))),
      (a,b) -> a + b) AS BIGINT) AS sum_seg_len2
FROM way_pts WHERE refs[1] <> refs[-1]
""",
    "a6_centroids": GEOCODE_CTE + """
SELECT rid AS rel_id,
  floor((CAST(lon0 AS DOUBLE)/10000000.0) * 10000.0 + 0.5) / 10000.0 AS cx4,
  floor((CAST(latp0 AS DOUBLE)/10000000.0) * 10000.0 + 0.5) / 10000.0 AS cy4
FROM polys WHERE h2 % 8 = 0
""",
    "typed_attrs": GEOCODE_CTE + """
SELECT object_id, layer, CAST(length(name) AS DOUBLE) AS rank,
       CAST(NULL AS BOOLEAN) AS paved
FROM node_feats WHERE layer = 'place'
UNION ALL
SELECT object_id, layer, CAST(NULL AS DOUBLE) AS rank,
       cls IN ('primary', 'secondary') AS paved
FROM way_feats WHERE layer = 'transportation'
""",
    # overlapping squares (d < 2r by construction) union into ONE outer
    # ring whose doubled shoelace area is exactly 8r^2 + 4rd — the
    # oracle re-derives d and the area per row; 16 doc-seeded offset
    # fractions give ratio values 4.125 .. 7.875
    "a5_union_area": GEOCODE_CTE + """
SELECT wid0 AS way_id, CAST(1 AS INT) AS n_polys,
  CAST(8*r*r + 4*r*((r*(2*(h2 % 16)+1)) // 16) AS BIGINT) AS area2,
  CAST(8*r*r + 4*r*((r*(2*(h2 % 16)+1)) // 16) AS DOUBLE) / (2.0*r*r) AS ratio
FROM polys
""",
    "pyramid_tiles": GEOCODE_CTE + _PYRAMID_SQL,
    "f8_zoom_filter": _F8_SQL,
    # F7: the proven pyramid walk restricted to the config bounding box
    # — per-zoom integer tile ranges re-derived from the bbox constants
    # with the engine's own float op order (lon2tilex: (lon+180)*(1/360)
    # then an exact power-of-two scale; lat2tileyf through the Mercator
    # log/tan path, src/coordinates.cpp:27-31) — margins >= 0.036 tile
    # units make libm last-ULP drift unobservable in the floor
    "pyramid_bbox": GEOCODE_CTE + _PYRAMID_CTES + f"""
, bounds AS (
  SELECT z,
    CAST(trunc((({PYRAMID_BBOX[0]} + 180.0) * (1.0/360.0)) * pow(2.0, z)) AS BIGINT) AS xlo,
    CAST(trunc((({PYRAMID_BBOX[2]} + 180.0) * (1.0/360.0)) * pow(2.0, z)) AS BIGINT) AS xhi,
    CAST(trunc(((180.0 - degrees(ln(tan(radians({PYRAMID_BBOX[3]} + 90.0) / 2.0))))
                * (1.0/360.0)) * pow(2.0, z)) AS BIGINT) AS ylo,
    CAST(trunc(((180.0 - degrees(ln(tan(radians({PYRAMID_BBOX[1]} + 90.0) / 2.0))))
                * (1.0/360.0)) * pow(2.0, z)) AS BIGINT) AS yhi
  FROM (SELECT unnest([6, 13, 14]) AS z)
)
SELECT r.z, r.x, r.y, count(*) AS n_features
FROM rolled r JOIN bounds b ON b.z = r.z
WHERE r.x BETWEEN b.xlo AND b.xhi AND r.y BETWEEN b.ylo AND b.yhi
GROUP BY 1, 2, 3
""",
    # sinks: the z14 tile COORD set re-derived from the proven pyramid
    # walk; byte identity is wire-verified Spark-side (bytes_ok),
    # predicted TRUE here (reference: src/mbtiles.cpp:29 y-flip,
    # src/tile_worker.cpp:236-249 file tree)
    "sink_mbtiles": GEOCODE_CTE + _PYRAMID_CTES + """
SELECT DISTINCT CAST(14 AS BIGINT) AS zoom_level, x AS tile_column,
  CAST(16383 - y AS BIGINT) AS tile_row, TRUE AS bytes_ok
FROM rolled WHERE z = 14
""",
    "sink_tilefiles": GEOCODE_CTE + _PYRAMID_CTES + """
SELECT DISTINCT CAST(14 AS BIGINT) AS z, x, y, TRUE AS bytes_ok
FROM rolled WHERE z = 14
""",
    # sum_px is bit-exact: min_lon(x) = ldexp(x,-14)*360-180 is pure
    # power-of-two arithmetic (x/16384.0 is exact), xscale likewise, and
    # trunc replicates the C int cast (src/coordinates.cpp:90-94). Tag
    # stats re-derive the classify attrs; py is wire-verified Spark-side
    # (py_ok), predicted TRUE here.
    "tile_bytes_points": GEOCODE_CTE + """
, pxs AS (
  SELECT p.x, p.y,
    CAST(trunc(
      (CAST(f.lon AS DOUBLE)/10000000.0 - ((CAST(p.x AS DOUBLE)/16384.0)*360.0 - 180.0))
      / (((((CAST(p.x AS DOUBLE)+1.0)/16384.0)*360.0 - 180.0)
          - ((CAST(p.x AS DOUBLE)/16384.0)*360.0 - 180.0)) / 4096.0)
    ) AS BIGINT) AS pxv,
    CASE WHEN f.layer = 'place' THEN 3 ELSE 2 END AS ntag,
    9 + length(f.cls) + length(f.name) AS slen,
    CASE WHEN f.layer = 'place' THEN length(f.name) ELSE 0 END AS rnk
  FROM node_feats f JOIN point_tiles p USING (object_id, layer)
)
SELECT x, y,
  CAST(count(*) AS BIGINT) AS n_points,
  CAST(sum(pxv) AS BIGINT) AS sum_px,
  CAST(sum(ntag) AS BIGINT) AS n_tag_pairs,
  CAST(sum(slen) AS BIGINT) AS str_len,
  CAST(sum(rnk) AS BIGINT) AS rank_sum,
  TRUE AS py_ok
FROM pxs GROUP BY x, y
""",
    "u1_layer_counts": GEOCODE_CTE + """
SELECT layer, elem, count(*) AS n FROM (
  SELECT layer, elem FROM node_feats
  UNION ALL SELECT layer, elem FROM way_feats
  UNION ALL SELECT layer, elem FROM rel_feats
) GROUP BY layer, elem
""",
    "j2_relation_rings": GEOCODE_CTE + """
SELECT rel_id,
  (['building','water','landcover'])[CAST(h2 % 3 AS INT)+1] AS layer,
  1 AS n_polys,
  CAST(1 + n_inner AS INT) AS n_rings,
  -- stitched outer = half1(5) ++ half2(5) keeping the duplicate shared
  -- node, exactly like the reference's ot->insert(end, begin, end)
  -- (include/osm_store.h:206-208)
  10 AS outer_pts
FROM rels
""",
}


QUERIES = {
    "geocode_nodes": q_geocode_nodes,
    "geocode_ways": q_geocode_ways,
    "geocode_relations": q_geocode_relations,
    "classify_features": q_classify_features,
    "j1_way_coords": q_j1_way_coords,
    "j3_ways_in_relation": q_j3_ways_in_relation,
    "j9_point_tiles": q_j9_point_tiles,
    "a1_tile_counts": q_a1_tile_counts,
    "a2_rollup_z6": q_a2_rollup_z6,
    "a6_centroids": q_a6_centroids,
    "a7_poly_area": q_a7_poly_area,
    "a7_line_len2": q_a7_line_len2,
    "u1_layer_counts": q_u1_layer_counts,
    "j2_relation_rings": q_j2_relation_rings,
    "typed_attrs": q_typed_attrs,
    "a5_union_area": q_a5_union_area,
    "pyramid_tiles": q_pyramid_tiles,
    "pyramid_bbox": q_pyramid_bbox,
    "f8_zoom_filter": q_f8_zoom_filter,
    "tile_bytes_points": q_tile_bytes_points,
    "sink_mbtiles": q_sink_mbtiles,
    "sink_tilefiles": q_sink_tilefiles,
}

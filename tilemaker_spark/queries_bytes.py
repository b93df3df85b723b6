"""Driver-verified LINESTRING / POLYGON tile BYTES (VERDICT r3 ask #1)
+ ACTIVE-simplify rows (VERDICT r4 ask #1: tile_bytes_simplify /
tile_bytes_simplify_poly — Douglas-Peucker firing for real inside the
encode path, survival predicted closed-form in SQL).

Extends the ``tile_bytes_points`` pattern (queries_core.py) to the
geometry arms of the MVT command stream: the REAL z14 tile bytes
produced by the full pipeline (gzip, protobuf framing, per-layer
dictionaries, MoveTo/LineTo/ClosePath delta/zigzag streams —
reference: src/write_geometry.cpp:55-130) are re-read by the same
independent wire parser style and reduced to per-tile invariants:

SQL-exact columns (closed-form DuckDB re-derivation, no engine code):
- ``n_feats``   line/poly features per tile — re-derives the DDA
  segment walk (J5, include/coordinates.h:93-133) candidate tiles in
  SQL exactly (same IEEE op order as the engine; proven technique from
  the pyramid_tiles oracle).
- ``n_parts``   MoveTo count = clipped-part count. The oracle
  re-derives Liang-Barsky part structure (G8, reference
  src/output_object.cpp:33-37) from first principles: a part starts at
  each maximal run of consecutive segments intersecting the tile's
  0.5%-margin clip box (src/coordinates.cpp:80-83). The margin box is
  an exact rational (x128 fixed-point integers: tile = 28125000/128
  units, margin = 140625/128), so segment-vs-box intersection is an
  exact integer separating-axis test.
- ``n_close``   ClosePath count: 0 for lines; ring count for polygons
  (1 per clipped outer + 1 per hole that survives as a separate ring,
  i.e. hole fully inside the clip box — even-odd semantics of G9,
  src/output_object.cpp:62-68).
- ``pts_in`` / ``spx_in``  vertex count and absolute pixel-x sum over
  the tile's full decoded command stream, gated on ``all_in`` (every
  feature of the tile lies wholly inside the margin box, an exact SQL
  predicate): for such tiles clipping is the identity, so the wire
  stream is exactly the raw vertices and px is bit-exact in SQL
  (tilex2lon is pure ldexp arithmetic, src/coordinates.cpp:27,33,90-94).
  Mixed tiles report the sentinel -1 on both sides.

Wire-vs-engine column (same epistemic status as points' ``py_ok``):
- ``geom_ok``   the decoded per-feature command streams (including
  clipped/interpolated and pixel-y values that SQL cannot replicate)
  are compared as an order-insensitive multiset of CRCs against an
  INDEPENDENT re-derivation from RAW feature coordinates (assemble ->
  assign -> per-(feature, tile) kernel clip+scale+delta, bypassing the
  streaming encoder, its grouping, dictionaries, framing and gzip).
  Verifies the distributed encode path end-to-end; the kernels
  themselves are closed-form pytest-golden-tested.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import classify, geocode, tileassign
from .queries_core import GEOCODE_CTE, _H_SQL, _XF, _YF, load_docs

LINE_LAYERS = ("transportation", "waterway")
POLY_LAYERS = ("building", "water", "landcover")
POLY_OUT_LAYERS = ("building", "landcover")  # water write_to -> landcover (W4)

_RESULT_SCHEMA = ("x long, y long, n_feats long, n_parts long, n_close long, "
                  "n_pts long, sum_px long, hsum long, hxor long")


# ------------------------------------------------------------- wire parser
# From-scratch MVT wire parser (spec-only, independent of kernels/mvt —
# same contract as queries_core.q_tile_bytes_points).

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


def _parse_feature_geom(geom):
    """Walk a decoded command-int list -> (n_move, n_lineto, n_close,
    n_pts, sum_px). Absolute pixel x reconstructed from zigzag deltas
    (reference: src/write_geometry.cpp:93-130)."""
    cx = cy = 0
    n_move = n_lineto = n_close = n_pts = spx = 0
    gi, n = 0, len(geom)
    while gi < n:
        cmd = geom[gi]
        gi += 1
        op = cmd & 7
        cnt = cmd >> 3
        if op == 7:
            n_close += cnt
            continue
        for _ in range(cnt):
            dx, dy = geom[gi], geom[gi + 1]
            gi += 2
            cx += (dx >> 1) ^ -(dx & 1)
            cy += (dy >> 1) ^ -(dy & 1)
            n_pts += 1
            spx += cx
        if op == 1:
            n_move += cnt
        elif op == 2:
            n_lineto += cnt
    return n_move, n_lineto, n_close, n_pts, spx


def _wire_decoder(layer_names, want_gt: int):
    """mapInPandas over (x, y, tile bytes) -> per-tile wire invariants
    over features of ``layer_names`` (gzip -> frame -> layer -> feature
    -> command stream, all re-read from the spec)."""
    import gzip

    names = set(layer_names)

    def decode_stream(batches):
        for pdf in batches:
            rows = []
            for x, y, buf in zip(pdf["x"], pdf["y"], pdf["tile"]):
                b = bytes(buf)
                if b[:2] == b"\x1f\x8b":
                    b = gzip.decompress(b)
                nf = npart = nclose = npts = spx = hsum = hxor = 0
                for fn, _wt, layer in _fields(b):
                    if fn != 3:
                        continue
                    name = None
                    fbufs = []
                    for lf, _lwt, lv in _fields(layer):
                        if lf == 1:
                            name = lv.decode()
                        elif lf == 2:
                            fbufs.append(lv)
                    if name not in names:
                        continue
                    for fb in fbufs:
                        gtype = None
                        geom: list = []
                        for ff, _fwt, fv in _fields(fb):
                            if ff == 3:
                                gtype = fv
                            elif ff == 4:
                                i = 0
                                while i < len(fv):
                                    g, i = _rdv(fv, i)
                                    geom.append(g)
                        nm, _nl, nc, np_, sp = _parse_feature_geom(geom)
                        crc = zlib.crc32(
                            bytes([gtype if gtype is not None else 0])
                            + np.asarray(geom, dtype=np.int64).tobytes())
                        nf += 1
                        npart += nm
                        nclose += nc
                        npts += np_
                        spx += sp
                        hsum += crc
                        hxor ^= crc
                if nf:
                    rows.append({"x": int(x), "y": int(y), "n_feats": nf,
                                 "n_parts": npart, "n_close": nclose,
                                 "n_pts": npts, "sum_px": spx,
                                 "hsum": hsum, "hxor": hxor})
            yield pd.DataFrame(rows, columns=["x", "y", "n_feats", "n_parts",
                                              "n_close", "n_pts", "sum_px",
                                              "hsum", "hxor"])

    return decode_stream


# --------------------------------------------- independent expected stream

def _expected_stats(assigned: DataFrame, gt: int, tol: float = 0.0) -> DataFrame:
    """Per-(feature, z14-tile) expected command-stream CRC + wholly-in
    flag, re-derived from RAW packed coords through the clip/scale/delta
    kernels (NOT the streaming encoder). ``tol`` is the active
    Douglas-Peucker tolerance (0.0 = simplify inactive)."""
    from . import encode as E
    from .kernels import geompack, mercator as M

    def gen(batches):
        bb_cache: dict = {}
        for pdf in batches:
            rows = []
            for tx, ty, buf in zip(pdf["tile_x"], pdf["tile_y"], pdf["geom"]):
                key = (int(tx), int(ty))
                bb = bb_cache.get(key)
                if bb is None:
                    bb = M.TileBbox(key[0], key[1], 14)
                    bb_cache[key] = bb
                box = bb.clip_box
                _gk, payload = geompack.unpack(bytes(buf))
                if gt == 2:
                    cmds = E._line_to_cmds(payload, box, bb, tol)
                    rings = payload
                else:
                    cmds = E._polys_to_cmds(E._clip_polygon(payload, box), bb, tol)
                    rings = [r for poly in payload for r in poly]
                if cmds is None:
                    continue
                whole = True
                bxmin, bymin, bxmax, bymax = box
                for lo, la in rings:
                    xs = np.asarray(lo, dtype=np.float64) / 1e7
                    ys = np.asarray(la, dtype=np.float64) / 1e7
                    if not ((xs >= bxmin).all() and (xs <= bxmax).all()
                            and (ys >= bymin).all() and (ys <= bymax).all()):
                        whole = False
                        break
                crc = zlib.crc32(bytes([gt]) + cmds.tobytes())
                rows.append({"x": key[0], "y": key[1], "crc": crc,
                             "whole": whole})
            yield pd.DataFrame(rows, columns=["x", "y", "crc", "whole"])

    return assigned.select("tile_x", "tile_y", "geom").mapInPandas(
        gen, schema="x long, y long, crc long, whole boolean")


def _tile_bytes_query(spark: SparkSession, sf_dir: str, layers: tuple,
                      out_layers: tuple, gt: int) -> DataFrame:
    from . import pipeline

    docs = load_docs(spark, sf_dir)
    tiles = pipeline.pyramid_df(spark, docs, zooms=[14])
    wire = (tiles.where(F.col("z") == 14).select("x", "y", "tile")
            .mapInPandas(_wire_decoder(out_layers, gt), schema=_RESULT_SCHEMA))

    nodes, ways, rels = geocode.geocode(docs)
    feats = pipeline.build_features(nodes, ways, rels) \
        .where(F.col("layer").isin(*layers))
    assigned = tileassign.assign_base_tiles(feats, 14)
    exp = (_expected_stats(assigned, gt)
           .groupBy("x", "y")
           .agg(F.count(F.lit(1)).alias("n_em"),
                F.sum("crc").alias("e_hsum"),
                F.expr("bit_xor(crc)").alias("e_hxor"),
                F.expr("bool_and(whole)").alias("all_in")))

    j = wire.join(exp, ["x", "y"], "full")
    geom_ok = F.coalesce(
        (F.col("n_feats") == F.col("n_em"))
        & (F.col("hsum") == F.col("e_hsum"))
        & (F.col("hxor") == F.col("e_hxor")), F.lit(False))
    gate = F.coalesce(F.col("all_in"), F.lit(False))
    return j.select(
        "x", "y", "n_feats", "n_parts", "n_close",
        F.when(gate, F.col("n_pts")).otherwise(F.lit(-1)).alias("pts_in"),
        F.when(gate, F.col("sum_px")).otherwise(F.lit(-1)).alias("spx_in"),
        geom_ok.alias("geom_ok"))


def q_tile_bytes_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G16 LINESTRING arm + G8 clip structure, driver-visible."""
    return _tile_bytes_query(spark, sf_dir, LINE_LAYERS, LINE_LAYERS, 2)


def q_tile_bytes_polys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G16 POLYGON arm + G9 even-odd clip ring structure, driver-visible."""
    return _tile_bytes_query(spark, sf_dir, POLY_LAYERS, POLY_OUT_LAYERS, 3)


# ------------------------------------------------- ACTIVE simplify (G10)
# The tile_bytes_lines/polys rows run at z14 where the default config's
# simplify_below=13 makes tol = 0 — Douglas-Peucker never fires on a
# driver-green path. This query drives the REAL pipeline (classify ->
# assemble -> DDA assign -> streaming encode) with a config whose layer
# has simplify_below=15, so z14 encodes with an ACTIVE tolerance
# tol = simplify_level * ratio^((below-1)-z) = 0.0003 * 2^0
# (reference: src/tile_worker.cpp:167-176, src/write_geometry.cpp:23-28),
# over constructed "tent" probes whose DP outcome is closed-form:
#
#   v0=(x0, y0)  v1=(x0+4000, y0+amp)  v2=(x0+8000, y0)   (1e-7 deg units)
#
# DP keeps endpoints always and v1 iff its perpendicular distance to the
# v0-v2 chord — exactly amp, the chord being horizontal — exceeds tol.
# amp is doc-seeded to (h % 6)*1200 ∈ {0..6000}: never equal to
# tol=3000 and always ≥20% away from it, so float noise (~1e-11
# relative) can never flip a keep/drop. The oracle predicts surviving
# vertex counts and their pixel-x sums exactly: 3 (and px(v1) counted)
# iff amp > 3000, else 2.

SIMPLIFY_TOL_UNITS = 3000   # 0.0003 deg * 1e7 * ratio^((15-1)-14)

_SIMPLIFY_CFG_JSON = """{
  "layers": { "transportation": { "minzoom": 14, "maxzoom": 14,
              "simplify_below": 15, "simplify_level": 0.0003 } },
  "settings": { "basezoom": 14, "minzoom": 14, "maxzoom": 14,
                "compress": true, "combine": false, "name": "simplify_probe" }
}"""


def _empty_tags():
    return F.map_from_arrays(F.array().cast("array<string>"),
                             F.array().cast("array<string>"))


def _empty_rels(spark):
    return spark.createDataFrame(
        [], "rel_id long, outer_refs array<long>, inner_refs array<long>, "
            "tags map<string,string>, src string")


def _snap30k(df: DataFrame) -> DataFrame:
    """Append x0/y0 = the point 30000 fixed units inside tile (tx, ty)'s
    SW corner (tile edge = t*3515625//16 fixed units at z14) — the
    shared snapping arithmetic of every tile-snapped probe family."""
    ex = ((F.col("tx") * 3515625) / 16).cast("long")
    ey = (((F.col("ty") + 1) * 3515625) / 16).cast("long")
    return (df.withColumn("x0", (ex - 1800000000 + 30000).cast("int"))
              .withColumn("y0", (F.lit(1800000000) - ey + 30000).cast("int")))


def _run_probe_pipeline(spark, sf_dir, cfg, probe_fn, layer: str, kind: int):
    """Shared probe-row scaffold: stores -> build_features -> base-tile
    assign -> z14 rollup -> REAL streaming encode -> independent wire
    parse. Returns (assigned, wire) for the caller's oracle join."""
    from . import pipeline

    docs = load_docs(spark, sf_dir)
    nodes, ways, rels = probe_fn(docs)
    feats = pipeline.build_features(nodes, ways, rels).localCheckpoint()
    assigned = tileassign.assign_base_tiles(feats, 14)
    rolled = tileassign.rollup_to_zoom(assigned, 14, 14)
    tiles = pipeline.encode_zoom(rolled, cfg)
    wire = (tiles.select("x", "y", "tile")
            .mapInPandas(_wire_decoder((layer,), kind),
                         schema=_RESULT_SCHEMA))
    return assigned, wire


def _gated_verify(wire: DataFrame, assigned: DataFrame, kind: int,
                  tol: float, extra_cols: tuple) -> DataFrame:
    """Shared verification scaffold: kernel CRC re-derivation
    (_expected_stats) joined full-outer against the wire so missing or
    spurious tiles fail geom_ok; pts_in/spx_in gated to -1 on tiles
    whose features are not wholly inside (their exact values are not
    SQL-predictable there)."""
    exp = (_expected_stats(assigned, kind, tol=tol)
           .groupBy("x", "y")
           .agg(F.count(F.lit(1)).alias("n_em"),
                F.sum("crc").alias("e_hsum"),
                F.expr("bit_xor(crc)").alias("e_hxor"),
                F.expr("bool_and(whole)").alias("all_in")))
    j = wire.join(exp, ["x", "y"], "full")
    geom_ok = F.coalesce(
        (F.col("n_feats") == F.col("n_em"))
        & (F.col("hsum") == F.col("e_hsum"))
        & (F.col("hxor") == F.col("e_hxor")), F.lit(False))
    gate = F.coalesce(F.col("all_in"), F.lit(False))
    return j.select(
        "x", "y", *extra_cols,
        F.when(gate, F.col("n_pts")).otherwise(F.lit(-1)).alias("pts_in"),
        F.when(gate, F.col("sum_px")).otherwise(F.lit(-1)).alias("spx_in"),
        geom_ok.alias("geom_ok"))


def _probe_stores(docs: DataFrame):
    """Deterministic tent-probe stores (one 3-vertex line way per doc),
    shaped exactly like geocode's (nodes, ways, relations)."""
    d = geocode.doc_num_col(docs)
    base = docs.select(d.alias("d"), geocode._h(d).alias("h"))
    # latp0 keys off the h2 rehash (geocode's decorrelation trick) —
    # h//16 and h//32 are bit-correlated and would smear the probes
    # along one diagonal band of tiles
    h2 = geocode._h2(F.col("h"))
    pr = base.select(
        "d", "h",
        ((F.col("h") % 6) * 1200).alias("amp"),
        (F.lit(94710000) + ((F.col("h") / 16).cast("long") % 3200) * 500)
        .cast("int").alias("lon0"),
        (F.lit(534600000) + (h2 % 3200) * 500)
        .cast("int").alias("latp0"))
    empty_tags = _empty_tags()
    verts = pr.select("*", F.explode(F.sequence(F.lit(0), F.lit(2))).alias("j"))
    nodes = verts.select(
        (F.col("d") * 4 + F.col("j")).alias("node_id"),
        (F.col("lon0") + F.col("j") * 4000).cast("int").alias("lon"),
        (F.col("latp0")
         + F.when(F.col("j") == 1, F.col("amp")).otherwise(F.lit(0)))
        .cast("int").alias("latp"),
        empty_tags.alias("tags"),
        F.col("d").cast("string").alias("src"))
    hw = F.element_at(F.array(*[F.lit(v) for v in geocode.HIGHWAY_VALS]),
                      (F.col("h") % 4 + 1).cast("int"))
    ways = pr.select(
        F.col("d").alias("way_id"),
        F.array(F.col("d") * 4, F.col("d") * 4 + 1, F.col("d") * 4 + 2).alias("refs"),
        F.map_from_arrays(F.array(F.lit("highway")), F.array(hw)).alias("tags"),
        F.col("d").cast("string").alias("src"))
    return nodes, ways, _empty_rels(docs.sparkSession)


def q_tile_bytes_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G10 driver row: ACTIVE Douglas-Peucker inside the real encode
    path, verified from the wire bytes against a closed-form survival
    oracle (pts_in/spx_in) plus the kernel CRC re-derivation (geom_ok)."""
    from .config import Config

    cfg = Config.from_json(_SIMPLIFY_CFG_JSON)
    tol = cfg.layers["transportation"].simplify_tolerance(14, 0)
    assert tol > 0.0  # the whole point: simplify must be ACTIVE
    assigned, wire = _run_probe_pipeline(spark, sf_dir, cfg, _probe_stores,
                                         "transportation", 2)
    return _gated_verify(wire, assigned, 2, tol, ("n_feats",))


# Ring arm of active simplify (G10 on polygon rings, simplify_ring +
# the clip->winding->DP->ClosePath interplay). Probe: an axis-aligned
# 16000-unit square with one bump vertex amp off the middle of its
# right edge, SNAPPED 30000 units inside a hash-chosen z14 tile — every
# probe lies wholly inside one known tile, so the oracle is pure
# integer SQL (tile edge = tx*3515625//16 fixed units) with no DDA walk
# and no clipping ambiguity. DP on the winding-reversed closed ring
# keeps the four corners + closing vertex always and the bump iff
# amp > tol: with side 16000 > 2*amp_max the recursion's split points
# are amp-independent (verified numerically for all six amp classes
# with the real kernels; margins are >=20% so float noise cannot flip).
# Wire pts/feature = 5 (+1 if bump survives); ClosePath = 1/feature.

_SIMPLIFY_POLY_CFG_JSON = """{
  "layers": { "building": { "minzoom": 14, "maxzoom": 14,
              "simplify_below": 15, "simplify_level": 0.0003 } },
  "settings": { "basezoom": 14, "minzoom": 14, "maxzoom": 14,
                "compress": true, "combine": false, "name": "simplify_poly_probe" }
}"""

_SQ = 16000  # probe square side (fixed units)


def _probe_poly_stores(docs: DataFrame):
    """Tile-snapped bump-square polygon probes (one closed way per doc)."""
    d = geocode.doc_num_col(docs)
    base = docs.select(d.alias("d"), geocode._h(d).alias("h"))
    h2 = geocode._h2(F.col("h"))
    pr = _snap30k(base.select(
        "d",
        ((F.col("h") % 6) * 1200).alias("amp"),
        (F.lit(8600) + F.col("h") % 16).alias("tx"),
        (F.lit(5750) + h2 % 16).alias("ty"))).select("d", "amp", "x0", "y0")
    # vertices CCW: C0, C1, B(right-edge bump), C2, C3
    vx = [F.col("x0"), F.col("x0") + _SQ, F.col("x0") + _SQ + F.col("amp"),
          F.col("x0") + _SQ, F.col("x0")]
    vy = [F.col("y0"), F.col("y0"), F.col("y0") + _SQ // 2,
          F.col("y0") + _SQ, F.col("y0") + _SQ]
    empty_tags = _empty_tags()
    verts = pr.select("*", F.explode(F.sequence(F.lit(0), F.lit(4))).alias("j"))
    lon = F.element_at(F.array(*vx), F.col("j") + 1)
    lat = F.element_at(F.array(*vy), F.col("j") + 1)
    nodes = verts.select(
        (F.col("d") * 8 + F.col("j")).alias("node_id"),
        lon.cast("int").alias("lon"), lat.cast("int").alias("latp"),
        empty_tags.alias("tags"), F.col("d").cast("string").alias("src"))
    ways = pr.select(
        F.col("d").alias("way_id"),
        F.concat(F.transform(F.sequence(F.lit(0), F.lit(4)),
                             lambda j: F.col("d") * 8 + j),
                 F.array(F.col("d") * 8)).alias("refs"),
        F.map_from_arrays(F.array(F.lit("building")),
                          F.array(F.lit("yes"))).alias("tags"),
        F.col("d").cast("string").alias("src"))
    return nodes, ways, _empty_rels(docs.sparkSession)


def q_tile_bytes_simplify_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G10 RING arm driver row: active Douglas-Peucker on polygon rings
    inside the real encode path, wire-verified against the closed-form
    corner/bump survival oracle + kernel CRC re-derivation."""
    from .config import Config

    cfg = Config.from_json(_SIMPLIFY_POLY_CFG_JSON)
    tol = cfg.layers["building"].simplify_tolerance(14, 0)
    assert tol > 0.0
    assigned, wire = _run_probe_pipeline(spark, sf_dir, cfg,
                                         _probe_poly_stores, "building", 3)
    return _gated_verify(wire, assigned, 3, tol, ("n_feats", "n_close"))


# ------------------------------------- A5 combine x G10 simplify interplay
# The reference unions same-attribute geometries per tile and THEN
# simplifies the merged result (src/tile_worker.cpp:66-99 + 167-176,
# write_geometry.cpp:23-28) — the in-pipeline interplay VERDICT r4
# flagged as never driver-exercised. Probes: tent lines SNAPPED inside
# hash-chosen tiles, each tile's probes stacked at distinct y slots
# (row_number over the tile) so every tent has its own support lines —
# union_line_parts provably passes disjoint parts through unchanged —
# and ALL probes share one attribute set, so the combine branch merges
# each tile's tents into ONE feature whose parts then simplify
# independently. Per tile: n_feats = 1, MoveTo count = probe count,
# surviving vertices/pixel sums follow the same closed-form DP rule.

_COMBINE_CFG_JSON = _SIMPLIFY_CFG_JSON.replace('"combine": false',
                                               '"combine": true')


def _probe_combine_stores(docs: DataFrame):
    """Tile-snapped, y-slotted tent probes with IDENTICAL tags (one
    attr class per tile -> one A5 combine run)."""
    from pyspark.sql.window import Window

    d = geocode.doc_num_col(docs)
    base = docs.select(d.alias("d"), geocode._h(d).alias("h"))
    h2 = geocode._h2(F.col("h"))
    pr = base.select(
        "d",
        ((F.col("h") % 6) * 1200).alias("amp"),
        (F.lit(8600) + F.col("h") % 16).alias("tx"),
        (F.lit(5750) + h2 % 16).alias("ty"))
    w = Window.partitionBy("tx", "ty").orderBy("d")
    pr = pr.withColumn("rank", F.row_number().over(w) - 1)
    # Y-slot capacity: slots live at 30000 + rank*2500 (+ amp <= 6000)
    # inside a z14 tile 3515625/16 ~ 219726 units tall, so rank <= 73
    # stays inside. Cap at 64 (mirrored in _COMBINE_SQL) so the row
    # stays correct at corpora dense enough to overflow a tile's
    # slots (sf1-class: ~195 probes/tile) instead of silently leaking
    # probes into the tile above.
    pr = pr.where(F.col("rank") < 64)
    pr = _snap30k(pr).select(
        "d", "amp", "x0",
        (F.col("y0") + F.col("rank") * 2500).cast("int").alias("y0"))
    empty_tags = _empty_tags()
    verts = pr.select("*", F.explode(F.sequence(F.lit(0), F.lit(2))).alias("j"))
    nodes = verts.select(
        (F.col("d") * 4 + F.col("j")).alias("node_id"),
        (F.col("x0") + F.col("j") * 4000).cast("int").alias("lon"),
        (F.col("y0")
         + F.when(F.col("j") == 1, F.col("amp")).otherwise(F.lit(0)))
        .cast("int").alias("latp"),
        empty_tags.alias("tags"),
        F.col("d").cast("string").alias("src"))
    ways = pr.select(
        F.col("d").alias("way_id"),
        F.array(F.col("d") * 4, F.col("d") * 4 + 1, F.col("d") * 4 + 2).alias("refs"),
        F.map_from_arrays(F.array(F.lit("highway")),
                          F.array(F.lit("primary"))).alias("tags"),
        F.col("d").cast("string").alias("src"))
    return nodes, ways, _empty_rels(docs.sparkSession)


def q_tile_bytes_combine_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 combine + active G10 on the merged feature, wire-verified:
    one feature per tile, one MoveTo per merged tent, closed-form
    surviving vertex and pixel-x sums."""
    from .config import Config

    cfg = Config.from_json(_COMBINE_CFG_JSON)
    assert cfg.combine_similar
    _, wire = _run_probe_pipeline(spark, sf_dir, cfg,
                                  _probe_combine_stores, "transportation", 2)
    return wire.select("x", "y", "n_feats", "n_parts",
                       F.col("n_pts").alias("pts_in"),
                       F.col("sum_px").alias("spx_in"))


# ----------------------------------------------- G12 validity repair
# remove_spikes (duplicate-vertex drop + 180-degree spike removal to a
# fixpoint, reference boost geom::remove_spikes as applied on polygon
# ingest, src/read_shp.cpp:214-225) has only ever been pytest-golden
# verified. This row drives DEFECTIVE rings through the REAL pipeline
# (classify -> assemble -> assign -> streaming encode -> gzip wire) and
# predicts the repaired wire closed-form: probes are axis-aligned
# squares (side SQ in {12000, 16000, 20000}, doc-seeded) snapped 30000
# fixed units inside a hash-chosen z14 tile, with a doc-seeded defect:
#
#   cls 0  clean ring            C0 C1 C2 C3          (control: nothing
#                                                      may be removed)
#   cls 1  duplicate vertex      C0 C1 C1 C2 C3       (consecutive dup)
#   cls 2  spike                 C0 C1 C2 S1 C3       S1 = C2 + (4000, 0)
#          (top edge runs C2->C3 leftward; C2->S1 overshoots right,
#           S1->C3 doubles back over the same line: cross=0, dot<0)
#   cls 3  chained spikes        C0 C1 C2 S1 S2 C3    S2 = C2 + (2000, 0)
#          (removing S1 exposes S2 as a NEW spike — only the fixpoint
#           iteration repairs it)
#
# Every class must repair to the identical 4-corner square, emitted
# with the closing vertex explicit (same wire convention the
# tile_bytes_simplify_poly oracle pins): pts = 5 per feature and the
# pixel-x multiset {px(x0) x3 (open + close + C3), px(x0+SQ) x2} — a
# surviving defect vertex fails pts_in/spx_in; an over-eager repair (a
# dropped corner) fails them the other way. Simplify is INACTIVE (no
# simplify_below => tol 0) so the row isolates G12 from G10.

_SPIKE_CFG_JSON = """{
  "layers": { "building": { "minzoom": 14, "maxzoom": 14 } },
  "settings": { "basezoom": 14, "minzoom": 14, "maxzoom": 14,
                "compress": true, "combine": false, "name": "spike_probe" }
}"""


def _probe_spike_stores(docs: DataFrame):
    """Tile-snapped defective-square polygon probes (one closed way per
    doc; defect class and square side doc-seeded)."""
    d = geocode.doc_num_col(docs)
    base = docs.select(d.alias("d"), geocode._h(d).alias("h"))
    h2 = geocode._h2(F.col("h"))
    pr = _snap30k(base.select(
        "d",
        (F.col("h") % 4).alias("cls"),
        (F.lit(12000) + (h2 % 3) * 4000).alias("sq"),
        (F.lit(8500) + F.col("h") % 16).alias("tx"),
        (F.lit(5800) + h2 % 16).alias("ty"))).select("d", "cls", "sq", "x0", "y0")
    # vertex table j=0..5: four corners CCW + the two spike vertices on
    # the top edge (S1 overshoots C2 by 4000, S2 by 2000)
    vx = [F.col("x0"), F.col("x0") + F.col("sq"), F.col("x0") + F.col("sq"),
          F.col("x0"), F.col("x0") + F.col("sq") + 4000,
          F.col("x0") + F.col("sq") + 2000]
    vy = [F.col("y0"), F.col("y0"), F.col("y0") + F.col("sq"),
          F.col("y0") + F.col("sq"), F.col("y0") + F.col("sq"),
          F.col("y0") + F.col("sq")]
    empty_tags = _empty_tags()
    verts = pr.select("*", F.explode(F.sequence(F.lit(0), F.lit(5))).alias("j"))
    nodes = verts.select(
        (F.col("d") * 8 + F.col("j")).alias("node_id"),
        F.element_at(F.array(*vx), F.col("j") + 1).cast("int").alias("lon"),
        F.element_at(F.array(*vy), F.col("j") + 1).cast("int").alias("latp"),
        empty_tags.alias("tags"), F.col("d").cast("string").alias("src"))

    def _refs(js):
        return F.array(*([F.col("d") * 8 + F.lit(j) for j in js]
                         + [F.col("d") * 8]))

    refs = (F.when(F.col("cls") == 0, _refs([0, 1, 2, 3]))
            .when(F.col("cls") == 1, _refs([0, 1, 1, 2, 3]))
            .when(F.col("cls") == 2, _refs([0, 1, 2, 4, 3]))
            .otherwise(_refs([0, 1, 2, 4, 5, 3])))
    ways = pr.select(
        F.col("d").alias("way_id"), refs.alias("refs"),
        F.map_from_arrays(F.array(F.lit("building")),
                          F.array(F.lit("yes"))).alias("tags"),
        F.col("d").cast("string").alias("src"))
    return nodes, ways, _empty_rels(docs.sparkSession)


def q_tile_bytes_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G12 driver row: duplicate-vertex + (chained) spike repair inside
    the real encode path, wire-verified against the closed-form
    repaired-square oracle + kernel CRC re-derivation."""
    from .config import Config

    cfg = Config.from_json(_SPIKE_CFG_JSON)
    assert cfg.layers["building"].simplify_tolerance(14, 0) == 0.0
    assigned, wire = _run_probe_pipeline(spark, sf_dir, cfg,
                                         _probe_spike_stores, "building", 3)
    return _gated_verify(wire, assigned, 3, 0.0,
                         ("n_feats", "n_parts", "n_close"))


QUERIES = {
    "tile_bytes_lines": q_tile_bytes_lines,
    "tile_bytes_polys": q_tile_bytes_polys,
    "tile_bytes_simplify": q_tile_bytes_simplify,
    "tile_bytes_simplify_poly": q_tile_bytes_simplify_poly,
    "tile_bytes_combine_simplify": q_tile_bytes_combine_simplify,
    "tile_bytes_spikes": q_tile_bytes_spikes,
}


# ------------------------------------------------------------- oracle SQL
# Margin clip box as exact x128 fixed-point integers:
#   tile size  = 360e7/2^14 fixed units = 28125000/128
#   margin     = tile/200               =   140625/128  (0.5% each side)
#   180 deg    = 1.8e9 fixed units      = 230400000000/128
_BX1 = "(xx*28125000 - 230400000000 - 140625)"
_BX2 = "((xx+1)*28125000 - 230400000000 + 140625)"
_BY1 = "(230400000000 - (yy+1)*28125000 - 140625)"
_BY2 = "(230400000000 - yy*28125000 + 140625)"

# engine pixel-x formula, bit-exact (see tile_bytes_points oracle)
_PX = """CAST(trunc(
  (CAST({lon} AS DOUBLE)/10000000.0 - ((CAST({x} AS DOUBLE)/16384.0)*360.0 - 180.0))
  / (((((CAST({x} AS DOUBLE)+1.0)/16384.0)*360.0 - 180.0)
      - ((CAST({x} AS DOUBLE)/16384.0)*360.0 - 180.0)) / 4096.0)
) AS BIGINT)"""


def _dda_cand(src: str) -> str:
    """Candidate-tile CTE chain re-deriving the engine's segment walk
    (J5) with identical IEEE op order — the proven pyramid_tiles
    technique. ``src`` must provide (fid, i, al, ap, bl, bp)."""
    return f"""
segf AS (
  SELECT fid, i, al, ap, bl, bp,
    {_XF.format(v='al')} AS xf1, {_YF.format(v='ap')} AS yf1,
    {_XF.format(v='bl')} AS xf2, {_YF.format(v='bp')} AS yf2
  FROM {src}
),
segt AS (
  SELECT *, CAST(trunc(xf1) AS BIGINT) AS x1, CAST(trunc(yf1) AS BIGINT) AS y1,
            CAST(trunc(xf2) AS BIGINT) AS x2, CAST(trunc(yf2) AS BIGINT) AS y2
  FROM segf
),
cand AS (
  SELECT fid, x1 AS x, y1 AS y FROM segt
  UNION ALL SELECT fid, x2, y2 FROM segt
  UNION ALL
  SELECT fid, greatest(x1, x2),
    CAST(trunc(yf1 + (CAST(greatest(x1, x2) AS DOUBLE) - xf1) * ((yf2 - yf1) / (xf2 - xf1))) AS BIGINT)
  FROM segt WHERE x1 <> x2
  UNION ALL
  SELECT fid,
    CAST(trunc(xf1 + (CAST(greatest(y1, y2) AS DOUBLE) - yf1) * ((xf2 - xf1) / (yf2 - yf1))) AS BIGINT),
    greatest(y1, y2)
  FROM segt WHERE y1 <> y2
),
pairs AS (SELECT DISTINCT fid, x, y FROM cand)"""


_LINES_SQL = f"""
, lw AS (
  SELECT w.way_id AS fid, w.lons, w.latps
  FROM way_pts w JOIN lines l ON w.way_id = l.wid0
),
lsegs AS (
  SELECT fid, i, lons[i] AS al, latps[i] AS ap,
         lons[i+1] AS bl, latps[i+1] AS bp
  FROM (SELECT fid, lons, latps,
               unnest(range(1, CAST(len(lons) AS INT))) AS i FROM lw)
),
{_dda_cand('lsegs')},
-- Liang-Barsky part structure: exact x128-integer segment-vs-margin-box
-- separating-axis test; a part starts where a run of intersecting
-- segments begins (prev missing / not intersecting / exited the box)
lflag AS (
  SELECT p.fid, p.x, p.y, s.i,
    s.al*128 AS ax, s.ap*128 AS ay, s.bl*128 AS bx, s.bp*128 AS by,
    {_BX1.replace('xx', 'p.x')} AS cx1, {_BX2.replace('xx', 'p.x')} AS cx2,
    {_BY1.replace('yy', 'p.y')} AS cy1, {_BY2.replace('yy', 'p.y')} AS cy2
  FROM pairs p JOIN lsegs s USING (fid)
),
lint AS (
  SELECT fid, x, y, i,
    ( NOT ((ax < cx1 AND bx < cx1) OR (ax > cx2 AND bx > cx2)
        OR (ay < cy1 AND by < cy1) OR (ay > cy2 AND by > cy2))
      AND least(d1, d2, d3, d4) <= 0 AND greatest(d1, d2, d3, d4) >= 0
    ) AS isect,
    (bx BETWEEN cx1 AND cx2 AND by BETWEEN cy1 AND cy2) AS b_in
  FROM (
    SELECT *,
      (bx-ax)*(cy1-ay) - (by-ay)*(cx1-ax) AS d1,
      (bx-ax)*(cy2-ay) - (by-ay)*(cx1-ax) AS d2,
      (bx-ax)*(cy1-ay) - (by-ay)*(cx2-ax) AS d3,
      (bx-ax)*(cy2-ay) - (by-ay)*(cx2-ax) AS d4
    FROM lflag)
),
lparts AS (
  SELECT fid, x, y,
    sum(CASE WHEN isect AND (prev_i IS NULL OR NOT prev_i OR NOT prev_b)
             THEN 1 ELSE 0 END) AS parts
  FROM (SELECT *,
          lag(isect) OVER (PARTITION BY fid, x, y ORDER BY i) AS prev_i,
          lag(b_in) OVER (PARTITION BY fid, x, y ORDER BY i) AS prev_b
        FROM lint)
  GROUP BY 1, 2, 3
),
lvflag AS (
  SELECT p.fid, p.x, p.y,
    (v.lon*128 BETWEEN {_BX1.replace('xx', 'p.x')} AND {_BX2.replace('xx', 'p.x')}
     AND v.latp*128 BETWEEN {_BY1.replace('yy', 'p.y')} AND {_BY2.replace('yy', 'p.y')}) AS vin,
    {_PX.format(lon='v.lon', x='p.x')} AS pxv
  FROM pairs p JOIN (
    SELECT fid, lons[j] AS lon, latps[j] AS latp
    FROM (SELECT fid, lons, latps,
                 unnest(range(1, CAST(len(lons) AS INT) + 1)) AS j FROM lw)
  ) v USING (fid)
),
lpair2 AS (
  SELECT fid, x, y, bool_and(vin) AS whole_in,
         count(*) AS nv, sum(pxv) AS spx
  FROM lvflag GROUP BY 1, 2, 3
),
ltile AS (
  SELECT x, y, count(*) AS n_feats, sum(pr.parts) AS n_parts,
         bool_and(whole_in) AS all_in, sum(nv) AS pts, sum(spx) AS spx
  FROM lpair2 v JOIN lparts pr USING (fid, x, y)
  GROUP BY 1, 2
)
SELECT x, y, n_feats, CAST(n_parts AS BIGINT) AS n_parts,
  CAST(0 AS BIGINT) AS n_close,
  CAST(CASE WHEN all_in THEN pts ELSE -1 END AS BIGINT) AS pts_in,
  CAST(CASE WHEN all_in THEN spx ELSE -1 END AS BIGINT) AS spx_in,
  TRUE AS geom_ok
FROM ltile
"""


# Polygons: every synthetic polygon is an axis-aligned square (octagon
# offsets are {-1,0,1} x r) smaller than a z14 tile, so the ring walk
# covers every assigned tile (the scanline fill is a no-op at this
# scale) and hole/outer box tests are pure interval comparisons.
# Outer rings are winding-corrected (reversed) before packing, so walk
# segments swap endpoints (same convention as the pyramid oracle);
# hole rings stay in original order.
_POLYS_SQL = f"""
, pfeat AS (
  -- fid doubled+parity: way-poly and relation id spaces overlap
  -- (wid0 = d*8+k*2 vs rid = d*8+k); the engine separates them by elem
  SELECT wid0 * 2 AS fid, lon0, latp0, r, FALSE AS has_hole
  FROM polys WHERE h2 % 8 <> 0
  UNION ALL
  SELECT rid * 2 + 1, lon0, latp0, r, (h2 % 16 = 0)
  FROM polys WHERE h2 % 8 = 0
),
pring AS (
  SELECT fid, j,
    lon0 + dx[CAST(j % 8 + 1 AS INT)] * r AS vl,
    latp0 + dy[CAST(j % 8 + 1 AS INT)] * r AS vp
  FROM pfeat, oct, (SELECT unnest(range(9)) AS j) js
),
phring AS (
  SELECT fid, j,
    lon0 + dx[CAST(j % 8 + 1 AS INT)] * (r // 3) AS vl,
    latp0 + dy[CAST(j % 8 + 1 AS INT)] * (r // 3) AS vp
  FROM pfeat, oct, (SELECT unnest(range(9)) AS j) js
  WHERE has_hole
),
psegs AS (
  -- outer segments endpoint-swapped (packed rings are reversed to CW)
  SELECT a.fid, a.j AS i, b.vl AS al, b.vp AS ap, a.vl AS bl, a.vp AS bp
  FROM pring a JOIN pring b ON a.fid = b.fid AND b.j = a.j + 1
  UNION ALL
  SELECT a.fid, a.j + 16, a.vl, a.vp, b.vl, b.vp
  FROM phring a JOIN phring b ON a.fid = b.fid AND b.j = a.j + 1
),
{_dda_cand('psegs')},
pflags AS (
  SELECT p.fid, p.x, p.y, f.has_hole,
    ((f.lon0 - f.r)*128 >= {_BX1.replace('xx', 'p.x')}
     AND (f.lon0 + f.r)*128 <= {_BX2.replace('xx', 'p.x')}
     AND (f.latp0 - f.r)*128 >= {_BY1.replace('yy', 'p.y')}
     AND (f.latp0 + f.r)*128 <= {_BY2.replace('yy', 'p.y')}) AS outer_in,
    (f.has_hole
     AND (f.lon0 - f.r // 3)*128 >= {_BX1.replace('xx', 'p.x')}
     AND (f.lon0 + f.r // 3)*128 <= {_BX2.replace('xx', 'p.x')}
     AND (f.latp0 - f.r // 3)*128 >= {_BY1.replace('yy', 'p.y')}
     AND (f.latp0 + f.r // 3)*128 <= {_BY2.replace('yy', 'p.y')}) AS hole_in
  FROM pairs p JOIN pfeat f USING (fid)
),
ppx AS (
  SELECT p.fid, p.x, p.y,
    count(*) AS pts, sum({_PX.format(lon='v.vl', x='p.x')}) AS spx
  FROM pairs p JOIN (
    SELECT fid, vl FROM pring
    UNION ALL SELECT fid, vl FROM phring
  ) v USING (fid)
  GROUP BY 1, 2, 3
),
ptile AS (
  SELECT x, y, count(*) AS n_feats,
    sum(1 + CASE WHEN hole_in THEN 1 ELSE 0 END) AS n_rings,
    bool_and(outer_in) AS all_in,
    sum(pts) AS pts, sum(spx) AS spx
  FROM pflags JOIN ppx USING (fid, x, y)
  GROUP BY 1, 2
)
SELECT x, y, n_feats, CAST(n_rings AS BIGINT) AS n_parts,
  CAST(n_rings AS BIGINT) AS n_close,
  CAST(CASE WHEN all_in THEN pts ELSE -1 END AS BIGINT) AS pts_in,
  CAST(CASE WHEN all_in THEN spx ELSE -1 END AS BIGINT) AS spx_in,
  TRUE AS geom_ok
FROM ptile
"""


# Simplify-probe oracle: tent vertices + DDA candidate walk + margin-box
# gate, with the closed-form DP survival rule (keep v1 iff amp > tol).
_SIMPLIFY_SQL = f"""
WITH pr AS (
  SELECT doc_id AS d, {_H_SQL.format(d='doc_id')} AS h FROM documents
),
pp AS (
  SELECT d, (h % 6) * 1200 AS amp,
    94710000 + ((h // 16) % 3200) * 500 AS lon0,
    534600000 + ((((h // 64) * 2654435761 + 40503) % 4294967296) % 3200) * 500 AS latp0
  FROM pr
),
verts AS (
  SELECT d AS fid, amp, j,
    lon0 + j * 4000 AS vl,
    latp0 + CASE WHEN j = 1 THEN amp ELSE 0 END AS vp
  FROM pp, (SELECT unnest(range(3)) AS j) js
),
segsrc AS (
  SELECT a.fid, a.j AS i, a.vl AS al, a.vp AS ap, b.vl AS bl, b.vp AS bp
  FROM verts a JOIN verts b ON a.fid = b.fid AND b.j = a.j + 1
),
{_dda_cand('segsrc')},
vflag AS (
  SELECT p.fid, p.x, p.y,
    (v.vl*128 BETWEEN {_BX1.replace('xx', 'p.x')} AND {_BX2.replace('xx', 'p.x')}
     AND v.vp*128 BETWEEN {_BY1.replace('yy', 'p.y')} AND {_BY2.replace('yy', 'p.y')}) AS vin,
    CASE WHEN v.j = 1 AND v.amp <= {SIMPLIFY_TOL_UNITS} THEN 0 ELSE 1 END AS keep,
    {_PX.format(lon='v.vl', x='p.x')} AS pxv
  FROM pairs p JOIN verts v USING (fid)
),
perfeat AS (
  SELECT fid, x, y, bool_and(vin) AS whole_in,
    sum(keep) AS pts, sum(keep * pxv) AS spx
  FROM vflag GROUP BY 1, 2, 3
)
SELECT x, y, count(*) AS n_feats,
  CAST(CASE WHEN bool_and(whole_in) THEN sum(pts) ELSE -1 END AS BIGINT) AS pts_in,
  CAST(CASE WHEN bool_and(whole_in) THEN sum(spx) ELSE -1 END AS BIGINT) AS spx_in,
  TRUE AS geom_ok
FROM perfeat GROUP BY 1, 2
"""


# Ring-arm oracle: pure integer SQL (snapped probes — no DDA, no clip).
# Kept-vertex lon multiset per feature: {x0 x3 (C0 open+close, C3),
# x0+SQ x2 (C1, C2)} + bump lon iff amp > tol.
_SIMPLIFY_POLY_SQL = f"""
WITH pr AS (
  SELECT doc_id AS d, {_H_SQL.format(d='doc_id')} AS h FROM documents
),
p2 AS (
  SELECT d, h, ((h // 64) * 2654435761 + 40503) % 4294967296 AS h2 FROM pr
),
pp AS (
  SELECT d, (h % 6) * 1200 AS amp,
    8600 + h % 16 AS tx, 5750 + h2 % 16 AS ty
  FROM p2
),
geomp AS (
  SELECT d, amp, tx, ty,
    (tx * 3515625) // 16 - 1800000000 + 30000 AS x0
  FROM pp
)
SELECT tx AS x, ty AS y,
  count(*) AS n_feats,
  count(*) AS n_close,
  CAST(sum(5 + CASE WHEN amp > {SIMPLIFY_TOL_UNITS} THEN 1 ELSE 0 END) AS BIGINT) AS pts_in,
  CAST(sum(3 * {_PX.format(lon='x0', x='tx')}
      + 2 * {_PX.format(lon=f'(x0 + {_SQ})', x='tx')}
      + CASE WHEN amp > {SIMPLIFY_TOL_UNITS}
             THEN {_PX.format(lon=f'(x0 + {_SQ} + amp)', x='tx')}
             ELSE 0 END) AS BIGINT) AS spx_in,
  TRUE AS geom_ok
FROM geomp GROUP BY 1, 2
"""


# Combine-x-simplify oracle: pure integer SQL (snapped probes, y-slot
# from a window rank; one merged feature per tile). The rank < 64
# y-slot cap mirrors _probe_combine_stores (slots overflow the tile
# above rank 73 at sf1-class densities).
_COMBINE_SQL = f"""
WITH pr AS (
  SELECT doc_id AS d, {_H_SQL.format(d='doc_id')} AS h FROM documents
),
p2 AS (
  SELECT d, h, ((h // 64) * 2654435761 + 40503) % 4294967296 AS h2 FROM pr
),
pp AS (
  SELECT d, (h % 6) * 1200 AS amp,
    8600 + h % 16 AS tx, 5750 + h2 % 16 AS ty
  FROM p2
),
ppr AS (
  SELECT d, amp, tx, ty,
    ROW_NUMBER() OVER (PARTITION BY tx, ty ORDER BY d) - 1 AS rnk
  FROM pp
),
geomc AS (
  SELECT d, amp, tx, ty,
    (tx * 3515625) // 16 - 1800000000 + 30000 AS x0
  FROM ppr WHERE rnk < 64
)
SELECT tx AS x, ty AS y,
  CAST(1 AS BIGINT) AS n_feats,
  count(*) AS n_parts,
  CAST(sum(2 + CASE WHEN amp > {SIMPLIFY_TOL_UNITS} THEN 1 ELSE 0 END) AS BIGINT) AS pts_in,
  CAST(sum({_PX.format(lon='x0', x='tx')}
      + {_PX.format(lon='(x0 + 8000)', x='tx')}
      + CASE WHEN amp > {SIMPLIFY_TOL_UNITS}
             THEN {_PX.format(lon='(x0 + 4000)', x='tx')}
             ELSE 0 END) AS BIGINT) AS spx_in
FROM geomc GROUP BY 1, 2
"""


# G12 spike oracle: pure integer SQL (snapped probes). EVERY defect
# class must repair to the same 4-corner square, so the prediction is
# defect-independent by construction: 5 wire vertices per feature
# (closing vertex explicit, the convention the simplify_poly oracle
# pins) and the pixel-x multiset {px(x0) x3 (open + close + C3),
# px(x0+SQ) x2}. The defect classes
# only vary the INPUT; a repair failure (surviving spike/dup vertex, or
# an over-removed corner) shifts pts_in/spx_in and fails the hash.
_SPIKES_SQL = f"""
WITH pr AS (
  SELECT doc_id AS d, {_H_SQL.format(d='doc_id')} AS h FROM documents
),
p2 AS (
  SELECT d, h, ((h // 64) * 2654435761 + 40503) % 4294967296 AS h2 FROM pr
),
pp AS (
  SELECT d, 12000 + (h2 % 3) * 4000 AS sq,
    8500 + h % 16 AS tx, 5800 + h2 % 16 AS ty
  FROM p2
),
geoms AS (
  SELECT d, sq, tx, ty,
    (tx * 3515625) // 16 - 1800000000 + 30000 AS x0
  FROM pp
)
SELECT tx AS x, ty AS y,
  count(*) AS n_feats,
  count(*) AS n_parts,
  count(*) AS n_close,
  5 * count(*) AS pts_in,
  CAST(sum(3 * {_PX.format(lon='x0', x='tx')}
      + 2 * {_PX.format(lon='(x0 + sq)', x='tx')}) AS BIGINT) AS spx_in,
  TRUE AS geom_ok
FROM geoms GROUP BY 1, 2
"""


ORACLES = {
    "tile_bytes_lines": GEOCODE_CTE + _LINES_SQL,
    "tile_bytes_polys": GEOCODE_CTE + _POLYS_SQL,
    "tile_bytes_simplify": _SIMPLIFY_SQL,
    "tile_bytes_simplify_poly": _SIMPLIFY_POLY_SQL,
    "tile_bytes_combine_simplify": _COMBINE_SQL,
    "tile_bytes_spikes": _SPIKES_SQL,
}

"""End-to-end pyramid + extract-invariant + sink tests (Spark-level)."""

import gzip
import os
import re

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").where(F.col("doc_id") < 120)


@pytest.fixture(scope="module")
def tiles(spark, docs):
    from tilemaker_spark import pipeline

    return pipeline.pyramid_df(spark, docs, zooms=[14, 12, 6]).cache()


def test_extract_invariant(spark):
    """input_hint per-row invariant: extracted text byte-identical per
    url between the Catalyst extractor and the pure-Python reference."""
    from tilemaker_spark import extract, fixtures

    path = "/tmp/docs_html.parquet"
    fixtures.write_documents_parquet(path, 200)
    docs = spark.read.parquet(path)
    extracted = extract.with_extracted_text(docs.drop("text"))
    rows = extracted.select("url", "html", "text").collect()
    assert len(rows) == 200
    for r in rows:
        assert r["text"] == extract.extract_text_py(bytes(r["html"])), r["url"]
    # and equals the golden column the fixture wrote
    golden = {r["url"]: r["text"] for r in docs.select("url", "text").collect()}
    for r in rows:
        assert r["text"] == golden[r["url"]]


def test_pyramid_structure(tiles):
    rows = tiles.collect()
    assert len(rows) > 0
    zs = {r["z"] for r in rows}
    assert zs == {14, 12, 6}
    for r in rows:
        assert 0 <= r["x"] < (1 << r["z"])
        assert 0 <= r["y"] < (1 << r["z"])
        assert r["feature_count"] >= 0
        assert len(bytes(r["tile"])) >= 0


def test_pyramid_rollup_consistency(tiles):
    """Every z14 tile's parent at z12/z6 exists (A2/A3 semantics)."""
    rows = tiles.collect()
    by_z = {}
    for r in rows:
        by_z.setdefault(r["z"], set()).add((r["x"], r["y"]))
    for x, y in by_z[14]:
        assert (x >> 2, y >> 2) in by_z[12]
        assert (x >> 8, y >> 8) in by_z[6]


def test_rollup_dedup_is_attribute_aware(spark):
    """U3 identity parity: the reference's OutputObject equality keys on
    (layer, geomType, ATTRIBUTES, objectID) (src/output_object.cpp:142-148),
    so two emissions of one object to the same layer with DIFFERENT
    attrs are distinct objects and must both survive the rollup dedup,
    while true duplicates (same attrs, many base cells -> one parent
    tile) still collapse. Also pins the injective length-prefixed `_ak`
    framing: a crafted attr VALUE that would alias a two-entry map
    under plain-separator framing must stay a distinct identity."""
    from tilemaker_spark import tileassign

    # old plain-separator framing rendered {"a":"x","b":"y"} as
    # "a<RS>s<GS>x<FS>b<RS>s<GS>y" — the single-entry map below embeds
    # exactly that tail in its value, so without length prefixes the
    # two keys collide and dedup would silently drop one feature
    alias = {"a": "x\x1fb\x1es\x1dy"}
    two = {"a": "x", "b": "y"}
    rows = [
        # same identity, different string attrs: BOTH must survive
        (100, 200, "place", 1, "node", 7, {"name": "a"}, {}, {}),
        (100, 200, "place", 1, "node", 7, {"name": "b"}, {}, {}),
        # same attrs on two base cells under one z12 parent: collapse
        (100, 200, "water", 3, "way", 8, {}, {"area": 1.5}, {}),
        (101, 201, "water", 3, "way", 8, {}, {"area": 1.5}, {}),
        # numeric attr differs: both survive
        (100, 200, "water", 3, "way", 9, {}, {"area": 1.5}, {}),
        (100, 200, "water", 3, "way", 9, {}, {"area": 2.5}, {}),
        # the would-be alias pair: both survive (injective framing)
        (100, 200, "poi", 1, "node", 10, alias, {}, {}),
        (100, 200, "poi", 1, "node", 10, two, {}, {}),
    ]
    df = spark.createDataFrame(
        rows, "tile_x INT, tile_y INT, layer STRING, kind INT, elem STRING, "
              "object_id LONG, attrs MAP<STRING,STRING>, "
              "attrs_num MAP<STRING,DOUBLE>, attrs_bool MAP<STRING,BOOLEAN>")
    out = tileassign.rollup_to_zoom(df, 12, 14).collect()
    per_obj = {}
    for r in out:
        per_obj[r["object_id"]] = per_obj.get(r["object_id"], 0) + 1
    assert per_obj == {7: 2, 8: 1, 9: 2, 10: 2}
    assert "_akd" not in out[0].asDict()


def test_tiles_gzip_mvt(tiles):
    """Tiles decompress and parse as MVT protobuf (independent parser)."""
    r = tiles.where((F.col("z") == 14) & (F.col("feature_count") > 0)).first()
    assert r is not None
    raw = gzip.decompress(bytes(r["tile"]))

    def varint(buf, i):
        out = 0
        shift = 0
        while True:
            b = buf[i]
            i += 1
            out |= (b & 0x7F) << shift
            shift += 7
            if not b & 0x80:
                return out, i

    i = 0
    layers = 0
    while i < len(raw):
        key, i = varint(raw, i)
        assert key >> 3 == 3 and key & 7 == 2  # Tile.layers, len-delim
        ln, i = varint(raw, i)
        i += ln
        layers += 1
    assert layers >= 1


def test_run_pyramid_resume(spark, docs, tmp_path):
    from tilemaker_spark import pipeline

    out = str(tmp_path / "pyr")
    t1 = pipeline.run_pyramid(spark, docs, out, zooms=[14, 13])
    n1 = t1.count()
    assert n1 > 0
    # resumability: a re-run must reuse completed stages (no recompute)
    feat_mtime = os.path.getmtime(os.path.join(out, "stage_features", "_SUCCESS"))
    t2 = pipeline.run_pyramid(spark, docs, out, zooms=[14, 13])
    assert t2.count() == n1
    assert os.path.getmtime(os.path.join(out, "stage_features", "_SUCCESS")) == feat_mtime
    # lineage metrics written (north_rule)
    lin = os.path.join(out, "_lineage")
    assert os.path.exists(os.path.join(lin, "metrics_features.json"))
    assert os.path.exists(os.path.join(lin, "metrics_tiles.json"))

    # snapshot chain (north_rule, Iceberg-style provenance): ids are
    # monotonic, parent pointers link, and the resumed re-run appended
    # NOTHING — reused stages create no new snapshots
    import json

    snaps = [json.loads(l) for l in
             open(os.path.join(lin, "snapshots.jsonl")) if l.strip()]
    assert [s["snapshot_id"] for s in snaps] == list(range(len(snaps)))
    assert snaps[0]["parent_id"] is None
    for prev, cur in zip(snaps, snaps[1:]):
        assert cur["parent_id"] == prev["snapshot_id"]
    assert {s["stage"] for s in snaps} == {"features", "base_tiles", "tiles"}
    assert len(snaps) == 3  # second (resumed) run recomputed nothing
    metrics = json.load(open(os.path.join(lin, "metrics_tiles.json")))
    assert metrics["snapshot_id"] == snaps[-1]["snapshot_id"]


def test_run_pyramid_per_zoom_stages(spark, docs, tmp_path):
    """per_zoom_stages=True walks the same stage graph with one tile
    stage per zoom: it reuses the fused run's upstream checkpoints, gives
    the fused path's rows, and a resume after losing one zoom's
    checkpoint rewrites only that zoom's directory."""
    import json
    import shutil

    from tilemaker_spark import pipeline

    zooms = [14, 12, 6]
    cols = ["z", "x", "y", "tile", "feature_count", "geometry_hash", "raw_bytes"]

    def rows(df):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    out = str(tmp_path / "pyr")
    fused = rows(pipeline.run_pyramid(spark, docs, out, zooms=zooms))
    per_zoom = rows(pipeline.run_pyramid(spark, docs, out, zooms=zooms,
                                         per_zoom_stages=True))
    assert len(fused) > 100
    assert per_zoom == fused

    lin = os.path.join(out, "_lineage")
    snap_path = os.path.join(lin, "snapshots.jsonl")
    snaps = [json.loads(l) for l in open(snap_path) if l.strip()]
    assert [s["stage"] for s in snaps] == [
        "features", "base_tiles", "tiles", "tiles_z14", "tiles_z12", "tiles_z6"]
    for z in zooms:
        assert os.path.exists(os.path.join(lin, f"metrics_tiles_z{z}.json"))

    stage_dirs = sorted(d for d in os.listdir(out) if d.startswith("stage_"))
    mtimes = {d: os.path.getmtime(os.path.join(out, d, "_SUCCESS")) for d in stage_dirs}
    shutil.rmtree(os.path.join(out, "stage_tiles_z12"))
    resumed = rows(pipeline.run_pyramid(spark, docs, out, zooms=zooms,
                                        per_zoom_stages=True))
    assert resumed == fused
    rewritten = [d for d in stage_dirs
                 if os.path.getmtime(os.path.join(out, d, "_SUCCESS")) != mtimes[d]]
    assert rewritten == ["stage_tiles_z12"]
    after = [json.loads(l) for l in open(snap_path) if l.strip()]
    assert after[:-1] == snaps
    assert after[-1]["stage"] == "tiles_z12"
    assert after[-1]["parent_id"] == snaps[-1]["snapshot_id"]


def test_mbtiles_sink(spark, tiles, tmp_path):
    import sqlite3

    from tilemaker_spark import pipeline

    path = str(tmp_path / "out.mbtiles")
    pipeline.write_mbtiles(tiles, path)
    con = sqlite3.connect(path)
    n = con.execute("SELECT count(*) FROM tiles").fetchone()[0]
    assert n == tiles.count()
    # TMS y-flip (reference: src/mbtiles.cpp:29)
    z, x, y = tiles.select("z", "x", "y").first()
    flipped = (1 << z) - 1 - y
    got = con.execute(
        "SELECT count(*) FROM tiles WHERE zoom_level=? AND tile_column=? AND tile_row=?",
        (z, x, flipped)).fetchone()[0]
    assert got == 1
    meta = dict(con.execute("SELECT name, value FROM metadata").fetchall())
    assert meta["format"] == "pbf"
    con.close()


def test_file_sink(spark, tiles, tmp_path):
    from tilemaker_spark import pipeline

    out = str(tmp_path / "files")
    pipeline.write_tile_files(tiles, out)
    r = tiles.first()
    p = os.path.join(out, str(r["z"]), str(r["x"]), f"{r['y']}.pbf")
    assert os.path.exists(p)
    assert open(p, "rb").read() == bytes(r["tile"])


def test_media_decode_real_seam():
    """Optional-dependency media decode (VERDICT r2 #10): runs the real
    Pillow path where codecs exist, clean NotImplementedError skip here."""
    import pytest

    from tilemaker_spark import media

    # BMP arm: pure struct parse, real in ANY container — pixel sum of
    # the deterministic fixture is closed-form
    bmp = media.encode_bmp(8, 3, seed=5)
    kind, w, h, nf, psum = media.decode_real(bmp)
    assert (kind, w, h, nf) == ("image", 8, 3, 1)
    assert psum == sum((5 + i) % 256 for i in range(8 * 3 * 3))

    # padded-width BMP: padding bytes must not contaminate the sum
    bmp3 = media.encode_bmp(3, 2, seed=0)
    _, w3, h3, _, psum3 = media.decode_real(bmp3)
    assert (w3, h3) == (3, 2)
    assert psum3 == sum(i % 256 for i in range(3 * 2 * 3))

    # PPM arm
    ppm = b"P6\n8 3\n255\n" + bytes((i * 7 + 1) % 256 for i in range(72))
    kind, w, h, nf, psum = media.decode_real(ppm)
    assert (kind, w, h, nf) == ("image", 8, 3, 1)
    assert psum == sum((i * 7 + 1) % 256 for i in range(72))

    # PNG arm: native (pure zlib+numpy) — decodes regardless of PIL.
    # minimal 1x1 PNG (third-party bytes, not our encoder's output)
    import base64
    png = base64.b64decode(
        b"iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR4nGNgYGBg"
        b"AAAABQABXvMqOgAAAABJRU5ErkJggg==")
    kind, w, h, nf, cs = media.decode_real(png)
    assert (kind, w, h, nf) == ("image", 1, 1, 1)

    # baseline JPEG is decoded natively now; a truncated/garbage JPEG is
    # a parse error (ValueError), not a missing-codec condition
    with pytest.raises(ValueError):
        media.decode_real(b"\xff\xd8\xff\xe0" + b"\x00" * 16)
    if not media.HAVE_CODECS:
        # only codec-owned formats (progressive JPEG, ...) remain behind
        # the PIL seam: SOF2 frame header -> NotImplementedError
        with pytest.raises(NotImplementedError):
            media.decode_real(b"\xff\xd8\xff\xc2\x00\x08" + b"\x00" * 6)


def test_stream_group_exchanges_pinned(spark, docs):
    """Group-carrying repartitions must be REPARTITION_BY_NUM.

    An unpinned repartition(col) feeding repartition+sort+mapInPandas is
    AQE-rewritable (local shuffle read) because mapInPandas declares no
    required distribution — measured at x64 scale this split 75% of
    relation groups into partial half-ring features, making tile bytes
    parallelism-dependent. Pinned counts are user-specified and AQE
    never rewrites them.
    """
    from tilemaker_spark import geocode, classify, assemble, pipeline
    from tilemaker_spark.config import default_config
    from tilemaker_spark.encode import encode_zoom
    from tilemaker_spark import tileassign

    nodes, ways, relations = geocode.geocode(docs)
    rel_feats = classify.classify_relations(relations)
    way_coords = assemble.ways_with_coords(ways, nodes)
    rf = assemble.assemble_relation_geometries(rel_feats, relations, way_coords)
    plan = rf._jdf.queryExecution().executedPlan().toString()
    # specific, not vacuous: THE rel_id group-carrying exchange itself
    # must be the pinned one (any other pinned exchange elsewhere in the
    # plan must not satisfy this), and no unpinned by-column repartition
    # may exist anywhere upstream of the grouped stage
    assert re.search(r"REPARTITION_BY_NUM[^\n]*hashpartitioning\(rel_id#\d+", plan) or \
        re.search(r"hashpartitioning\(rel_id#\d+[^\n]*REPARTITION_BY_NUM", plan), plan[:3000]
    assert "REPARTITION_BY_COL" not in plan, plan[:3000]
    # no relation may assemble as two partial features
    dups = rf.groupBy("object_id", "layer").count().where("count > 1").count()
    assert dups == 0

    features = pipeline.build_features(nodes, ways, relations)
    assigned = tileassign.assign_base_tiles(features, 14)
    rolled = tileassign.rollup_all_zooms(assigned, [14, 12], 14)
    tiles = encode_zoom(rolled, default_config())
    eplan = tiles._jdf.queryExecution().executedPlan().toString()
    # the encode exchange specifically must be pinned: match the
    # (z, x, y) hash partitioning with REPARTITION_BY_NUM on
    # the same line, and forbid any unpinned by-column repartition
    # anywhere in the plan (either would reintroduce AQE group splits)
    assert re.search(r"REPARTITION_BY_NUM.*hashpartitioning\(z#\d+", eplan) or \
        re.search(r"hashpartitioning\(z#\d+[^\n]*REPARTITION_BY_NUM", eplan), eplan[:3000]
    assert "REPARTITION_BY_COL" not in eplan, eplan[:3000]


def test_pyramid_plan_single_encode_pass(spark):
    """The lazy pyramid builds each tile in the one encoder: the
    tile-cover UDF runs once (no second branch re-derives the tile
    coord set for a join), and no Python UDF runs above the MapInPandas
    encoder (layer assembly, framing and gzip happen inside it)."""
    from tilemaker_spark import pipeline

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    tiles = pipeline.pyramid_df(spark, docs)
    plan = tiles._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython [cover(") == 1, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert plan.count("MapInPandas") == 1, plan[:3000]
    assert "ArrowEvalPython" not in plan[:plan.index("MapInPandas")], plan[:3000]


def test_bounding_box_coord_parity(spark, docs):
    """F7 over the emitted COORD set: with a bounding_box whose edges
    sit exactly on z14 tile boundaries, encode_zoom must emit exactly
    the tiles whose scalar TileBbox STRICTLY overlaps the box (tiles
    merely touching the edge are excluded), at every zoom — empty
    tiles included, all by the scalar TileBbox float path."""
    from tilemaker_spark import pipeline, tileassign
    from tilemaker_spark import geocode
    from tilemaker_spark.config import default_config
    from tilemaker_spark.encode import encode_zoom
    from tilemaker_spark.kernels import mercator as M

    features = pipeline.build_features(*geocode.geocode(docs))
    assigned = tileassign.assign_base_tiles(features, 14)
    rolled = tileassign.rollup_all_zooms(assigned, [14, 12, 6], 14)

    base = {(r["z"], r["x"], r["y"]) for r in
            encode_zoom(rolled, default_config())
            .select("z", "x", "y").collect()}
    xs14 = sorted(x for z, x, y in base if z == 14)
    ys14 = sorted(y for z, x, y in base if z == 14)
    assert len(xs14) >= 4, "fixture too small for a cutting bbox"
    # bbox edges EXACTLY on tile boundaries: the interquartile tile
    # range in x, full-ish range in y (y bounds via latitude)
    x_lo, x_hi = xs14[len(xs14) // 4], xs14[3 * len(xs14) // 4]
    y_lo, y_hi = ys14[len(ys14) // 4], ys14[3 * len(ys14) // 4]
    mnl = float(M.tilex2lon(x_lo, 14))
    mxl = float(M.tilex2lon(x_hi + 1, 14))
    mxla = float(M.tiley2lat(y_lo, 14))      # top edge of tile y_lo
    mnla = float(M.tiley2lat(y_hi + 1, 14))  # bottom edge of tile y_hi

    cfg = default_config()
    cfg.bounding_box = [mnl, mnla, mxl, mxla]
    got = {(r["z"], r["x"], r["y"]) for r in
           encode_zoom(rolled, cfg).select("z", "x", "y").collect()}

    exp = set()
    for z, x, y in base:
        bb = M.TileBbox(int(x), int(y), int(z))
        if not (mxl <= bb.min_lon or mnl >= bb.max_lon
                or mxla <= bb.min_lat or mnla >= bb.max_lat):
            exp.add((z, x, y))
    assert got == exp
    assert got < base                       # the box genuinely cuts
    # touching-only neighbours on the exact boundary are excluded
    assert all(x_lo <= x <= x_hi for z, x, y in got if z == 14)


def test_geocode_hash_overflow(spark):
    """Planetary-id regression (commit a0a1359): geocode._h must equal
    (d*MUL) % 2^32 across the int64-overflow boundary d >= 2^63/MUL
    ≈ 3.47e9 (ANSI mode aborts the naive product there), and the DuckDB
    oracle's _H_SQL mirror must agree at the same ids."""
    import duckdb

    from tilemaker_spark import geocode
    from tilemaker_spark.queries_core import _H_SQL

    ids = [0, 1, 12345, 3_400_000_000, 3_470_000_000, 5_100_000_000,
           2 ** 40 + 13, 2 ** 62, 2 ** 63 - 1]
    want = {d: (d * geocode.MUL) % 2 ** 32 for d in ids}

    df = spark.createDataFrame([(d,) for d in ids], "doc_id long")
    got = {r["d"]: r["h"] for r in df.select(
        F.col("doc_id").alias("d"),
        geocode._h(F.col("doc_id")).alias("h")).collect()}
    assert got == want

    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(d,) for d in ids])
    rows = con.execute(
        f"SELECT doc_id, {_H_SQL.format(d='doc_id')} FROM t").fetchall()
    assert {d: h for d, h in rows} == want


def test_plan_input_bytes_sees_cached_size(spark):
    """Cache-substitution regression: plan_input_bytes must size a
    .cache()d input by its MATERIALIZED bytes (InMemoryRelation stats),
    not the raw source files under it. The bare analyzed plan predates
    the cache manager's substitution, so a x64-replicated-then-cached
    corpus would read as its 594 KB parquet and wrongly flip the
    scale-mode heuristic to small-input (scripts/scaling_bench.py is
    exactly this shape)."""
    from tilemaker_spark.session import plan_input_bytes

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    raw = plan_input_bytes(docs)
    assert raw is not None and raw > 0

    big = (docs.withColumn("_rep", F.explode(F.sequence(F.lit(0), F.lit(63))))
               .drop("_rep").cache())
    try:
        big.count()
        cached = plan_input_bytes(big)
        # materialized x64 replication must dominate the raw file size
        assert cached is not None and cached > 8 * raw
    finally:
        big.unpersist()


def test_png_decode_roundtrip_and_thirdparty():
    """PNG arm: decode(encode) matches the closed-form pixel sum across
    sizes/seeds (all five filter types exercised when h >= 5), and
    genuine third-party PNGs (not produced by our writer) parse with
    sane dimensions; palette/unsupported depths fail loudly."""
    from tilemaker_spark import media

    def closed(seed, nb):
        f = lambda m: 32640 * (m // 256) + (m % 256) * ((m % 256) - 1) // 2
        return f(seed + nb) - f(seed)

    for w in (1, 3, 13, 16):
        for h in (1, 5, 12):
            for seed in (0, 77, 255):
                got = media.decode_png(media.encode_png(w, h, seed))
                assert got == (w, h, closed(seed, w * h * 3))

    thirdparty = {
        "/usr/share/doc/python3/_static/file.png": (16, 16),
        "/usr/share/doc/python3/_static/minus.png": (11, 11),
        "/usr/share/doc/python3/_static/plus.png": (11, 11),
        "/usr/share/gitweb/static/git-logo.png": (72, 27),  # palette
    }
    seen = 0
    for path, (w, h) in thirdparty.items():
        if not os.path.exists(path):
            continue
        gw, gh, psum = media.decode_png(open(path, "rb").read())
        assert (gw, gh) == (w, h), path
        assert psum > 0, path
        seen += 1
    assert seen >= 1  # container ships at least the python docs statics

    with pytest.raises(ValueError):
        media.decode_png(b"nope")


def test_jpeg_decode_roundtrip_and_thirdparty():
    """Baseline-JPEG arm (from-scratch T.81 decoder): DC-only fixtures
    decode EXACTLY to an in-test closed form across sizes/seeds
    (including non-MCU-aligned dims, so edge-block cropping is
    exercised); genuine third-party baseline JPEGs parse — grayscale,
    4:2:0 subsampled, and 4:4:4 with DRI restart intervals; progressive
    is rejected with NotImplementedError."""
    import glob
    import struct

    from tilemaker_spark import media
    from tilemaker_spark.kernels import jpeg

    for w, h in ((8, 8), (16, 16), (9, 9), (17, 23), (33, 9), (24, 40)):
        for seed in (0, 123, 255):
            gw, gh, psum = jpeg.decode_jpeg(jpeg.encode_dc_jpeg(w, h, seed))
            want = 3 * sum(
                min(8, w - 8 * bx) * min(8, h - 8 * by)
                * ((seed + 17 * bx + 29 * by) % 256)
                for bx in range((w + 7) // 8) for by in range((h + 7) // 8))
            assert (gw, gh, psum) == (w, h, want)

    # the decode_real dispatcher routes JPEG magic into the native arm
    kind, w, h, nf, psum = media.decode_real(jpeg.encode_dc_jpeg(16, 16, 7))
    assert (kind, w, h, nf) == ("image", 16, 16, 1)

    # third-party files (not produced by our writer), when the container
    # ships them: CPython test data (4:2:0, with/without APP0 wrapper),
    # IPython (grayscale single-component), Rust embedded-book
    # (720x477 4:4:4 with DRI=90 restart markers).
    seen = 0
    py_sums = set()
    for path in glob.glob("/root/.pyenv/versions/*/lib/python*/test/"
                          "imghdrdata/python*.jpg"):
        gw, gh, psum = jpeg.decode_jpeg(open(path, "rb").read())
        assert (gw, gh) == (16, 16), path
        assert psum > 0
        py_sums.add(psum)
        seen += 1
    # python.jpg and python-raw.jpg differ only in the APP0 wrapper —
    # identical scan data must decode to the identical pixel sum
    if seen >= 2:
        assert len(py_sums) == 1, py_sums
    for path in glob.glob("/root/.pyenv/versions/*/lib/python*/"
                          "site-packages/IPython/core/tests/2x2.jpg"):
        gw, gh, psum = jpeg.decode_jpeg(open(path, "rb").read())
        assert (gw, gh) == (2, 2), path
        seen += 1
    for path in glob.glob("/root/.rustup/toolchains/*/share/doc/rust/html/"
                          "embedded-book/assets/verify.jpeg")[:1]:
        gw, gh, psum = jpeg.decode_jpeg(open(path, "rb").read())
        assert (gw, gh) == (720, 477), path
        assert 0 < psum < 720 * 477 * 3 * 255
        seen += 1
    assert seen >= 1  # the container ships at least the CPython fixtures

    for path in glob.glob("/root/.rustup/toolchains/*/share/doc/rust/html/"
                          "embedded-book/assets/f3.jpg")[:1]:
        with pytest.raises(NotImplementedError):
            jpeg.decode_jpeg(open(path, "rb").read())  # progressive

    # non-interleaved multi-scan baseline (SOF declares 3 components but
    # the first SOS selects only 1) must be rejected loudly, not decoded
    # as if the single scan held the whole image
    sof = bytes([8]) + struct.pack(">HH", 8, 8) + bytes(
        [3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1])
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    stream = (b"\xff\xd8"
              + b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
              + b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos)
    with pytest.raises(NotImplementedError, match="non-interleaved"):
        jpeg.decode_jpeg(stream)

    with pytest.raises(ValueError):
        jpeg.decode_jpeg(b"nope")

    # parse-error contract: TRUNCATED input (mid-header, mid-segment,
    # mid-scan) must surface as ValueError, never a raw IndexError /
    # struct.error out of the bit reader or unpack_from
    buf = jpeg.encode_dc_jpeg(32, 24, 7)
    for cut in (5, 30, len(buf) // 2):
        with pytest.raises(ValueError):
            jpeg.decode_jpeg(buf[:cut])


def test_f8_zoom_filter_cuts_rows(spark):
    """F8 non-vacuity guard: the per-layer zoom-range filter must
    actually remove rows at the f8_zoom_filter zoom list (a 0-cut
    filter would make the driver row trivially green), and the cut must
    match the reference semantics concretely: at z4 only `place`
    survives (poi minzoom 12 cuts the other node layer), at z12 poi is
    back, building only appears at z >= 13."""
    from tilemaker_spark import geocode, pipeline, tileassign
    from tilemaker_spark.config import default_config
    from tilemaker_spark.encode import zoom_range_predicate
    from tilemaker_spark.queries_core import F8_ZOOMS, load_docs

    docs = load_docs(spark, SF_DIR)
    nodes, ways, rels = geocode.geocode(docs)
    feats = pipeline.build_features(nodes, ways, rels).localCheckpoint()
    assigned = tileassign.assign_base_tiles(feats, 14)
    rolled = tileassign.rollup_all_zooms(assigned, F8_ZOOMS, 14).localCheckpoint()
    kept = rolled.where(zoom_range_predicate(default_config()))
    n_before, n_after = rolled.count(), kept.count()
    assert n_after < n_before, (n_before, n_after)
    by_z = {int(r["z"]): set(r["layers"])
            for r in kept.groupBy("z")
                         .agg(F.collect_set("layer").alias("layers")).collect()}
    assert by_z[4] == {"place"}
    assert "poi" in by_z[12] and "poi" not in by_z[8]
    assert "building" in by_z[13] and "building" not in by_z[12]


def test_f8_sentinel_pushdown_byte_identical(spark):
    """The F8 sentinel pushdown (rollup collapses out-of-zoom-range
    rows to one coord-preserving sentinel per (tile, layer) BELOW the
    dedup exchange) must be invisible downstream: the full encoded
    pyramid — tile set, bytes, counts, hashes — is identical with and
    without it, including the empty tiles whose only features are
    out-of-range (reference parity: tile_worker.cpp:166 skips the layer
    at write time but the tile still comes from the index,
    tile_data.cpp:163-170)."""
    import hashlib

    from tilemaker_spark import geocode, pipeline, tileassign
    from tilemaker_spark.config import default_config
    from tilemaker_spark.encode import encode_zoom
    from tilemaker_spark.queries_core import load_docs

    cfg = default_config()
    zooms = [0, 4, 8, 12, 13, 14]   # crosses every layer minzoom threshold
    docs = load_docs(spark, SF_DIR)
    nodes, ways, rels = geocode.geocode(docs)
    feats = pipeline.build_features(nodes, ways, rels).localCheckpoint()
    assigned = tileassign.assign_base_tiles(feats, 14).localCheckpoint()

    def snap(cfg_arg):
        rolled = tileassign.rollup_all_zooms(assigned, zooms, 14, cfg=cfg_arg)
        return sorted(
            (r["z"], r["x"], r["y"],
             hashlib.sha256(bytes(r["tile"])).hexdigest(),
             r["feature_count"], r["geometry_hash"], r["raw_bytes"])
            for r in encode_zoom(rolled, cfg).collect())

    base, pushed = snap(None), snap(cfg)
    assert len(base) > 0 and base == pushed
    # and the pushdown is non-vacuous: the exchange row count shrinks
    n_base = tileassign.rollup_all_zooms(assigned, zooms, 14).count()
    n_push = tileassign.rollup_all_zooms(assigned, zooms, 14, cfg=cfg).count()
    assert n_push < n_base, (n_push, n_base)


def test_pip_big_path_no_broadcast(spark):
    """Large-reference-layer spatial join (VERDICT r4 #2): the
    broadcast_ok=False path must (a) plan the cover side WITHOUT a
    BroadcastExchange — shuffle-hash equi-join on cell, Morton-range
    compressed cover — and (b) return row-identical results to the
    broadcast path, including on a replicated layer 8x the standard one."""
    from tilemaker_spark import spatial

    base = spatial.district_table(spark)
    pts = spatial._points(spark, SF_DIR)

    big = spatial.point_in_polygon_join(pts, base, broadcast_ok=False)
    plan = big._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan, plan[:4000]
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan

    small = spatial.point_in_polygon_join(pts, base, broadcast_ok=True)
    assert sorted(map(tuple, big.collect())) == sorted(map(tuple, small.collect()))

    # replicated layer (8 shifted copies, distinct ids): both paths agree
    rep = base
    for i in range(1, 8):
        rep = rep.unionByName(
            base.select(
                (F.col("district_id") + 100000 * i).alias("district_id"),
                (F.col("cx") + 16000000 * i).cast("int").alias("cx"),
                "cy",
                F.transform("ring_lon",
                            lambda v: (v + 16000000 * i).cast("int")).alias("ring_lon"),
                "ring_latp"))
    big_r = spatial.point_in_polygon_join(pts, rep, broadcast_ok=False)
    small_r = spatial.point_in_polygon_join(pts, rep, broadcast_ok=True)
    rows_big = sorted(map(tuple, big_r.collect()))
    assert rows_big == sorted(map(tuple, small_r.collect()))
    assert len(rows_big) > 0


def test_spike_probe_defects_enter_the_pipeline(spark):
    """tile_bytes_spikes is only a G12 repair proof if DEFECTIVE rings
    actually flow in: all four defect classes (clean/dup/spike/chained)
    must be present, with their distinct input ref counts (5/6/6/7
    including the closing ref)."""
    from tilemaker_spark import queries_bytes as QB

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    _nodes, ways, _rels = QB._probe_spike_stores(docs)
    from tilemaker_spark import geocode
    cls_sizes = {
        (int(r["cls"]), int(r["n"]))
        for r in (docs.select(geocode.doc_num_col(docs).alias("d"))
                  .select("d", (geocode._h(F.col("d")) % 4).alias("cls"))
                  .join(ways.select(F.col("way_id").alias("d"),
                                    F.size("refs").alias("n")), "d")
                  .select("cls", "n").distinct().collect())
    }
    assert cls_sizes == {(0, 5), (1, 6), (2, 6), (3, 7)}, cls_sizes


def test_pyramid_bbox_is_a_strict_nonempty_cut(spark):
    """F7 must DROP some tiles and KEEP some: the bbox row's tile set is
    a strict non-empty subset of the unrestricted pyramid's."""
    from tilemaker_spark import queries_core as QC

    full = {(r["z"], r["x"], r["y"])
            for r in QC.q_pyramid_tiles(spark, SF_DIR).collect()}
    kept = {(r["z"], r["x"], r["y"])
            for r in QC.q_pyramid_bbox(spark, SF_DIR).collect()}
    assert kept and kept < full
    assert len(full - kept) > 100          # the cut is substantial
    assert any(z == 6 for z, _x, _y in kept)   # z6 tile survives

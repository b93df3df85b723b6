"""S8: real SHP/DBF parse (tilemaker_spark/shapefile.py vs
src/read_shp.cpp:101-249). The writer below is a test fixture built
independently against the public ESRI whitepaper / dBase III layout, so
reader bugs can't cancel writer bugs byte-for-byte — and the Spark test
proves the SHP-sourced district table is row-identical to the synthetic
one, making every downstream green (PIP join, kNN, remap) apply to the
real-shapefile path too."""

from __future__ import annotations

import os
import re
import struct

import numpy as np
import pytest

from tilemaker_spark import shapefile as SHP
from tilemaker_spark import spatial


# ------------------------------------------------------- fixture writers

def write_shp(path: str, shapes: list) -> None:
    """shapes: list of (shape_type, [(xs, ys) float parts])."""
    recs = []
    for i, (stype, parts) in enumerate(shapes, start=1):
        if stype == SHP.SHP_POINT:
            (xs, ys), = parts
            content = struct.pack("<i2d", stype, float(xs[0]), float(ys[0]))
        else:
            all_x = np.concatenate([np.asarray(p[0], float) for p in parts])
            all_y = np.concatenate([np.asarray(p[1], float) for p in parts])
            npts = int(all_x.size)
            starts, n = [], 0
            for xs, _ in parts:
                starts.append(n)
                n += len(xs)
            content = struct.pack(
                "<i4d2i", stype, all_x.min(), all_y.min(), all_x.max(), all_y.max(),
                len(parts), npts)
            content += struct.pack(f"<{len(starts)}i", *starts)
            content += np.column_stack([all_x, all_y]).astype("<f8").tobytes()
        recs.append(struct.pack(">ii", i, len(content) // 2) + content)
    body = b"".join(recs)
    flen_words = (100 + len(body)) // 2
    hdr = struct.pack(">i5ii", 9994, 0, 0, 0, 0, 0, flen_words)
    hdr += struct.pack("<ii8d", 1000, shapes[0][0] if shapes else 0,
                       0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    with open(path, "wb") as f:
        f.write(hdr + body)


def write_dbf(path: str, fields: list, rows: list) -> None:
    """fields: [(name, 'N'|'C', length, decimals)]; rows: list of dicts."""
    rec_size = 1 + sum(f[2] for f in fields)
    hdr_size = 32 + 32 * len(fields) + 1
    hdr = struct.pack("<B3BIHH20x", 3, 26, 8, 17, len(rows), hdr_size, rec_size)
    for name, ftype, flen, fdec in fields:
        hdr += struct.pack("<11sc4xBB14x", name.encode("ascii"),
                           ftype.encode("ascii"), flen, fdec)
    hdr += b"\x0d"
    body = b""
    for row in rows:
        body += b" "
        for name, ftype, flen, fdec in fields:
            v = row.get(name)
            if ftype == "N":
                s = ("" if v is None else
                     (f"{v:.{fdec}f}" if fdec else str(int(v)))).rjust(flen)
            else:
                s = str(v or "").ljust(flen)
            body += s[:flen].encode("ascii")
    with open(path, "wb") as f:
        f.write(hdr + body + b"\x1a")


def _district_shapes_and_attrs():
    """The synthetic district diamonds re-expressed as shapefile input
    (latp degrees) + DBF attributes."""
    shapes, rows = [], []
    for region in range(64):
        rx = (region % 8) * 2000000
        ry = (region // 8) * 2000000
        for gx in range(spatial.DIST_NX):
            for gy in range(spatial.DIST_NY):
                cx = spatial.DIST_X0 + rx + gx * spatial.DIST_PITCH
                cy = spatial.DIST_Y0 + ry + gy * spatial.DIST_PITCH
                r = spatial.DIST_R
                xs = np.array([cx + r, cx, cx - r, cx, cx + r], float) / 1e7
                ys = np.array([cy, cy + r, cy, cy - r, cy], float) / 1e7
                shapes.append((SHP.SHP_POLYGON, [(xs, ys)]))
                rows.append({"district_id": region * 1000 + gx * 100 + gy,
                             "cx": cx, "cy": cy})
    return shapes, rows


DBF_FIELDS = [("district_id", "N", 10, 0), ("cx", "N", 12, 0), ("cy", "N", 12, 0)]


N_FIXTURE_LINES = 48


def polyline_vertices(i: int):
    """Closed-form vertices of fixture polyline i — the same lattice as
    the synthetic corpus lines (anchors on 1000s, wiggles on 500s, max
    segment delta 7000 << one z14 tile), so the proven SQL re-derivation
    of the DDA walk applies verbatim. Returns [(lons, latps), ...parts];
    every 4th record is multi-part (second part offset +1e6/+1e6) to
    exercise the reader's part-boundary arm. Mirrored 1:1 by the
    j8_shp_line_cover oracle SQL (queries_spatial.py)."""
    h = (i * 2654435761 + 40503) % 2**32
    nv = 4 + h % 9
    if h % 3 == 1 and (h // 3) % 3 == 1:
        sx = 4000
    else:
        sx = ((h % 3) - 1) * 4000
    sy = (((h // 3) % 3) - 1) * 4000
    lon0 = 94710000 + (h % 1630) * 1000
    latp0 = 534600000 + ((h // 7) % 3200) * 1000
    parts = []
    for off in ([0, 1000000] if i % 4 == 0 else [0]):
        lons = [lon0 + off + j * sx + ((h * (j + 1)) % 7) * 500 for j in range(nv)]
        latps = [latp0 + off + j * sy + ((h * (j + 2)) % 5) * 500 for j in range(nv)]
        parts.append((np.array(lons, dtype=np.int64),
                      np.array(latps, dtype=np.int64)))
    return parts


def _polyline_shapes_and_attrs():
    """Deterministic polyline fixture (J8 driver row): coordinates are
    a closed-form function of the record id so the oracle SQL can
    regenerate them exactly."""
    shapes, rows = [], []
    for i in range(N_FIXTURE_LINES):
        parts = [(lons / 1e7, latps / 1e7) for lons, latps in polyline_vertices(i)]
        shapes.append((SHP.SHP_POLYLINE, parts))
        rows.append({"line_id": i})
    return shapes, rows


LINES_DBF_FIELDS = [("line_id", "N", 10, 0)]


def test_shp_roundtrip_polygon(tmp_path):
    p = str(tmp_path / "poly.shp")
    xs = np.array([1.5, 2.5, 2.0, 1.5])
    ys = np.array([10.0, 10.0, 11.0, 10.0])
    hole_x = np.array([1.8, 2.1, 1.9, 1.8])
    hole_y = np.array([10.2, 10.2, 10.5, 10.2])
    write_shp(p, [(SHP.SHP_POLYGON, [(xs, ys), (hole_x, hole_y)])])
    (rec,) = SHP.read_shp(p)
    assert rec["type"] == SHP.SHP_POLYGON and len(rec["parts"]) == 2
    np.testing.assert_allclose(rec["parts"][0][0], xs)
    np.testing.assert_allclose(rec["parts"][1][1], hole_y)


def test_shp_roundtrip_point_and_line(tmp_path):
    p = str(tmp_path / "mix.shp")
    write_shp(p, [(SHP.SHP_POINT, [(np.array([3.25]), np.array([-7.5]))])])
    (rec,) = SHP.read_shp(p)
    assert rec["type"] == SHP.SHP_POINT
    assert rec["parts"][0][0][0] == 3.25 and rec["parts"][0][1][0] == -7.5

    p2 = str(tmp_path / "line.shp")
    lx = np.array([0.0, 1.0, 2.0])
    ly = np.array([0.0, 0.5, 0.0])
    write_shp(p2, [(SHP.SHP_POLYLINE, [(lx, ly)])])
    (rec2,) = SHP.read_shp(p2)
    assert rec2["type"] == SHP.SHP_POLYLINE
    np.testing.assert_allclose(rec2["parts"][0][0], lx)


def test_lines_fixture_matches_formula():
    """The committed lines.shp/.dbf fixture parses (through the real
    reader) back to the exact closed-form vertices the J8 oracle SQL
    regenerates — the fixed-point round-trip (int -> /1e7 double in the
    file -> rint back) is lossless, and the multi-part arm is present."""
    data = os.path.join(os.path.dirname(SHP.__file__), "data")
    rows = SHP.read_shapefile(os.path.join(data, "lines.shp"),
                              os.path.join(data, "lines.dbf"),
                              lat_is_projected=True)
    by_lid: dict = {}
    for r in rows:
        assert r["shape_type"] == SHP.SHP_POLYLINE
        by_lid.setdefault(int(r["attrs"]["line_id"]), []).append(r)
    assert len(by_lid) == N_FIXTURE_LINES
    n_multi = 0
    for lid, parts in by_lid.items():
        exp = polyline_vertices(lid)
        assert len(parts) == len(exp)
        n_multi += len(parts) > 1
        for r, (elon, elat) in zip(parts, exp):
            np.testing.assert_array_equal(r["ring_lon"], elon)
            np.testing.assert_array_equal(r["ring_latp"], elat)
    assert n_multi == N_FIXTURE_LINES // 4


def test_j8_oracle_fixture_read_on_first_use(tmp_path, monkeypatch):
    """queries_spatial imports without touching lines.dbf; the J8
    oracle's first use fails with the fixture's path named when the file
    is missing or truncated, and counts its records when it is whole."""
    from tilemaker_spark import queries_spatial as QS

    monkeypatch.delitem(QS.__dict__, "ORACLES", raising=False)
    missing = str(tmp_path / "lines.dbf")
    monkeypatch.setattr(QS, "_LINES_DBF", missing)
    with pytest.raises(FileNotFoundError, match=re.escape(missing)):
        QS.ORACLES
    real = open(os.path.join(os.path.dirname(SHP.__file__), "data", "lines.dbf"),
                "rb").read()
    for cut in (6, len(real) // 2):
        with open(missing, "wb") as f:
            f.write(real[:cut])
        with pytest.raises(ValueError, match=re.escape(missing)):
            QS.ORACLES
    with open(missing, "wb") as f:
        f.write(real)
    assert f"range({N_FIXTURE_LINES})" in QS.ORACLES["j8_shp_line_cover"]


def test_dbf_roundtrip(tmp_path):
    p = str(tmp_path / "t.dbf")
    fields = [("district_id", "N", 10, 0), ("name", "C", 12, 0),
              ("score", "N", 8, 2)]
    rows = [{"district_id": 42, "name": "alpha", "score": 3.5},
            {"district_id": 7, "name": "", "score": 0.25}]
    write_dbf(p, fields, rows)
    names, got = SHP.read_dbf(p)
    assert names == ["district_id", "name", "score"]
    assert got[0] == {"district_id": 42, "name": "alpha", "score": 3.5}
    assert got[1]["district_id"] == 7 and got[1]["score"] == 0.25


def test_read_shapefile_lat_projection(tmp_path):
    """lat_is_projected=False applies lat2latp at ingest like the
    reference (src/read_shp.cpp:62-99)."""
    from tilemaker_spark.kernels import mercator as M

    p = str(tmp_path / "ll.shp")
    xs = np.array([10.0, 10.5, 10.2, 10.0])
    lat = np.array([45.0, 45.0, 45.5, 45.0])
    write_shp(p, [(SHP.SHP_POLYGON, [(xs, lat)])])
    (row,) = SHP.read_shapefile(p, lat_is_projected=False)
    exp = np.round(np.asarray(M.lat2latp(lat)) * 1e7).astype(np.int64)
    np.testing.assert_array_equal(row["ring_latp"], exp)
    np.testing.assert_array_equal(row["ring_lon"],
                                  np.round(xs * 1e7).astype(np.int64))


def test_shapefile_district_table_matches_synthetic(tmp_path, spark):
    """The SHP/DBF-sourced district table is ROW-IDENTICAL to the
    synthetic broadcast layer — so the green spatial_join_pip /
    knn_places / classify_intersects oracles hold verbatim for the
    real-shapefile source."""
    shapes, rows = _district_shapes_and_attrs()
    shp = str(tmp_path / "districts.shp")
    dbf = str(tmp_path / "districts.dbf")
    write_shp(shp, shapes)
    write_dbf(dbf, DBF_FIELDS, rows)

    from_shp = SHP.district_table_from_shapefile(spark, shp, dbf)
    synth = spatial.district_table(spark)
    a = sorted(tuple(r) for r in from_shp.collect())
    b = sorted(tuple(r) for r in synth.collect())
    assert a == b


def test_shapefile_pip_join_parity(tmp_path, spark):
    """PIP join against the SHP-sourced layer == against the synthetic
    layer (the downstream operator contract, S8 x J4)."""
    shapes, rows = _district_shapes_and_attrs()
    shp = str(tmp_path / "d.shp")
    dbf = str(tmp_path / "d.dbf")
    write_shp(shp, shapes)
    write_dbf(dbf, DBF_FIELDS, rows)
    from tilemaker_spark import classify, geocode

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    nodes, _, _ = geocode.geocode(docs)
    pts = classify.classify_nodes(nodes)
    j_shp = spatial.point_in_polygon_join(
        pts, SHP.district_table_from_shapefile(spark, shp, dbf))
    j_syn = spatial.point_in_polygon_join(pts, spatial.district_table(spark))
    a = sorted(tuple(r) for r in j_shp.select("object_id", "district_id").collect())
    b = sorted(tuple(r) for r in j_syn.select("object_id", "district_id").collect())
    assert a == b and len(a) > 0


REF_SHP_DIR = "/root/reference/testdata/shp"
REF_SHP_NAMES = ["Woodland4326", "TidalWater4326",
                 "ElectricityTransmissionLine4326"]


@pytest.mark.parametrize("name", REF_SHP_NAMES)
def test_reference_shapefile_parses(name):
    """S8 adversarial fixtures (VERDICT r4 #3): genuine third-party ESRI
    bytes from the reference repo — multi-part polygons, real DBF typing
    — that our own writer did not produce. Cross-checks: record count
    against the .shx index (length 100 + 8*nrec per the ESRI spec), ring
    closure, header-bbox containment, DBF row-count parity."""
    import struct as _st

    from tilemaker_spark import shapefile as SHP

    shp = os.path.join(REF_SHP_DIR, f"{name}.shp")
    if not os.path.exists(shp):
        pytest.skip("reference shapefiles not present")
    recs = SHP.read_shp(shp)

    # .shx: 100-byte header then one 8-byte (offset, length) per record
    nrec_shx = (os.path.getsize(os.path.join(REF_SHP_DIR, f"{name}.shx")) - 100) // 8
    assert len(recs) == nrec_shx > 0

    hdr = open(shp, "rb").read(100)
    xmin, ymin, xmax, ymax = _st.unpack_from("<4d", hdr, 36)
    n_parts = 0
    for rec in recs:
        for xs, ys in rec["parts"]:
            n_parts += 1
            assert xs.min() >= xmin - 1e-9 and xs.max() <= xmax + 1e-9
            assert ys.min() >= ymin - 1e-9 and ys.max() <= ymax + 1e-9
            if rec["type"] == SHP.SHP_POLYGON:
                assert xs[0] == xs[-1] and ys[0] == ys[-1]  # ring closure
                assert len(xs) >= 4
    assert n_parts >= len(recs)

    # DBF attribute join parity (reference: src/read_shp.cpp:162-213)
    _, rows = SHP.read_dbf(os.path.join(REF_SHP_DIR, f"{name}.dbf"))
    assert len(rows) == len(recs)

    # full ingestion path incl. lat2latp reprojection: int32-safe coords
    ingested = SHP.read_shapefile(
        shp, os.path.join(REF_SHP_DIR, f"{name}.dbf"), lat_is_projected=False)
    assert len(ingested) == n_parts
    for r in ingested[:200]:
        assert np.abs(r["ring_lon"]).max() < 2**31
        assert np.abs(r["ring_latp"]).max() < 2**31


def test_reference_shapefiles_have_multipart():
    """At least one genuinely multi-part record exists across the
    reference fixtures — the case a self-written single-ring fixture
    never exercises."""
    from tilemaker_spark import shapefile as SHP

    if not os.path.isdir(REF_SHP_DIR):
        pytest.skip("reference shapefiles not present")
    multi = 0
    for name in REF_SHP_NAMES:
        p = os.path.join(REF_SHP_DIR, f"{name}.shp")
        if os.path.exists(p):
            multi += sum(1 for r in SHP.read_shp(p) if len(r["parts"]) > 1)
    assert multi > 0

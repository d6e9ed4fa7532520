"""Distributed shapefile ingest e2e (A19 + geometry-DF mapping)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_shp import ingest
from spark_shp.shp import writer


def _write_fixture_dir(tmp_path):
    d = tmp_path / "shpdir"
    d.mkdir()
    pts = [(writer.POINT, (float(i), float(i) / 2)) for i in range(4)]
    (d / "pts.shp").write_bytes(writer.write_shp(pts))
    (d / "pts.dbf").write_bytes(writer.write_dbf(
        [("NAME", "C", 8, 0), ("SCORE", "N", 6, 0)],
        [{"NAME": f"p{i}", "SCORE": i * 10} for i in range(4)]))
    polys = [(writer.POLYGON,
              [[(0.0, 0.0), (0.0, 5.0), (5.0, 5.0), (5.0, 0.0), (0.0, 0.0)]]),
             (writer.NULL, None)]
    (d / "fences.shp").write_bytes(
        writer.write_shp(polys, header_type=writer.POLYGON))
    import io
    import zipfile
    bio = io.BytesIO()
    with zipfile.ZipFile(bio, "w") as z:
        z.writestr("zipped.SHP", writer.write_shp(
            [(writer.POINT, (9.0, 9.0))]))
    (d / "bundle.zip").write_bytes(bio.getvalue())
    return str(d)


def test_read_shapefiles_end_to_end(spark, tmp_path):
    d = _write_fixture_dir(tmp_path)
    df = ingest.read_shapefiles(spark, d + "/*").cache()
    layers = {r.layer for r in df.select("layer").distinct().collect()}
    assert layers == {"pts", "fences", "zipped"}

    pts = df.where("layer = 'pts'").orderBy("feature_id").collect()
    assert len(pts) == 4
    assert pts[2].geom_type == "Point"
    assert pts[2].coordinates[0][0][0] == [2.0, 1.0]
    assert pts[2].properties["NAME"] == "p2"
    assert pts[2].properties["SCORE"] == "20.0"

    fences = df.where("layer = 'fences'").orderBy("feature_id").collect()
    assert fences[0].geom_type == "Polygon"
    assert fences[0].bbox.xmax == 5.0
    assert fences[1].is_null and fences[1].coordinates is None

    z = df.where("layer = 'zipped'").collect()
    assert len(z) == 1 and z[0].coordinates[0][0][0] == [9.0, 9.0]


def test_ingested_geometry_feeds_spatial_join(spark, tmp_path):
    """Decoded polygons work directly as the spatial-join build side."""
    import pandas as pd
    from spark_shp import spatial
    d = _write_fixture_dir(tmp_path)
    polys = (ingest.read_shapefiles(spark, d + "/fences.shp")
             .where(~F.col("is_null"))
             .select(F.col("feature_id").alias("poly_id"),
                     "coordinates", "bbox"))
    pts = spark.createDataFrame(pd.DataFrame({
        "pid": [0, 1], "lon": [2.5, 7.0], "lat": [2.5, 7.0]}))
    got = {(r.pid, r.poly_id) for r in
           spatial.spatial_join(pts, polys, "lon", "lat",
                                level=4).select("pid", "poly_id").collect()}
    assert got == {(0, 0)}


def test_points_fast_path_matches_parity_and_falls_back(spark, tmp_path):
    """parse_shp_points_columns == parse_shp on uniform Point files; files
    with interleaved null shapes reject the fast path (None) and
    read_points_fast falls back to the per-record kernel with identical
    output."""
    import numpy as np
    from spark_shp.shp import parser, writer

    pts = [(float(i) / 3.0, float(-i) * 1.5) for i in range(200)]
    blob = writer.write_shp([(writer.POINT, p) for p in pts])
    fast = parser.parse_shp_points_columns(blob)
    assert fast is not None
    rec_no, x, y = fast
    slow = parser.parse_shp(blob)
    assert list(rec_no) == list(range(1, 201))
    assert [[a, b] for a, b in zip(x, y)] == [g["coordinates"] for g in slow]

    # the same, bit for bit, under every reprojection fixture's transform
    from spark_shp.queries_shp import _REPROJECT_ROWS
    for spec in _REPROJECT_ROWS:
        xm, ym = spec.xy(np.arange(spec.n, dtype=np.int64))
        prj = writer.write_shp([(writer.POINT, (float(a), float(b)))
                                for a, b in zip(xm, ym)])
        trans = parser.projection_from_wkt(spec.wkt)
        _, lon, lat = parser.parse_shp_points_columns(prj, trans)
        assert [[a, b] for a, b in zip(lon, lat)] == [
            g["coordinates"] for g in parser.parse_shp(prj, trans)], spec.name

    # null shape interleaved → not uniform → fast path refuses
    mixed = writer.write_shp([(writer.POINT, (1.0, 2.0)), (writer.NULL, None),
                              (writer.POINT, (3.0, 4.0))])
    assert parser.parse_shp_points_columns(mixed) is None

    d = tmp_path / "fastpts"
    d.mkdir()
    (d / "uniform.shp").write_bytes(blob)
    (d / "mixed.shp").write_bytes(mixed)
    rows = ingest.read_points_fast(spark, str(d) + "/*.shp").collect()
    uni = sorted((r.rec_no, r.lon, r.lat) for r in rows
                 if r.layer == "uniform")
    assert uni == [(i + 1, *pts[i]) for i in range(200)]
    mix = {r.rec_no: (r.lon, r.lat) for r in rows if r.layer == "mixed"}
    assert mix[1] == (1.0, 2.0) and mix[3] == (3.0, 4.0)
    # null shape → NULL coords in the flat schema (pandas NaN is the null
    # marker, so Arrow surfaces it as SQL NULL — consistent with is_null)
    assert mix[2] == (None, None)


def test_fuzz_zip_demux_controlled_errors():
    """Corrupt/arbitrary zip bytes fail controlled (BadZipFile/ValueError),
    never hang; a valid zip with a truncated member raises controlled too."""
    import io
    import zipfile
    import pytest
    from hypothesis import given, settings, strategies as st
    from spark_shp.shp import zipio

    @settings(max_examples=150, deadline=None)
    @given(st.binary(min_size=0, max_size=200))
    def fuzz(blob):
        try:
            out = zipio.zip_demux(blob)
            assert isinstance(out, dict)
        except (zipfile.BadZipFile, ValueError, OSError, EOFError):
            pass

    fuzz()

    bio = io.BytesIO()
    with zipfile.ZipFile(bio, "w") as z:
        z.writestr("lyr.shp", b"x" * 500)
    cut = bio.getvalue()[:-40]
    with pytest.raises((zipfile.BadZipFile, ValueError, OSError, EOFError)):
        zipio.zip_demux(cut)


def test_read_shp_sharded_matches_whole_file(spark, tmp_path):
    """Sharded decode of one big .shp via its .shx == whole-file decode:
    same records, same rec_no, any shard count; uniform Point slices keep
    the columnar fast path; a mixed file (null shapes) falls back per
    shard and still agrees."""
    import numpy as np
    from spark_shp.shp import writer

    d = tmp_path / "bigshp"
    d.mkdir()
    recs = [(writer.POINT, (float(i) * 0.5, float(-i) * 0.25))
            for i in range(5000)]
    (d / "big.shp").write_bytes(writer.write_shp(recs))
    (d / "big.shx").write_bytes(writer.write_shx(recs))

    whole = {(r.rec_no, r.lon, r.lat)
             for r in ingest.read_points_fast(spark,
                                              str(d) + "/*.shp").collect()}
    for n_shards in (1, 7, 64):
        sharded = {(r.rec_no, r.lon, r.lat)
                   for r in ingest.read_shp_sharded(
                       spark, str(d / "big.shp"), n_shards).collect()}
        assert sharded == whole and len(whole) == 5000

    mixed = [(writer.POINT, (1.0, 2.0)), (writer.NULL, None),
             (writer.POINT, (3.0, 4.0))] * 40
    (d / "mix.shp").write_bytes(writer.write_shp(mixed))
    (d / "mix.shx").write_bytes(writer.write_shx(mixed))
    got = sorted(((r.rec_no, r.lon, r.lat) for r in
                  ingest.read_shp_sharded(spark, str(d / "mix.shp"),
                                          9).collect()),
                 key=lambda t: t[0])
    assert len(got) == 120
    assert got[0] == (1, 1.0, 2.0) and got[1] == (2, None, None)
    assert got[2] == (3, 3.0, 4.0)


def test_read_vertices_fast_and_fallback(spark, tmp_path):
    """Columnar vertex ingest == per-record fallback flattening, including
    a file with a null shape (which forces the fallback path)."""
    from spark_shp.shp import writer

    d = tmp_path / "verts"
    d.mkdir()
    parts = [[[(float(r * 10 + p), float(q)) for q in range(3)]
              for p in range(1 + r % 2)] for r in range(30)]
    uni = [(writer.POLYLINE, ps) for ps in parts]
    (d / "uni.shp").write_bytes(writer.write_shp(uni))
    (d / "mix.shp").write_bytes(
        writer.write_shp(uni[:5] + [(writer.NULL, None)] + uni[5:]))

    rows = ingest.read_vertices_fast(spark, str(d) + "/*.shp").collect()
    got_uni = sorted((r.rec_no, r.part_no, r.pt_no, r.x, r.y)
                     for r in rows if r.layer == "uni")
    want = sorted((r + 1, p, q, x, y)
                  for r, ps in enumerate(parts)
                  for p, pts in enumerate(ps)
                  for q, (x, y) in enumerate(pts))
    assert got_uni == want
    # mixed file: same vertices, null contributes none, rec_no shifted by 1
    # for records after the null
    got_mix = sorted((r.rec_no, r.part_no, r.pt_no, r.x, r.y)
                     for r in rows if r.layer == "mix")
    want_mix = sorted((r + 1 if r < 5 else r + 2, p, q, x, y)
                      for r, ps in enumerate(parts)
                      for p, pts in enumerate(ps)
                      for q, (x, y) in enumerate(pts))
    assert got_mix == want_mix


def test_points_fast_prj_sidecar_via_binaryfile(spark, tmp_path):
    """ADVICE r1: read_points_fast must load .prj through the binaryFile
    reader (scheme-agnostic), not os.path — and produce the SAME projected
    coordinates as read_shapefiles on a Web-Mercator layer."""
    import math
    from spark_shp.shp import writer

    lonlats = [(-73.9857, 40.7484), (2.3522, 48.8566), (139.6917, 35.6895)]
    R = 6378137.0
    merc = [(math.radians(lon) * R,
             math.log(math.tan(math.pi / 4 + math.radians(lat) / 2)) * R)
            for lon, lat in lonlats]
    d = tmp_path / "prjpts"
    d.mkdir()
    (d / "layer.shp").write_bytes(
        writer.write_shp([(writer.POINT, m) for m in merc]))
    (d / "layer.prj").write_text(writer.WEBMERC_WKT)
    rows = sorted(ingest.read_points_fast(spark, str(d) + "/*.shp").collect(),
                  key=lambda r: r.rec_no)
    assert len(rows) == 3
    for r, (lon, lat) in zip(rows, lonlats):
        assert abs(r.lon - lon) < 1e-9 and abs(r.lat - lat) < 1e-9
    # parity with the full GeoJSON ingest path on the same directory
    feats = ingest.read_shapefiles(spark, str(d) + "/*").collect()
    got = sorted((f.coordinates[0][0][0][0], f.coordinates[0][0][0][1])
                 for f in feats)
    want = sorted((r.lon, r.lat) for r in rows)
    for (a, b), (c, e) in zip(got, want):
        assert abs(a - c) < 1e-12 and abs(b - e) < 1e-12


def test_points_fast_prj_keyed_by_path_not_basename(spark, tmp_path):
    """ADVICE r2: two same-named layers in different directories must each
    resolve their OWN sidecar — a basename-keyed lookup would project the
    raw-lonlat layer with the other layer's Web-Mercator WKT."""
    import math

    lonlats = [(-73.9857, 40.7484), (2.3522, 48.8566)]
    R = 6378137.0
    merc = [(math.radians(lon) * R,
             math.log(math.tan(math.pi / 4 + math.radians(lat) / 2)) * R)
            for lon, lat in lonlats]
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir(), b.mkdir()
    (a / "layer.shp").write_bytes(
        writer.write_shp([(writer.POINT, m) for m in merc]))
    (a / "layer.prj").write_text(writer.WEBMERC_WKT)
    (b / "layer.shp").write_bytes(           # same name, NO sidecar
        writer.write_shp([(writer.POINT, p) for p in lonlats]))
    rows = ingest.read_points_fast(spark, str(tmp_path) + "/*/*.shp").collect()
    assert len(rows) == 4
    got = sorted((round(r.lon, 6), round(r.lat, 6)) for r in rows)
    # both layers must land on the SAME lon/lat pairs: a/ via inverse
    # Mercator, b/ untouched
    want = sorted([(round(lon, 6), round(lat, 6)) for lon, lat in lonlats] * 2)
    assert got == want


def test_points_fast_unsupported_crs_modes(spark, tmp_path):
    """ADVICE r2: one unsupported .prj in a mixed directory can be skipped
    or nulled instead of aborting the whole multi-layer ingest."""
    import pytest

    d = tmp_path / "mix"
    d.mkdir()
    (d / "good.shp").write_bytes(
        writer.write_shp([(writer.POINT, (1.0, 2.0))]))
    (d / "bad.shp").write_bytes(
        writer.write_shp([(writer.POINT, (3.0, 4.0))]))
    (d / "bad.prj").write_text(
        'PROJCS["weird",GEOGCS["WGS 84",DATUM["WGS_1984",'
        'SPHEROID["WGS 84",6378137,298.257223563]]],'
        'PROJECTION["New_Zealand_Map_Grid"],UNIT["metre",1]]')
    glob = str(d) + "/*.shp"
    with pytest.raises(Exception):           # default: loud failure
        ingest.read_points_fast(spark, glob).collect()
    skipped = ingest.read_points_fast(
        spark, glob, on_unsupported_crs="skip").collect()
    assert sorted((r.layer, r.lon, r.lat) for r in skipped) == [
        ("good", 1.0, 2.0)]
    nulled = {r.layer: (r.lon, r.lat) for r in ingest.read_points_fast(
        spark, glob, on_unsupported_crs="null").collect()}
    assert nulled["good"] == (1.0, 2.0)
    bl, bt = nulled["bad"]
    assert (bl is None or bl != bl) and (bt is None or bt != bt)


def test_vertices_fast_applies_prj_sidecar(spark, tmp_path):
    """read_vertices_fast previously ignored .prj and emitted projected
    meters where read_shapefiles emitted degrees — the two scale paths
    must agree on a Web-Mercator polyline layer."""
    import math

    lonlats = [[(-73.9857, 40.7484), (2.3522, 48.8566)],
               [(139.6917, 35.6895), (151.2093, -33.8688)]]
    R = 6378137.0

    def fwd(lon, lat):
        return (math.radians(lon) * R,
                math.log(math.tan(math.pi / 4 + math.radians(lat) / 2)) * R)

    d = tmp_path / "vln"
    d.mkdir()
    (d / "lines.shp").write_bytes(writer.write_shp([
        (writer.POLYLINE, [[fwd(*p) for p in part]]) for part in lonlats]))
    (d / "lines.prj").write_text(writer.WEBMERC_WKT)
    rows = sorted(ingest.read_vertices_fast(
        spark, str(d) + "/*.shp").collect(),
        key=lambda r: (r.rec_no, r.part_no, r.pt_no))
    want = [(i + 1, 0, q, lon, lat)
            for i, part in enumerate(lonlats)
            for q, (lon, lat) in enumerate(part)]
    assert len(rows) == len(want)
    for r, (rec, p, q, lon, lat) in zip(rows, want):
        assert (r.rec_no, r.part_no, r.pt_no) == (rec, p, q)
        assert abs(r.x - lon) < 1e-9 and abs(r.y - lat) < 1e-9


def test_geojson_sink_roundtrip(spark, tmp_path):
    """shapefile dir → geometry DF → GeoJSONSeq sink → reader: features
    (geometry types, exact float64 coordinates, properties, null shapes)
    survive the full conversion round trip — the reference's output
    artifact, distributed."""
    d = _write_fixture_dir(tmp_path)
    feats = ingest.read_shapefiles(spark, d + "/*")
    out = str(tmp_path / "gj")
    ingest.write_geojson(feats, out)
    back = ingest.read_geojson_seq(spark, out)

    def canon(df):
        return sorted(
            ((r.layer, r.feature_id, r.geom_type, r.is_null,
              None if r.coordinates is None else
              tuple(tuple(tuple(tuple(p) for p in b) for b in a)
                    for a in r.coordinates),
              None if r.properties is None else
              tuple(sorted(r.properties.items()))))
            for r in df.collect())

    a, b = canon(feats), canon(back)
    assert len(a) > 0 and a == b

    # a typed Point with no parts fails naming the feature instead of
    # serializing the next feature's point (one partition: one batch)
    bad = spark.createDataFrame(
        [(7, "bad", "Point", [], None, False, None),
         (8, "bad", "Point", [[[[1.0, 2.0]]]], None, False, None)],
        ingest.GEOM_SCHEMA).coalesce(1)
    with pytest.raises(Exception, match="feature bad#7"):
        ingest.write_geojson(bad, str(tmp_path / "gj_bad"))

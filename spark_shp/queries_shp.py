"""Decode-layer queries for the driver oracle harness (SURVEY.md §2.A):
shapefile/DBF fixtures are synthesized in-driver (test-only writer), decoded
DISTRIBUTED through the engine's ingest kernels, and checked against oracles
that know the expected values by construction (u01 formulas / VALUES
literals) — decode parity becomes part of CORRECTNESS_r{N}.json, not just
pytest.
"""

from __future__ import annotations

import math
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .hashing import u01, u01_sql

N_SHP_PTS = 64


def _fx_points_shp() -> bytes:
    import numpy as np
    from .hashing import u01
    from .shp import writer
    recs = []
    for rec in range(N_SHP_PTS):
        lon = float(u01(np.int64(rec * 13 + 5)) * 360.0 - 180.0)
        lat = float(u01(np.int64(rec * 13 + 9)) * 170.0 - 85.0)
        recs.append((writer.POINT, (lon, lat)))
    return writer.write_shp(recs)


def q_shp_decode_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine decode of a Point shapefile → (rec_no, lon, lat); the oracle
    recomputes the coordinates from the same integer formulas in SQL —
    bit-for-bit float64 equality is the pass condition."""
    blob = _fx_points_shp()
    schema = T.StructType([
        T.StructField("rec_no", T.IntegerType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
    ])

    def decode(batches):
        from .shp import parser
        for pdf in batches:
            for content in pdf["content"]:
                rows = [(rn, g["coordinates"][0], g["coordinates"][1])
                        for (rn, rt, payload), g in zip(
                            parser.record_scan(bytes(content)),
                            parser.parse_shp(bytes(content)))]
                yield pd.DataFrame(rows, columns=["rec_no", "lon", "lat"])

    files = spark.createDataFrame(pd.DataFrame({"content": [blob]}))
    return files.mapInPandas(decode, schema)


ORACLE_SHP_POINTS = f"""
SELECT CAST(i + 1 AS INT) AS rec_no,
       ({u01_sql('i * 13 + 5')} * 360.0 - 180.0) AS lon,
       ({u01_sql('i * 13 + 9')} * 170.0 - 85.0) AS lat
FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_SHP_PTS - 1})) AS i) t
"""


DBF_ROWS = [
    ("alpha", 42.0, 19.99, "2020-02-29", True),
    ("beta", None, None, None, False),
    ("", None, 3.5, "2024-01-15", True),
    ("d", -7.0, 12.5, None, None),
]


def q_dbf_decode_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine DBF decode (C/N/F/D/L typing incl. parseFloat blank→NaN, '*'
    padding, tri-state logical) vs a VALUES-literal oracle. NaN is surfaced
    as NULL at the SQL boundary (is_nan flag carries the distinction so the
    reference's NaN-not-null semantics stay observable). src=2 adds A15:
    a cp1251-encoded DBF whose .cpg sidecar (content ``1251``) drives the
    text decode — Cyrillic names must round-trip exactly."""
    from datetime import date
    from .shp import writer
    fields = [("NAME", "C", 12, 0), ("QTY", "N", 8, 0),
              ("PRICE", "F", 10, 2), ("DAY", "D", 8, 0), ("OK", "L", 1, 0)]
    rows = [
        {"NAME": "alpha  ", "QTY": 42, "PRICE": 19.99,
         "DAY": date(2020, 2, 29), "OK": True},
        {"NAME": "beta", "QTY": None, "PRICE": None, "DAY": None,
         "OK": False},
        {"NAME": "", "QTY": "****", "PRICE": "  3.5", "DAY": "20240115",
         "OK": "y"},
        {"NAME": "d", "QTY": "-7", "PRICE": "12.5ab", "DAY": None,
         "OK": "?"},
    ]
    blob = writer.write_dbf(fields, rows)
    cyr_fields = [("NAME", "C", 12, 0), ("QTY", "N", 8, 0)]
    cyr_rows = [{"NAME": "Москва", "QTY": 1},
                {"NAME": "Пермь", "QTY": 2}]
    blob_cyr = writer.write_dbf(cyr_fields, cyr_rows, encoding="cp1251")
    schema = T.StructType([
        T.StructField("src", T.IntegerType()),
        T.StructField("rec_no", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("qty", T.DoubleType()),
        T.StructField("qty_is_nan", T.BooleanType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("day", T.DateType()),
        T.StructField("ok", T.BooleanType()),
    ])

    def decode(batches):
        import math
        from .shp import parser
        for pdf in batches:
            for src, content, cpg in zip(pdf["src"], pdf["content"],
                                         pdf["cpg"]):
                enc = parser.parse_cpg(cpg)
                out = []
                for i, r in enumerate(parser.parse_dbf(bytes(content),
                                                       enc)):
                    qty = r["QTY"]
                    nan = isinstance(qty, float) and math.isnan(qty)
                    price = r.get("PRICE")
                    pnan = isinstance(price, float) and math.isnan(price)
                    out.append((int(src), i + 1, r["NAME"],
                                None if nan else qty, nan,
                                None if pnan else price,
                                r.get("DAY"), r.get("OK")))
                yield pd.DataFrame(out, columns=[f.name for f in schema])

    files = spark.createDataFrame(pd.DataFrame(
        {"src": [1, 2], "content": [blob, blob_cyr],
         "cpg": [None, b"1251"]}))
    return files.mapInPandas(decode, schema)


ORACLE_DBF_TYPES = """
SELECT * FROM (VALUES
  (CAST(1 AS INT), CAST(1 AS INT), 'alpha', CAST(42.0 AS DOUBLE), FALSE,
   CAST(19.99 AS DOUBLE), DATE '2020-02-29', TRUE),
  (CAST(1 AS INT), CAST(2 AS INT), 'beta', CAST(NULL AS DOUBLE), TRUE,
   CAST(NULL AS DOUBLE), CAST(NULL AS DATE), FALSE),
  (CAST(1 AS INT), CAST(3 AS INT), '', CAST(NULL AS DOUBLE), TRUE,
   CAST(3.5 AS DOUBLE), DATE '2024-01-15', TRUE),
  (CAST(1 AS INT), CAST(4 AS INT), 'd', CAST(-7.0 AS DOUBLE), FALSE,
   CAST(12.5 AS DOUBLE), CAST(NULL AS DATE), CAST(NULL AS BOOLEAN)),
  (CAST(2 AS INT), CAST(1 AS INT), 'Москва', CAST(1.0 AS DOUBLE), FALSE,
   CAST(NULL AS DOUBLE), CAST(NULL AS DATE), CAST(NULL AS BOOLEAN)),
  (CAST(2 AS INT), CAST(2 AS INT), 'Пермь', CAST(2.0 AS DOUBLE), FALSE,
   CAST(NULL AS DOUBLE), CAST(NULL AS DATE), CAST(NULL AS BOOLEAN))
) AS t(src, rec_no, name, qty, qty_is_nan, price, day, ok)
"""


def q_shp_polygon_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ring-winding assembly parity (A6 — the crux): decode the
    mixed-ring-order fixture distributed, emit (rec_no, n_polys, n_rings,
    ring signature) vs literal expectations derived from the reference's
    polyReduce semantics."""
    from .shp import writer
    CW = [(0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0), (0.0, 0.0)]
    HOLE = [(2.0, 2.0), (8.0, 2.0), (8.0, 8.0), (2.0, 8.0), (2.0, 2.0)]
    sh = [(x + 20.0, y) for x, y in CW]
    sh_hole = [(x + 20.0, y) for x, y in HOLE]
    recs = [
        (writer.POLYGON, [CW]),                 # single ring
        (writer.POLYGON, [CW, HOLE]),           # outer + hole
        (writer.POLYGON, [HOLE, CW]),           # leading CCW starts polygon
        (writer.POLYGON, [CW, sh, sh_hole]),    # hole → most recent outer
    ]
    blob = writer.write_shp(recs)
    schema = T.StructType([
        T.StructField("rec_no", T.IntegerType()),
        T.StructField("geom_type", T.StringType()),
        T.StructField("n_polys", T.IntegerType()),
        T.StructField("rings_per_poly", T.StringType()),
        T.StructField("first_vertex_x", T.DoubleType()),
    ])

    def decode(batches):
        from .shp import parser
        for pdf in batches:
            for content in pdf["content"]:
                out = []
                for i, g in enumerate(parser.parse_shp(bytes(content))):
                    coords = (g["coordinates"]
                              if g["type"] == "MultiPolygon"
                              else [g["coordinates"]])
                    out.append((i + 1, g["type"], len(coords),
                                ",".join(str(len(p)) for p in coords),
                                coords[0][0][0][0]))
                yield pd.DataFrame(out, columns=[f.name for f in schema])

    files = spark.createDataFrame(pd.DataFrame({"content": [blob]}))
    return files.mapInPandas(decode, schema)


ORACLE_SHP_RINGS = """
SELECT * FROM (VALUES
  (CAST(1 AS INT), 'Polygon', CAST(1 AS INT), '1', CAST(0.0 AS DOUBLE)),
  (CAST(2 AS INT), 'Polygon', CAST(1 AS INT), '2', CAST(0.0 AS DOUBLE)),
  (CAST(3 AS INT), 'MultiPolygon', CAST(2 AS INT), '1,1', CAST(2.0 AS DOUBLE)),
  (CAST(4 AS INT), 'MultiPolygon', CAST(2 AS INT), '1,2', CAST(0.0 AS DOUBLE))
) AS t(rec_no, geom_type, n_polys, rings_per_poly, first_vertex_x)
"""


N_PL = 24


def q_shp_polyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-part polyline parity (A5): every record is a 2-part x 3-point
    MultiLineString with u01-formula coordinates; the decode must split
    parts exactly where the offsets table says, and the oracle recomputes
    every float64 from the same integer formulas — bit-for-bit."""
    import numpy as np
    from .hashing import u01
    from .shp import writer
    recs = []
    for r in range(N_PL):
        parts = []
        for p in range(2):
            parts.append([
                (float(u01(np.int64(r * 97 + p * 13 + q * 5 + 1)) * 360.0 - 180.0),
                 float(u01(np.int64(r * 97 + p * 13 + q * 5 + 2)) * 170.0 - 85.0))
                for q in range(3)])
        recs.append((writer.POLYLINE, parts))
    blob = writer.write_shp(recs)
    schema = T.StructType([
        T.StructField("rec_no", T.IntegerType()),
        T.StructField("part_no", T.IntegerType()),
        T.StructField("pt_no", T.IntegerType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("y", T.DoubleType()),
    ])

    def decode(batches):
        from .shp import parser
        for pdf in batches:
            for content in pdf["content"]:
                out = []
                for i, g in enumerate(parser.parse_shp(bytes(content))):
                    assert g["type"] == "MultiLineString", g["type"]
                    for p, part in enumerate(g["coordinates"]):
                        for q, (x, y) in enumerate(part):
                            out.append((i + 1, p, q, x, y))
                yield pd.DataFrame(out, columns=[f.name for f in schema])

    files = spark.createDataFrame(pd.DataFrame({"content": [blob]}))
    return files.mapInPandas(decode, schema)


ORACLE_SHP_POLYLINE = f"""
SELECT CAST(r + 1 AS INT) AS rec_no, CAST(p AS INT) AS part_no,
       CAST(q AS INT) AS pt_no,
       ({u01_sql('r * 97 + p * 13 + q * 5 + 1')} * 360.0 - 180.0) AS x,
       ({u01_sql('r * 97 + p * 13 + q * 5 + 2')} * 170.0 - 85.0) AS y
FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_PL - 1})) AS r) rr,
     (SELECT UNNEST(GENERATE_SERIES(0, 1)) AS p) pp,
     (SELECT UNNEST(GENERATE_SERIES(0, 2)) AS q) qq
"""


N_ZM = 32
N_MP = 8          # MultiPointZ records (3 points each)       — A4 + A8
N_NUL = 12        # Point file with every 3rd record null      — A10
# PolygonZ vertex plan: outer CW ring + CCW hole, 5 verts each — A8
_PGZ_XY = [(0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0), (0.0, 0.0),
           (2.0, 2.0), (8.0, 2.0), (8.0, 8.0), (2.0, 8.0), (2.0, 2.0)]
N_PLZ = 6         # PolyLineZ: 2 parts x 3 points              — A8


def q_shp_zm_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z/M/null decode parity in one gated row (A4, A7, A8, A9, A10 —
    upstream ``lib/parseShp.js:≈95-148`` [RECONSTRUCTED]):
    src=1 PointZ (z kept as 3rd coordinate, m dropped), src=2 PointM
    (type 21 folds to base Point, 2D), src=3 MultiPointZ (per-point rows;
    the z block is stored separately from xy and must re-align), src=4
    Point file with interleaved null shapes (record slots preserved, NULL
    coords), src=5 PolygonZ (outer+hole; z grouped by ring), src=6
    PolyLineZ (2 parts; z grouped by part). The oracle recomputes every
    float64 from the same integer formulas — bit-for-bit."""
    import numpy as np
    from .hashing import u01
    from .shp import writer

    def xy(src, r):
        return (float(u01(np.int64(src * 1009 + r * 31 + 1)) * 360.0 - 180.0),
                float(u01(np.int64(src * 1009 + r * 31 + 2)) * 170.0 - 85.0))

    blob_z = writer.write_shp([
        (writer.POINTZ, (*xy(1, r),
                         float(u01(np.int64(1009 + r * 31 + 3)) * 100.0),
                         999.0))
        for r in range(N_ZM)])
    blob_m = writer.write_shp([
        (writer.POINTM, (*xy(2, r), 777.0)) for r in range(N_ZM)])

    def mp_pt(r, p):
        k = r * 31 + p * 7
        return (float(u01(np.int64(3027 + k + 1)) * 360.0 - 180.0),
                float(u01(np.int64(3027 + k + 2)) * 170.0 - 85.0),
                float(u01(np.int64(3027 + k + 3)) * 100.0))

    blob_mp = writer.write_shp([
        (writer.MULTIPOINTZ, [mp_pt(r, p) for p in range(3)])
        for r in range(N_MP)])
    blob_nul = writer.write_shp([
        (writer.NULL, None) if r % 3 == 2 else (writer.POINT, xy(4, r))
        for r in range(N_NUL)])
    pgz = [(x, y, float(u01(np.int64(5045 + k * 17 + 7)) * 50.0))
           for k, (x, y) in enumerate(_PGZ_XY)]
    blob_pgz = writer.write_shp([(writer.POLYGONZ, [pgz[:5], pgz[5:]])])

    def plz_pt(k):
        return (float(u01(np.int64(6054 + k * 13 + 1)) * 360.0 - 180.0),
                float(u01(np.int64(6054 + k * 13 + 2)) * 170.0 - 85.0),
                float(u01(np.int64(6054 + k * 13 + 3)) * 25.0))

    blob_plz = writer.write_shp([
        (writer.POLYLINEZ, [[plz_pt(k) for k in range(3)],
                            [plz_pt(k) for k in range(3, N_PLZ)]])])
    schema = T.StructType([
        T.StructField("src", T.IntegerType()),
        T.StructField("rec_no", T.IntegerType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("y", T.DoubleType()),
        T.StructField("z", T.DoubleType()),
        T.StructField("n_coords", T.IntegerType()),
    ])

    def decode(batches):
        from .shp import parser
        for pdf in batches:
            for src, content in zip(pdf["src"], pdf["content"]):
                out = []
                k = 0                  # per-file vertex ordinal (src 5/6)
                for i, g in enumerate(parser.parse_shp(bytes(content))):
                    if g is None:      # A10: null shape keeps its slot
                        out.append((int(src), i + 1, None, None, None, 0))
                        continue
                    t, c = g["type"], g["coordinates"]
                    if t == "Point":
                        out.append((int(src), i + 1, c[0], c[1],
                                    c[2] if len(c) > 2 else None, len(c)))
                    elif t == "MultiPoint":   # per-point, record-aligned
                        for p in c:
                            out.append((int(src), i + 1, p[0], p[1],
                                        p[2] if len(p) > 2 else None,
                                        len(p)))
                    else:              # rings/parts → flat vertex stream
                        if t == "LineString":
                            parts = [c]
                        elif t in ("MultiLineString", "Polygon"):
                            parts = c
                        else:          # MultiPolygon
                            parts = [ring for poly in c for ring in poly]
                        for part in parts:
                            for p in part:
                                k += 1
                                out.append((int(src), k, p[0], p[1],
                                            p[2] if len(p) > 2 else None,
                                            len(p)))
                yield pd.DataFrame(out, columns=[f.name for f in schema])

    files = spark.createDataFrame(
        pd.DataFrame({"src": [1, 2, 3, 4, 5, 6],
                      "content": [blob_z, blob_m, blob_mp, blob_nul,
                                  blob_pgz, blob_plz]}))
    return files.mapInPandas(decode, schema)


_PGZ_VALUES = ", ".join(f"({k}, {x!r}, {y!r})"
                        for k, (x, y) in enumerate(_PGZ_XY))

ORACLE_SHP_ZM = f"""
SELECT CAST(1 AS INT) AS src, CAST(r + 1 AS INT) AS rec_no,
       ({u01_sql('1009 + r * 31 + 1')} * 360.0 - 180.0) AS x,
       ({u01_sql('1009 + r * 31 + 2')} * 170.0 - 85.0) AS y,
       ({u01_sql('1009 + r * 31 + 3')} * 100.0) AS z,
       CAST(3 AS INT) AS n_coords
FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_ZM - 1})) AS r) t
UNION ALL
SELECT CAST(2 AS INT), CAST(r + 1 AS INT),
       ({u01_sql('2018 + r * 31 + 1')} * 360.0 - 180.0),
       ({u01_sql('2018 + r * 31 + 2')} * 170.0 - 85.0),
       CAST(NULL AS DOUBLE), CAST(2 AS INT)
FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_ZM - 1})) AS r) t
UNION ALL
SELECT CAST(3 AS INT), CAST(r + 1 AS INT),
       ({u01_sql('3027 + r * 31 + p * 7 + 1')} * 360.0 - 180.0),
       ({u01_sql('3027 + r * 31 + p * 7 + 2')} * 170.0 - 85.0),
       ({u01_sql('3027 + r * 31 + p * 7 + 3')} * 100.0),
       CAST(3 AS INT)
FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_MP - 1})) AS r) a,
     (SELECT UNNEST(GENERATE_SERIES(0, 2)) AS p) b
UNION ALL
SELECT CAST(4 AS INT), CAST(r + 1 AS INT),
       CASE WHEN r % 3 = 2 THEN NULL
            ELSE ({u01_sql('4036 + r * 31 + 1')} * 360.0 - 180.0) END,
       CASE WHEN r % 3 = 2 THEN NULL
            ELSE ({u01_sql('4036 + r * 31 + 2')} * 170.0 - 85.0) END,
       CAST(NULL AS DOUBLE),
       CAST(CASE WHEN r % 3 = 2 THEN 0 ELSE 2 END AS INT)
FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_NUL - 1})) AS r) t
UNION ALL
SELECT CAST(5 AS INT), CAST(k + 1 AS INT),
       CAST(x AS DOUBLE), CAST(y AS DOUBLE),
       ({u01_sql('5045 + k * 17 + 7')} * 50.0), CAST(3 AS INT)
FROM (VALUES {_PGZ_VALUES}) AS v(k, x, y)
UNION ALL
SELECT CAST(6 AS INT), CAST(k + 1 AS INT),
       ({u01_sql('6054 + k * 13 + 1')} * 360.0 - 180.0),
       ({u01_sql('6054 + k * 13 + 2')} * 170.0 - 85.0),
       ({u01_sql('6054 + k * 13 + 3')} * 25.0),
       CAST(3 AS INT)
FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_PLZ - 1})) AS k) t
"""


N_WM = 40
_WEBMERC_WKT = ('PROJCS["WGS 84 / Pseudo-Mercator",GEOGCS["WGS 84"],'
                'PROJECTION["Mercator_1SP"],AUTHORITY["EPSG","3857"]]')


ORACLE_SHP_WEBMERC = f"""
WITH src AS (
  SELECT CAST(i + 1 AS INT) AS rec_no,
         ({u01_sql('i * 19 + 1')} - 0.5) * 40000000.0 AS x,
         ({u01_sql('i * 19 + 2')} - 0.5) * 38000000.0 AS y
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_WM - 1})) AS i) t)
SELECT rec_no,
       ROUND(x / 6378137.0 * (180.0 / PI()), 9) AS lon,
       ROUND((2.0 * ATAN(EXP(y / 6378137.0)) - PI() / 2.0)
             * (180.0 / PI()), 9) AS lat
FROM src
"""


N_UTM = 40
_UTM_WKT = (
    'PROJCS["WGS 84 / UTM zone 33N",GEOGCS["WGS 84",DATUM["WGS_1984",'
    'SPHEROID["WGS 84",6378137,298.257223563]]],'
    'PROJECTION["Transverse_Mercator"],'
    'PARAMETER["latitude_of_origin",0],PARAMETER["central_meridian",15],'
    'PARAMETER["scale_factor",0.9996],PARAMETER["false_easting",500000],'
    'PARAMETER["false_northing",0],UNIT["metre",1]]')


def _oracle_utm_sql() -> str:
    """Snyder inverse-TM series as DuckDB SQL, from the SAME float64
    constants the engine kernel uses (parser.tmerc_constants) and with the
    SAME operation order — the only divergence left is libm ulps."""
    from .shp.parser import tmerc_constants
    # CAST to DOUBLE: bare float literals parse as DECIMAL in DuckDB, and
    # decimal arithmetic overflows (and would differ bitwise) — the decimal
    # repr of a float64 round-trips exactly through CAST AS DOUBLE.
    c = {k: f"CAST({v!r} AS DOUBLE)" for k, v in tmerc_constants(
        6378137.0, 298.257223563, 15.0, 0.0, 0.9996,
        500000.0, 0.0).items()}
    return f"""
WITH src AS (
  SELECT CAST(i + 1 AS INT) AS rec_no,
         200000.0 + {u01_sql('i * 23 + 3')} * 600000.0 AS x,
         {u01_sql('i * 23 + 4')} * 9300000.0 AS y
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_UTM - 1})) AS i) t),
s1 AS (
  SELECT rec_no, x - {c['fe']} AS xx,
         ({c['m0']} + (y - {c['fn']}) / {c['k0']})
           / ({c['a']} * {c['m_coef']}) AS mu
  FROM src),
s2 AS (
  SELECT rec_no, xx,
         mu + {c['mu2']} * SIN(2.0 * mu) + {c['mu4']} * SIN(4.0 * mu)
            + {c['mu6']} * SIN(6.0 * mu) + {c['mu8']} * SIN(8.0 * mu) AS phi1
  FROM s1),
s3 AS (
  SELECT rec_no, xx, phi1, SIN(phi1) AS sin1, COS(phi1) AS cos1,
         TAN(phi1) AS tan1
  FROM s2),
s4 AS (
  SELECT rec_no, xx, phi1, sin1, cos1, tan1,
         {c['ep2']} * cos1 * cos1 AS c1, tan1 * tan1 AS t1,
         1.0 - {c['e2']} * sin1 * sin1 AS w
  FROM s3),
s5 AS (
  SELECT rec_no, xx, phi1, cos1, tan1, c1, t1,
         {c['a']} / SQRT(w) AS n1,
         {c['a']} * (1.0 - {c['e2']}) / (w * SQRT(w)) AS r1
  FROM s4),
s6 AS (
  SELECT rec_no, phi1, cos1, tan1, c1, t1, n1, r1,
         xx / (n1 * {c['k0']}) AS d,
         (xx / (n1 * {c['k0']})) * (xx / (n1 * {c['k0']})) AS d2
  FROM s5)
SELECT rec_no,
       ROUND(DEGREES({c['lam0']} + (d
                 - (1.0 + 2.0 * t1 + c1) * d2 * d / 6.0
                 + (5.0 - 2.0 * c1 + 28.0 * t1 - 3.0 * c1 * c1
                    + 8.0 * {c['ep2']} + 24.0 * t1 * t1)
                   * d2 * d2 * d / 120.0) / cos1), 9) AS lon,
       ROUND(DEGREES(phi1 - (n1 * tan1 / r1) * (
                 d2 / 2.0
                 - (5.0 + 3.0 * t1 + 10.0 * c1 - 4.0 * c1 * c1
                    - 9.0 * {c['ep2']}) * d2 * d2 / 24.0
                 + (61.0 + 90.0 * t1 + 298.0 * c1 + 45.0 * t1 * t1
                    - 252.0 * {c['ep2']} - 3.0 * c1 * c1)
                   * d2 * d2 * d2 / 720.0)), 9) AS lat
FROM s6
"""


ORACLE_SHP_UTM = _oracle_utm_sql()


N_LCC = 40
# SPCS-83 California zone 5 style 2SP parameters (meters)
_LCC_WKT = (
    'PROJCS["CA zone 5 style",GEOGCS["WGS 84",DATUM["WGS_1984",'
    'SPHEROID["WGS 84",6378137,298.257223563]]],'
    'PROJECTION["Lambert_Conformal_Conic_2SP"],'
    'PARAMETER["standard_parallel_1",34.03],'
    'PARAMETER["standard_parallel_2",35.47],'
    'PARAMETER["latitude_of_origin",33.5],'
    'PARAMETER["central_meridian",-118],'
    'PARAMETER["false_easting",2000000],'
    'PARAMETER["false_northing",500000],UNIT["metre",1]]')


def _oracle_lcc_sql() -> str:
    """Snyder inverse-LCC as DuckDB SQL from the SAME float64 constants the
    engine kernel uses (parser.lcc_constants), same operation order."""
    from .shp.parser import lcc_constants
    cv = lcc_constants(6378137.0, 298.257223563, -118.0, 33.5,
                       34.03, 35.47, 1.0, 2000000.0, 500000.0)
    c = {k: f"CAST({v!r} AS DOUBLE)" for k, v in cv.items()}
    return f"""
WITH src AS (
  SELECT CAST(i + 1 AS INT) AS rec_no,
         1700000.0 + {u01_sql('i * 37 + 3')} * 600000.0 AS x,
         200000.0 + {u01_sql('i * 37 + 4')} * 600000.0 AS y
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_LCC - 1})) AS i) t),
s1 AS (
  SELECT rec_no, x - {c['fe']} AS xx,
         {c['rho0']} - (y - {c['fn']}) AS yr
  FROM src),
s2 AS (
  SELECT rec_no, xx, yr,
         POWER(SQRT(xx * xx + yr * yr) / {c['af']},
               1.0 / {c['n']}) AS tp
  FROM s1),
s3 AS (
  SELECT rec_no, xx, yr, PI() / 2.0 - 2.0 * ATAN(tp) AS chi
  FROM s2)
SELECT rec_no,
       ROUND(DEGREES({c['lam0']} + ATAN2(xx, yr) / {c['n']}), 9) AS lon,
       ROUND(DEGREES(chi + {c['c2']} * SIN(2.0 * chi)
                         + {c['c4']} * SIN(4.0 * chi)
                         + {c['c6']} * SIN(6.0 * chi)
                         + {c['c8']} * SIN(8.0 * chi)), 9) AS lat
FROM s3
"""


ORACLE_SHP_LCC = _oracle_lcc_sql()


N_ALB = 40
# CONUS Albers (EPSG:5070-style parameters on WGS84)
_ALBERS_WKT = (
    'PROJCS["CONUS Albers style",GEOGCS["WGS 84",DATUM["WGS_1984",'
    'SPHEROID["WGS 84",6378137,298.257223563]]],'
    'PROJECTION["Albers_Conic_Equal_Area"],'
    'PARAMETER["standard_parallel_1",29.5],'
    'PARAMETER["standard_parallel_2",45.5],'
    'PARAMETER["latitude_of_center",23],'
    'PARAMETER["longitude_of_center",-96],'
    'PARAMETER["false_easting",0],'
    'PARAMETER["false_northing",0],UNIT["metre",1]]')


def _oracle_albers_sql() -> str:
    """Snyder inverse-Albers as DuckDB SQL from the SAME float64 constants
    the engine kernel uses (parser.albers_constants). The q/qp ratio is
    clamped to [-1, 1] on both sides (np.clip / GREATEST+LEAST) before
    ASIN."""
    from .shp.parser import albers_constants
    cv = albers_constants(6378137.0, 298.257223563, -96.0, 23.0,
                          29.5, 45.5, 0.0, 0.0)
    c = {k: f"CAST({v!r} AS DOUBLE)" for k, v in cv.items()}
    return f"""
WITH src AS (
  SELECT CAST(i + 1 AS INT) AS rec_no,
         ({u01_sql('i * 41 + 3')} - 0.5) * 4000000.0 AS x,
         {u01_sql('i * 41 + 4')} * 3000000.0 AS y
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_ALB - 1})) AS i) t),
s1 AS (
  SELECT rec_no, x - {c['fe']} AS xx,
         {c['rho0']} - (y - {c['fn']}) AS yr
  FROM src),
s2 AS (
  SELECT rec_no, xx, yr,
         ({c['c']} - (xx * xx + yr * yr) * {c['n']} * {c['n']}
            / ({c['a']} * {c['a']})) / {c['n']} AS q
  FROM s1),
s3 AS (
  SELECT rec_no, xx, yr,
         ASIN(GREATEST(-1.0, LEAST(1.0, q / {c['qp']}))) AS beta
  FROM s2)
SELECT rec_no,
       ROUND(DEGREES({c['lam0']} + ATAN2(xx, yr) / {c['n']}), 9) AS lon,
       ROUND(DEGREES(beta + {c['b2']} * SIN(2.0 * beta)
                          + {c['b4']} * SIN(4.0 * beta)
                          + {c['b6']} * SIN(6.0 * beta)), 9) AS lat
FROM s3
"""


ORACLE_SHP_ALBERS = _oracle_albers_sql()


N_PST = 40
# Antarctic Polar Stereographic (EPSG:3031-style on WGS84)
_PST_WKT = (
    'PROJCS["Antarctic PS style",GEOGCS["WGS 84",DATUM["WGS_1984",'
    'SPHEROID["WGS 84",6378137,298.257223563]]],'
    'PROJECTION["Polar_Stereographic"],'
    'PARAMETER["standard_parallel_1",-71],'
    'PARAMETER["central_meridian",0],'
    'PARAMETER["false_easting",0],'
    'PARAMETER["false_northing",0],UNIT["metre",1]]')


def _oracle_stereo_sql() -> str:
    """Snyder inverse polar stereographic (south) as DuckDB SQL from the
    SAME float64 constants the engine kernel uses."""
    from .shp.parser import polar_stereo_constants
    cv = polar_stereo_constants(6378137.0, 298.257223563, 0.0, -71.0,
                                1.0, 0.0, 0.0, True)
    c = {k: (f"CAST({v!r} AS DOUBLE)" if isinstance(v, float) else v)
         for k, v in cv.items()}
    return f"""
WITH src AS (
  SELECT CAST(i + 1 AS INT) AS rec_no,
         ({u01_sql('i * 43 + 3')} - 0.5) * 4000000.0 AS x,
         ({u01_sql('i * 43 + 4')} - 0.5) * 4000000.0 AS y
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_PST - 1})) AS i) t),
s1 AS (
  SELECT rec_no, x - {c['fe']} AS xx, y - {c['fn']} AS yy
  FROM src),
s2 AS (
  SELECT rec_no, xx, yy,
         PI() / 2.0 - 2.0 * ATAN(SQRT(xx * xx + yy * yy)
                                 / {c['scale']}) AS chi
  FROM s1)
SELECT rec_no,
       ROUND(DEGREES({c['lam0']} + ATAN2(xx, yy)), 9) AS lon,
       ROUND(-DEGREES(chi + {c['c2']} * SIN(2.0 * chi)
                          + {c['c4']} * SIN(4.0 * chi)
                          + {c['c6']} * SIN(6.0 * chi)
                          + {c['c8']} * SIN(8.0 * chi)), 9) AS lat
FROM s2
"""


ORACLE_SHP_STEREO = _oracle_stereo_sql()


N_LAEA = 40
# ETRS89-LAEA Europe (EPSG:3035-style oblique aspect)
_LAEA_WKT = (
    'PROJCS["ETRS89-LAEA style",GEOGCS["WGS 84",DATUM["WGS_1984",'
    'SPHEROID["WGS 84",6378137,298.257223563]]],'
    'PROJECTION["Lambert_Azimuthal_Equal_Area"],'
    'PARAMETER["latitude_of_center",52],'
    'PARAMETER["longitude_of_center",10],'
    'PARAMETER["false_easting",4321000],'
    'PARAMETER["false_northing",3210000],UNIT["metre",1]]')


def _oracle_laea_sql() -> str:
    """Snyder inverse-LAEA (oblique) as DuckDB SQL from the SAME float64
    constants the engine kernel uses (parser.laea_constants), same
    operation order (x/d and d*y folded first, rho from the folded
    coords). qq/qp is clamped on both sides before ASIN."""
    from .shp.parser import laea_constants
    cv = laea_constants(6378137.0, 298.257223563, 10.0, 52.0,
                        4321000.0, 3210000.0)
    c = {k: (f"CAST({v!r} AS DOUBLE)" if isinstance(v, float) else v)
         for k, v in cv.items()}
    return f"""
WITH src AS (
  SELECT CAST(i + 1 AS INT) AS rec_no,
         2500000.0 + {u01_sql('i * 47 + 3')} * 3500000.0 AS x,
         1400000.0 + {u01_sql('i * 47 + 4')} * 3800000.0 AS y
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_LAEA - 1})) AS i) t),
s1 AS (
  SELECT rec_no, (x - {c['fe']}) / {c['d']} AS xd,
         {c['d']} * (y - {c['fn']}) AS yd
  FROM src),
s2 AS (
  SELECT rec_no, xd, yd, SQRT(xd * xd + yd * yd) AS rho
  FROM s1),
s3 AS (
  SELECT rec_no, xd, yd, rho,
         2.0 * ASIN(GREATEST(-1.0, LEAST(1.0,
                    rho / (2.0 * {c['rq']})))) AS ce
  FROM s2),
s4 AS (
  SELECT rec_no, xd, yd, rho, SIN(ce) AS sin_ce, COS(ce) AS cos_ce
  FROM s3),
s5 AS (
  SELECT rec_no, xd, yd, rho, sin_ce, cos_ce,
         ASIN(GREATEST(-1.0, LEAST(1.0,
              {c['qp']} * (cos_ce * {c['sin_b1']}
                           + yd * sin_ce * {c['cos_b1']} / rho)
              / {c['qp']}))) AS beta
  FROM s4)
SELECT rec_no,
       ROUND(DEGREES({c['lam0']} + ATAN2(xd * sin_ce,
                 rho * {c['cos_b1']} * cos_ce
                 - yd * {c['sin_b1']} * sin_ce)), 9) AS lon,
       ROUND(DEGREES(beta + {c['b2']} * SIN(2.0 * beta)
                          + {c['b4']} * SIN(4.0 * beta)
                          + {c['b6']} * SIN(6.0 * beta)), 9) AS lat
FROM s5
"""


ORACLE_SHP_LAEA = _oracle_laea_sql()


N_MERC = 40
# EPSG:3395-style World Mercator (ellipsoidal 1SP — no pseudo-mercator
# markers, so the dispatch must pick the ellipsoidal kernel)
_MERC3395_WKT = (
    'PROJCS["World Mercator style",GEOGCS["WGS 84",DATUM["WGS_1984",'
    'SPHEROID["WGS 84",6378137,298.257223563]]],'
    'PROJECTION["Mercator_1SP"],'
    'PARAMETER["central_meridian",12],'
    'PARAMETER["scale_factor",1],'
    'PARAMETER["false_easting",500000],'
    'PARAMETER["false_northing",250000],UNIT["metre",1]]')


def _oracle_merc3395_sql() -> str:
    """Snyder inverse ellipsoidal Mercator as DuckDB SQL from the SAME
    float64 constants the engine kernel uses (parser.mercator_constants)."""
    from .shp.parser import mercator_constants
    cv = mercator_constants(6378137.0, 298.257223563, 12.0, 1.0, None,
                            500000.0, 250000.0)
    c = {k: (f"CAST({v!r} AS DOUBLE)" if isinstance(v, float) else v)
         for k, v in cv.items()}
    return f"""
WITH src AS (
  SELECT CAST(i + 1 AS INT) AS rec_no,
         ({u01_sql('i * 53 + 3')} - 0.5) * 30000000.0 AS x,
         ({u01_sql('i * 53 + 4')} - 0.5) * 28000000.0 AS y
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_MERC - 1})) AS i) t),
s1 AS (
  SELECT rec_no, x - {c['fe']} AS xx, y - {c['fn']} AS yy
  FROM src),
s2 AS (
  SELECT rec_no, xx,
         PI() / 2.0 - 2.0 * ATAN(EXP(-yy / {c['ak']})) AS chi
  FROM s1)
SELECT rec_no,
       ROUND(DEGREES({c['lam0']} + xx / {c['ak']}), 9) AS lon,
       ROUND(DEGREES(chi + {c['c2']} * SIN(2.0 * chi)
                         + {c['c4']} * SIN(4.0 * chi)
                         + {c['c6']} * SIN(6.0 * chi)
                         + {c['c8']} * SIN(8.0 * chi)), 9) AS lat
FROM s2
"""


ORACLE_SHP_MERC3395 = _oracle_merc3395_sql()


N_SINU = 40
# MODIS land-grid Sinusoidal (true sphere: SPHEROID[..., 0])
_SINU_WKT = (
    'PROJCS["MODIS Sinusoidal style",GEOGCS["GCS_Undefined",'
    'DATUM["Undefined",SPHEROID["User_Defined_Spheroid",6371007.181,0.0]],'
    'UNIT["Degree",0.0174532925199433]],'
    'PROJECTION["Sinusoidal"],'
    'PARAMETER["False_Easting",0.0],'
    'PARAMETER["False_Northing",0.0],'
    'PARAMETER["Central_Meridian",0.0],UNIT["Meter",1.0]]')


def _oracle_sinusoidal_sql() -> str:
    """Snyder inverse Sinusoidal as DuckDB SQL from the SAME float64
    constants the engine kernel uses (parser.tmerc_constants at k0=1,
    lat0=0 — the rectifying series the sinusoidal inverse shares). On the
    MODIS sphere every series coefficient is exactly 0.0, but the oracle
    still evaluates the full expression so the float64 op sequence is
    identical to the numpy kernel's."""
    from .shp.parser import tmerc_constants
    cv = tmerc_constants(6371007.181, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0)
    c = {k: (f"CAST({v!r} AS DOUBLE)" if isinstance(v, float) else v)
         for k, v in cv.items()}
    return f"""
WITH src AS (
  SELECT CAST(i + 1 AS INT) AS rec_no,
         ({u01_sql('i * 59 + 3')} - 0.5) * 30000000.0 AS x,
         ({u01_sql('i * 59 + 4')} - 0.5) * 17000000.0 AS y
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_SINU - 1})) AS i) t),
s1 AS (
  SELECT rec_no, x - {c['fe']} AS xx,
         (y - {c['fn']}) / ({c['a']} * {c['m_coef']}) AS mu
  FROM src),
s2 AS (
  SELECT rec_no, xx,
         mu + {c['mu2']} * SIN(2.0 * mu) + {c['mu4']} * SIN(4.0 * mu)
            + {c['mu6']} * SIN(6.0 * mu) + {c['mu8']} * SIN(8.0 * mu)
           AS phi
  FROM s1)
SELECT rec_no,
       ROUND(DEGREES({c['lam0']} + xx
                 * SQRT(1.0 - {c['e2']} * SIN(phi) * SIN(phi))
                 / ({c['a']} * COS(phi))), 9) AS lon,
       ROUND(DEGREES(phi), 9) AS lat
FROM s2
"""


ORACLE_SHP_SINUSOIDAL = _oracle_sinusoidal_sql()


N_MOLL = 40
_MOLL_WKT = (
    'PROJCS["World_Mollweide",GEOGCS["GCS_WGS_1984",'
    'DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,298.257223563]],'
    'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],'
    'PROJECTION["Mollweide"],'
    'PARAMETER["False_Easting",0.0],'
    'PARAMETER["False_Northing",0.0],'
    'PARAMETER["Central_Meridian",0.0],UNIT["Meter",1.0]]')


def _oracle_mollweide_sql() -> str:
    """Snyder eq. 31-4..31-7 inverse Mollweide as DuckDB SQL from the SAME
    float64 constants the engine kernel uses (parser.mollweide_constants)."""
    from .shp.parser import mollweide_constants
    cv = mollweide_constants(6378137.0, 0.0, 0.0, 0.0)
    c = {k: f"CAST({v!r} AS DOUBLE)" for k, v in cv.items()}
    return f"""
WITH src AS (
  SELECT CAST(i + 1 AS INT) AS rec_no,
         ({u01_sql('i * 61 + 3')} - 0.5) * 34000000.0 AS x,
         ({u01_sql('i * 61 + 4')} - 0.5) * 17000000.0 AS y
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_MOLL - 1})) AS i) t),
s1 AS (
  SELECT rec_no, x - {c['fe']} AS xx,
         ASIN(GREATEST(-1.0, LEAST(1.0, (y - {c['fn']}) / {c['rs2']})))
           AS theta
  FROM src),
s2 AS (
  SELECT rec_no, xx, theta,
         ASIN(GREATEST(-1.0, LEAST(1.0,
              (2.0 * theta + SIN(2.0 * theta)) / {c['pi']}))) AS phi
  FROM s1)
SELECT rec_no,
       ROUND(DEGREES({c['lam0']} + {c['pi']} * xx
                     / (2.0 * {c['rs2']} * COS(theta))), 9) AS lon,
       ROUND(DEGREES(phi), 9) AS lat
FROM s2
"""


ORACLE_SHP_MOLLWEIDE = _oracle_mollweide_sql()


N_OBLQ = 40
_RD_WKT = (
    'PROJCS["Amersfoort_RD_New",GEOGCS["GCS_Amersfoort",'
    'DATUM["D_Amersfoort",SPHEROID["Bessel_1841",6377397.155,299.15281]],'
    'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],'
    'PROJECTION["Double_Stereographic"],'
    'PARAMETER["False_Easting",155000.0],'
    'PARAMETER["False_Northing",463000.0],'
    'PARAMETER["Central_Meridian",5.38763888888889],'
    'PARAMETER["Scale_Factor",0.9999079],'
    'PARAMETER["Latitude_Of_Origin",52.1561605555556],UNIT["Meter",1.0]]')
_RD_PARAMS = (6377397.155, 299.15281, 5.38763888888889, 52.1561605555556,
              0.9999079, 155000.0, 463000.0)


def _oracle_oblique_stereo_sql() -> str:
    """EPSG 7-2 double-stereographic inverse as DuckDB SQL, op-for-op the
    numpy kernel's sequence (incl. the four FIXED Newton iterations on the
    isometric latitude), from the same shared float64 constants."""
    from .shp.parser import oblique_stereo_constants
    import math
    cv = oblique_stereo_constants(*_RD_PARAMS)
    c = {k: f"CAST({v!r} AS DOUBLE)" for k, v in cv.items()}
    pi = f"CAST({math.pi!r} AS DOUBLE)"
    newton = (f"phi - (LN(TAN(phi / 2.0 + {pi} / 4.0)"
              f" * POW((1.0 - {c['e']} * SIN(phi))"
              f" / (1.0 + {c['e']} * SIN(phi)), {c['e']} / 2.0)) - psi)"
              f" * COS(phi) * (1.0 - {c['e2']} * SIN(phi) * SIN(phi))"
              f" / (1.0 - {c['e2']}) AS phi")
    its = "\n".join(
        f"it{k} AS (SELECT rec_no, lam, psi, {newton} FROM it{k - 1}),"
        for k in range(1, 5))
    return f"""
WITH src AS (
  SELECT CAST(i + 1 AS INT) AS rec_no,
         {u01_sql('i * 67 + 3')} * 300000.0 AS x,
         300000.0 + {u01_sql('i * 67 + 4')} * 350000.0 AS y
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_OBLQ - 1})) AS i) t),
s1 AS (
  SELECT rec_no, x - {c['fe']} AS xx, y - {c['fn']} AS yy FROM src),
s2 AS (
  SELECT rec_no, xx, yy,
         ATAN2(xx, {c['h']} + yy) AS i2,
         ATAN2(xx, {c['g']} - yy) - ATAN2(xx, {c['h']} + yy) AS j
  FROM s1),
s3 AS (
  SELECT rec_no,
         {c['chi0']} + 2.0 * ATAN((yy - xx * TAN(j / 2.0)) / {c['rk']})
           AS chi,
         (j + 2.0 * i2) / {c['n']} + {c['lam0']} AS lam
  FROM s2),
s4 AS (
  SELECT rec_no, lam,
         0.5 * LN((1.0 + SIN(chi)) / ({c['c']} * (1.0 - SIN(chi))))
           / {c['n']} AS psi
  FROM s3),
it0 AS (
  SELECT rec_no, lam, psi, 2.0 * ATAN(EXP(psi)) - {pi} / 2.0 AS phi
  FROM s4),
{its}
sel AS (SELECT * FROM it4)
SELECT rec_no, ROUND(DEGREES(lam), 9) AS lon, ROUND(DEGREES(phi), 9) AS lat
FROM sel
"""


ORACLE_SHP_OBLIQUE_STEREO = _oracle_oblique_stereo_sql()


N_HOM = 40
# Peninsular-Malaysia BRSO style (EPSG:3376 parameters on GRS80) — the
# Hotine Oblique Mercator family (also Alaska zone 1, Swiss-style obliques)
_HOM_PARAMS = (6378137.0, 298.257222101, 102.25, 4.0,
               323.0257964666666, 323.13010236111114, 0.99984, 0.0, 0.0, "A")
_HOM_WKT = (
    'PROJCS["BRSO style",GEOGCS["GRS 80",DATUM["D_unknown",'
    'SPHEROID["GRS80",6378137,298.257222101]]],'
    'PROJECTION["Hotine_Oblique_Mercator_Azimuth_Natural_Origin"],'
    'PARAMETER["latitude_of_center",4],'
    'PARAMETER["longitude_of_center",102.25],'
    'PARAMETER["azimuth",323.0257964666666],'
    'PARAMETER["rectified_grid_angle",323.13010236111114],'
    'PARAMETER["scale_factor",0.99984],'
    'PARAMETER["false_easting",0],'
    'PARAMETER["false_northing",0],UNIT["metre",1]]')


def _oracle_hom_sql() -> str:
    """EPSG 9812 Hotine-Oblique-Mercator inverse as DuckDB SQL, op-for-op
    the numpy kernel's sequence, from the same hom_constants() float64
    values."""
    import math
    from .shp.parser import hom_constants
    cv = hom_constants(*_HOM_PARAMS)
    c = {k: f"CAST({v!r} AS DOUBLE)" for k, v in cv.items()
         if isinstance(v, float)}
    pi = f"CAST({math.pi!r} AS DOUBLE)"
    return f"""
WITH src AS (
  SELECT CAST(i + 1 AS INT) AS rec_no,
         250000.0 + {u01_sql('i * 73 + 3')} * 450000.0 AS x,
         200000.0 + {u01_sql('i * 73 + 4')} * 450000.0 AS y
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_HOM - 1})) AS i) t),
s1 AS (
  SELECT rec_no,
         (x - {c['fe']}) * {c['cgc']} - (y - {c['fn']}) * {c['sgc']} AS vp,
         (y - {c['fn']}) * {c['cgc']} + (x - {c['fe']}) * {c['sgc']}
           + {c['u_off']} AS up
  FROM src),
s2 AS (
  SELECT rec_no, up, EXP(-{c['b_over_a']} * vp) AS q FROM s1),
s3 AS (
  SELECT rec_no, (q - 1.0 / q) / 2.0 AS s, (q + 1.0 / q) / 2.0 AS t,
         {c['b_over_a']} * up AS bua
  FROM s2),
s4 AS (
  SELECT rec_no, s, bua, SIN(bua) AS v,
         (SIN(bua) * {c['cg0']} + s * {c['sg0']}) / t AS u
  FROM s3),
s5 AS (
  SELECT rec_no, s, bua, v,
         {pi} / 2.0 - 2.0 * ATAN(
           POWER({c['h']} / SQRT((1.0 + u) / (1.0 - u)), {c['inv_b']}))
           AS chi
  FROM s4)
SELECT rec_no,
       ROUND(DEGREES({c['lam0']}
             - ATAN2(s * {c['cg0']} - v * {c['sg0']}, COS(bua))
               / {c['b']}), 9) AS lon,
       ROUND(DEGREES(chi + {c['c2']} * SIN(2.0 * chi)
                         + {c['c4']} * SIN(4.0 * chi)
                         + {c['c6']} * SIN(6.0 * chi)
                         + {c['c8']} * SIN(8.0 * chi)), 9) AS lat
FROM s5
"""


ORACLE_SHP_HOM = _oracle_hom_sql()


N_KRO = 40
_KRO_WKT = (
    'PROJCS["S-JTSK_Krovak_East_North",GEOGCS["GCS_S_JTSK",'
    'DATUM["D_S_JTSK",SPHEROID["Bessel_1841",6377397.155,299.1528128]],'
    'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],'
    'PROJECTION["Krovak"],'
    'PARAMETER["False_Easting",0.0],'
    'PARAMETER["False_Northing",0.0],'
    'PARAMETER["Pseudo_Standard_Parallel_1",78.5],'
    'PARAMETER["Scale_Factor",0.9999],'
    'PARAMETER["Azimuth",30.28813975277778],'
    'PARAMETER["Longitude_Of_Center",24.83333333333333],'
    'PARAMETER["Latitude_Of_Center",49.5],UNIT["Meter",1.0]]')
_KRO_PARAMS = (6377397.155, 299.1528128, 24.83333333333333, 49.5,
               30.28813975277778, 78.5, 0.9999, 0.0, 0.0)


def _datum_stage_sql(a: float, inv_f: float, p7, src_cte: str) -> str:
    """The make_datum_shift op sequence (geodetic→geocentric at h=0,
    position-vector Helmert, Bowring closed form) as DuckDB CTE stages
    over ``src_cte`` exposing (rec_no, lon_s, lat_s) in UNROUNDED source-
    datum degrees — including the engine's degrees→radians roundtrip
    between the projection inverse and the shift. Shared by every
    datum-composed oracle; zero rotation/scale terms stay in the SQL
    (±0.0·y is exact, matching the kernel's own float ops)."""
    import math
    from .shp.parser import datum_constants
    d = {k: f"CAST({v!r} AS DOUBLE)"
         for k, v in datum_constants(a, inv_f, p7).items()}
    # np.radians multiplies by the double nearest pi/180 — a single
    # constant multiply, NOT x*pi/180 (two roundings)
    d2r = f"CAST({(math.pi / 180.0)!r} AS DOUBLE)"
    return f"""
g1 AS (
  SELECT rec_no, lon_s * {d2r} AS lam, lat_s * {d2r} AS phi
  FROM {src_cte}),
g2 AS (
  SELECT rec_no, lam, SIN(phi) AS sp, COS(phi) AS cp FROM g1),
g3 AS (
  SELECT rec_no, lam, sp, cp,
         {d['a_src']} / SQRT(1.0 - {d['e2_src']} * sp * sp) AS n
  FROM g2),
g4 AS (
  SELECT rec_no,
         n * cp * COS(lam) AS gx, n * cp * SIN(lam) AS gy,
         n * (1.0 - {d['e2_src']}) * sp AS gz
  FROM g3),
g5 AS (
  SELECT rec_no,
         {d['dx']} + {d['m']} * (gx - {d['rz']} * gy + {d['ry']} * gz) AS x2,
         {d['dy']} + {d['m']} * ({d['rz']} * gx + gy - {d['rx']} * gz) AS y2,
         {d['dz']} + {d['m']} * (-{d['ry']} * gx + {d['rx']} * gy + gz) AS z2
  FROM g4),
g6 AS (
  SELECT rec_no, x2, y2, z2, SQRT(x2 * x2 + y2 * y2) AS p FROM g5),
g7 AS (
  SELECT rec_no, x2, y2, z2, p,
         SIN(ATAN2(z2 * {d['aw']}, p * {d['bw']})) AS su,
         COS(ATAN2(z2 * {d['aw']}, p * {d['bw']})) AS cu
  FROM g6)
SELECT rec_no,
       ROUND(DEGREES(ATAN2(y2, x2)), 9) AS lon,
       ROUND(DEGREES(ATAN2(z2 + {d['ep2w_bw']} * su * su * su,
                           p - {d['e2w_aw']} * cu * cu * cu)), 9) AS lat
FROM g7
"""

def _oracle_krovak_sql(seed1: int = 5, seed2: int = 6,
                       datum_p7=None) -> str:
    """EPSG 9819 Krovak inverse as DuckDB SQL, op-for-op the numpy
    kernel's sequence (incl. the four FIXED latitude iterations), from the
    same shared krovak_constants() float64 values. With ``datum_p7`` the
    final select becomes an unrounded-degrees CTE feeding the shared
    Helmert stages (the 3-param S-JTSK→WGS84 composition)."""
    import math
    from .shp.parser import krovak_constants
    cv = krovak_constants(*_KRO_PARAMS)
    c = {k: f"CAST({v!r} AS DOUBLE)" for k, v in cv.items()}
    ca = f"CAST({math.cos(cv['alpha'])!r} AS DOUBLE)"
    sa = f"CAST({math.sin(cv['alpha'])!r} AS DOUBLE)"
    pi = f"CAST({math.pi!r} AS DOUBLE)"
    step = (f"2.0 * (ATAN(base * POW((1.0 + {c['e']} * SIN(phi))"
            f" / (1.0 - {c['e']} * SIN(phi)), {c['e']} / 2.0)) - {pi} / 4.0)"
            " AS phi")
    its = "\n".join(
        f"it{k} AS (SELECT rec_no, lam, base, {step} FROM it{k - 1}),"
        for k in range(1, 5))
    if datum_p7 is None:
        tail = f"""sel AS (SELECT * FROM it4)
SELECT rec_no, ROUND(DEGREES(lam), 9) AS lon, ROUND(DEGREES(phi), 9) AS lat
FROM sel
"""
    else:
        tail = f"""sel AS (SELECT * FROM it4),
kro AS (
  SELECT rec_no, DEGREES(lam) AS lon_s, DEGREES(phi) AS lat_s FROM sel),
{_datum_stage_sql(_KRO_PARAMS[0], _KRO_PARAMS[1], datum_p7, 'kro')}"""
    return f"""
WITH src AS (
  SELECT CAST(i + 1 AS INT) AS rec_no,
         -880000.0 + {u01_sql(f'i * 71 + {seed1}')} * 420000.0 AS x,
         -1220000.0 + {u01_sql(f'i * 71 + {seed2}')} * 280000.0 AS y
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_KRO - 1})) AS i) t),
s1 AS (
  SELECT rec_no, -(y - {c['fn']}) AS xs, -(x - {c['fe']}) AS ys FROM src),
s2 AS (
  SELECT rec_no, SQRT(xs * xs + ys * ys) AS r, ATAN2(ys, xs) AS theta
  FROM s1),
s3 AS (
  SELECT rec_no, theta * {c['invn']} AS d,
         2.0 * (ATAN(POW({c['r0']} / r, {c['invn']}) * {c['tp']})
                - {pi} / 4.0) AS t
  FROM s2),
s4 AS (
  SELECT rec_no, d,
         ASIN({ca} * SIN(t) - {sa} * COS(t) * COS(d)) AS u, t
  FROM s3),
s5 AS (
  SELECT rec_no, u,
         ASIN(COS(t) * SIN(d) / COS(u)) AS v
  FROM s4),
it0 AS (
  SELECT rec_no, {c['lam0']} - v / {c['B']} AS lam,
         {c['ti']} * POW(TAN(u / 2.0 + {pi} / 4.0), {c['invB']}) AS base,
         u AS phi
  FROM s5),
{its}
{tail}"""


ORACLE_SHP_KROVAK = _oracle_krovak_sql()


# S-JTSK → WGS84 with the published 3-param TOWGS84 (the Czech national
# transform EPSG:1622-class values) — exercises the 3-param Helmert
# branch (rotations/scale zero) end-to-end through a non-TM projection
_KRO_DATUM_P7 = (589.0, 76.0, 480.0, 0.0, 0.0, 0.0, 0.0)
_KRO_DATUM_WKT = _KRO_WKT.replace(
    'SPHEROID["Bessel_1841",6377397.155,299.1528128]]',
    'SPHEROID["Bessel_1841",6377397.155,299.1528128],'
    'TOWGS84[589.0,76.0,480.0]]')


ORACLE_SHP_KROVAK_DATUM = _oracle_krovak_sql(
    seed1=9, seed2=10, datum_p7=_KRO_DATUM_P7)


N_CAS = 40
_CAS_WKT = (
    'PROJCS["Cassini_Test_Grid",GEOGCS["GCS_Bessel",'
    'DATUM["D_Bessel",SPHEROID["Bessel_1841",6377397.155,299.1528128]],'
    'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],'
    'PROJECTION["Cassini"],'
    'PARAMETER["False_Easting",50000.0],'
    'PARAMETER["False_Northing",100000.0],'
    'PARAMETER["Central_Meridian",10.0],'
    'PARAMETER["Latitude_Of_Origin",50.0],UNIT["Meter",1.0]]')
_CAS_PARAMS = (6377397.155, 299.1528128, 10.0, 50.0, 50000.0, 100000.0)


def _oracle_cassini_sql() -> str:
    """Cassini-Soldner inverse as DuckDB SQL, op-for-op the numpy kernel
    (same tmerc_constants float64 values, k0 = 1)."""
    from .shp.parser import tmerc_constants
    c = {k: f"CAST({v!r} AS DOUBLE)" for k, v in tmerc_constants(
        _CAS_PARAMS[0], _CAS_PARAMS[1], _CAS_PARAMS[2], _CAS_PARAMS[3],
        1.0, _CAS_PARAMS[4], _CAS_PARAMS[5]).items()}
    return f"""
WITH src AS (
  SELECT CAST(i + 1 AS INT) AS rec_no,
         -100000.0 + {u01_sql('i * 83 + 3')} * 300000.0 AS x,
         -50000.0 + {u01_sql('i * 83 + 4')} * 350000.0 AS y
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_CAS - 1})) AS i) t),
s1 AS (
  SELECT rec_no, x - {c['fe']} AS xx,
         ({c['m0']} + (y - {c['fn']})) / ({c['a']} * {c['m_coef']}) AS mu
  FROM src),
s2 AS (
  SELECT rec_no, xx,
         mu + {c['mu2']} * SIN(2.0 * mu) + {c['mu4']} * SIN(4.0 * mu)
            + {c['mu6']} * SIN(6.0 * mu) + {c['mu8']} * SIN(8.0 * mu) AS phi1
  FROM s1),
s3 AS (
  SELECT rec_no, xx, phi1, SIN(phi1) AS sin1, COS(phi1) AS cos1,
         TAN(phi1) AS tan1
  FROM s2),
s4 AS (
  SELECT rec_no, xx, phi1, cos1, tan1, tan1 * tan1 AS t1,
         1.0 - {c['e2']} * sin1 * sin1 AS w
  FROM s3),
s5 AS (
  SELECT rec_no, xx, phi1, cos1, tan1, t1,
         {c['a']} / SQRT(w) AS n1,
         {c['a']} * (1.0 - {c['e2']}) / (w * SQRT(w)) AS r1
  FROM s4),
s6 AS (
  SELECT rec_no, phi1, cos1, tan1, t1, n1, r1, xx / n1 AS d,
         (xx / n1) * (xx / n1) AS d2
  FROM s5)
SELECT rec_no,
       ROUND(DEGREES({c['lam0']} + (d - t1 * d2 * d / 3.0
                 + (1.0 + 3.0 * t1) * t1 * d2 * d2 * d / 15.0) / cos1), 9)
         AS lon,
       ROUND(DEGREES(phi1 - (n1 * tan1 / r1) * (d2 / 2.0
                 - (1.0 + 3.0 * t1) * d2 * d2 / 24.0)), 9) AS lat
FROM s6
"""


ORACLE_SHP_CASSINI = _oracle_cassini_sql()


N_BONNE = 40
_BONNE_WKT = (
    'PROJCS["Bonne_Test_Grid",GEOGCS["GCS_International_1924",'
    'DATUM["D_International_1924",'
    'SPHEROID["International_1924",6378388.0,297.0]],'
    'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],'
    'PROJECTION["Bonne"],'
    'PARAMETER["False_Easting",600000.0],'
    'PARAMETER["False_Northing",200000.0],'
    'PARAMETER["Central_Meridian",2.5],'
    'PARAMETER["Standard_Parallel_1",45.0],UNIT["Meter",1.0]]')
_BONNE_PARAMS = (6378388.0, 297.0, 2.5, 45.0, 600000.0, 200000.0)


def _oracle_bonne_sql() -> str:
    """Bonne inverse as DuckDB SQL, op-for-op the numpy kernel (same
    bonne_constants float64 values)."""
    from .shp.parser import bonne_constants
    a, inv_f, lon0, lat1, fe, fn = _BONNE_PARAMS
    cc = bonne_constants(a, inv_f, lon0, lat1, fe, fn)
    c = {k: f"CAST({v!r} AS DOUBLE)" for k, v in cc.items()}
    return f"""
WITH src AS (
  SELECT CAST(i + 1 AS INT) AS rec_no,
         100000.0 + {u01_sql('i * 89 + 3')} * 1000000.0 AS x,
         -300000.0 + {u01_sql('i * 89 + 4')} * 1000000.0 AS y
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_BONNE - 1})) AS i) t),
s1 AS (
  SELECT rec_no, x - {c['fe']} AS xx, {c['am1s']} - (y - {c['fn']}) AS ay
  FROM src),
s2 AS (
  SELECT rec_no, xx, ay,
         {c['sgn']} * SQRT(xx * xx + ay * ay) AS rho
  FROM s1),
s3 AS (
  SELECT rec_no, xx, ay, rho,
         ({c['am1s']} + {c['m0']} - rho) / ({c['a']} * {c['m_coef']}) AS mu
  FROM s2),
s4 AS (
  SELECT rec_no, xx, ay, rho,
         mu + {c['mu2']} * SIN(2.0 * mu) + {c['mu4']} * SIN(4.0 * mu)
            + {c['mu6']} * SIN(6.0 * mu) + {c['mu8']} * SIN(8.0 * mu)
           AS phi
  FROM s3),
s5 AS (
  SELECT rec_no, xx, ay, rho, phi,
         COS(phi) / SQRT(1.0 - {c['e2']} * SIN(phi) * SIN(phi)) AS m
  FROM s4)
SELECT rec_no,
       ROUND(DEGREES({c['lam0']}
             + rho * ATAN2({c['sgn']} * xx, {c['sgn']} * ay)
               / ({c['a']} * m)), 9) AS lon,
       ROUND(DEGREES(phi), 9) AS lat
FROM s5
"""


ORACLE_SHP_BONNE = _oracle_bonne_sql()

N_ECK4 = 40
_ECK4_WKT = (
    'PROJCS["World_Eckert_IV",GEOGCS["GCS_WGS_1984",'
    'DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,298.257223563]],'
    'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],'
    'PROJECTION["Eckert_IV"],'
    'PARAMETER["False_Easting",0.0],'
    'PARAMETER["False_Northing",0.0],'
    'PARAMETER["Central_Meridian",10.0],UNIT["Meter",1.0]]')


def _oracle_eckert4_sql() -> str:
    from .shp.parser import eckert4_constants
    cv = eckert4_constants(6378137.0, 10.0, 0.0, 0.0)
    c = {k: f"CAST({v!r} AS DOUBLE)" for k, v in cv.items()}
    return f"""
WITH src AS (
  SELECT CAST(i + 1 AS INT) AS rec_no,
         ({u01_sql('i * 101 + 3')} - 0.5) * 2.0 * 10000000.0 AS x,
         ({u01_sql('i * 101 + 4')} - 0.5) * 2.0 * 7500000.0 AS y
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_ECK4 - 1})) AS i) t),
s1 AS (
  SELECT rec_no, x - {c['fe']} AS xx,
         ASIN(GREATEST(-1.0, LEAST(1.0, (y - {c['fn']}) / {c['cy']})))
           AS theta
  FROM src),
s2 AS (
  SELECT rec_no, xx, theta, SIN(theta) AS st, COS(theta) AS ct FROM s1),
s3 AS (
  SELECT rec_no, xx, ct,
         ASIN(GREATEST(-1.0, LEAST(1.0,
              (theta + st * ct + 2.0 * st) / {c['den']}))) AS phi
  FROM s2)
SELECT rec_no,
       ROUND(DEGREES({c['lam0']} + xx / ({c['cx']} * (1.0 + ct))), 9)
         AS lon,
       ROUND(DEGREES(phi), 9) AS lat
FROM s3
"""


ORACLE_SHP_ECK4 = _oracle_eckert4_sql()


N_ROBIN = 40
_ROBIN_WKT = (
    'PROJCS["World_Robinson",GEOGCS["GCS_WGS_1984",'
    'DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,298.257223563]],'
    'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],'
    'PROJECTION["Robinson"],'
    'PARAMETER["False_Easting",0.0],'
    'PARAMETER["False_Northing",0.0],'
    'PARAMETER["Central_Meridian",-5.0],UNIT["Meter",1.0]]')


def _oracle_robinson_sql() -> str:
    from .shp.parser import (ROBINSON_PDFE, ROBINSON_PLEN, ROBINSON_XS,
                             ROBINSON_YS)
    a, lon0 = 6378137.0, -5.0
    import math
    lam0d = f"CAST({math.degrees(math.radians(lon0))!r} AS DOUBLE)"
    ys = f"CAST({ROBINSON_YS * a!r} AS DOUBLE)"
    xs = f"CAST({ROBINSON_XS * a!r} AS DOUBLE)"
    seg = " ".join(
        f"WHEN yy < CAST({ROBINSON_PDFE[k + 1]!r} AS DOUBLE) THEN {k}"
        for k in range(18))
    karms_t = " ".join(
        f"WHEN {k} THEN (yy - CAST({ROBINSON_PDFE[k]!r} AS DOUBLE)) / "
        f"CAST({ROBINSON_PDFE[k + 1] - ROBINSON_PDFE[k]!r} AS DOUBLE)"
        for k in range(18))
    karms_p = " ".join(
        f"WHEN {k} THEN CAST({ROBINSON_PLEN[k]!r} AS DOUBLE) + t * "
        f"CAST({ROBINSON_PLEN[k + 1] - ROBINSON_PLEN[k]!r} AS DOUBLE)"
        for k in range(18))
    return f"""
WITH src AS (
  SELECT CAST(i + 1 AS INT) AS rec_no,
         ({u01_sql('i * 103 + 3')} - 0.5) * 2.0 * 14000000.0 AS x,
         ({u01_sql('i * 103 + 4')} - 0.5) * 2.0 * 8300000.0 AS y
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_ROBIN - 1})) AS i) t),
s1 AS (
  SELECT rec_no, x AS xx, y, ABS(y) / {ys} AS yy FROM src),
s2 AS (
  SELECT rec_no, xx, y, yy, (CASE {seg} ELSE 17 END) AS k FROM s1),
s3 AS (
  SELECT rec_no, xx, y, yy, k, (CASE k {karms_t} END) AS t FROM s2),
s4 AS (
  SELECT rec_no, xx, y, k, t, (CASE k {karms_p} END) AS pl FROM s3)
SELECT rec_no,
       ROUND({lam0d} + DEGREES(xx / ({xs} * pl)), 9) AS lon,
       ROUND(SIGN(y) * 5.0 * (k + t), 9) AS lat
FROM s4
"""


ORACLE_SHP_ROBIN = _oracle_robinson_sql()


N_MILLER = 40
_MILLER_WKT = (
    'PROJCS["World_Miller_Cylindrical",GEOGCS["GCS_WGS_1984",'
    'DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,298.257223563]],'
    'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],'
    'PROJECTION["Miller_Cylindrical"],'
    'PARAMETER["False_Easting",0.0],'
    'PARAMETER["False_Northing",0.0],'
    'PARAMETER["Central_Meridian",12.0],UNIT["Meter",1.0]]')


def _oracle_miller_sql() -> str:
    from .shp.parser import miller_constants
    cv = miller_constants(6378137.0, 12.0, 0.0, 0.0)
    c = {k: f"CAST({v!r} AS DOUBLE)" for k, v in cv.items()}
    return f"""
WITH src AS (
  SELECT CAST(i + 1 AS INT) AS rec_no,
         ({u01_sql('i * 107 + 3')} - 0.5) * 2.0 * 17000000.0 AS x,
         ({u01_sql('i * 107 + 4')} - 0.5) * 2.0 * 14000000.0 AS y
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_MILLER - 1})) AS i) t)
SELECT rec_no,
       ROUND(DEGREES({c['lam0']} + x / {c['a']}), 9) AS lon,
       ROUND(DEGREES(2.5 * ATAN(EXP(0.8 * y / {c['a']})) - {c['c58']}),
             9) AS lat
FROM src
"""


ORACLE_SHP_MILLER = _oracle_miller_sql()


N_VDG = 40
_VDG_WKT = (
    'PROJCS["World_Van_der_Grinten_I",GEOGCS["GCS_WGS_1984",'
    'DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,298.257223563]],'
    'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],'
    'PROJECTION["Van_der_Grinten_I"],'
    'PARAMETER["False_Easting",0.0],'
    'PARAMETER["False_Northing",0.0],'
    'PARAMETER["Central_Meridian",-7.0],UNIT["Meter",1.0]]')
# sample inside the unit map circle (|X|,|Y| <= 0.65, so radius
# <= 0.92) by pure AFFINE u01 math — no trig in the point generation,
# so the oracle regenerates bit-identical coordinates
_VDG_HALF = 0.65 * math.pi * 6378137.0


def _oracle_vdg_sql() -> str:
    from .shp.parser import vdg_constants
    cv = vdg_constants(6378137.0, -7.0, 0.0, 0.0)
    c = {k: f"CAST({v!r} AS DOUBLE)" for k, v in cv.items()}
    return f"""
WITH src AS (
  SELECT CAST(i + 1 AS INT) AS rec_no,
         ({u01_sql('i * 109 + 3')} - 0.5) * 2.0
           * CAST({_VDG_HALF!r} AS DOUBLE) AS x,
         ({u01_sql('i * 109 + 4')} - 0.5) * 2.0
           * CAST({_VDG_HALF!r} AS DOUBLE) AS y
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_VDG - 1})) AS i) t),
s1 AS (
  SELECT rec_no, x / {c['pr']} AS X, y / {c['pr']} AS Y FROM src),
s2 AS (
  SELECT rec_no, X, Y, X * X AS x2, Y * Y AS y2,
         X * X + Y * Y AS s
  FROM s1),
s3 AS (
  SELECT *, -ABS(Y) * (1.0 + s) AS c1 FROM s2),
s4 AS (
  SELECT *, c1 - 2.0 * y2 + x2 AS c2,
         -2.0 * c1 + 1.0 + 2.0 * y2 + s * s AS c3
  FROM s3),
s5 AS (
  SELECT *,
         y2 / c3 + (2.0 * c2 * c2 * c2 / (c3 * c3 * c3)
                    - 9.0 * c1 * c2 / (c3 * c3)) / 27.0 AS d,
         (c1 - c2 * c2 / (3.0 * c3)) / c3 AS a1
  FROM s4),
s6 AS (
  SELECT *, 2.0 * SQRT(-a1 / 3.0) AS m1 FROM s5),
s7 AS (
  SELECT *,
         ACOS(GREATEST(-1.0, LEAST(1.0, 3.0 * d /
              (CASE WHEN a1 * m1 = 0.0 THEN 1.0 ELSE a1 * m1 END))))
           / 3.0 AS th1
  FROM s6)
SELECT rec_no,
       ROUND(DEGREES({c['lam0']} + CASE WHEN X = 0.0 THEN 0.0 ELSE
             {c['pi']} * (s - 1.0 + SQRT(1.0 + 2.0 * (x2 - y2) + s * s))
             / (2.0 * X) END), 9) AS lon,
       ROUND(DEGREES(CASE WHEN Y = 0.0 THEN 0.0 ELSE
             SIGN(Y) * {c['pi']} * (-m1 * COS(th1 + {c['pi']} / 3.0)
                                    - c2 / (3.0 * c3)) END), 9) AS lat
FROM s7
"""


ORACLE_SHP_VDG = _oracle_vdg_sql()


N_EE = 40
_EE_WKT = (
    'PROJCS["World_Equal_Earth",GEOGCS["GCS_Sphere_Authalic",'
    'DATUM["D_Sphere",SPHEROID["Authalic_Sphere",6371008.7714,0.0]],'
    'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],'
    'PROJECTION["Equal_Earth"],'
    'PARAMETER["False_Easting",0.0],'
    'PARAMETER["False_Northing",0.0],'
    'PARAMETER["Central_Meridian",11.0],UNIT["Meter",1.0]]')
_EE_PARAMS = (6371008.7714, 11.0, 0.0, 0.0)


def _oracle_equalearth_sql() -> str:
    """Equal Earth fixed-Newton inverse as DuckDB SQL, op-for-op the
    numpy kernel's sequence, from the same equalearth_constants()."""
    from .shp.parser import _EE_ITERS, equalearth_constants
    cv = equalearth_constants(*_EE_PARAMS)
    c = {k: f"CAST({v!r} AS DOUBLE)" for k, v in cv.items()}
    newton = (
        "th - (th * ({a1} + {a2} * (th * th)"
        " + ((th * th) * (th * th) * (th * th))"
        " * ({a3} + {a4} * (th * th))) - y)"
        " / ({a1} + 3.0 * {a2} * (th * th)"
        " + ((th * th) * (th * th) * (th * th))"
        " * (7.0 * {a3} + 9.0 * {a4} * (th * th)))"
    ).format(**c)
    its = "\n".join(
        f"it{k} AS (SELECT rec_no, xr, y, {newton} AS th FROM it{k - 1}),"
        for k in range(1, _EE_ITERS + 1))
    fp = ("({a1} + 3.0 * {a2} * (th * th)"
          " + ((th * th) * (th * th) * (th * th))"
          " * (7.0 * {a3} + 9.0 * {a4} * (th * th)))").format(**c)
    return f"""
WITH src AS (
  SELECT CAST(i + 1 AS INT) AS rec_no,
         ({u01_sql('i * 89 + 3')} - 0.5) * 33000000.0 AS x,
         ({u01_sql('i * 89 + 4')} - 0.5) * 16400000.0 AS y0
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_EE - 1})) AS i) t),
it0 AS (
  SELECT rec_no, (x - {c['fe']}) AS xr,
         (y0 - {c['fn']}) / {c['a']} AS y,
         (y0 - {c['fn']}) / {c['a']} AS th
  FROM src),
{its}
sel AS (SELECT * FROM it{_EE_ITERS})
SELECT rec_no,
       ROUND(DEGREES({c['lam0']} + (xr / {c['a']}) * {c['m']} * {fp}
                     / COS(th)), 9) AS lon,
       ROUND(DEGREES(ASIN(GREATEST(-1.0, LEAST(1.0,
                     SIN(th) / {c['m']})))), 9) AS lat
FROM sel
"""


ORACLE_SHP_EQUALEARTH = _oracle_equalearth_sql()


N_TOW = 40
# OSGB36 / British National Grid (EPSG:27700) in the GDAL-style WKT1 that
# carries the published OSGB36→WGS84 position-vector TOWGS84 — the datum
# path proj4 applies only when TOWGS84 is explicit in the WKT
# (lib/index.js:≈125-140 [RECONSTRUCTED]).
_TOW_WKT = (
    'PROJCS["OSGB 1936 / British National Grid",GEOGCS["OSGB 1936",'
    'DATUM["OSGB_1936",SPHEROID["Airy 1830",6377563.396,299.3249646],'
    'TOWGS84[446.448,-125.157,542.06,0.15,0.247,0.842,-20.489]],'
    'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],'
    'PROJECTION["Transverse_Mercator"],'
    'PARAMETER["latitude_of_origin",49],PARAMETER["central_meridian",-2],'
    'PARAMETER["scale_factor",0.9996012717],'
    'PARAMETER["false_easting",400000],'
    'PARAMETER["false_northing",-100000],UNIT["metre",1]]')
_TOW_TM_PARAMS = (6377563.396, 299.3249646, -2.0, 49.0, 0.9996012717,
                  400000.0, -100000.0)
_TOW_P7 = (446.448, -125.157, 542.06, 0.15, 0.247, 0.842, -20.489)


def _oracle_towgs84_sql() -> str:
    """TM inverse + TOWGS84 Helmert as DuckDB SQL, op-for-op the numpy
    composition projection_from_wkt builds (shift∘inv — including the
    engine's degrees→radians roundtrip between the two stages), from the
    same tmerc_constants() and datum_constants() float64 values."""
    from .shp.parser import tmerc_constants
    c = {k: f"CAST({v!r} AS DOUBLE)"
         for k, v in tmerc_constants(*_TOW_TM_PARAMS).items()}
    return f"""
WITH src AS (
  SELECT CAST(i + 1 AS INT) AS rec_no,
         100000.0 + {u01_sql('i * 83 + 7')} * 550000.0 AS x,
         {u01_sql('i * 83 + 8')} * 1200000.0 AS y
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_TOW - 1})) AS i) t),
s1 AS (
  SELECT rec_no, x - {c['fe']} AS xx,
         ({c['m0']} + (y - {c['fn']}) / {c['k0']})
           / ({c['a']} * {c['m_coef']}) AS mu
  FROM src),
s2 AS (
  SELECT rec_no, xx,
         mu + {c['mu2']} * SIN(2.0 * mu) + {c['mu4']} * SIN(4.0 * mu)
            + {c['mu6']} * SIN(6.0 * mu) + {c['mu8']} * SIN(8.0 * mu) AS phi1
  FROM s1),
s3 AS (
  SELECT rec_no, xx, phi1, SIN(phi1) AS sin1, COS(phi1) AS cos1,
         TAN(phi1) AS tan1
  FROM s2),
s4 AS (
  SELECT rec_no, xx, phi1, sin1, cos1, tan1,
         {c['ep2']} * cos1 * cos1 AS c1, tan1 * tan1 AS t1,
         1.0 - {c['e2']} * sin1 * sin1 AS w
  FROM s3),
s5 AS (
  SELECT rec_no, xx, phi1, cos1, tan1, c1, t1,
         {c['a']} / SQRT(w) AS n1,
         {c['a']} * (1.0 - {c['e2']}) / (w * SQRT(w)) AS r1
  FROM s4),
s6 AS (
  SELECT rec_no, phi1, cos1, tan1, c1, t1, n1, r1,
         xx / (n1 * {c['k0']}) AS dd,
         (xx / (n1 * {c['k0']})) * (xx / (n1 * {c['k0']})) AS dd2
  FROM s5),
tm AS (
  SELECT rec_no,
         DEGREES({c['lam0']} + (dd
               - (1.0 + 2.0 * t1 + c1) * dd2 * dd / 6.0
               + (5.0 - 2.0 * c1 + 28.0 * t1 - 3.0 * c1 * c1
                  + 8.0 * {c['ep2']} + 24.0 * t1 * t1)
                 * dd2 * dd2 * dd / 120.0) / cos1) AS lon_s,
         DEGREES(phi1 - (n1 * tan1 / r1) * (
               dd2 / 2.0
               - (5.0 + 3.0 * t1 + 10.0 * c1 - 4.0 * c1 * c1
                  - 9.0 * {c['ep2']}) * dd2 * dd2 / 24.0
               + (61.0 + 90.0 * t1 + 298.0 * c1 + 45.0 * t1 * t1
                  - 252.0 * {c['ep2']} - 3.0 * c1 * c1)
                 * dd2 * dd2 * dd2 / 720.0)) AS lat_s
  FROM s6),
{_datum_stage_sql(_TOW_TM_PARAMS[0], _TOW_TM_PARAMS[1], _TOW_P7, 'tm')}"""


ORACLE_SHP_TOWGS84 = _oracle_towgs84_sql()


N_AEQD = 40
_AEQD_WKT = (
    'PROJCS["AEQD_Test_Sphere",GEOGCS["GCS_Sphere",'
    'DATUM["D_Sphere",SPHEROID["Sphere",6371000.0,0.0]],'
    'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],'
    'PROJECTION["Azimuthal_Equidistant"],'
    'PARAMETER["False_Easting",20000.0],'
    'PARAMETER["False_Northing",-10000.0],'
    'PARAMETER["Central_Meridian",30.0],'
    'PARAMETER["Latitude_Of_Origin",40.0],UNIT["Meter",1.0]]')
_AEQD_PARAMS = (6371000.0, 30.0, 40.0, 20000.0, -10000.0)


def _oracle_aeqd_sql() -> str:
    """Spherical AEQD inverse as DuckDB SQL, op-for-op the numpy kernel
    (same aeqd_constants float64 values, incl. the ±1 clip before ASIN)."""
    from .shp.parser import aeqd_constants
    a, lon0, lat0, fe, fn = _AEQD_PARAMS
    c = {k: f"CAST({v!r} AS DOUBLE)"
         for k, v in aeqd_constants(a, lon0, lat0, fe, fn).items()}
    return f"""
WITH src AS (
  SELECT CAST(i + 1 AS INT) AS rec_no,
         -4000000.0 + {u01_sql('i * 89 + 7')} * 8000000.0 AS xi,
         -4000000.0 + {u01_sql('i * 89 + 8')} * 8000000.0 AS yi
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_AEQD - 1})) AS i) t),
s1 AS (
  SELECT rec_no, xi - {c['fe']} AS x, yi - {c['fn']} AS y FROM src),
s2 AS (
  SELECT rec_no, x, y, SQRT(x * x + y * y) AS rho FROM s1),
s3 AS (
  SELECT rec_no, x, y, rho, SIN(rho / {c['r']}) AS sc,
         COS(rho / {c['r']}) AS co
  FROM s2)
SELECT rec_no,
       ROUND(DEGREES({c['lam0']} + ATAN2(x * sc,
             rho * {c['cos0']} * co - y * {c['sin0']} * sc)), 9) AS lon,
       ROUND(DEGREES(ASIN(LEAST(GREATEST(
             co * {c['sin0']} + y * sc * {c['cos0']} / rho,
             -1.0), 1.0))), 9) AS lat
FROM s3
"""


ORACLE_SHP_AEQD = _oracle_aeqd_sql()


N_CEA = 40
_CEA_WKT = (
    'PROJCS["WGS_1984_EASE_Grid_2_0_Global",GEOGCS["GCS_WGS_1984",'
    'DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,298.257223563]],'
    'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],'
    'PROJECTION["Lambert_Cylindrical_Equal_Area"],'
    'PARAMETER["False_Easting",0.0],'
    'PARAMETER["False_Northing",0.0],'
    'PARAMETER["Central_Meridian",0.0],'
    'PARAMETER["Standard_Parallel_1",30.0],UNIT["Meter",1.0]]')
_CEA_PARAMS = (6378137.0, 298.257223563, 0.0, 30.0, 0.0, 0.0)


def _oracle_cea_sql() -> str:
    """CEA inverse as DuckDB SQL, op-for-op the numpy kernel (same
    cea_constants float64 values, incl. the ±1 clip before ASIN)."""
    from .shp.parser import cea_constants
    a, inv_f, lon0, sp1, fe, fn = _CEA_PARAMS
    cv = cea_constants(a, inv_f, lon0, sp1, fe, fn)
    c = {k: f"CAST({v!r} AS DOUBLE)" for k, v in cv.items()}
    return f"""
WITH src AS (
  SELECT CAST(i + 1 AS INT) AS rec_no,
         -15000000.0 + {u01_sql('i * 97 + 9')} * 30000000.0 AS xi,
         -7200000.0 + {u01_sql('i * 97 + 10')} * 14400000.0 AS yi
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_CEA - 1})) AS i) t),
s1 AS (
  SELECT rec_no, xi - {c['fe']} AS x, yi - {c['fn']} AS y FROM src),
s2 AS (
  SELECT rec_no, {c['lam0']} + x / ({c['a']} * {c['k0']}) AS lam,
         ASIN(LEAST(GREATEST(2.0 * y * {c['k0']} / {c['a']} / {c['qp']},
                             -1.0), 1.0)) AS beta
  FROM s1)
SELECT rec_no, ROUND(DEGREES(lam), 9) AS lon,
       ROUND(DEGREES(beta + {c['b2']} * SIN(2.0 * beta)
             + {c['b4']} * SIN(4.0 * beta)
             + {c['b6']} * SIN(6.0 * beta)), 9) AS lat
FROM s2
"""


ORACLE_SHP_CEA = _oracle_cea_sql()


N_POLY = 40
_POLY_WKT = (
    'PROJCS["Polyconic_Test_Grid",GEOGCS["GCS_GRS_1980",'
    'DATUM["D_GRS_1980",SPHEROID["GRS_1980",6378137.0,298.257222101]],'
    'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],'
    'PROJECTION["Polyconic"],'
    'PARAMETER["False_Easting",5000000.0],'
    'PARAMETER["False_Northing",10000000.0],'
    'PARAMETER["Central_Meridian",-54.0],'
    'PARAMETER["Latitude_Of_Origin",20.0],UNIT["Meter",1.0]]')
_POLY_PARAMS = (6378137.0, 298.257222101, -54.0, 20.0,
                5000000.0, 10000000.0)


def _oracle_polyconic_sql() -> str:
    """Polyconic inverse as DuckDB SQL, op-for-op the numpy kernel (same
    polyconic_constants float64 values, POLY_ITERS unrolled Newton
    rounds)."""
    from .shp.parser import POLY_ITERS, polyconic_constants
    a, inv_f, lon0, lat0, fe, fn = _POLY_PARAMS
    cv = polyconic_constants(a, inv_f, lon0, lat0, fe, fn)
    c = {k: f"CAST({v!r} AS DOUBLE)" for k, v in cv.items()}
    ma = (f"({c['c0']} * phi - {c['c2']} * SIN(2.0 * phi) "
          f"+ {c['c4']} * SIN(4.0 * phi) - {c['c6']} * SIN(6.0 * phi))")
    mp = (f"({c['c0']} - 2.0 * {c['c2']} * COS(2.0 * phi) "
          f"+ 4.0 * {c['c4']} * COS(4.0 * phi) "
          f"- 6.0 * {c['c6']} * COS(6.0 * phi))")
    rounds = []
    for k in range(1, POLY_ITERS + 1):
        rounds.append(f"""
h{k} AS (
  SELECT rec_no, x, A, B, phi,
         SIN(2.0 * phi) AS s2,
         SQRT(1.0 - {c['e2']} * SIN(phi) * SIN(phi)) * TAN(phi) AS C,
         {ma} AS Ma, {mp} AS Mp
  FROM it{k - 1}),
it{k} AS (
  SELECT rec_no, x, A, B,
         phi - (A * (C * Ma + 1.0) - Ma - 0.5 * (Ma * Ma + B) * C)
             / ({c['e2']} * s2 * (Ma * Ma + B - 2.0 * A * Ma) / (4.0 * C)
                + (A - Ma) * (C * Mp - 2.0 / s2) - Mp) AS phi
  FROM h{k})""")
    return f"""
WITH src AS (
  SELECT CAST(i + 1 AS INT) AS rec_no,
         4500000.0 + {u01_sql('i * 101 + 11')} * 1000000.0 AS xi,
         8450000.0 + {u01_sql('i * 101 + 12')} * 3100000.0 AS yi
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_POLY - 1})) AS i) t),
it0 AS (
  SELECT rec_no, xi - {c['fe']} AS x,
         ({c['m0a']} + (yi - {c['fn']}) / {c['a']}) AS A,
         ((xi - {c['fe']}) / {c['a']}) * ((xi - {c['fe']}) / {c['a']})
           + ({c['m0a']} + (yi - {c['fn']}) / {c['a']})
           * ({c['m0a']} + (yi - {c['fn']}) / {c['a']}) AS B,
         ({c['m0a']} + (yi - {c['fn']}) / {c['a']}) AS phi
  FROM src),{','.join(rounds)},
fin AS (
  SELECT rec_no, x, phi,
         SQRT(1.0 - {c['e2']} * SIN(phi) * SIN(phi)) * TAN(phi) AS sC
  FROM it{POLY_ITERS})
SELECT rec_no,
       ROUND(DEGREES({c['lam0']} + ASIN(LEAST(GREATEST(
             x * sC / {c['a']}, -1.0), 1.0)) / SIN(phi)), 9) AS lon,
       ROUND(DEGREES(phi), 9) AS lat
FROM fin
"""


ORACLE_SHP_POLYCONIC = _oracle_polyconic_sql()


N_GNOM = 40
_GNOM_WKT = (
    'PROJCS["Gnomonic_Test_Sphere",GEOGCS["GCS_Sphere",'
    'DATUM["D_Sphere",SPHEROID["Sphere",6371000.0,0.0]],'
    'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],'
    'PROJECTION["Gnomonic"],'
    'PARAMETER["False_Easting",-15000.0],'
    'PARAMETER["False_Northing",25000.0],'
    'PARAMETER["Central_Meridian",-60.0],'
    'PARAMETER["Latitude_Of_Origin",25.0],UNIT["Meter",1.0]]')
_GNOM_PARAMS = (6371000.0, -60.0, 25.0, -15000.0, 25000.0)


def _oracle_gnom_sql() -> str:
    """Spherical Gnomonic inverse as DuckDB SQL, op-for-op the numpy
    kernel (same aeqd_constants float64 values)."""
    from .shp.parser import aeqd_constants
    a, lon0, lat0, fe, fn = _GNOM_PARAMS
    c = {k: f"CAST({v!r} AS DOUBLE)"
         for k, v in aeqd_constants(a, lon0, lat0, fe, fn).items()}
    return f"""
WITH src AS (
  SELECT CAST(i + 1 AS INT) AS rec_no,
         -4000000.0 + {u01_sql('i * 97 + 3')} * 8000000.0 AS xi,
         -4000000.0 + {u01_sql('i * 97 + 4')} * 8000000.0 AS yi
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_GNOM - 1})) AS i) t),
s1 AS (
  SELECT rec_no, xi - {c['fe']} AS x, yi - {c['fn']} AS y FROM src),
s2 AS (
  SELECT rec_no, x, y, SQRT(x * x + y * y) AS rho FROM s1),
s3 AS (
  SELECT rec_no, x, y, rho, SIN(ATAN(rho / {c['r']})) AS sc,
         COS(ATAN(rho / {c['r']})) AS co
  FROM s2)
SELECT rec_no,
       ROUND(DEGREES({c['lam0']} + ATAN2(x * sc,
             rho * {c['cos0']} * co - y * {c['sin0']} * sc)), 9) AS lon,
       ROUND(DEGREES(ASIN(LEAST(GREATEST(
             co * {c['sin0']} + y * sc * {c['cos0']} / rho,
             -1.0), 1.0))), 9) AS lat
FROM s3
"""


ORACLE_SHP_GNOM = _oracle_gnom_sql()


N_ORTHO = 40
_ORTHO_WKT = (
    'PROJCS["Ortho_Test_Sphere",GEOGCS["GCS_Sphere",'
    'DATUM["D_Sphere",SPHEROID["Sphere",6371000.0,0.0]],'
    'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],'
    'PROJECTION["Orthographic"],'
    'PARAMETER["False_Easting",5000.0],'
    'PARAMETER["False_Northing",-30000.0],'
    'PARAMETER["Central_Meridian",135.0],'
    'PARAMETER["Latitude_Of_Origin",-20.0],UNIT["Meter",1.0]]')
_ORTHO_PARAMS = (6371000.0, 135.0, -20.0, 5000.0, -30000.0)


def _oracle_ortho_sql() -> str:
    """Spherical Orthographic inverse as DuckDB SQL, op-for-op the numpy
    kernel (same aeqd_constants float64 values, incl. the rho/R clip)."""
    from .shp.parser import aeqd_constants
    a, lon0, lat0, fe, fn = _ORTHO_PARAMS
    c = {k: f"CAST({v!r} AS DOUBLE)"
         for k, v in aeqd_constants(a, lon0, lat0, fe, fn).items()}
    return f"""
WITH src AS (
  SELECT CAST(i + 1 AS INT) AS rec_no,
         -4400000.0 + {u01_sql('i * 101 + 5')} * 8800000.0 AS xi,
         -4400000.0 + {u01_sql('i * 101 + 6')} * 8800000.0 AS yi
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_ORTHO - 1})) AS i) t),
s1 AS (
  SELECT rec_no, xi - {c['fe']} AS x, yi - {c['fn']} AS y FROM src),
s2 AS (
  SELECT rec_no, x, y, SQRT(x * x + y * y) AS rho FROM s1),
s3 AS (
  SELECT rec_no, x, y, rho,
         SIN(ASIN(LEAST(GREATEST(rho / {c['r']}, -1.0), 1.0))) AS sc,
         COS(ASIN(LEAST(GREATEST(rho / {c['r']}, -1.0), 1.0))) AS co
  FROM s2)
SELECT rec_no,
       ROUND(DEGREES({c['lam0']} + ATAN2(x * sc,
             rho * {c['cos0']} * co - y * {c['sin0']} * sc)), 9) AS lon,
       ROUND(DEGREES(ASIN(LEAST(GREATEST(
             co * {c['sin0']} + y * sc * {c['cos0']} / rho,
             -1.0), 1.0))), 9) AS lat
FROM s3
"""


ORACLE_SHP_ORTHO = _oracle_ortho_sql()


class _Reproj(NamedTuple):
    """One reprojection fixture: a Point shapefile of ``n`` records at
    meter coordinates ``xy(i)`` (i = int64 record index) tagged with
    ``wkt`` decodes to WGS84; ``oracle`` evaluates the same inverse in
    DuckDB, op for op, from the same float64 *_constants() values."""
    name: str
    wkt: str
    n: int
    xy: Callable
    oracle: str


# Position in this table is the family id of the shp_reproject_families row.
_REPROJECT_FAMILIES = (
    # EPSG:3857 → the spherical inverse-Mercator kernel; the oracle is the
    # closed-form inverse.
    _Reproj("shp_webmerc_reproject", _WEBMERC_WKT, N_WM, lambda i: (
        (u01(i * 19 + 1) - 0.5) * 40000000.0,
        (u01(i * 19 + 2) - 0.5) * 38000000.0), ORACLE_SHP_WEBMERC),
    # UTM 33N → Snyder series inverse (make_inv_tmerc); easting within the
    # zone, northing from the equator to ~84°N.
    _Reproj("shp_utm_reproject", _UTM_WKT, N_UTM, lambda i: (
        200000.0 + u01(i * 23 + 3) * 600000.0,
        u01(i * 23 + 4) * 9300000.0), ORACLE_SHP_UTM),
    # Lambert Conformal Conic 2SP (State-Plane form), the most common
    # US/national-grid family → Snyder 15-11/3-5 inverse (make_inv_lcc).
    _Reproj("shp_lcc_reproject", _LCC_WKT, N_LCC, lambda i: (
        1700000.0 + u01(i * 37 + 3) * 600000.0,
        200000.0 + u01(i * 37 + 4) * 600000.0), ORACLE_SHP_LCC),
    # CONUS Albers (the other half of the US national grids) → Snyder
    # 14-19/3-18 inverse (make_inv_albers); q/qp clamped before ASIN.
    _Reproj("shp_albers_reproject", _ALBERS_WKT, N_ALB, lambda i: (
        (u01(i * 41 + 3) - 0.5) * 4000000.0,
        u01(i * 41 + 4) * 3000000.0), ORACLE_SHP_ALBERS),
    # Antarctic Polar Stereographic (south aspect) → Snyder 21-33/21-34
    # inverse (make_inv_polar_stereo).
    _Reproj("shp_stereo_reproject", _PST_WKT, N_PST, lambda i: (
        (u01(i * 43 + 3) - 0.5) * 4000000.0,
        (u01(i * 43 + 4) - 0.5) * 4000000.0), ORACLE_SHP_STEREO),
    # Lambert Azimuthal Equal Area, oblique (EPSG:3035 EU grid) → Snyder
    # 24-26..24-29 inverse (make_inv_laea).
    _Reproj("shp_laea_reproject", _LAEA_WKT, N_LAEA, lambda i: (
        2500000.0 + u01(i * 47 + 3) * 3500000.0,
        1400000.0 + u01(i * 47 + 4) * 3800000.0), ORACLE_SHP_LAEA),
    # Ellipsoidal World Mercator (EPSG:3395) → Snyder 7-10 + conformal series
    # (make_inv_mercator), NOT the spherical web-mercator kernel (~20 km off).
    _Reproj("shp_merc3395_reproject", _MERC3395_WKT, N_MERC, lambda i: (
        (u01(i * 53 + 3) - 0.5) * 30000000.0,
        (u01(i * 53 + 4) - 0.5) * 28000000.0), ORACLE_SHP_MERC3395),
    # MODIS Sinusoidal on a true sphere (inverse flattening 0, the e=0
    # degeneracy) → Snyder 25-5..25-11 inverse (make_inv_sinusoidal).
    _Reproj("shp_sinusoidal_reproject", _SINU_WKT, N_SINU, lambda i: (
        (u01(i * 59 + 3) - 0.5) * 30000000.0,
        (u01(i * 59 + 4) - 0.5) * 17000000.0), ORACLE_SHP_SINUSOIDAL),
    # Mollweide (EPSG:54009; spherical, R = semimajor) → Snyder 31-4..31-7
    # closed form (make_inv_mollweide); y inside |y| < R*sqrt(2).
    _Reproj("shp_mollweide_reproject", _MOLL_WKT, N_MOLL, lambda i: (
        (u01(i * 61 + 3) - 0.5) * 34000000.0,
        (u01(i * 61 + 4) - 0.5) * 17000000.0), ORACLE_SHP_MOLLWEIDE),
    # Double Stereographic, EPSG:28992 Dutch RD → EPSG GN 7-2 inverse with 4
    # fixed Newton steps (make_inv_oblique_stereo), 3.5e-9° on the EPSG
    # worked example; RD-zone easting/northing ranges.
    _Reproj("shp_oblique_stereo_reproject", _RD_WKT, N_OBLQ, lambda i: (
        u01(i * 67 + 3) * 300000.0,
        300000.0 + u01(i * 67 + 4) * 350000.0), ORACLE_SHP_OBLIQUE_STEREO),
    # Hotine Oblique Mercator variant A (BRSO Malaysia) → EPSG GN 7-2 inverse
    # (make_inv_hom), 2.3e-8° on the Timbalai/RSO-Borneo worked example.
    _Reproj("shp_hom_reproject", _HOM_WKT, N_HOM, lambda i: (
        250000.0 + u01(i * 73 + 3) * 450000.0,
        200000.0 + u01(i * 73 + 4) * 450000.0), ORACLE_SHP_HOM),
    # Krovak S-JTSK, EPSG:5514 East-North axes → make_inv_krovak (four fixed
    # latitude iterations; the forward twin reproduces the EPSG GN 7-2 worked
    # example to ~2 cm in pytest).
    _Reproj("shp_krovak_reproject", _KRO_WKT, N_KRO, lambda i: (
        -880000.0 + u01(i * 71 + 5) * 420000.0,
        -1220000.0 + u01(i * 71 + 6) * 280000.0), ORACLE_SHP_KROVAK),
    # Cassini-Soldner (EPSG 9806) → TM rectifying latitude + the short
    # D-series (make_inv_cassini); sub-mm truncation in the ±150 km band
    # about the central meridian that the fixture samples.
    _Reproj("shp_cassini_reproject", _CAS_WKT, N_CAS, lambda i: (
        -100000.0 + u01(i * 83 + 3) * 300000.0,
        -50000.0 + u01(i * 83 + 4) * 350000.0), ORACLE_SHP_CASSINI),
    # Spherical oblique Azimuthal Equidistant (ESRI:54032) → Snyder
    # 25-15/16/18 (make_inv_aeqd; an ellipsoidal SPHEROID raises); points
    # within ~5,700 km of the center.
    _Reproj("shp_aeqd_reproject", _AEQD_WKT, N_AEQD, lambda i: (
        -4.0e6 + u01(i * 89 + 7) * 8.0e6,
        -4.0e6 + u01(i * 89 + 8) * 8.0e6), ORACLE_SHP_AEQD),
    # Lambert Cylindrical Equal Area (EASE-Grid 2.0, EPSG:6933) → closed form
    # + authalic 3-18 series (make_inv_cea); y inside the ±86° band.
    _Reproj("shp_cea_reproject", _CEA_WKT, N_CEA, lambda i: (
        -1.5e7 + u01(i * 97 + 9) * 3.0e7,
        -7.2e6 + u01(i * 97 + 10) * 1.44e7), ORACLE_SHP_CEA),
    # American Polyconic (EPSG 9818) → POLY_ITERS fixed Newton steps
    # (make_inv_polyconic); φ∈[~6°,34°] converges by step 4 and stays
    # clear of the 2/sin2φ equator singularity.
    _Reproj("shp_polyconic_reproject", _POLY_WKT, N_POLY, lambda i: (
        5.0e6 - 5.0e5 + u01(i * 101 + 11) * 1.0e6,
        1.0e7 - 1.55e6 + u01(i * 101 + 12) * 3.1e6), ORACLE_SHP_POLYCONIC),
    # Spherical oblique Gnomonic → Snyder 20-14/20-15 with c = arctan(rho/R)
    # (make_inv_gnomonic); c <= atan(5.66/6.37) ~ 42°.
    _Reproj("shp_gnomonic_reproject", _GNOM_WKT, N_GNOM, lambda i: (
        -4.0e6 + u01(i * 97 + 3) * 8.0e6,
        -4.0e6 + u01(i * 97 + 4) * 8.0e6), ORACLE_SHP_GNOM),
    # Spherical oblique Orthographic → Snyder 20-14/20-15 with c =
    # arcsin(rho/R) (make_inv_ortho); points stay inside rho <= 0.98 R.
    _Reproj("shp_ortho_reproject", _ORTHO_WKT, N_ORTHO, lambda i: (
        -4.4e6 + u01(i * 101 + 5) * 8.8e6,
        -4.4e6 + u01(i * 101 + 6) * 8.8e6), ORACLE_SHP_ORTHO),
    # Bonne pseudoconic (EPSG 9827) → Snyder 19-12..19-14 with the TM
    # rectifying series (make_inv_bonne); ±500 km about the CM and phi1.
    _Reproj("shp_bonne_reproject", _BONNE_WKT, N_BONNE, lambda i: (
        100000.0 + u01(i * 89 + 3) * 1000000.0,
        -300000.0 + u01(i * 89 + 4) * 1000000.0), ORACLE_SHP_BONNE),
    # Eckert IV (ESRI:54012) → Snyder 32-19..32-21 closed form
    # (make_inv_eckert4).
    _Reproj("shp_eckert4_reproject", _ECK4_WKT, N_ECK4, lambda i: (
        (u01(i * 101 + 3) - 0.5) * 2.0 * 10000000.0,
        (u01(i * 101 + 4) - 0.5) * 2.0 * 7500000.0), ORACLE_SHP_ECK4),
    # Robinson (ESRI:54030), defined by its 5° table → segment search on
    # the monotone PDFE column + exact piecewise-linear algebra
    # (make_inv_robinson).
    _Reproj("shp_robinson_reproject", _ROBIN_WKT, N_ROBIN, lambda i: (
        (u01(i * 103 + 3) - 0.5) * 2.0 * 14000000.0,
        (u01(i * 103 + 4) - 0.5) * 2.0 * 8300000.0), ORACLE_SHP_ROBIN),
    # Miller Cylindrical (ESRI:54003) → Snyder 33-3 closed form
    # (make_inv_miller).
    _Reproj("shp_miller_reproject", _MILLER_WKT, N_MILLER, lambda i: (
        (u01(i * 107 + 3) - 0.5) * 2.0 * 17000000.0,
        (u01(i * 107 + 4) - 0.5) * 2.0 * 14000000.0), ORACLE_SHP_MILLER),
    # Van der Grinten I (ESRI:54029) → Snyder 29-12..29-17 closed-form cubic
    # (make_inv_vdg); points inside the unit map circle.
    _Reproj("shp_vdg_reproject", _VDG_WKT, N_VDG, lambda i: (
        (u01(i * 109 + 3) - 0.5) * 2.0 * _VDG_HALF,
        (u01(i * 109 + 4) - 0.5) * 2.0 * _VDG_HALF), ORACLE_SHP_VDG),
    # British National Grid with the OSGB36 TOWGS84 → TM inverse + 7-param
    # position-vector Helmert (make_datum_shift), ~110 m from the
    # projection-only answer; GB easting range, Scilly → Shetland.
    _Reproj("shp_towgs84_reproject", _TOW_WKT, N_TOW, lambda i: (
        100000.0 + u01(i * 83 + 7) * 550000.0,
        u01(i * 83 + 8) * 1200000.0), ORACLE_SHP_TOWGS84),
    # Equal Earth (EPSG:8857) → fixed 8-step Newton on the published
    # Šavrič-Patterson-Jenny polynomial (make_inv_equalearth); the equal-area
    # Jacobian is pinned in pytest.
    _Reproj("shp_equalearth_reproject", _EE_WKT, N_EE, lambda i: (
        (u01(i * 89 + 3) - 0.5) * 33000000.0,
        (u01(i * 89 + 4) - 0.5) * 16400000.0), ORACLE_SHP_EQUALEARTH),
)

# Every reprojection registry row: the families plus Krovak with the
# 3-param TOWGS84[589,76,480] (rotations/scale zero; ~120 m from the
# bare-datum Krovak row), which the families row leaves out.
_REPROJECT_ROWS = _REPROJECT_FAMILIES + (
    _Reproj("shp_krovak_datum_reproject", _KRO_DATUM_WKT, N_KRO, lambda i: (
        -880000.0 + u01(i * 71 + 9) * 420000.0,
        -1220000.0 + u01(i * 71 + 10) * 280000.0), ORACLE_SHP_KROVAK_DATUM),
)


def _decode_reprojected(batches):
    """(fam, wkt, content) rows → (fam, rec_no, lon, lat) through the
    columnar Point decode and the .prj's inverse kernel. Decode and oracle
    both round to 9 decimals (1e-9° ~ 0.1 mm): exp/sin/atan are not
    correctly rounded in every libm, so numpy and DuckDB may differ in the
    last ulp."""
    from .shp import parser
    for pdf in batches:
        for fam, wkt, content in zip(pdf["fam"], pdf["wkt"], pdf["content"]):
            rec_no, lon, lat = parser.parse_shp_points_columns(
                bytes(content), parser.projection_from_wkt(wkt))
            yield pd.DataFrame({"fam": fam, "rec_no": rec_no,
                                "lon": np.round(lon, 9),
                                "lat": np.round(lat, 9)})


def _reproject_df(spark: SparkSession, specs) -> DataFrame:
    """Each spec's shapefile as one (fam, wkt, content) row, fam = its
    position in ``specs``, all decoded by ONE mapInPandas."""
    from .shp import writer
    rows = []
    for fam, s in enumerate(specs):
        xm, ym = s.xy(np.arange(s.n, dtype=np.int64))
        rows.append((fam, s.wkt, writer.write_shp([
            (writer.POINT, (float(x), float(y))) for x, y in zip(xm, ym)])))
    files = spark.createDataFrame(rows, "fam int, wkt string, content binary")
    return files.mapInPandas(
        _decode_reprojected,
        "fam int not null, rec_no int, lon double, lat double")


def _reproject_query(spec: _Reproj):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _reproject_df(spark, [spec]).drop("fam")
    return q


def q_shp_reproject_families(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 — all 25 supported .prj projection families under ONE gated row
    (the shp_zm_semantics consolidation pattern applied to CRS), including
    the 7-param TOWGS84 datum stage of the British National Grid: each
    family's Point shapefile + WKT, tagged with its family id, decoded by
    one mapInPandas, without widening the 50-query window.
    Upstream anchor: proj4-based reprojection in lib/index.js:≈125-140
    [RECONSTRUCTED]."""
    return _reproject_df(spark, _REPROJECT_FAMILIES)


ORACLE_REPROJECT_FAMILIES = "\nUNION ALL\n".join(
    f"SELECT CAST({i} AS INT) AS fam, rec_no, lon, lat FROM ({sql}\n) f{i}"
    for i, sql in enumerate(s.oracle for s in _REPROJECT_FAMILIES))


def q_shp_decode_index_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full north-star composition under ONE oracle: shapefile bytes →
    vectorized decode (parse_shp_points_columns via the ingest kernel) →
    cell tile-assign → exact PIP spatial join against the nation fence
    layer → per-nation counts. DuckDB recomputes the points from the same
    integer formulas and ray-casts against the same edge table."""
    import numpy as np
    from . import fixtures, spatial
    from .hashing import u01
    from .queries_spatial import _nation_fences_df
    from .shp import writer

    # points clustered around nation fence centers (fence half-extent >= 2°,
    # jitter +-3°) so roughly half land inside — a global-uniform fixture
    # missed every fence and made the join check vacuous (0 rows)
    i = np.arange(N_SHP_PTS, dtype=np.int64)
    nk = i % 25
    lon = (u01(nk * 7 + 1) * 360.0 - 180.0) + (u01(i * 29 + 11) - 0.5) * 6.0
    lat = (u01(nk * 7 + 2) * 160.0 - 80.0) + (u01(i * 29 + 12) - 0.5) * 6.0
    blob = writer.write_shp([(writer.POINT, (float(x), float(y)))
                             for x, y in zip(lon, lat)])
    schema = T.StructType([
        T.StructField("rec_no", T.LongType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
    ])

    def decode(batches):
        from .shp import parser
        for pdf in batches:
            for content in pdf["content"]:
                rec_no, x, y = parser.parse_shp_points_columns(bytes(content))
                yield pd.DataFrame({"rec_no": rec_no, "lon": x, "lat": y})

    files = spark.createDataFrame(pd.DataFrame({"content": [blob]}))
    pts = files.mapInPandas(decode, schema)
    polys = _nation_fences_df(spark, sf_dir)
    j = spatial.spatial_join(pts, polys, "lon", "lat", level=6, broadcast_cover=True)
    return (j.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min("rec_no").alias("first_rec"))
        .withColumnRenamed("poly_id", "n_nationkey"))


def _oracle_decode_index_join() -> str:
    from . import fixtures, geom
    return f"""
WITH pts AS (
  SELECT CAST(i + 1 AS BIGINT) AS rec_no,
         (({u01_sql('(i % 25) * 7 + 1')} * 360.0 - 180.0)
          + ({u01_sql('i * 29 + 11')} - 0.5) * 6.0) AS lon,
         (({u01_sql('(i % 25) * 7 + 2')} * 160.0 - 80.0)
          + ({u01_sql('i * 29 + 12')} - 0.5) * 6.0) AS lat
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_SHP_PTS - 1})) AS i) t),
hits AS (
  SELECT p.rec_no, g.n_nationkey
  FROM pts p CROSS JOIN {fixtures.nation_edges_sql()} g
  GROUP BY p.rec_no, g.n_nationkey, p.lon, p.lat
  HAVING SUM({geom.pip_sql('p.lon', 'p.lat')}) % 2 = 1)
SELECT n_nationkey, COUNT(*) AS n_points, MIN(rec_no) AS first_rec
FROM hits GROUP BY n_nationkey
"""


ORACLE_DECODE_INDEX_JOIN = _oracle_decode_index_join()


def q_images_phash_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pixel pipeline — synthesize 120 images WITH pixels (raw/png/qb
    codecs), decode, recompute phash, verify per format. The oracle states
    the invariants known BY CONSTRUCTION (input_hint per-row invariant):
    every image of every format verifies (lossless → hamming 0 exactly,
    quantized-lossy → hamming ≤ 4), 40 images per format."""
    from . import clip, fixtures
    img = fixtures.images_df(spark, 120, partitions=8)
    out = clip.phash_verify(img).join(
        img.select("image_id", "fmt"), "image_id")
    return (out.groupBy("fmt")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min(F.col("match").cast("int")).alias("all_match"),
                 F.max(F.when(F.col("fmt") != "qb", F.col("hamming"))
                       .otherwise(0)).alias("max_lossless_hamming")))


N_ZIP_PTS = 20
_ZIP_POLY_SQ = [(0.0, 0.0), (0.0, 4.0), (4.0, 4.0), (4.0, 0.0), (0.0, 0.0)]
_ZIP_POLY_HOLE = [(1.0, 1.0), (3.0, 1.0), (3.0, 3.0), (1.0, 3.0), (1.0, 1.0)]
_ZIP_JSON_PTS = [(10.5, -3.25), (-77.0, 38.5), (2.25, 48.75)]


def _fx_zip_bundle() -> tuple[bytes, dict]:
    """Multi-layer zip (A16–A18, A20 — upstream ``lib/index.js:≈55-120``
    shp.parseZip [RECONSTRUCTED]): uppercase-extension point layer with DBF
    attributes, polygon layer with a hole, a GeoJSON ``.json`` member, a
    ``__MACOSX`` ghost, and a non-layer ``readme.txt``. Returns (zip bytes,
    expected per-layer aggregates computed from the INPUT coordinates —
    decode is an exact float64 roundtrip, so engine sums must match these
    bit-for-bit)."""
    import io
    import json as _json
    import zipfile
    import numpy as np
    from .hashing import u01
    from .shp import writer

    r = np.arange(N_ZIP_PTS, dtype=np.int64)
    lon = u01(r * 11 + 1) * 360.0 - 180.0
    lat = u01(r * 11 + 2) * 170.0 - 85.0
    qty = (r * 3).astype(np.float64)
    pts_shp = writer.write_shp([
        (writer.POINT, (float(x), float(y))) for x, y in zip(lon, lat)])
    pts_dbf = writer.write_dbf([("QTY", "N", 8, 0)],
                               [{"QTY": int(q)} for q in qty])
    polys_shp = writer.write_shp([
        (writer.POLYGON, [_ZIP_POLY_SQ]),
        (writer.POLYGON, [_ZIP_POLY_SQ, _ZIP_POLY_HOLE]),
    ])
    gj = {"type": "FeatureCollection", "features": [
        {"type": "Feature", "geometry": {"type": "Point",
                                         "coordinates": [x, y]},
         "properties": {}} for x, y in _ZIP_JSON_PTS]}
    bio = io.BytesIO()
    with zipfile.ZipFile(bio, "w") as z:
        z.writestr("pts.SHP", pts_shp)           # A16: case-normalized ext
        z.writestr("pts.DBF", pts_dbf)
        z.writestr("polys.shp", polys_shp)
        z.writestr("extra.json", _json.dumps(gj))  # A20 passthrough
        z.writestr("__MACOSX/._pts.SHP", b"\x00\x01junk")  # ghost: skipped
        z.writestr("readme.txt", b"not a layer")
    poly_all = _ZIP_POLY_SQ + _ZIP_POLY_SQ + _ZIP_POLY_HOLE
    expected = {
        "pts": (N_ZIP_PTS, float(np.sum(lon)), float(np.sum(lat)),
                float(np.sum(qty))),
        "polys": (2, float(np.sum([p[0] for p in poly_all])),
                  float(np.sum([p[1] for p in poly_all])), None),
        "extra": (len(_ZIP_JSON_PTS),
                  float(np.sum([p[0] for p in _ZIP_JSON_PTS])),
                  float(np.sum([p[1] for p in _ZIP_JSON_PTS])), None),
    }
    return bio.getvalue(), expected


def q_shp_zip_bundle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zip-bundle decode end-to-end under the gate (VERDICT r2 next-step
    #8): the multi-layer fixture zip demuxes DISTRIBUTED through
    zipio.parse_zip (ghost members skipped, extensions case-normalized,
    DBF positionally zip-joined, .json passthrough) and each layer
    aggregates to (n_features, coordinate sums, attribute sum)."""
    from pyspark.sql import types as T2

    blob, _ = _fx_zip_bundle()
    schema = T.StructType([
        T.StructField("layer", T.StringType()),
        T.StructField("n_features", T.IntegerType()),
        T.StructField("sum_x", T.DoubleType()),
        T.StructField("sum_y", T.DoubleType()),
        T.StructField("sum_attr", T.DoubleType()),
    ])

    def decode(batches):
        import numpy as np
        from .shp import zipio
        for pdf in batches:
            for content in pdf["content"]:
                out = []
                for name, feats in zipio.parse_zip(bytes(content)):
                    if isinstance(feats, dict):      # A20: geojson layer
                        flist = feats["features"]
                        xs = np.array([f["geometry"]["coordinates"][0]
                                       for f in flist])
                        ys = np.array([f["geometry"]["coordinates"][1]
                                       for f in flist])
                        out.append((name, len(flist), float(np.sum(xs)),
                                    float(np.sum(ys)), None))
                        continue
                    xs, ys, attrs = [], [], []
                    for f in feats:
                        g = f["geometry"]
                        if g is None:
                            continue
                        if g["type"] == "Point":
                            xs.append(g["coordinates"][0])
                            ys.append(g["coordinates"][1])
                        else:                        # rings → all vertices
                            rings = (g["coordinates"]
                                     if g["type"] == "Polygon"
                                     else [r for p in g["coordinates"]
                                           for r in p])
                            for ring in rings:
                                xs.extend(p[0] for p in ring)
                                ys.extend(p[1] for p in ring)
                        q = f["properties"].get("QTY")
                        if q is not None:
                            attrs.append(float(q))
                    out.append((name, len(feats),
                                float(np.sum(np.array(xs))),
                                float(np.sum(np.array(ys))),
                                float(np.sum(np.array(attrs)))
                                if attrs else None))
                yield pd.DataFrame(out, columns=[f.name for f in schema])

    files = spark.createDataFrame(pd.DataFrame({"content": [blob]}))
    return files.mapInPandas(decode, schema)


def _oracle_zip_bundle() -> str:
    _, exp = _fx_zip_bundle()
    rows = []
    for layer in sorted(exp):
        n, sx, sy, sa = exp[layer]
        sa_sql = "CAST(NULL AS DOUBLE)" if sa is None else f"CAST({sa!r} AS DOUBLE)"
        rows.append(f"('{layer}', CAST({n} AS INT), CAST({sx!r} AS DOUBLE), "
                    f"CAST({sy!r} AS DOUBLE), {sa_sql})")
    return ("SELECT * FROM (VALUES " + ", ".join(rows)
            + ") AS t(layer, n_features, sum_x, sum_y, sum_attr)")


ORACLE_ZIP_BUNDLE = _oracle_zip_bundle()


N_WAV = 24


def q_wav_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio under the oracle gate: each task synthesizes a
    PCM WAV from a deterministic integer formula (sample k of stream i =
    ((i*48271 + k*16807) % 65536) - 32768), then decodes it through the
    REAL RIFF container walk (riff.wav_decode — fmt/data chunk parse,
    int16 → float) and reduces to integer stats DuckDB reproduces from
    the same formula: sample count, sum |s|, and sign-change count. All
    aggregation is in exact int64, so the row hashes must match
    bit-for-bit if and only if the container decode is faithful."""
    import numpy as np
    from . import riff

    schema = T.StructType([
        T.StructField("media_id", T.StringType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sum_abs", T.LongType()),
        T.StructField("zero_crossings", T.LongType()),
    ])

    def work(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"].astype(int):
                n = 120 + (i * 37) % 181
                k = np.arange(n, dtype=np.int64)
                s = ((i * 48271 + k * 16807) % 65536 - 32768).astype(np.int16)
                wav, rate = riff.wav_decode(riff.wav_encode(s, 16000))
                got = np.round(wav[:, 0].astype(np.float64)
                               * 32768.0).astype(np.int64)
                assert rate == 16000 and len(got) == n
                zc = int(np.sum((got[1:] < 0) != (got[:-1] < 0)))
                rows.append((f"wav{i:03d}", n, int(np.abs(got).sum()), zc))
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return (spark.range(0, N_WAV, numPartitions=4)
            .mapInPandas(work, schema))


ORACLE_WAV_STATS = f"""
WITH ids AS (SELECT UNNEST(GENERATE_SERIES(0, {N_WAV - 1})) AS i),
samp AS (
  SELECT i, k, ((i * 48271 + k * 16807) % 65536) - 32768 AS s
  FROM ids, GENERATE_SERIES(0, 300) g(k)
  WHERE k < 120 + (i * 37) % 181),
lagged AS (
  SELECT i, s, LAG(s) OVER (PARTITION BY i ORDER BY k) AS prev
  FROM samp)
SELECT printf('wav%03d', i) AS media_id,
       COUNT(*) AS n_samples,
       CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
       CAST(SUM(CASE WHEN prev IS NOT NULL AND (s < 0) != (prev < 0)
                     THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
FROM lagged
GROUP BY i
"""


N_MJPEG = 12


def q_mjpeg_video_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed VIDEO under the gate: per task, synthesize a short clip
    of luma-dominant frames (the jpeg_decode_stats generator), encode as
    a Motion-JPEG AVI (riff.avi_encode codec='MJPG' — every frame a full
    JFIF image from the in-repo baseline JPEG encoder), decode through
    the container walk + JPEG decoder, and assert the input_hint
    invariants BY CONSTRUCTION: every frame ≥ 40 dB, dims/fps preserved,
    stream smaller than a third of raw. Lossy ⇒ VALUES oracle (the
    jpeg_decode_stats pattern); frame-exact container semantics are
    separately gated by avi_frame_stats' DIB path."""
    import numpy as np
    from . import riff
    from .codecs import psnr
    from .queries_vision import _jpeg_qa_pixels

    schema = T.StructType([
        T.StructField("video_id", T.StringType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("all_psnr_ge_40", T.IntegerType()),
        T.StructField("dims_fps_ok", T.IntegerType()),
        T.StructField("compressed_3x", T.IntegerType()),
    ])

    def work(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"].astype(int):
                nf = 4 + i % 3
                w, h = 48 + (i % 3) * 8, 32 + (i % 2) * 8
                frames = np.stack([_jpeg_qa_pixels(7 * i + t, w, h)
                                   for t in range(nf)])
                blob = riff.avi_encode(frames, fps=5, codec="MJPG")
                dec, fps = riff.avi_decode(blob)
                ok_psnr = int(all(psnr(frames[t], dec[t]) >= 40.0
                                  for t in range(nf)))
                ok_dims = int(dec.shape == frames.shape and fps == 5)
                rows.append((f"mjpg{i:03d}", nf, ok_psnr, ok_dims,
                             int(3 * len(blob) < frames.nbytes)))
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return (spark.range(0, N_MJPEG, numPartitions=4)
            .mapInPandas(work, schema))


ORACLE_MJPEG_STATS = f"""
SELECT printf('mjpg%03d', i) AS video_id,
       CAST(4 + i % 3 AS BIGINT) AS n_frames,
       1 AS all_psnr_ge_40, 1 AS dims_fps_ok, 1 AS compressed_3x
FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_MJPEG - 1})) AS i) t
"""


N_FLAC = 24


def q_flac_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed audio under the oracle gate (the JPEG sibling, but
    LOSSLESS so the gate is bit-exact, not an invariant): each task
    synthesizes a 16-bit PCM stream from a deterministic sawtooth
    formula (sample k of stream i = (i*97 + k*31) % 4000 − 2000 —
    locally linear, so the FIXED predictors genuinely compress it),
    round-trips it through the REAL FLAC encode→decode
    (spark_shp.flac: Rice-coded fixed-predictor subframes, CRC-8/16,
    STREAMINFO MD5 verified on decode), asserts the stream actually
    shrank, and reduces to integer stats DuckDB reproduces from the same
    formula. A single corrupted sample anywhere fails the hash."""
    import numpy as np
    from . import flac

    schema = T.StructType([
        T.StructField("media_id", T.StringType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sum_abs", T.LongType()),
        T.StructField("zero_crossings", T.LongType()),
    ])

    def work(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"].astype(int):
                n = 900 + (i * 53) % 700
                k = np.arange(n, dtype=np.int64)
                s = ((i * 97 + k * 31) % 4000 - 2000).astype(np.int16)
                blob = flac.flac_encode(s, 16000)
                assert len(blob) < 2 * n          # really compressed
                got, rate = flac.flac_decode(blob)
                got = got[:, 0]
                assert rate == 16000 and len(got) == n
                zc = int(np.sum((got[1:] < 0) != (got[:-1] < 0)))
                rows.append((f"flac{i:03d}", n, int(np.abs(got).sum()),
                             zc))
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return (spark.range(0, N_FLAC, numPartitions=4)
            .mapInPandas(work, schema))


ORACLE_FLAC_STATS = f"""
WITH ids AS (SELECT UNNEST(GENERATE_SERIES(0, {N_FLAC - 1})) AS i),
samp AS (
  SELECT i, k, ((i * 97 + k * 31) % 4000) - 2000 AS s
  FROM ids, GENERATE_SERIES(0, 1599) g(k)
  WHERE k < 900 + (i * 53) % 700),
lagged AS (
  SELECT i, s, LAG(s) OVER (PARTITION BY i ORDER BY k) AS prev
  FROM samp)
SELECT printf('flac%03d', i) AS media_id,
       COUNT(*) AS n_samples,
       CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
       CAST(SUM(CASE WHEN prev IS NOT NULL AND (s < 0) != (prev < 0)
                     THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
FROM lagged
GROUP BY i
"""


N_RS = 20


def q_audio_resample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3:2 linear-interpolation audio resampling (16 kHz -> 10.667 kHz
    decimation, the sample-rate-normalization step of an audio curation
    pipeline) kept EXACT: output sample j sits at input position 3j/2,
    so even j copies an input sample and odd j is the midpoint of two --
    storing DOUBLED values (r2 = 2*s[k] or s[k] + s[k+1]) keeps every
    resampled amplitude an exact int64 at any aggregation order.  Each
    task synthesizes a PCM stream from the shared integer formula,
    round-trips it through the REAL RIFF container walk (riff.wav_encode
    -> wav_decode -- the gate fails if the container path corrupts any
    sample), then resamples in one vectorized gather.  The checksum
    weights by output position, so a dropped/reordered sample flips it."""
    import numpy as np
    from . import riff

    schema = T.StructType([
        T.StructField("media_id", T.StringType()),
        T.StructField("n_out", T.LongType()),
        T.StructField("sum_abs_r2", T.LongType()),
        T.StructField("pos_checksum", T.LongType()),
    ])

    def work(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"].astype(int):
                n = 100 + (i * 53) % 211
                k = np.arange(n, dtype=np.int64)
                s = ((i * 48271 + k * 16807) % 65536 - 32768).astype(np.int16)
                wav, rate = riff.wav_decode(riff.wav_encode(s, 16000))
                got = np.round(wav[:, 0].astype(np.float64)
                               * 32768.0).astype(np.int64)
                assert rate == 16000 and len(got) == n
                j = np.arange((2 * n) // 3 + 2, dtype=np.int64)
                t_num = 3 * j
                keep = np.where(t_num % 2 == 0, t_num <= 2 * n - 2,
                                t_num <= 2 * n - 3)
                j = j[keep]; t_num = t_num[keep]
                kk = t_num // 2
                r2 = np.where(t_num % 2 == 0, 2 * got[kk],
                              got[kk] + got[np.minimum(kk + 1, n - 1)])
                rows.append((f"rs{i:03d}", len(j),
                             int(np.abs(r2).sum()),
                             int((r2 * (j + 1)).sum())))
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return (spark.range(0, N_RS, numPartitions=4)
            .mapInPandas(work, schema))


ORACLE_RESAMPLE = f"""
WITH ids AS (SELECT UNNEST(GENERATE_SERIES(0, {N_RS - 1})) AS i),
lens AS (SELECT i, 100 + (i * 53) % 211 AS n FROM ids),
out AS (
  SELECT i, n, j, 3 * j AS t_num
  FROM lens, GENERATE_SERIES(0, 300) g(j)
  WHERE CASE WHEN (3 * j) % 2 = 0 THEN 3 * j <= 2 * n - 2
             ELSE 3 * j <= 2 * n - 3 END),
r AS (
  SELECT i, j,
         CASE WHEN t_num % 2 = 0
              THEN 2 * (((i * 48271 + (t_num // 2) * 16807) % 65536) - 32768)
              ELSE (((i * 48271 + (t_num // 2) * 16807) % 65536) - 32768)
                 + (((i * 48271 + (t_num // 2 + 1) * 16807) % 65536) - 32768)
         END AS r2
  FROM out)
SELECT printf('rs%03d', i) AS media_id,
       COUNT(*) AS n_out,
       CAST(SUM(ABS(r2)) AS BIGINT) AS sum_abs_r2,
       CAST(SUM(r2 * (j + 1)) AS BIGINT) AS pos_checksum
FROM r GROUP BY i
"""


N_AVI = 12


def q_avi_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal video under the oracle gate: each task synthesizes an
    uncompressed BI_RGB AVI whose pixel (f,y,x,c) of video i is
    (i*7 + f*131 + y*17 + x*29 + c*13) % 256, decodes it through the REAL
    RIFF/AVI walk (riff.avi_decode — hdrl/strf parse, movi frame gather,
    bottom-up row flip, BGR→RGB, stride-padding strip), and reduces to a
    position-and-channel-weighted int64 checksum that DuckDB reproduces:
    wsum = Σ px · (((f·h + y)·w + x)·3 + c + 1). The weighting makes the
    hash sensitive to frame order, row orientation, column order, and
    channel order — a plain sum would pass even with a flipped decode.
    Widths include stride-padded cases (w·3 not divisible by 4)."""
    import numpy as np
    from . import riff

    schema = T.StructType([
        T.StructField("media_id", T.StringType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("w", T.LongType()),
        T.StructField("h", T.LongType()),
        T.StructField("wsum", T.LongType()),
    ])

    def work(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"].astype(int):
                nf = 2 + i % 3
                w = 7 + (i % 4) * 3       # 7/10/13/16: strides 21/30/39/48
                h = 6 + (i % 2) * 5
                f, y, x, c = np.ogrid[0:nf, 0:h, 0:w, 0:3]
                px = ((i * 7 + f * 131 + y * 17 + x * 29 + c * 13)
                      % 256).astype(np.uint8)
                dec, fps = riff.avi_decode(riff.avi_encode(px, fps=10))
                assert fps == 10 and dec.shape == (nf, h, w, 3)
                wgt = (((f * h + y) * w + x) * 3 + c + 1).astype(np.int64)
                wsum = int((dec.astype(np.int64) * wgt).sum())
                rows.append((f"avi{i:03d}", nf, w, h, wsum))
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return (spark.range(0, N_AVI, numPartitions=4)
            .mapInPandas(work, schema))


ORACLE_AVI_STATS = f"""
WITH ids AS (
  SELECT i, 2 + i % 3 AS nf, 7 + (i % 4) * 3 AS w, 6 + (i % 2) * 5 AS h
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_AVI - 1})) AS i) t),
px AS (
  SELECT i, nf, w, h,
         ((i * 7 + f * 131 + y * 17 + x * 29 + c * 13) % 256)
           * (((f * h + y) * w + x) * 3 + c + 1) AS term
  FROM ids,
       GENERATE_SERIES(0, 4) gf(f),
       GENERATE_SERIES(0, 11) gy(y),
       GENERATE_SERIES(0, 16) gx(x),
       GENERATE_SERIES(0, 2) gc(c)
  WHERE f < nf AND y < h AND x < w)
SELECT printf('avi%03d', i) AS media_id,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(w AS BIGINT) AS w,
       CAST(h AS BIGINT) AS h,
       CAST(SUM(term) AS BIGINT) AS wsum
FROM px
GROUP BY i, nf, w, h
"""


QUERIES: dict = {
    "shp_decode_points": (q_shp_decode_points, ORACLE_SHP_POINTS),
    "dbf_decode_types": (q_dbf_decode_types, ORACLE_DBF_TYPES),
    "shp_polygon_rings": (q_shp_polygon_rings, ORACLE_SHP_RINGS),
    "shp_polyline_parts": (q_shp_polyline_parts, ORACLE_SHP_POLYLINE),
    "shp_zm_semantics": (q_shp_zm_semantics, ORACLE_SHP_ZM),
    "shp_reproject_families": (q_shp_reproject_families,
                               ORACLE_REPROJECT_FAMILIES),
    "shp_decode_index_join": (q_shp_decode_index_join,
                              ORACLE_DECODE_INDEX_JOIN),
    # parked in registry._TAIL (A12 per-family variants; the combined
    # shp_reproject_families row keeps all 25 families in-window)
    **{s.name: (_reproject_query(s), s.oracle) for s in _REPROJECT_ROWS},
    # parked in registry._TAIL (A16-A18/A20 zip plumbing, pytest + diffcheck)
    "shp_zip_bundle": (q_shp_zip_bundle, ORACLE_ZIP_BUNDLE),
    # parked in registry._TAIL (multimodal RIFF decode under the gate;
    # in-window image coverage via images_phash_verify/clip_coverage_stats)
    "wav_decode_stats": (q_wav_decode_stats, ORACLE_WAV_STATS),
    "flac_decode_stats": (q_flac_decode_stats, ORACLE_FLAC_STATS),
    "mjpeg_video_stats": (q_mjpeg_video_stats, ORACLE_MJPEG_STATS),
    "avi_frame_stats": (q_avi_frame_stats, ORACLE_AVI_STATS),
    "audio_resample_stats": (q_audio_resample_stats, ORACLE_RESAMPLE),
    "images_phash_verify": (q_images_phash_verify, """
SELECT * FROM (VALUES
  ('raw', CAST(40 AS BIGINT), 1, CAST(0 AS BIGINT)),
  ('png', CAST(40 AS BIGINT), 1, CAST(0 AS BIGINT)),
  ('qb',  CAST(40 AS BIGINT), 1, CAST(0 AS BIGINT))
) AS t(fmt, n, all_match, max_lossless_hamming)
"""),
}

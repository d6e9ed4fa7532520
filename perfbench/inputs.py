"""Seeded input generation for the benchmark workloads, with references.

Every input is derived from the fixture formulas in ``spark_shp.fixtures``
over an id range that the seed shifts by a multiple of 10·N, so the 30 %
hot-cell share (``i % 10 < 3``) is exact for every seed. Each generated input
is stored under the cache directory keyed by (kind, size, seed) together
with a reference result computed here in numpy, without the route under
test: per-polygon counts by ``geom.points_in_polygon``, per-image pixel
counts by ``clip.clip_pixels``, per-bucket shapefile counts by
``cells.cell_encode``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import struct

import numpy as np
from pyspark.sql import functions as F

from spark_shp import cells, clip, fixtures, geom

# keeps image ids below 10^12, the width of the fixture's image_id string
_SEED_SLOTS = 4093
_CHUNK = 1 << 20


def id_offset(seed: int, n: int) -> int:
    return (seed % _SEED_SLOTS) * 10 * n


def _done(path: str) -> dict | None:
    try:
        with open(os.path.join(path, "_input.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _commit(path: str, meta: dict) -> dict:
    """Write the generation record (the cache's commit point) and return
    it as parsed back from disk."""
    tmp = os.path.join(path, "._input.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(path, "_input.json"))
    with open(os.path.join(path, "_input.json")) as f:
        return json.load(f)


def _fresh(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def _fingerprint(*arrays) -> str:
    h = hashlib.sha256()
    for a in arrays:
        h.update(np.ascontiguousarray(a).tobytes())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------------------
# polygon layers
# ---------------------------------------------------------------------------

def _ring_coords(rings: list[np.ndarray]) -> list[list[list[list[float]]]]:
    return [[[list(map(float, pt)) for pt in r] for r in poly]
            for poly in geom.assemble_rings(rings)]


def fence_layer() -> dict[int, list[np.ndarray]]:
    """The 64-fence layer (holes, multiparts, hot-spot fence 63)."""
    return {j: fixtures.fence_rings(j) for j in range(64)}


def _blob_ring(cx: float, cy: float, r: float, n: int, k: int,
               clockwise: bool) -> np.ndarray:
    t = np.linspace(0.0, 2.0 * np.pi, n, endpoint=False)
    rad = r * (1.0 + 0.2 * np.cos(5.0 * t + k))
    ring = np.column_stack([cx + rad * np.cos(t), cy + rad * np.sin(t)])
    ring = np.vstack([ring, ring[:1]])
    if geom.is_clockwise(ring) != clockwise:
        ring = ring[::-1].copy()
    return ring


def blob_layer() -> dict[int, list[np.ndarray]]:
    """Eight 96-edge polygons: polygon 0 covers the 30 %-hot cell, polygon 1
    carries a 48-edge hole, the rest sit at fixture-hashed spots."""
    out = {0: [_blob_ring(fixtures.HOT_LON, fixtures.HOT_LAT, 1.5, 96, 0,
                          True)]}
    for k in range(1, 8):
        cx = float(fixtures.u01(np.int64(k * 11 + 1)) * 300.0 - 150.0)
        cy = float(fixtures.u01(np.int64(k * 11 + 2)) * 140.0 - 70.0)
        rings = [_blob_ring(cx, cy, 6.0, 96, k, True)]
        if k == 1:
            rings.append(_blob_ring(cx, cy, 2.5, 48, k, False))
        out[k] = rings
    return out


def layer_df(spark, layer: dict[int, list[np.ndarray]]):
    """A polygon layer as the engine's (poly_id, coordinates, bbox) frame."""
    from pyspark.sql import types as T

    rows = []
    for pid, rings in sorted(layer.items()):
        xs = np.vstack(rings)
        rows.append((pid, _ring_coords(rings),
                     (float(xs[:, 0].min()), float(xs[:, 1].min()),
                      float(xs[:, 0].max()), float(xs[:, 1].max()))))
    schema = T.StructType([
        T.StructField("poly_id", T.LongType()),
        T.StructField("coordinates", T.ArrayType(T.ArrayType(
            T.ArrayType(T.ArrayType(T.DoubleType()))))),
        T.StructField("bbox", T.StructType(
            [T.StructField(k, T.DoubleType())
             for k in ("xmin", "ymin", "xmax", "ymax")])),
    ])
    return spark.createDataFrame(rows, schema)


def layer_edges(layer: dict[int, list[np.ndarray]]) -> dict[int, np.ndarray]:
    return {pid: geom.rings_to_edges(rings) for pid, rings in layer.items()}


def _count_inside(lon, lat, layer, counts: dict[int, int]) -> None:
    for pid, rings in layer.items():
        xs = np.vstack(rings)
        sel = np.nonzero((lon >= xs[:, 0].min()) & (lon <= xs[:, 0].max())
                         & (lat >= xs[:, 1].min())
                         & (lat <= xs[:, 1].max()))[0]
        if len(sel):
            counts[pid] += int(geom.points_in_polygon(
                lon[sel], lat[sel], rings).sum())


# ---------------------------------------------------------------------------
# stored images-metadata table (flagship, skew_join)
# ---------------------------------------------------------------------------

def _fixed_point(v: np.ndarray) -> np.ndarray:
    """The stored int32 1e-7 footprint, decoded the way the reader does."""
    return np.floor(v * 1e7 + 0.5).astype(np.int32) * 1e-7


def images_table(spark, cache: str, n: int, seed: int) -> dict:
    """Images table (full input-hint schema, int32 fixed-point footprint)
    written through ``iceberg_layout``; reference per-fence counts."""
    from spark_shp import iceberg_layout as ice

    path = os.path.join(cache, f"images-{n}-{seed}")
    meta = _done(path)
    if meta:
        return meta
    _fresh(path)
    off = id_offset(seed, n)
    m = fixtures.images_meta_sql("id")
    ph = fixtures.mixw_sql("id", 7)
    df = spark.range(off, off + n, numPartitions=16).selectExpr(
        f"{m['image_id']} AS image_id",
        f"UNHEX(LPAD(HEX({ph}), 16, '0')) AS bytes",
        f"{m['w']} AS w", f"{m['h']} AS h", f"{m['fmt']} AS fmt",
        f"CONCAT('synthetic image ', {m['image_id']}) AS caption",
        f"CAST({ph} AS BIGINT) AS phash",
        f"CAST(FLOOR({m['lon']} * 1e7 + 0.5) AS INT) AS lon_e7",
        f"CAST(FLOOR({m['lat']} * 1e7 + 0.5) AS INT) AS lat_e7")
    root = os.path.join(path, "table")
    ice.write_table(df, root)
    fences = fence_layer()
    ref = {pid: 0 for pid in fences}
    h, sums = hashlib.sha256(), [0, 0]
    for s in range(off, off + n, _CHUNK):
        ids = np.arange(s, min(s + _CHUNK, off + n), dtype=np.int64)
        mm = fixtures.images_meta(ids)
        lon, lat = _fixed_point(mm["lon"]), _fixed_point(mm["lat"])
        h.update(lon.tobytes() + lat.tobytes())
        sums[0] += int(np.floor(mm["lon"] * 1e7 + 0.5).sum())
        sums[1] += int(np.floor(mm["lat"] * 1e7 + 0.5).sum())
        _count_inside(lon, lat, fences, ref)
    return _commit(path, {
        "root": root, "rows": n, "id_offset": off,
        "fingerprint": h.hexdigest()[:16], "sums": sums,
        "ref_fences": {str(k): v for k, v in ref.items() if v}})


def verify_table(spark, meta: dict, cols: tuple[str, str]) -> None:
    """Read a stored table back through Spark and match its row count and
    two column sums against generation, so a damaged cache cannot pass for
    input. Cache hits and misses both run this read."""
    from spark_shp import iceberg_layout as ice

    row = (ice.read_table(spark, meta["root"])
           .agg(F.count(F.lit(1)), F.sum(cols[0]), F.sum(cols[1]))
           .collect()[0])
    if [row[0], row[1], row[2]] != [meta["rows"], *meta["sums"]]:
        raise RuntimeError(f"stored input {meta['root']} does not match "
                           "its generation record")


def verify_file(meta: dict) -> None:
    with open(meta["shp"], "rb") as f:
        if hashlib.sha256(f.read()).hexdigest()[:16] != meta["fingerprint"]:
            raise RuntimeError(f"{meta['shp']} does not match its "
                               "generation record")


# ---------------------------------------------------------------------------
# stored encoded images (raster clip)
# ---------------------------------------------------------------------------

def encoded_images(spark, cache: str, n: int, seed: int) -> dict:
    """Encoded images (raw/png/qb bytes, caption, phash) built per row by
    ``fixtures.image_row``; reference: ``n_inside`` from ``clip.clip_pixels``
    for every (image, polygon) pair of the blob layer whose center lies
    inside the polygon."""
    import pyarrow as pa
    from pyspark.sql import types as T

    from spark_shp import iceberg_layout as ice

    path = os.path.join(cache, f"encoded-{n}-{seed}")
    meta = _done(path)
    if meta:
        return meta
    _fresh(path)
    off = id_offset(seed, n)
    fields = [("image_id", pa.string(), T.StringType()),
              ("bytes", pa.binary(), T.BinaryType()),
              ("w", pa.int32(), T.IntegerType()),
              ("h", pa.int32(), T.IntegerType()),
              ("fmt", pa.string(), T.StringType()),
              ("caption", pa.string(), T.StringType()),
              ("phash", pa.int64(), T.LongType()),
              ("lon", pa.float64(), T.DoubleType()),
              ("lat", pa.float64(), T.DoubleType())]
    pa_schema = pa.schema([(k, t) for k, t, _ in fields])
    schema = T.StructType([T.StructField(k, t) for k, _, t in fields])

    def gen(batches):
        for b in batches:
            rows = [fixtures.image_row(int(i))
                    for i in b.column(0).to_numpy()]
            yield pa.RecordBatch.from_pylist(rows, schema=pa_schema)

    df = spark.range(off, off + n, numPartitions=8).mapInArrow(gen, schema)
    root = os.path.join(path, "table")
    ice.write_table(df, root)

    blobs = blob_layer()
    edges = layer_edges(blobs)
    ids = np.arange(off, off + n, dtype=np.int64)
    mm = fixtures.images_meta(ids)
    ref = {}
    for pid, rings in blobs.items():
        inside = geom.points_in_polygon(mm["lon"], mm["lat"], rings)
        for j in np.nonzero(inside)[0]:
            w, h = int(mm["w"][j]), int(mm["h"][j])
            _, n_in = clip.clip_pixels(np.zeros((h, w, 3), np.uint8),
                                       float(mm["lon"][j]),
                                       float(mm["lat"][j]), edges[pid])
            ref[f"img{int(ids[j]):012d}:{pid}"] = n_in
    return _commit(path, {
        "root": root, "rows": n, "id_offset": off,
        "fingerprint": _fingerprint(mm["lon"], mm["lat"], mm["w"], mm["h"]),
        "sums": [int(mm["w"].sum()), int(mm["h"].sum())],
        "ref_clip": ref})


# ---------------------------------------------------------------------------
# Point shapefile (shp checkpoint)
# ---------------------------------------------------------------------------

_SHP_REC = np.dtype([("no", ">i4"), ("len", ">i4"), ("type", "<i4"),
                     ("x", "<f8"), ("y", "<f8")])
_SHX_REC = np.dtype([("off", ">i4"), ("len", ">i4")])


def _shp_header(file_bytes: int, bbox) -> bytes:
    return (struct.pack(">i", 9994) + b"\x00" * 20
            + struct.pack(">i", file_bytes // 2)
            + struct.pack("<ii", 1000, 1) + struct.pack("<4d", *bbox)
            + struct.pack("<4d", 0.0, 0.0, 0.0, 0.0))


def point_shp(x: np.ndarray, y: np.ndarray) -> tuple[bytes, bytes]:
    """(.shp, .shx) bytes of a Point file, built as numpy record arrays —
    byte-identical to ``shp.writer.write_shp``/``write_shx``, which grow the
    file one record at a time."""
    n = len(x)
    rec = np.empty(n, dtype=_SHP_REC)
    rec["no"] = np.arange(1, n + 1)
    rec["len"] = 10
    rec["type"] = 1
    rec["x"], rec["y"] = x, y
    bbox = ((float(x.min()), float(y.min()), float(x.max()), float(y.max()))
            if n else (0.0, 0.0, 0.0, 0.0))
    shp = _shp_header(100 + rec.nbytes, bbox) + rec.tobytes()
    idx = np.empty(n, dtype=_SHX_REC)
    idx["off"] = 50 + 14 * np.arange(n)
    idx["len"] = 10
    shx = _shp_header(100 + idx.nbytes, (0.0,) * 4) + idx.tobytes()
    return shp, shx


def _check_prefix(x: np.ndarray, y: np.ndarray) -> None:
    from spark_shp.shp import writer

    recs = [(writer.POINT, (float(a), float(b))) for a, b in zip(x, y)]
    if point_shp(x, y) != (writer.write_shp(recs), writer.write_shx(recs)):
        raise RuntimeError("numpy Point shapefile differs from shp.writer")


SHP_TILE_LEVEL, SHP_BUCKET_LEVEL = 12, 4


def point_file(cache: str, n: int, seed: int) -> dict:
    """Point .shp/.shx of the images footprint (30 % hot); reference:
    records and Σ rec_no per level-4 bucket."""
    path = os.path.join(cache, f"points-{n}-{seed}")
    meta = _done(path)
    if meta:
        return meta
    _fresh(path)
    off = id_offset(seed, n)
    mm = fixtures.images_meta(np.arange(off, off + n, dtype=np.int64))
    shp, shx = point_shp(mm["lon"], mm["lat"])
    _check_prefix(mm["lon"][:1000], mm["lat"][:1000])
    shp_path = os.path.join(path, "points.shp")
    with open(shp_path, "wb") as f:
        f.write(shp)
    with open(os.path.join(path, "points.shx"), "wb") as f:
        f.write(shx)
    bucket = cells.cell_parent(
        cells.cell_encode(mm["lon"], mm["lat"], SHP_TILE_LEVEL),
        SHP_TILE_LEVEL - SHP_BUCKET_LEVEL)
    keys, inv = np.unique(bucket, return_inverse=True)
    rows = np.bincount(inv)
    rec_sum = np.bincount(inv, weights=np.arange(1, n + 1, dtype=np.float64))
    return _commit(path, {
        "shp": shp_path, "rows": n, "bytes": len(shp), "id_offset": off,
        "fingerprint": hashlib.sha256(shp).hexdigest()[:16],
        "ref_buckets": {str(int(k)): [int(r), int(s)]
                        for k, r, s in zip(keys, rows, rec_sum)}})

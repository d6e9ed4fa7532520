"""Spatial engine operators (SURVEY.md §2.B) — DataFrame-level compositions.

Design (Spark-first, scale-first):

* ``tile_assign`` is a PURE SQL integer expression (cells.cell_sql) — stays
  inside whole-stage codegen, no Python in the hot path, pushdown-friendly.
* ``spatial_join`` is the canonical two-stage plan: coarse equi-join on cell
  id (polygon side exploded to its cell cover, point side tile-assigned at
  the same level) followed by exact ray-cast PIP refinement.  The polygon
  cover is typically small → ``F.broadcast`` hint; AQE handles residual skew.
  At 100 TB the equi-join on int64 cells is the only shuffle, and it
  partitions by cell — spatial locality comes for free.
* Exact PIP refinement is a codegen'd even-odd parity predicate over the
  polygon's edge columns, inlined into the join for polygons of up to
  ``MAX_INLINE_EDGES`` edges (the distributed path sums it over edge chunks
  for bigger ones).  Otherwise a shuffle-free ``mapInPandas`` kernel
  (``_pip_refine``) groups candidates by poly_id WITHIN each Arrow batch
  and ray-casts each group in one vectorized numpy call — no per-row Python.
* ``knn_join`` ships two strategies: broadcast brute-force top-k (the RIGHT
  plan when the build side is a small dimension — Catalyst keeps it a single
  stage) and cell-ring expansion (the scale path when both sides are large).

Reference parity: ring-hole semantics of the PIP match shapefile-js's
polygon assembly (geom.assemble_rings / even-odd parity; SURVEY §2.B B6).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from . import cells, geom


def tile_assign(df: DataFrame, lon_col: str, lat_col: str, level: int,
                out_col: str = "cell_id") -> DataFrame:
    """B5/B1: add the int64 cell (tile) id as a codegen'd SQL expression."""
    return df.withColumn(out_col, F.expr(cells.cell_sql(lon_col, lat_col, level)))


def _bbox_cover_np(xmin, ymin, xmax, ymax, level: int) -> np.ndarray:
    """All cell ids at ``level`` whose grid square intersects the bbox."""
    n = 1 << level
    ix0, iy0 = cells.quantize(np.array([xmin]), np.array([ymin]), level)
    ix1, iy1 = cells.quantize(np.array([xmax]), np.array([ymax]), level)
    xs = np.arange(ix0[0], ix1[0] + 1, dtype=np.int64)
    ys = np.arange(iy0[0], iy1[0] + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    return (cells.morton(gx.ravel(), gy.ravel(), level)
            << cells.LEVEL_BITS) | level


def polygon_cover(polys: DataFrame, level: int,
                  refine: bool = True) -> DataFrame:
    """B4: (poly_id, cell_id) cover — cells intersecting each polygon.

    bbox cover, optionally refined by rejecting cells whose grid square
    provably misses every part's bbox (cheap conservative refine; the exact
    PIP stage downstream keeps correctness regardless of cover looseness).
    """
    schema = T.StructType([
        T.StructField("poly_id", T.LongType()),
        T.StructField("cell_id", T.LongType()),
    ])

    def cover(pdf_iter):
        for pdf in pdf_iter:
            out_p, out_c = [], []
            for pid, bbox in zip(pdf["poly_id"], pdf["bbox"]):
                cc = _bbox_cover_np(bbox["xmin"], bbox["ymin"],
                                    bbox["xmax"], bbox["ymax"], level)
                out_p.extend([pid] * len(cc))
                out_c.extend(cc.tolist())
            yield pd.DataFrame({"poly_id": out_p, "cell_id": out_c})

    return polys.select("poly_id", "bbox").mapInPandas(cover, schema)


def _pip_refine(points_with_poly: DataFrame, polys: DataFrame,
                lon_col: str, lat_col: str,
                edges_by_poly: dict | None = None) -> DataFrame:
    """Exact PIP filter of candidate (point, poly_id) pairs.

    Runs SHUFFLE-FREE: a mapInPandas over whatever partitioning the
    candidate join produced, grouping by poly_id only WITHIN each Arrow
    batch (one vectorized ray-cast per polygon per batch) against the
    broadcast edge dict. A groupBy(poly_id) refine would re-shuffle all
    candidates and concentrate the hot cell's 30% of rows in one task —
    this shape keeps the flagship plan at a single shuffle (the final agg)
    and immune to polygon skew."""
    if edges_by_poly is None:
        geo = {r["poly_id"]: r["coordinates"]
               for r in polys.select("poly_id", "coordinates").collect()}
        # Polygon layer is small by contract here (broadcast path); ship the
        # coordinate dict to executors once.
        edges_by_poly = {pid: geom.rings_to_edges(
            [np.asarray(ring, dtype=np.float64)
             for poly in coords for ring in poly])
            for pid, coords in geo.items()}
    edges = edges_by_poly
    spark = points_with_poly.sparkSession
    bc = spark.sparkContext.broadcast(edges)
    schema = points_with_poly.schema

    def refine(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            keep = np.zeros(len(pdf), dtype=bool)
            lon = pdf[lon_col].to_numpy()
            lat = pdf[lat_col].to_numpy()
            for pid, idx in pdf.groupby("poly_id").indices.items():
                e = bc.value.get(pid)
                if e is None or len(e) == 0:
                    continue
                keep[idx] = (geom.crossings_chunked(lon[idx], lat[idx], e)
                             % 2) == 1
            yield pdf[keep]

    return points_with_poly.mapInPandas(refine, schema)


# Above this many edges per polygon the inline-SQL refine expression stops
# being worth codegen'ing (compile time + register pressure) and the Arrow
# kernel path wins; fence/nation layers sit at ≤ 12.
MAX_INLINE_EDGES = 64

# Auto-route threshold: polygon layers up to this many rows collect+broadcast
# (cover rows ≈ polys × cells/poly, each ≤ ~2 KB with 64 padded edge cols —
# well under Spark's broadcast comfort zone); bigger layers stay distributed.
AUTO_BROADCAST_MAX_POLYS = 4096


def _inline_crossings_sum(max_e: int, lon_col: str, lat_col: str) -> str:
    """Ray-cast crossing COUNT as one whole-stage-codegen SQL expression
    over flat edge columns ``_ej{i}_{x1,y1,x2,y2}``.

    Bit-identical arithmetic to :func:`geom.crossings` (same half-open rule
    ``(y1 > py) != (y2 > py)``, same left-to-right float64 expression for the
    crossing x). Padding slots are degenerate edges (0,0,0,0): the straddle
    conjunct is false, so they contribute 0 crossings. Crossings are
    ADDITIVE over any partition of the edge set — the chunked distributed
    path sums this expression across edge chunks before taking parity.
    """
    terms = []
    for i in range(max_e):
        x1, y1 = f"_ej{i}_x1", f"_ej{i}_y1"
        x2, y2 = f"_ej{i}_x2", f"_ej{i}_y2"
        terms.append(
            f"CASE WHEN (({y1} > {lat_col}) <> ({y2} > {lat_col})) AND "
            f"({lon_col} < {x1} + ({lat_col} - {y1}) * ({x2} - {x1}) / "
            f"({y2} - {y1})) THEN 1 ELSE 0 END")
    return f"({' + '.join(terms)})"


def _inline_parity_predicate(max_e: int, lon_col: str, lat_col: str) -> str:
    """Even-odd ray-cast as ONE codegen SQL predicate (see
    :func:`_inline_crossings_sum`)."""
    return f"{_inline_crossings_sum(max_e, lon_col, lat_col)} % 2 = 1"


def _probe_layer(polys: DataFrame) -> tuple[int, int]:
    """(row count, max edges per polygon) in ONE aggregation job — the
    auto-route probe for :func:`spatial_join`. Edge count is a pure SQL
    aggregate over the ragged coordinates (Σ rings (len-1)), so the probe
    never deserializes geometry into Python."""
    ring_edges = F.aggregate(
        F.flatten(F.col("coordinates")), F.lit(0),
        lambda acc, ring: acc + F.size(ring) - F.lit(1))
    row = polys.agg(F.count(F.lit(1)).alias("n"),
                    F.max(ring_edges).alias("max_e")).collect()[0]
    return int(row["n"]), int(row["max_e"] or 0)


def polygon_cover_edges(polys: DataFrame, level: int,
                        max_edges: int) -> DataFrame:
    """Distributed (poly_id, cell_id, edge-columns) cover: like
    polygon_cover but each cover row carries its polygon's edge table
    flattened into degenerate-padded columns, so the downstream candidate
    join can refine with the inline-codegen parity predicate — no
    Python stage, no broadcast of the polygon layer. Polygons with more
    than ``max_edges`` edges raise (callers route those to the Arrow
    refine)."""
    cols = (["poly_id", "cell_id"]
            + [f"_ej{i}_{k}" for i in range(max_edges)
               for k in ("x1", "y1", "x2", "y2")])
    schema = T.StructType(
        [T.StructField("poly_id", T.LongType()),
         T.StructField("cell_id", T.LongType())]
        + [T.StructField(c, T.DoubleType()) for c in cols[2:]])

    def cover(pdf_iter):
        for pdf in pdf_iter:
            out = []
            for pid, bbox, coords in zip(pdf["poly_id"], pdf["bbox"],
                                         pdf["coordinates"]):
                # Arrow hands the ragged nesting as object ndarrays;
                # np.asarray(obj_array, dtype=float) is unreliable on
                # those — stack the point arrays explicitly
                raw = coords if coords is not None else []
                e = geom.rings_to_edges(
                    [np.stack([np.asarray(p, dtype=np.float64)
                               for p in ring])
                     for poly in raw for ring in poly])
                if len(e) > max_edges:
                    raise ValueError(
                        f"polygon {pid}: {len(e)} edges > {max_edges}; "
                        "use the Arrow-refine path")
                pad = np.zeros((max_edges, 4))
                pad[: len(e)] = e
                flat = pad.ravel()
                cc = _bbox_cover_np(bbox["xmin"], bbox["ymin"],
                                    bbox["xmax"], bbox["ymax"], level)
                for c in cc.tolist():
                    out.append((pid, c, *flat))
            yield pd.DataFrame(out, columns=cols)

    return (polys.select("poly_id", "bbox", "coordinates")
            .mapInPandas(cover, schema))


def polygon_cover_edges_chunked(polys: DataFrame, level: int,
                                chunk_edges: int) -> DataFrame:
    """Distributed (poly_id, chunk_no, cell_id, edge-columns) cover for
    polygons of ANY edge count: each polygon's edge table splits into
    ⌈E/chunk_edges⌉ degenerate-padded chunks and every cover cell carries
    every chunk. Crossing counts are additive over the chunk partition, so
    the downstream join refines by SUMming the inline crossings expression
    per (point, polygon) and taking parity — arbitrarily large polygons
    with no Python refine and no driver-side layer collect (the two things
    the other >64-edge paths required)."""
    cols = (["poly_id", "chunk_no", "cell_id"]
            + [f"_ej{i}_{k}" for i in range(chunk_edges)
               for k in ("x1", "y1", "x2", "y2")])
    schema = T.StructType(
        [T.StructField("poly_id", T.LongType()),
         T.StructField("chunk_no", T.LongType()),
         T.StructField("cell_id", T.LongType())]
        + [T.StructField(c, T.DoubleType()) for c in cols[3:]])

    def cover(pdf_iter):
        for pdf in pdf_iter:
            out = []
            for pid, bbox, coords in zip(pdf["poly_id"], pdf["bbox"],
                                         pdf["coordinates"]):
                raw = coords if coords is not None else []
                e = geom.rings_to_edges(
                    [np.stack([np.asarray(p, dtype=np.float64)
                               for p in ring])
                     for poly in raw for ring in poly])
                n_chunks = max(1, -(-len(e) // chunk_edges))
                pad = np.zeros((n_chunks * chunk_edges, 4))
                pad[: len(e)] = e
                chunks = pad.reshape(n_chunks, chunk_edges * 4)
                cc = _bbox_cover_np(bbox["xmin"], bbox["ymin"],
                                    bbox["xmax"], bbox["ymax"], level)
                for c in cc.tolist():
                    for k in range(n_chunks):
                        out.append((pid, k, c, *chunks[k]))
            yield pd.DataFrame(out, columns=cols)

    return (polys.select("poly_id", "bbox", "coordinates")
            .mapInPandas(cover, schema))


def spatial_join(points: DataFrame, polys: DataFrame, lon_col: str,
                 lat_col: str, level: int = 6,
                 broadcast_cover: bool | None = None,
                 distributed_inline_edges: int | None = None,
                 distributed_chunked: bool = False,
                 salt_hot: int = 0, salt_factor: int = 16) -> DataFrame:
    """B7: inner point-in-polygon join → points columns + ``poly_id``.

    Stage 1: tile-assign points at ``level`` (pure codegen SQL); equi-join
    against the polygon layer's cell cover.
    Stage 2: exact even-odd ray-cast refinement.

    ``broadcast_cover=None`` (default) AUTO-ROUTES: one cheap aggregation
    over the polygon layer (count + max edges per polygon — layers are the
    small side of this join by orders of magnitude, so the probe is not a
    second scan of anything big) picks
      * layer ≤ AUTO_BROADCAST_MAX_POLYS → broadcast path (inline codegen
        refine when max_e ≤ MAX_INLINE_EDGES, Arrow kernel refine above);
      * bigger layer, inline-able polygons → distributed-inline path (the
        5.9x-at-192M plan; composes with salt_hot);
      * bigger layer, >MAX_INLINE_EDGES polygons → CHUNKED
        distributed-inline path (crossings are additive over edge chunks:
        sum the inline crossings expression per (point, polygon), parity
        at the end) — still zero Python refine and zero driver-side layer
        collect, at the cost of one (rid, poly)-keyed count aggregation.
    Callers with a known shape pass broadcast_cover explicitly and skip the
    probe (every repeated-query site in queries_*.py does).

    Broadcast path (small polygon layer — the north rule's "AQE-aware
    broadcast of small polygon layers"): the layer is collected ONCE; its
    cover is computed driver-side in numpy and broadcast-joined WITH the
    polygon's edge table flattened into padded columns, so the refine is a
    plain codegen'd filter — the whole join is a single JVM stage with ZERO
    Python and ZERO shuffles (scaling evidence: a mapInPandas refine here
    oversubscribes a box 2× — task thread + Python worker per core — and
    inverted the local[8]→local[32] scaling curve). Polygons with more than
    MAX_INLINE_EDGES edges fall back to the Arrow kernel refine
    (_pip_refine); for big polygon layers pass broadcast_cover=False to
    build the cover distributed (polygon_cover) and let AQE pick the join
    strategy.
    """
    if broadcast_cover is None:
        n_polys, max_edges = _probe_layer(polys)
        if n_polys <= AUTO_BROADCAST_MAX_POLYS:
            broadcast_cover = True
        else:
            broadcast_cover = False
            if distributed_inline_edges is None and max_edges > 0:
                if max_edges <= MAX_INLINE_EDGES:
                    distributed_inline_edges = max_edges
                else:
                    distributed_inline_edges = MAX_INLINE_EDGES
                    distributed_chunked = True
    pts = tile_assign(points, lon_col, lat_col, level, "_sj_cell")
    if not broadcast_cover:
        if distributed_inline_edges and distributed_chunked:
            # chunked distributed-inline: cover rows carry ⌈E/chunk⌉ edge
            # chunks per polygon; refine = SUM of the codegen crossings
            # expression over a (row-id, poly) group, parity at the end.
            # Crossings are additive over any edge partition, so this is
            # exact for polygons of ANY size — no Python, no layer collect.
            # The transient _sj_rid keeps duplicate point rows distinct
            # through the aggregation (it never reaches the output).
            max_e = distributed_inline_edges
            cover = (polygon_cover_edges_chunked(polys, level, max_e)
                     .withColumnRenamed("cell_id", "_sj_cell"))
            pts_r = pts.withColumn("_sj_rid",
                                   F.monotonically_increasing_id())
            if salt_hot:
                pts_s, hot = salt_hot_cells(pts_r, "_sj_cell",
                                            top_n=salt_hot,
                                            salt_factor=salt_factor)
                cover_s = explode_salts(cover, "_sj_cell", hot,
                                        salt_factor=salt_factor)
                cand = pts_s.join(cover_s.drop("_sj_cell"), "_salted_cell")
            else:
                cand = pts_r.join(cover, "_sj_cell", "inner")
            cross = F.expr(_inline_crossings_sum(max_e, lon_col, lat_col))
            pt_cols = list(points.columns)
            agg = (cand.withColumn("_cross", cross)
                   .groupBy("_sj_rid", "poly_id")
                   .agg(*[F.first(c).alias(c) for c in pt_cols],
                        F.sum("_cross").alias("_crossings")))
            return (agg.where(F.col("_crossings") % 2 == 1)
                    .select(*pt_cols, "poly_id"))
        if distributed_inline_edges:
            # big layer, small polygons: distributed cover CARRIES the
            # padded edge columns, candidate equi-join shuffles on cell,
            # refine is the same inline codegen predicate — no Python
            # stage and no layer broadcast anywhere. salt_hot composes
            # B13: the 30%-hot cell otherwise lands its candidates in one
            # shuffle partition of the cell-keyed join
            max_e = distributed_inline_edges
            cover = (polygon_cover_edges(polys, level, max_e)
                     .withColumnRenamed("cell_id", "_sj_cell"))
            drop = ["_sj_cell"] + [f"_ej{i}_{k}" for i in range(max_e)
                                   for k in ("x1", "y1", "x2", "y2")]
            if salt_hot:
                pts_s, hot = salt_hot_cells(pts, "_sj_cell",
                                            top_n=salt_hot,
                                            salt_factor=salt_factor)
                cover_s = explode_salts(cover, "_sj_cell", hot,
                                        salt_factor=salt_factor)
                cand = pts_s.join(cover_s.drop("_sj_cell"), "_salted_cell")
                drop.append("_salted_cell")
            else:
                cand = pts.join(cover, "_sj_cell", "inner")
            kept = cand.where(F.expr(_inline_parity_predicate(
                max_e, lon_col, lat_col)))
            return kept.drop(*drop)
        cover = (polygon_cover(polys, level)
                 .withColumnRenamed("cell_id", "_sj_cell"))
        cand = pts.join(cover, "_sj_cell", "inner").drop("_sj_cell")
        return _pip_refine(cand, polys, lon_col, lat_col)

    rows = polys.select("poly_id", "bbox", "coordinates").collect()
    if not rows:
        # empty polygon layer → empty join result, same schema as output
        return (points.limit(0)
                .withColumn("poly_id", F.lit(None).cast("long")))
    edges_by_poly = {
        r["poly_id"]: geom.rings_to_edges(
            [np.asarray(ring, dtype=np.float64)
             for poly in (r["coordinates"] or []) for ring in poly])
        for r in rows}
    max_e = max((len(e) for e in edges_by_poly.values()), default=0)
    if max_e == 0:
        # every polygon is edge-less (empty coordinates): no point can be
        # inside, and the inline path would otherwise emit the unparseable
        # predicate "() % 2 = 1"
        return (points.limit(0)
                .withColumn("poly_id", F.lit(None).cast("long")))
    spark = points.sparkSession

    cov_p, cov_c = [], []
    for r in rows:
        cc = _bbox_cover_np(r["bbox"]["xmin"], r["bbox"]["ymin"],
                            r["bbox"]["xmax"], r["bbox"]["ymax"], level)
        cov_p.extend([r["poly_id"]] * len(cc))
        cov_c.extend(cc.tolist())
    cov = {"poly_id": pd.array(cov_p, dtype="int64"),
           "_sj_cell": pd.array(cov_c, dtype="int64")}

    if max_e > MAX_INLINE_EDGES:
        cover = F.broadcast(spark.createDataFrame(pd.DataFrame(cov)))
        cand = pts.join(cover, "_sj_cell", "inner").drop("_sj_cell")
        return _pip_refine(cand, polys, lon_col, lat_col,
                           edges_by_poly=edges_by_poly)

    # inline path: pad each polygon's edge table to max_e with degenerate
    # (0,0,0,0) edges and flatten to per-edge double columns on the cover
    pad = {pid: np.vstack([e, np.zeros((max_e - len(e), 4))])
           if len(e) < max_e else e for pid, e in edges_by_poly.items()}
    for i in range(max_e):
        for k, name in enumerate(("x1", "y1", "x2", "y2")):
            cov[f"_ej{i}_{name}"] = pd.array(
                [float(pad[p][i, k]) for p in cov_p], dtype="float64")
    cover = F.broadcast(spark.createDataFrame(pd.DataFrame(cov)))
    cand = pts.join(cover, "_sj_cell", "inner")
    kept = cand.where(F.expr(_inline_parity_predicate(max_e, lon_col,
                                                      lat_col)))
    drop = ["_sj_cell"] + [f"_ej{i}_{n}" for i in range(max_e)
                           for n in ("x1", "y1", "x2", "y2")]
    return kept.drop(*drop)


def knn_join_broadcast(points: DataFrame, dims: DataFrame, k: int,
                       lon_col: str, lat_col: str,
                       dim_lon: str, dim_lat: str, dim_id: str,
                       point_id: str) -> DataFrame:
    """B8 (small build side): broadcast cross-join + windowed top-k by
    squared euclidean degree distance (deterministic — pure arithmetic, no
    trig; ties broken by dim id)."""
    from pyspark.sql import Window as W
    d2 = ((F.col(lon_col) - F.col(dim_lon)) ** 2
          + (F.col(lat_col) - F.col(dim_lat)) ** 2)
    j = points.join(F.broadcast(dims)).withColumn("_d2", d2)
    w = W.partitionBy(point_id).orderBy(F.col("_d2").asc(), F.col(dim_id).asc())
    return (j.withColumn("knn_rank", F.row_number().over(w))
             .where(F.col("knn_rank") <= k).drop("_d2"))


def knn_join_cells(points: DataFrame, dims: DataFrame, k: int,
                   lon_col: str, lat_col: str, dim_lon: str, dim_lat: str,
                   dim_id: str, point_id: str, level: int = 4,
                   max_ring: int = 4, keep_dist: bool = False) -> DataFrame:
    """B8 (scale path): cell-ring expansion kNN.

    Both sides tile-assigned at ``level``; candidate pairs = points joined to
    dims whose cell lies within Chebyshev ring ``r`` of the point's cell,
    expanding r until every point has ≥ k candidates whose worst-case
    distance is covered, then exact top-k.  Implemented as: explode each
    point's ring-``max_ring`` neighborhood (static upper bound — keeps the
    plan a single equi-join), equi-join on dim cell, exact windowed top-k.
    Correct whenever each point's k NNs lie within ``max_ring`` cells;
    callers size (level, max_ring) from dim density (see tests for the
    brute-force cross-check)."""
    from pyspark.sql import Window as W

    ring_schema = T.ArrayType(T.LongType())

    @F.pandas_udf(ring_schema)
    def ring_udf(cell: pd.Series) -> pd.Series:
        r = cells.cell_ring(cell.to_numpy(), max_ring)
        return pd.Series([row[row >= 0].tolist() for row in r])

    pts = tile_assign(points, lon_col, lat_col, level, "_knn_cell")
    pts = pts.withColumn("_nbr", F.explode(ring_udf(F.col("_knn_cell"))))
    dms = tile_assign(dims, dim_lon, dim_lat, level, "_nbr")
    j = pts.join(dms, "_nbr", "inner").drop("_nbr", "_knn_cell")
    d2 = ((F.col(lon_col) - F.col(dim_lon)) ** 2
          + (F.col(lat_col) - F.col(dim_lat)) ** 2)
    w = W.partitionBy(point_id).orderBy(F.col("_d2").asc(), F.col(dim_id).asc())
    out = (j.withColumn("_d2", d2)
           .withColumn("knn_rank", F.row_number().over(w))
           .where(F.col("knn_rank") <= k)
           .dropDuplicates([point_id, dim_id]))
    return out if keep_dist else out.drop("_d2")


def knn_join_cells_exact(points: DataFrame, dims: DataFrame, k: int,
                         lon_col: str, lat_col: str, dim_lon: str,
                         dim_lat: str, dim_id: str, point_id: str,
                         level: int | None = None,
                         max_ring: int = 2) -> DataFrame:
    """B8, always-exact scale path: cell-ring kNN plus a per-point coverage
    guarantee with brute-force repair.

    ``knn_join_cells`` is exact only when each point's k NNs lie within
    ``max_ring`` cells — a sizing contract the caller had to get right.
    This wrapper (a) auto-sizes ``level`` from the dim count so a ring
    holds ~8k dims in expectation (one count() job, uniformity
    assumption), and (b) PROVES exactness per point: a ring of radius r
    is guaranteed to contain every dim within euclidean distance
    (r-1)·min(cell_w, cell_h) of the point, so any point whose kth
    candidate lies within that reach (and that found ≥ k candidates) has
    a certified-correct top-k. The residual points — sparse-region
    stragglers, typically a vanishing fraction — re-run through the
    broadcast brute-force join. Output = certified rows ∪ repaired rows,
    exactly equal to the brute-force join on every input.
    """
    import math

    if level is None:
        n_dims = dims.count()
        cells_target = max(1.0, n_dims * (2 * max_ring + 1) ** 2
                           / max(8 * k, 1))
        level = max(1, min(12, int(math.log(cells_target, 4))))
    got = knn_join_cells(points, dims, k, lon_col, lat_col, dim_lon,
                         dim_lat, dim_id, point_id, level=level,
                         max_ring=max_ring, keep_dist=True)
    cell_w = 360.0 / (1 << level)
    cell_h = 170.0 / (1 << level)
    reach = max(max_ring - 1, 0) * min(cell_w, cell_h)
    per = (got.groupBy(point_id)
           .agg(F.count(F.lit(1)).alias("_n"),
                F.max("_d2").alias("_maxd2")))
    # certify (not flag): a point with ZERO ring candidates has no row in
    # `per` at all, so selecting the provably-good set and anti-joining
    # catches it, where a bad-set join would silently drop it
    good_ids = per.where((F.col("_n") >= k)
                         & (F.col("_maxd2") <= reach * reach)
                         ).select(point_id)
    certified = got.join(good_ids, point_id, "left_semi").drop("_d2")
    # repair set: usually empty/tiny; brute force assumes dims is
    # broadcastable (it is whenever the broadcast path was an option)
    repair_pts = points.join(good_ids, point_id, "left_anti")
    repaired = knn_join_broadcast(repair_pts, dims, k, lon_col, lat_col,
                                  dim_lon, dim_lat, dim_id, point_id)
    return certified.unionByName(repaired.select(*certified.columns))


def range_join(points: DataFrame, dims: DataFrame, radius: float,
               lon_col: str, lat_col: str, dim_lon: str, dim_lat: str) -> DataFrame:
    """B9: pairs within euclidean-degree ``radius`` (broadcast dims)."""
    d2 = ((F.col(lon_col) - F.col(dim_lon)) ** 2
          + (F.col(lat_col) - F.col(dim_lat)) ** 2)
    return points.join(F.broadcast(dims)).where(d2 <= radius * radius)


def distance_join_cells(left: DataFrame, right: DataFrame, radius: float,
                        lon_l: str = "lon", lat_l: str = "lat",
                        lon_r: str = "lon", lat_r: str = "lat") -> DataFrame:
    """Big-big distance join (all pairs within euclidean-degree
    ``radius``): grid both sides at a level whose cell size ≥ radius, fan
    the LEFT side out to its 3×3 neighbor cells, equi-join on the cell
    key, refine with the exact distance — entirely DataFrame ops, one
    shuffle keyed on the grid cell, 9× left duplication. This is the
    shape that survives when NEITHER side fits a broadcast (use
    :func:`range_join` when the dims side is small).

    Every output column of ``left`` is prefixed ``l_`` and of ``right``
    ``r_`` (like :func:`spatial_join`'s pair output)."""
    import math as _math

    from . import cells

    # cell must be at least radius wide in BOTH axes (lat span 170 is the
    # binding constraint) so candidates are confined to the 3x3 ring
    level = max(0, min(cells.LEVEL_MAX if hasattr(cells, "LEVEL_MAX")
                       else 24,
                       int(_math.floor(_math.log2(170.0 / radius)))))
    ixl, iyl = cells.quantize_sql(lon_l, lat_l, level)
    ixr, iyr = cells.quantize_sql(lon_r, lat_r, level)
    l2 = (left.select(*[F.col(c).alias(f"l_{c}") for c in left.columns],
                      F.expr(ixl).alias("_ix0"), F.expr(iyl).alias("_iy0"))
          .withColumn("_dx", F.explode(F.array(F.lit(-1), F.lit(0),
                                               F.lit(1))))
          .withColumn("_dy", F.explode(F.array(F.lit(-1), F.lit(0),
                                               F.lit(1))))
          .withColumn("_ix", F.col("_ix0") + F.col("_dx"))
          .withColumn("_iy", F.col("_iy0") + F.col("_dy"))
          .drop("_ix0", "_iy0", "_dx", "_dy"))
    r2 = right.select(*[F.col(c).alias(f"r_{c}") for c in right.columns],
                      F.expr(ixr).alias("_ix"), F.expr(iyr).alias("_iy"))
    dx = F.col(f"l_{lon_l}") - F.col(f"r_{lon_r}")
    dy = F.col(f"l_{lat_l}") - F.col(f"r_{lat_r}")
    # plain multiplication (not POWER) so a SQL oracle reproduces the
    # float64 sequence exactly
    return (l2.join(r2, ["_ix", "_iy"])
            .where(dx * dx + dy * dy <= radius * radius)
            .drop("_ix", "_iy"))


def salt_hot_cells(df: DataFrame, cell_col: str, top_n: int = 8,
                   salt_factor: int = 16) -> tuple[DataFrame, DataFrame]:
    """B13: detect the ``top_n`` densest cells (an exact ``groupBy().count()``
    over all of ``df``) and salt them.

    Returns (salted probe df with ``_salted_cell``, hot-cell lookup df).
    Build side must explode hot cells × salt_factor to match (see
    ``explode_salts``).  AQE skew-join handles the residual.
    """
    hot = (df.groupBy(cell_col).count()
             .orderBy(F.col("count").desc()).limit(top_n)
             .select(cell_col).withColumn("_is_hot", F.lit(True)))
    # int64 salted key (cell * salt_factor + salt): string keys measured
    # ~1.5x slower end-to-end on the 96M-row skew bench (concat + string
    # hash/compare in the shuffle and join); cell ids stay < 2^45 so the
    # scaled key is ANSI-overflow-safe
    salted = (df.join(F.broadcast(hot), cell_col, "left")
                .withColumn(
                    "_salted_cell",
                    F.col(cell_col) * salt_factor
                    + F.when(F.col("_is_hot").isNotNull(),
                             (F.rand(42) * salt_factor).cast("long"))
                       .otherwise(F.lit(0)))
                .drop("_is_hot"))
    return salted, hot


def explode_salts(build: DataFrame, cell_col: str, hot: DataFrame,
                  salt_factor: int = 16) -> DataFrame:
    """Replicate build-side rows for hot cells across all salt suffixes:
    hot rows expand to salt_factor variants, cold rows keep one."""
    salts = F.array([F.lit(i).cast("long") for i in range(salt_factor)])
    variants = F.when(
        F.col("_is_hot").isNotNull(),
        F.transform(salts, lambda s: F.col(cell_col) * salt_factor + s)
    ).otherwise(F.array(F.col(cell_col) * salt_factor))
    return (build.join(F.broadcast(hot), cell_col, "left")
            .withColumn("_salted_cell", F.explode(variants))
            .drop("_is_hot"))


def compact_cells(df: DataFrame, cell_col: str = "cell_id",
                  group_cols: tuple = (), min_level: int = 0,
                  level: "int | None" = None) -> DataFrame:
    """Quadtree cover compaction (the H3 ``compact`` analog): wherever all
    FOUR children of a parent cell are present (per group), replace them by
    the parent, repeatedly, until ``min_level``. Shrinks polygon covers
    before they're broadcast/joined — a dense region collapses to a few
    coarse cells while ragged edges stay fine-grained.

    One groupBy per level step (levels are bounded, typically ≤16); each
    step's kept/promoted split is a single aggregation over the shrinking
    survivor set, so total work is O(levels) shuffles over ever-smaller
    data. Exact inverse: exploding every emitted cell back to the input
    level reproduces the input set."""
    from . import cells as C

    gcols = list(group_cols)
    lvl_expr = f"(({cell_col}) % {1 << C.LEVEL_BITS})"
    # localCheckpoint: the per-level loop below would otherwise re-plan AND
    # re-execute the full upstream (e.g. a polygon_cover) once per level
    cur = df.select(*gcols, cell_col).localCheckpoint()
    out = None
    if level is None:
        # caller didn't pin the input level; probe it (single-scalar agg)
        level = cur.selectExpr(f"max({lvl_expr}) AS l").collect()[0]["l"]
        if level is None:
            return df.limit(0)
    for _lvl in range(int(level), min_level, -1):
        at_lvl = cur.where(F.expr(f"{lvl_expr} = {_lvl}"))
        rest = cur.where(F.expr(f"{lvl_expr} != {_lvl}"))
        parent = F.expr(C.cell_parent_sql(cell_col, 1))
        counts = (at_lvl.withColumn("_p", parent)
                  .groupBy(*gcols, "_p")
                  .agg(F.count(F.lit(1)).alias("_c"),
                       F.collect_list(cell_col).alias("_kids")))
        kept = (counts.where(F.col("_c") < 4)
                .select(*gcols, F.explode("_kids").alias(cell_col)))
        promoted = (counts.where(F.col("_c") == 4)
                    .select(*gcols, F.col("_p").alias(cell_col)))
        out = kept if out is None else out.unionByName(kept)
        # truncate lineage each level: the survivor set shrinks but its
        # plan would deepen by a groupBy+union per level otherwise
        cur = rest.unionByName(promoted).localCheckpoint()
    return cur if out is None else out.unionByName(cur)

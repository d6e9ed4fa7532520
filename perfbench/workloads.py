"""The benchmark workloads: one query per trial, a result check, a ladder.

Each trial rebuilds its DataFrame from the public API (re-collecting one
DataFrame would reuse its finished shuffle stages) and collects the result.
Each check compares against a reference computed at generation in numpy,
never through the route under test. The ladder (traced runs only) adds one
stage at a time; each stage ends in a small aggregate so that the columns
the stage adds are computed, and a stage's cost is its increment over the
previous one.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from spark_shp import cells, clip, fixtures, ingest, lineage, spatial
from spark_shp import iceberg_layout as ice

from . import inputs
from .spans import Tracer

JOIN_LEVEL, TILE_LEVEL = 6, 12


def _read_images(spark, root: str):
    """Stored images table, footprint decoded from int32 fixed point."""
    return (ice.read_table(spark, root)
            .selectExpr("lon_e7 * 1e-7 AS lon", "lat_e7 * 1e-7 AS lat"))


def _cover_pdf(layer: dict, level: int):
    """(poly_id, cell) for every level-``level`` cell meeting a polygon's
    bbox: the cell-cover equi-join that every join route starts from."""
    import pandas as pd

    pids, cids = [], []
    for pid, rings in sorted(layer.items()):
        xs = np.vstack(rings)
        ix, iy = cells.quantize([xs[:, 0].min(), xs[:, 0].max()],
                                [xs[:, 1].min(), xs[:, 1].max()], level)
        gx, gy = np.meshgrid(np.arange(ix[0], ix[1] + 1),
                             np.arange(iy[0], iy[1] + 1), indexing="ij")
        ids = ((cells.morton(gx.ravel(), gy.ravel(), level)
                << cells.LEVEL_BITS) | level)
        pids += [pid] * len(ids)
        cids += ids.tolist()
    return pd.DataFrame({"poly_id": pids, "_cell": cids})


def _cover_join(spark, pts, layer: dict):
    cover = spark.createDataFrame(_cover_pdf(layer, JOIN_LEVEL))
    return (spatial.tile_assign(pts, "lon", "lat", JOIN_LEVEL, "_cell")
            .join(cover, "_cell"))


def _counts(rows) -> dict:
    return {str(r["poly_id"]): r["n"] for r in rows}


def _join_layers(c, kept: int, before_cover: str) -> dict:
    """Join metrics shared by the join parts; ``c`` is a :class:`Context`."""
    from . import plan_metrics as pm

    cand = float(c.rows["cover_join"]["n"])
    return {
        "scan.s": c.st["scan"],
        "scan.bytes": pm.total(c.stage_nodes["scan"], "filesSize"),
        "join.plan_s": c.span("spatial.spatial_join"),
        "join.candidates": cand, "join.kept": float(kept),
        "join.precision": kept / max(cand, 1.0),
        "join.cover_join_s": c.st["cover_join"] - c.st[before_cover],
        "join.refine_s": c.st["refine"] - c.st["cover_join"],
        "join.shuffle_bytes": pm.total(c.nodes, "shuffleBytesWritten"),
        "join.spill_bytes": pm.total(c.nodes, "spillSize"),
        "join.task_skew": pm.slowest_stage_skew(c.spark, c.group),
        "agg.s": c.st["group_by"] - c.st["refine"],
    }


class Flagship:
    """North-star job: stored images → L12 tile → broadcast L6 cover join
    with inline refine over the 64-fence layer → per-fence count + HLL."""

    name = "flagship"

    def __init__(self, n: int):
        self.n = n

    def prepare(self, spark, cache, seed):
        inp = inputs.images_table(spark, cache, self.n, seed)
        inputs.verify_table(spark, inp, ("lon_e7", "lat_e7"))
        return inp

    def _joined(self, spark, inp, tr):
        with tr.span("iceberg_layout.read_table"):
            img = _read_images(spark, inp["root"])
        with tr.span("fixtures.fences_df"):
            polys = fixtures.fences_df(spark, 64).drop("layer", "name")
        with tr.span("spatial.tile_assign"):
            img = spatial.tile_assign(img, "lon", "lat", TILE_LEVEL, "tile_12")
        with tr.span("spatial.spatial_join"):
            return spatial.spatial_join(img, polys, "lon", "lat",
                                        level=JOIN_LEVEL,
                                        broadcast_cover=True)

    def query(self, spark, inp, tr):
        return (self._joined(spark, inp, tr).groupBy("poly_id")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.approx_count_distinct("tile_12").alias("tiles")))

    def trial(self, spark, inp, tr):
        q = self.query(spark, inp, tr)
        with tr.span("collect"):
            rows = q.collect()
        return q, rows

    def check(self, rows, inp) -> bool:
        return _counts(rows) == inp["ref_fences"]

    def ladder(self, spark, inp):
        def tiled():
            return spatial.tile_assign(_read_images(spark, inp["root"]),
                                       "lon", "lat", TILE_LEVEL, "tile_12")

        def joined():
            return self._joined(spark, inp, NOTRACE)

        n, mx = F.count(F.lit(1)).alias("n"), F.max("tile_12")
        return [
            ("scan", lambda: _read_images(spark, inp["root"])
             .agg(F.sum("lon"), F.sum("lat"))),
            ("tile", lambda: tiled().agg(F.sum("lon"), F.sum("lat"), mx)),
            ("cover_join", lambda: _cover_join(
                spark, tiled(), inputs.fence_layer()).agg(n, mx)),
            ("refine", lambda: joined().agg(n, mx)),
            ("group_by", lambda: joined().groupBy("poly_id").agg(n, mx)),
            ("hll", lambda: self.query(spark, inp, NOTRACE)),
        ]

    def layers(self, c) -> tuple[dict, list]:
        from . import plan_metrics as pm

        m = _join_layers(c, sum(r["n"] for r in c.res), "tile")
        m.update({"tile.s": c.st["tile"] - c.st["scan"],
                  "join.cover_rows": pm.first(
                      c.nodes, "numOutputRows", "BroadcastExchangeExec"),
                  "hll.s": c.st["hll"] - c.st["group_by"]})
        return m, c.nodes


class SkewClip:
    """Encoded images joined the shuffle way to a 96-edge layer whose
    polygon 0 holds the 30 %-hot cell (distributed chunked cover, hot cells
    salted), then decoded, clipped to their polygon and re-encoded."""

    name = "skew_clip"

    def __init__(self, n: int):
        self.n = n

    def prepare(self, spark, cache, seed):
        inp = inputs.encoded_images(spark, cache, self.n, seed)
        inputs.verify_table(spark, inp, ("w", "h"))
        return {**inp, "edges": inputs.layer_edges(inputs.blob_layer())}

    def _joined(self, spark, inp, tr):
        with tr.span("iceberg_layout.read_table"):
            img = ice.read_table(spark, inp["root"])
        with tr.span("inputs.layer_df"):
            polys = inputs.layer_df(spark, inputs.blob_layer())
        with tr.span("spatial.spatial_join"):
            return spatial.spatial_join(
                img, polys, "lon", "lat", level=JOIN_LEVEL,
                broadcast_cover=False, distributed_inline_edges=16,
                distributed_chunked=True, salt_hot=4)

    def query(self, spark, inp, tr):
        j = self._joined(spark, inp, tr)
        with tr.span("clip.raster_vector_clip"):
            return clip.raster_vector_clip(j, inp["edges"])

    def trial(self, spark, inp, tr):
        q = self.query(spark, inp, tr).select("image_id", "poly_id",
                                              "n_inside")
        with tr.span("collect"):
            rows = q.collect()
        return q, {f"{r['image_id']}:{r['poly_id']}": r["n_inside"]
                   for r in rows}

    def check(self, res, inp) -> bool:
        return res == inp["ref_clip"]

    def ladder(self, spark, inp):
        n = F.count(F.lit(1)).alias("n")
        return [
            ("scan", lambda: ice.read_table(spark, inp["root"])
             .agg(F.sum(F.length("bytes")), F.sum("lon"), F.sum("lat"))),
            ("cover_join", lambda: _cover_join(
                spark, ice.read_table(spark, inp["root"]),
                inputs.blob_layer()).agg(n)),
            ("refine", lambda: self._joined(spark, inp, NOTRACE).agg(n)),
            ("group_by", lambda: self._joined(spark, inp, NOTRACE)
             .groupBy("poly_id").agg(n)),
            ("decode", lambda: clip.decode_stats(
                self._joined(spark, inp, NOTRACE))
             .agg(n, F.sum("bytes_decoded"))),
            ("clip", lambda: self.query(spark, inp, NOTRACE)
             .agg(n, F.sum("n_inside"), F.sum("n_pixels"))),
        ]

    def layers(self, c) -> tuple[dict, list]:
        """Adds the hot-cell detection job, run alone, and the share of
        rows in the cells it salts."""
        from . import plan_metrics as pm

        pts = spatial.tile_assign(ice.read_table(c.spark, c.inp["root"]),
                                  "lon", "lat", JOIN_LEVEL, "_sj_cell")
        times = []
        for _ in range(3):
            t = time.perf_counter()
            hot = spatial.salt_hot_cells(pts, "_sj_cell", top_n=4)[1]
            cells_hot = [r["_sj_cell"] for r in hot.collect()]
            times.append(time.perf_counter() - t)
        n_hot = pts.where(F.col("_sj_cell").isin(cells_hot)).count()
        clip_s = c.st["clip"] - c.st["decode"]
        m = _join_layers(c, len(c.res), "scan")
        # two Python nodes: the cover build, and the clip, which receives
        # one row per joined image
        m.update({"join.cover_rows": pm.total(
                      c.nodes, "pythonNumRowsReceived", "MapInPandasExec")
                  - len(c.res),
                  "salt.detect_s": statistics.median(times),
                  "salt.hot_share": n_hot / self.n,
                  "codec.decode_s": c.st["decode"] - c.st["refine"],
                  "clip.s": clip_s,
                  "clip.pixels_per_s": c.rows["clip"]["sum(n_pixels)"]
                  / clip_s})
        return m, c.nodes


class ShpCheckpoint:
    """A Point shapefile decoded by .shx shards, tiled, bucketed by the
    level-4 parent and written bucket by bucket with lineage manifests;
    then half the manifests are dropped and the write resumed."""

    name = "shp_checkpoint"
    STAGE = "tiles"

    def __init__(self, n: int, work: str):
        self.n, self.work = n, work

    def prepare(self, spark, cache, seed):
        inp = inputs.point_file(cache, self.n, seed)
        inputs.verify_file(inp)
        return inp

    @staticmethod
    def shards(spark) -> int:
        """Two .shx shards per core: the default of 64 puts ~70 ms of task
        and Python-worker overhead on every shard of a small file."""
        return 2 * spark.sparkContext.defaultParallelism

    def tiles(self, spark, inp, tr):
        with tr.span("ingest.read_shp_sharded"):
            pts = ingest.read_shp_sharded(spark, inp["shp"],
                                          self.shards(spark))
        with tr.span("spatial.tile_assign"):
            pts = spatial.tile_assign(pts, "lon", "lat", TILE_LEVEL,
                                      "tile_12")
        steps = inputs.SHP_TILE_LEVEL - inputs.SHP_BUCKET_LEVEL
        return pts.withColumn("bucket", F.expr(
            cells.cell_parent_sql("tile_12", steps)))

    def _write(self, spark, inp, tr, out, span):
        df = self.tiles(spark, inp, tr)
        with tr.span(span):
            return lineage.checkpointed_write(df, out, self.STAGE,
                                              cell_col="tile_12")

    def trial(self, spark, inp, tr):
        out = os.path.join(self.work, "lineage-out")
        shutil.rmtree(out, ignore_errors=True)
        first = self._write(spark, inp, tr, out,
                            "lineage.checkpointed_write")
        before = _bucket_digest(out)
        dropped = sorted(lineage.completed_buckets(out, self.STAGE))[::2]
        for b in dropped:
            os.remove(os.path.join(out, "_lineage",
                                   f"{self.STAGE}-bucket-{b}.json"))
        t = time.perf_counter()
        resumed = self._write(spark, inp, tr, out, "resume")
        resume_s = time.perf_counter() - t
        manifests = lineage.completed_buckets(out, self.STAGE)
        return None, {
            "first": first, "resumed": resumed, "dropped": len(dropped),
            "resume_s": resume_s,
            "before": before, "after": _bucket_digest(out),
            "manifest_rows": sum(m["rows"] for m in manifests.values()),
            "bytes_written": sum(os.path.getsize(p) for p in glob.glob(
                os.path.join(out, "data", "*", "*.parquet")))}

    def check(self, res, inp) -> bool:
        ref = inp["ref_buckets"]
        n_buckets = len(ref)
        return (res["before"] == ref and res["after"] == ref
                and res["manifest_rows"] == self.n
                and res["first"] == {"done": 0, "new": n_buckets}
                and res["resumed"] == {"done": n_buckets - res["dropped"],
                                       "new": res["dropped"]})

    def ladder(self, spark, inp):
        n = F.count(F.lit(1)).alias("n")
        return [
            ("decode", lambda: ingest.read_shp_sharded(
                spark, inp["shp"], self.shards(spark)).agg(n, F.sum("lon"))),
            ("tile", lambda: self.tiles(spark, inp, NOTRACE)
             .agg(n, F.max("bucket"))),
        ]

    def layers(self, c) -> tuple[dict, list]:
        res = c.res
        return {
            "shp.decode_s": c.st["decode"],
            "shp.mb_per_s": c.inp["bytes"] / 1e6 / c.st["decode"],
            "tile.s": c.st["tile"] - c.st["decode"],
            "lineage.write_s": (c.span("lineage.checkpointed_write")
                                - c.st["tile"]),
            "lineage.resume_s": c.span("resume"),
            "lineage.bytes_written": float(res["bytes_written"]),
            "lineage.buckets": float(res["first"]["new"]),
            "lineage.resume_skip_ratio": (res["resumed"]["done"]
                                          / res["first"]["new"]),
        }, c.stage_nodes["tile"]


def _bucket_digest(out: str) -> dict:
    """bucket → [rows, Σ rec_no] read back from the written parquet."""
    import pyarrow.parquet as pq

    digest = {}
    for p in glob.glob(os.path.join(out, "data", "bucket=*", "*.parquet")):
        rec = pq.read_table(p, columns=["rec_no"]).column(0).to_numpy()
        b = os.path.basename(os.path.dirname(p)).split("=", 1)[1]
        digest[b] = [len(rec), int(rec.sum())]
    return digest


NOTRACE = Tracer(False)


class Workload:
    """One or more parts run in sequence as one trial: one client, one job
    in flight. A trial passes when every part's check passes.
    ``warm_trials`` untimed trials run before timing starts."""

    def __init__(self, name: str, parts: list, warm_trials: int):
        self.name, self.parts = name, parts
        self.warm_trials = warm_trials
        self.n = sum(p.n for p in parts)

    def prepare(self, spark, cache, seed) -> dict:
        return {p.name: p.prepare(spark, cache, seed) for p in self.parts}

    def trial(self, spark, inp, tr):
        """(part → executed DataFrame, {"parts": part → result,
        "seconds": part → wall seconds, plus the resume's own})."""
        qs, res, secs = {}, {}, {}
        for p in self.parts:
            if tr.enabled:
                spark.sparkContext.setJobGroup(f"{tr.trial}:{p.name}",
                                               p.name)
            t = time.perf_counter()
            with tr.span(p.name):
                qs[p.name], res[p.name] = p.trial(spark, inp[p.name], tr)
            secs[p.name] = time.perf_counter() - t
            if "resume_s" in res[p.name]:
                secs[p.name + ".resume"] = res[p.name]["resume_s"]
        return qs, {"parts": res, "seconds": secs}

    def check(self, res, inp) -> bool:
        return all(p.check(res["parts"][p.name], inp[p.name])
                   for p in self.parts)

    def ladder(self, spark, inp):
        return [(f"{p.name}.{stage}", fn) for p in self.parts
                for stage, fn in p.ladder(spark, inp[p.name])]


def make(name: str, work: str) -> Workload:
    """Workload by name, at the benchmark's sizes."""
    # flagship trials speed up by ~40 % over the first ~10 trials (JIT of the
    # driver-side plan build and of the fused codegen stage), so timing starts
    # after 12; python_path trials (~7 s, mostly job and Python-worker
    # overhead) are 2x slower at first and still ~25 % slower at the third
    if name == "flagship":
        return Workload(name, [Flagship(1_000_000)], warm_trials=12)
    if name == "python_path":
        return Workload(name, [SkewClip(800), ShpCheckpoint(20_000, work)],
                        warm_trials=3)
    raise ValueError(f"unknown workload {name!r}")


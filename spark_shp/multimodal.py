"""Multimodal column plumbing (builder brief: image/audio/video as opaque
binary + typed metadata; decode / feature-extract / resize / frame-sample as
Arrow-batched kernels).

Image decode is REAL (spark_shp.codecs handles every fmt this engine
produces). Audio/video decode is REAL for the RIFF formats that need no
codec library (spark_shp.riff): PCM / IEEE-float WAV at any bit depth and
channel count, and AVI with uncompressed BI_RGB 'DIB ' frames. Compressed
codecs (MP3/AAC/H.264/MJPEG) raise loudly — no codec library exists in
this container; swap the decode fns for librosa/pyav on a real cluster.

Every image kernel below except ``header_audit`` runs on ONE batch loop,
``clip.shape_grouped``: per Arrow batch, rows group by (w, h, fmt), each
group decodes once into a (k, h, w, 3) uint8 stack, and the kernel
``kernel(px, grp, w, h, fmt)`` returns its output rows with the image's
position in the group (0..k-1) in the ``image_id`` slot; the loop swaps
in the image_id and emits the batch in input order. A kernel doing float
math starts from ``px.astype(np.float64)``; integer kernels cast the
uint8 stack straight to int64.
"""

from __future__ import annotations

import math as _math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, types as T

from . import codecs, riff
from .clip import shape_grouped

FEATURE_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("mean_rgb", T.ArrayType(T.DoubleType())),
    T.StructField("std_gray", T.DoubleType()),
    T.StructField("edge_energy", T.DoubleType()),
    T.StructField("thumb64", T.ArrayType(T.DoubleType())),
])


def image_features(images: DataFrame) -> DataFrame:
    """Decode → per-channel means, gray std, gradient energy, 8×8 thumbnail
    (the 64-dim embedding the ANN operators consume).

    Batched (VERDICT perf r1): images group by (w, h, fmt) WITHIN each
    Arrow batch and all feature math runs as stacked (n, h, w, …) numpy ops
    — one set of array kernels per shape group instead of per-row Python
    orchestration. Mixed-size batches degrade gracefully to one group per
    shape (the ragged fallback is the grouping itself)."""

    def kernel(px, grp, w, h, fmt):
        px = px.astype(np.float64)                  # (n,h,w,3)
        gray = px.mean(axis=3)                      # (n,h,w)
        mean_rgb = px.mean(axis=(1, 2))             # (n,3)
        std_gray = gray.std(axis=(1, 2))
        gy, gx = np.gradient(gray, axis=(1, 2))
        edge = np.sqrt(gx ** 2 + gy ** 2).mean(axis=(1, 2))
        hh, ww = (h // 8) * 8, (w // 8) * 8
        thumb = (gray[:, :hh, :ww]
                 .reshape(len(px), 8, hh // 8, 8, ww // 8)
                 .mean(axis=(2, 4)).reshape(len(px), 64) / 255.0)
        return [(k, mean_rgb[k].tolist(), float(std_gray[k]),
                 float(edge[k]), thumb[k].tolist())
                for k in range(len(px))]

    return shape_grouped(images, FEATURE_SCHEMA, kernel)


def resize_images(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize (pure numpy), re-encoded as raw bytes."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
    ])

    def kernel(px, grp, w, h, fmt):                   # px: (n,h,w,3)
        yi = (np.arange(out_h) * h // out_h).astype(int)
        xi = (np.arange(out_w) * w // out_w).astype(int)
        small = px[:, yi][:, :, xi].astype(np.uint8)  # (n,oh,ow,3)
        return [(k, codecs.encode(small[k], "raw"), out_w, out_h, "raw")
                for k in range(len(px))]

    return shape_grouped(images, schema, kernel)


def canny_stats(images: DataFrame, t_lo2: int,
                t_hi2: int) -> DataFrame:
    """Canny edge detection over real decoded bytes, in the exact-integer
    gate form (σ=0 — the deterministic fixture is already the test
    signal; a Gaussian stage is a production knob): 3×3 Sobel on the
    GREEN channel, gradient direction quantized to 4 sectors by the
    RATIONAL rule 5·|gy| ⋚ 2·|gx| (tan 22.5° ≈ 2/5 — exact int64, both
    engines replay it), non-maximum suppression along the gradient
    (strict > forward, ≥ backward — a deterministic tie-break),
    double threshold on g² = gx²+gy², and hysteresis: weak survivors
    8-connected to a strong survivor, computed as a binary-dilation
    fixpoint over the whole decode stack (no per-pixel Python; converges
    in ≤ diag(image) rounds). Emits per image: strong/weak/final counts
    and a position checksum over the final edge map."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("n_strong", T.LongType()),
        T.StructField("n_weak", T.LongType()),
        T.StructField("n_final", T.LongType()),
        T.StructField("edge_checksum", T.LongType()),
    ])

    def kernel(px, grp, w, h, fmt):
        p = px[..., 1].astype(np.int64)
        gx = ((p[:, :-2, 2:] + 2 * p[:, 1:-1, 2:] + p[:, 2:, 2:])
              - (p[:, :-2, :-2] + 2 * p[:, 1:-1, :-2]
                 + p[:, 2:, :-2]))
        gy = ((p[:, 2:, :-2] + 2 * p[:, 2:, 1:-1] + p[:, 2:, 2:])
              - (p[:, :-2, :-2] + 2 * p[:, :-2, 1:-1]
                 + p[:, :-2, 2:]))
        g2 = gx * gx + gy * gy                  # (n, h-2, w-2)
        ax, ay = np.abs(gx), np.abs(gy)
        sector = np.where(
            5 * ay <= 2 * ax, 0,
            np.where(5 * ax <= 2 * ay, 2,
                     np.where(gx * gy > 0, 1, 3)))
        # neighbor values along the gradient per sector, with a
        # -1 border so edge-of-interior pixels compare true
        pad = np.full((g2.shape[0], g2.shape[1] + 2,
                       g2.shape[2] + 2), -1, dtype=np.int64)
        pad[:, 1:-1, 1:-1] = g2
        offs = {0: (0, 1), 1: (1, 1), 2: (1, 0), 3: (-1, 1)}
        fwd = np.empty_like(g2)
        bwd = np.empty_like(g2)
        for s, (dy, dx) in offs.items():
            m = sector == s
            fwd[m] = pad[:, 1 + dy:pad.shape[1] - 1 + dy,
                         1 + dx:pad.shape[2] - 1 + dx][m]
            bwd[m] = pad[:, 1 - dy:pad.shape[1] - 1 - dy,
                         1 - dx:pad.shape[2] - 1 - dx][m]
        keep = (g2 > fwd) & (g2 >= bwd)
        strong = keep & (g2 >= t_hi2)
        weak = keep & (g2 >= t_lo2) & (g2 < t_hi2)
        # hysteresis: dilate the reached set into weak pixels
        reach = strong.copy()
        cand = strong | weak
        while True:
            # 8-neighborhood dilation = row dilation then column
            grown = reach.copy()
            grown[:, 1:, :] |= reach[:, :-1, :]
            grown[:, :-1, :] |= reach[:, 1:, :]
            g3 = grown.copy()
            g3[:, :, 1:] |= grown[:, :, :-1]
            g3[:, :, :-1] |= grown[:, :, 1:]
            nxt = reach | (g3 & cand)
            if (nxt == reach).all():
                break
            reach = nxt
        yy, xx = np.meshgrid(
            np.arange(1, h - 1, dtype=np.int64),
            np.arange(1, w - 1, dtype=np.int64), indexing="ij")
        pos = yy * 4096 + xx
        rows = []
        for k, iid in enumerate(grp["image_id"]):
            img_i = int(str(iid)[3:])
            rows.append((k, int(strong[k].sum()),
                         int(weak[k].sum()), int(reach[k].sum()),
                         int(((img_i + 1) * pos[reach[k]]).sum())))
        return rows

    return shape_grouped(images, schema, kernel)


# --- audio/video: real RIFF decode (WAV / uncompressed AVI), loud otherwise ---

def _decode_audio(data: bytes, sample_rate: int) -> np.ndarray:
    """Container-sniffed audio decode: RIFF/WAVE for real
    (riff.wav_decode: PCM 8/16/24/32-bit + IEEE float, any channel
    count, mixed down to mono), FLAC for real (spark_shp.flac — the
    lossless compressed path, r4). Other bytes fall back to the
    deterministic raw-int16 interpretation so headerless PCM streams
    keep flowing; compressed-in-WAV raises (no codec lib here)."""
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        wav, _ = riff.wav_decode(data)
        return wav.mean(axis=1) if wav.shape[1] > 1 else wav[:, 0]
    if data[:4] == b"fLaC":
        from . import flac
        s, _ = flac.flac_decode(data)
        mono = s.mean(axis=1) if s.shape[1] > 1 else s[:, 0]
        return (mono / 32768.0).astype(np.float64)
    raw = np.frombuffer(data, dtype=np.uint8)
    n = (len(raw) // 2) * 2
    return raw[:n].view("<i2").astype(np.float32) / 32768.0


def _sample_video_frames(data: bytes, n_frames: int) -> np.ndarray:
    """RIFF/AVI with a BI_RGB 'DIB ' stream OR an MJPG (Motion-JPEG)
    stream decodes for real (riff.avi_sample_frames — MJPG frames route
    through the in-repo baseline JPEG decoder, r4). Other codecs
    (H.264/H.265/VP9) and non-AVI containers raise loudly — those need a
    codec library (pyav) not present in this environment."""
    if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        return riff.avi_sample_frames(data, n_frames)[0]
    raise NotImplementedError(
        "only BI_RGB and MJPG AVI decode without a codec library; this "
        "environment has none (would be pyav on a real cluster)")


AUDIO_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("zero_crossings", T.LongType()),
])


def audio_features(media: DataFrame, sample_rate: int = 16000) -> DataFrame:
    """media(media_id, bytes) → waveform stats. WAV bytes decode for real
    (PCM/float, mono-mixed); headerless bytes use the int16 fallback.
    Variable-length waveform decode is inherently per-stream, but each
    stream's stats run as whole-array numpy ops over the Arrow batch."""

    def work(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                wav = _decode_audio(bytes(r.bytes), sample_rate)
                zc = int(np.sum(np.abs(np.diff(np.signbit(wav)))))
                rms = float(np.sqrt(np.mean(wav ** 2))) if len(wav) else 0.0
                rows.append((r.media_id, len(wav), rms, zc))
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_SCHEMA])

    return media.select("media_id", "bytes").mapInPandas(work, AUDIO_SCHEMA)


VIDEO_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType()),
    T.StructField("n_sampled", T.IntegerType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("mean_rgb", T.ArrayType(T.DoubleType())),
    T.StructField("motion", T.DoubleType()),
])


def video_features(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """media(media_id, bytes) → per-video stats over n_frames evenly-sampled
    frames: mean RGB across the sampled stack and mean |Δ| between
    consecutive sampled frames (a scene-change / motion proxy).

    The decode (riff.avi_decode) gathers every frame into ONE (n, h, w, 3)
    stack and all feature math is stacked numpy — per-video Python is just
    the container walk."""

    def work(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                fr = _sample_video_frames(bytes(r.bytes), n_frames)
                mean = fr.reshape(-1, 3).mean(axis=0)
                motion = (float(np.abs(np.diff(fr.astype(np.float64),
                                               axis=0)).mean())
                          if len(fr) > 1 else 0.0)
                rows.append((r.media_id, len(fr), fr.shape[2], fr.shape[1],
                             [float(v) for v in mean], motion))
            yield pd.DataFrame(rows, columns=[f.name for f in VIDEO_SCHEMA])

    return media.select("media_id", "bytes").mapInPandas(work, VIDEO_SCHEMA)


# --- deterministic augmentation with orientation-sensitive checksums ----------

def _aug_weights(h: int, w: int) -> np.ndarray:
    """Position-and-channel weight lattice 1 + (x*31 + y*17 + c*7) % 101 on
    OUTPUT coordinates: a flipped row order, transposed axes, BGR swap, or
    off-by-one crop origin all change the weighted sum."""
    y, x, c = np.meshgrid(np.arange(h, dtype=np.int64),
                          np.arange(w, dtype=np.int64),
                          np.arange(3, dtype=np.int64), indexing="ij")
    return 1 + (x * 31 + y * 17 + c * 7) % 101


def augment_checksums(images: DataFrame, res_w: int = 16,
                      res_h: int = 16) -> DataFrame:
    """The training-augmentation family (horizontal flip, center crop to
    half extent, 90-degree rotation, nearest-neighbor resize) reduced to
    exact int64 checksums per image. Shape-grouped stacks: one decode and
    one einsum per (w, h, fmt) group — zero per-pixel Python. The resize
    index mapping is the SAME y*h//out_h rule resize_images ships, so the
    gated row pins the production mapping."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("cs_flip", T.LongType()),
        T.StructField("cs_crop", T.LongType()),
        T.StructField("cs_rot90", T.LongType()),
        T.StructField("cs_resize", T.LongType()),
    ])

    def kernel(px, grp, w, h, fmt):
        px = px.astype(np.int64)
        flip = px[:, :, ::-1, :]
        h2, w2 = h // 2, w // 2
        y0, x0 = h // 4, w // 4
        crop = px[:, y0:y0 + h2, x0:x0 + w2, :]
        rot = np.rot90(px, k=1, axes=(1, 2))   # (n, w, h, 3)
        yi = (np.arange(res_h) * h // res_h).astype(int)
        xi = (np.arange(res_w) * w // res_w).astype(int)
        res = px[:, yi][:, :, xi]
        cs = [np.einsum("nhwc,hwc->n", a, _aug_weights(
                  a.shape[1], a.shape[2]))
              for a in (flip, crop, rot, res)]
        return [(k, int(cs[0][k]), int(cs[1][k]), int(cs[2][k]),
                 int(cs[3][k])) for k in range(len(px))]

    return shape_grouped(images, schema, kernel)


def mosaic_checksums(images: DataFrame, res: int = 16,
                     grid: int = 2) -> DataFrame:
    """Multi-image composition (B11): each image is NN-resized to
    ``res`` x ``res`` and placed at its ``slot`` in a ``grid`` x ``grid``
    collage; the collage reduces to ONE exact int64 checksum whose weights
    are evaluated at MOSAIC coordinates, so the per-image partial sums
    simply add — the collage never materializes, and a wrong slot, flipped
    axis, or resize off-by-one changes the sum.  Input needs columns
    (tile, slot, image_id, bytes, w, h, fmt); same shape-grouped decode
    stacks as augment_checksums (zero per-pixel Python)."""
    schema = T.StructType([
        T.StructField("tile", T.LongType()),
        T.StructField("image_id", T.StringType()),
        T.StructField("cs", T.LongType()),
    ])
    # per-slot weight lattices, precomputed once: weight at mosaic coords
    # (oy + y, ox + x, c) with the shared 1 + (x*31 + y*17 + c*7) % 101 rule
    y, x, c = np.meshgrid(np.arange(res, dtype=np.int64),
                          np.arange(res, dtype=np.int64),
                          np.arange(3, dtype=np.int64), indexing="ij")
    slot_w = []
    for s in range(grid * grid):
        oy, ox = (s // grid) * res, (s % grid) * res
        slot_w.append(1 + ((ox + x) * 31 + (oy + y) * 17 + c * 7) % 101)
    slot_w = np.stack(slot_w)

    def kernel(px, grp, w, h, fmt):
        px = px.astype(np.int64)
        yi = (np.arange(res) * h // res).astype(int)
        xi = (np.arange(res) * w // res).astype(int)
        resized = px[:, yi][:, :, xi]
        cs = np.einsum("nhwc,nhwc->n", resized,
                       slot_w[grp["slot"].astype(int)])
        return [(int(t), k, int(cs[k])) for k, t in enumerate(grp["tile"])]

    return shape_grouped(images, schema, kernel, ("tile", "slot"))


def histogram_checksums(images: DataFrame, buckets: int = 8) -> DataFrame:
    """Pixel-value histograms over real decoded bytes (the exposure /
    contrast QA pass of an image-curation pipeline): per image, the count
    of pixels in each of ``buckets`` equal-width value bins, as exact
    int64s.  Shape-grouped decode stacks + ONE vectorized bincount per
    group — zero per-pixel Python."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("n_px", T.LongType()),
    ])
    width = 256 // buckets

    def kernel(px, grp, w, h, fmt):
        px = px.astype(np.int64)
        b = px // width                       # (n, h, w, 3)
        flat = (b + np.arange(len(px))[:, None, None, None]
                * buckets)
        counts = np.bincount(flat.ravel(),
                             minlength=len(px) * buckets)
        counts = counts.reshape(len(px), buckets)
        return [(k, bb, int(counts[k, bb]))
                for k in range(len(px)) for bb in range(buckets)]

    return shape_grouped(images, schema, kernel)


def sobel_checksums(images: DataFrame) -> DataFrame:
    """Sobel gradient energy over real decoded bytes (the blur/edge QA
    pass of an image-curation pipeline): per image, the exact-int64 sum of
    |gx| + |gy| of the 3x3 Sobel operator on the GREEN channel over the
    valid interior (no padding).  Shape-grouped decode stacks + sliced
    whole-stack convolution — zero per-pixel Python."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("energy", T.LongType()),
    ])

    def kernel(px, grp, w, h, fmt):
        p = px[..., 1].astype(np.int64)                       # (n, h, w)
        gx = ((p[:, :-2, 2:] + 2 * p[:, 1:-1, 2:] + p[:, 2:, 2:])
              - (p[:, :-2, :-2] + 2 * p[:, 1:-1, :-2]
                 + p[:, 2:, :-2]))
        gy = ((p[:, 2:, :-2] + 2 * p[:, 2:, 1:-1] + p[:, 2:, 2:])
              - (p[:, :-2, :-2] + 2 * p[:, :-2, 1:-1]
                 + p[:, :-2, 2:]))
        e = (np.abs(gx) + np.abs(gy)).sum(axis=(1, 2))
        return [(k, int(e[k])) for k in range(len(px))]

    return shape_grouped(images, schema, kernel)


def rle_run_counts(images: DataFrame) -> DataFrame:
    """Run-length compressibility over real decoded bytes (the
    smoothness / entropy QA pass of an image-curation pipeline): per
    image, the exact count of maximal constant runs in the row-major
    GREEN channel (runs = 1 + adjacent-difference count on the flattened
    raster).  Shape-grouped decode stacks + one vectorized adjacent
    compare — zero per-pixel Python."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("runs", T.LongType()),
        T.StructField("n_px", T.LongType()),
    ])

    def kernel(px, grp, w, h, fmt):
        g = px[..., 1].reshape(len(px), h * w)               # (n, h*w)
        runs = 1 + (g[:, 1:] != g[:, :-1]).sum(axis=1)
        return [(k, int(runs[k]), h * w) for k in range(len(px))]

    return shape_grouped(images, schema, kernel)


def blob_checksums(images: DataFrame, thresh: int = 128) -> DataFrame:
    """4-adjacency connected-component labeling of the thresholded green
    channel (blob detection — the object-count QA pass): per image, the
    number of blobs, the largest blob's pixel count, and the exact sum of
    min-labels (label = y*w + x of each blob's smallest-index pixel —
    orientation-sensitive, catches flips/transposes).  Vectorized
    min-label propagation over the WHOLE decode stack at once; rounds are
    bounded by the longest in-blob shortest path (<= h*w), convergence is
    checked on the stack, not per image."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("n_blobs", T.LongType()),
        T.StructField("max_blob", T.LongType()),
        T.StructField("label_sum", T.LongType()),
    ])

    def kernel(px, grp, w, h, fmt):
        g = px[..., 1].astype(np.float64)
        mask = g >= thresh                          # (n, h, w)
        big = np.int64(h * w)
        yy, xx = np.meshgrid(np.arange(h, dtype=np.int64),
                             np.arange(w, dtype=np.int64),
                             indexing="ij")
        lab = np.where(mask, (yy * w + xx)[None], big).copy()
        while True:
            nxt = lab.copy()
            nxt[:, 1:, :] = np.minimum(nxt[:, 1:, :], lab[:, :-1, :])
            nxt[:, :-1, :] = np.minimum(nxt[:, :-1, :], lab[:, 1:, :])
            nxt[:, :, 1:] = np.minimum(nxt[:, :, 1:], lab[:, :, :-1])
            nxt[:, :, :-1] = np.minimum(nxt[:, :, :-1], lab[:, :, 1:])
            nxt = np.where(mask, nxt, big)
            if np.array_equal(nxt, lab):
                break
            lab = nxt
        rows = []
        for k in range(len(px)):
            lv = lab[k][mask[k]]
            if lv.size == 0:
                rows.append((k, 0, 0, 0))
                continue
            uniq, counts = np.unique(lv, return_counts=True)
            rows.append((k, int(uniq.size),
                         int(counts.max()), int(uniq.sum())))
        return rows

    return shape_grouped(images, schema, kernel)


def orientation_checksums(images: DataFrame) -> DataFrame:
    """HOG-style gradient-orientation octant counts: Sobel (gx, gy) on the
    green channel, every interior pixel with a nonzero gradient bucketed
    into 8 octants by the engine-shared comparison-only rule (sign and
    |gx| vs |gy|; ties by the CASE order — no atan2).  Emits per
    (image_id, octant) exact counts."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("octant", T.IntegerType()),
        T.StructField("n_px", T.LongType()),
    ])

    def kernel(px, grp, w, h, fmt):
        p = px[..., 1].astype(np.int64)
        gx = ((p[:, :-2, 2:] + 2 * p[:, 1:-1, 2:] + p[:, 2:, 2:])
              - (p[:, :-2, :-2] + 2 * p[:, 1:-1, :-2]
                 + p[:, 2:, :-2]))
        gy = ((p[:, 2:, :-2] + 2 * p[:, 2:, 1:-1] + p[:, 2:, 2:])
              - (p[:, :-2, :-2] + 2 * p[:, :-2, 1:-1]
                 + p[:, :-2, 2:]))
        ax, ay = np.abs(gx), np.abs(gy)
        steep = ay > ax
        oct_ = np.where(
            (gx >= 0) & (gy >= 0), np.where(steep, 1, 0),
            np.where((gx < 0) & (gy >= 0), np.where(steep, 2, 3),
                     np.where((gx < 0) & (gy < 0),
                              np.where(steep, 5, 4),
                              np.where(steep, 6, 7))))
        live = (gx != 0) | (gy != 0)
        flat = np.where(live, oct_, 8) + \
            np.arange(len(px))[:, None, None] * 9
        counts = np.bincount(flat.ravel(),
                             minlength=len(px) * 9)
        counts = counts.reshape(len(px), 9)
        return [(k, o, int(counts[k, o]))
                for k in range(len(px)) for o in range(8) if counts[k, o]]

    return shape_grouped(images, schema, kernel)


# 4x4 signed template for template_match_peaks: K[u,v] =
# mix(9000001 + u*4 + v) % 256 - 128 (the gate oracle re-derives it)
def template_kernel() -> np.ndarray:
    from .hashing import mix
    uv = np.arange(16, dtype=np.int64)
    return (mix(9000001 + uv) % 256 - 128).reshape(4, 4)


def template_match_checksums(images: DataFrame) -> DataFrame:
    """Template matching (patch search): exact integer cross-correlation
    of a fixed 4x4 signed kernel against the green channel; per image the
    peak score and its FIRST (row-major) location.  The argmax is the
    packed key MAX(score * 2^24 + (2^24-1 - pos)) — score dominates (the
    low part is always in [0, 2^24), so floor-shift recovers it even for
    negative scores), position breaks ties toward the first occurrence,
    everything stays int64.  One 16-term shifted-slice accumulation per
    decode stack."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("peak", T.LongType()),
        T.StructField("peak_pos", T.LongType()),
    ])
    kern = template_kernel()

    def kernel(px, grp, w, h, fmt):
        p = px[..., 1].astype(np.int64)
        oh, ow = h - 3, w - 3
        score = np.zeros((len(px), oh, ow), dtype=np.int64)
        for u in range(4):
            for v in range(4):
                score += kern[u, v] * p[:, u:u + oh, v:v + ow]
        pos = (np.arange(oh, dtype=np.int64)[:, None] * w
               + np.arange(ow, dtype=np.int64)[None, :])
        top = np.int64((1 << 24) - 1)
        key = (score << np.int64(24)) + (top - pos[None])
        best = key.reshape(len(px), -1).max(axis=1)
        return [(k, int(b) >> 24, int(top) - (int(b) & int(top)))
                for k, b in enumerate(best)]

    return shape_grouped(images, schema, kernel)


def glcm_checksums(images: DataFrame, levels: int = 8) -> DataFrame:
    """Horizontal gray-level co-occurrence texture features over real
    decoded bytes (the Haralick-texture QA pass of an image-curation
    pipeline): per image, exact-int64 GLCM contrast (sum of
    count·(i−j)²) and energy (sum of squared pair counts) over pixel
    values quantized to ``levels`` gray levels, all three channels,
    offset (0, 1).  Shape-grouped decode stacks; the per-image pair
    histogram is ONE offset bincount over the whole stack — zero
    per-pixel Python."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("n_pairs", T.LongType()),
        T.StructField("contrast", T.LongType()),
        T.StructField("energy", T.LongType()),
    ])
    shift = 256 // levels

    def kernel(px, grp, w, h, fmt):
        q = px.astype(np.int64) // shift           # (n, h, w, 3)
        left, right = q[:, :, :-1, :], q[:, :, 1:, :]
        contrast = ((left - right) ** 2) \
            .reshape(len(px), -1).sum(axis=1)
        code = (left * levels + right
                + np.arange(len(px), dtype=np.int64)
                [:, None, None, None] * levels * levels)
        counts = np.bincount(
            code.ravel(), minlength=len(px) * levels * levels)
        energy = (counts.reshape(len(px), -1).astype(np.int64)
                  ** 2).sum(axis=1)
        n_pairs = h * (w - 1) * 3
        return [(k, n_pairs, int(contrast[k]), int(energy[k]))
                for k in range(len(px))]

    return shape_grouped(images, schema, kernel)


def distortion_checksums(images: DataFrame) -> DataFrame:
    """Codec-distortion audit over real decoded bytes: per image, the
    exact-int64 sum of squared errors and max abs error between the
    DECODED pixels and the generator ground truth
    P(y,x,c) = mix(i·1000003 + y·4096 + x·4 + c) % 256.  Lossless
    formats (raw/png) must come back with sse = 0 — this is the
    bit-exactness proof of the decode path itself — while the lossy qb
    codec's quantization error is exactly reproducible.  Shape-grouped
    decode stacks; ground truth is one vectorized hash over the whole
    (n, h, w, 3) lattice."""
    from .fixtures import image_pixels  # local: avoid import cycle risk
    from .hashing import mix
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("n_px", T.LongType()),
        T.StructField("sse", T.LongType()),
        T.StructField("max_err", T.LongType()),
    ])
    _ = image_pixels  # single-image twin of the stacked hash below

    def kernel(px, grp, w, h, fmt):
        dec = px.astype(np.int64)
        nums = np.array([int(s[3:]) for s in grp["image_id"]],
                        dtype=np.int64)
        y, x, c = np.meshgrid(np.arange(h, dtype=np.int64),
                              np.arange(w, dtype=np.int64),
                              np.arange(3, dtype=np.int64),
                              indexing="ij")
        k = (nums[:, None, None, None] * 1_000_003
             + y * 4096 + x * 4 + c)
        err = dec - (mix(k) % 256).astype(np.int64)
        sse = (err ** 2).reshape(len(px), -1).sum(axis=1)
        mx = np.abs(err).reshape(len(px), -1).max(axis=1)
        return [(j, h * w * 3, int(sse[j]), int(mx[j]))
                for j in range(len(px))]

    return shape_grouped(images, schema, kernel)


def equalize_checksums(images: DataFrame) -> DataFrame:
    """Histogram equalization over real decoded bytes (the contrast-
    normalization pass of an image-curation pipeline): per image, pool
    all channels, build the 256-bin CDF, and remap each pixel to
    e = FLOOR((cdf(v) − cdf_min) · 255 / (n_px − cdf_min)) — the textbook
    integer formula, so every output is exact.  Returns per image the
    equalized-value sum and a POSITION-weighted checksum that catches a
    correct histogram applied with the wrong pixel mapping.  Shape-grouped
    decode; the per-image CDF is one offset bincount + cumsum over the
    stack."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("n_px", T.LongType()),
        T.StructField("sum_eq", T.LongType()),
        T.StructField("checksum", T.LongType()),
    ])

    def kernel(px, grp, w, h, fmt):
        px = px.astype(np.int64)
        n, npx = len(px), h * w * 3
        flat = px + np.arange(n, dtype=np.int64)[
            :, None, None, None] * 256
        counts = np.bincount(flat.ravel(), minlength=n * 256) \
            .reshape(n, 256)
        cdf = counts.cumsum(axis=1)
        # cdf_min = cdf at each image's smallest present value
        cdf_min = np.where(counts.cumsum(axis=1) > 0, cdf,
                           np.int64(1) << 60).min(axis=1)
        den = np.maximum(npx - cdf_min, 1)
        emap = (cdf - cdf_min[:, None]) * 255 // den[:, None]
        eq = np.take_along_axis(
            emap, px.reshape(n, -1), axis=1)     # (n, npx)
        pos = np.arange(npx, dtype=np.int64) + 1
        return [(k, npx, int(eq[k].sum()), int((eq[k] * pos).sum()))
                for k in range(n)]

    return shape_grouped(images, schema, kernel)


def quadtree_checksums(images: DataFrame, depth: int = 3) -> DataFrame:
    """Quadtree homogeneity profile over real decoded bytes: at each depth
    d the image splits into 2^d x 2^d blocks (widths here are multiples of
    2^depth); per block the value RANGE (max - min over the block, channels
    pooled) measures homogeneity — the split criterion of an adaptive
    quadtree encoder.  Returns per (image, depth) the exact-int64 range
    sum and a block-position-weighted checksum.  Shape-grouped decode;
    each depth is one stacked reshape + axis max/min."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("n_blocks", T.LongType()),
        T.StructField("range_sum", T.LongType()),
        T.StructField("checksum", T.LongType()),
    ])

    def kernel(px, grp, w, h, fmt):
        px = px.astype(np.int64)
        n = len(px)
        rows = []
        for d in range(depth + 1):
            nb = 1 << d
            b = px.reshape(n, nb, h // nb, nb, w // nb, 3)
            rng = (b.max(axis=(2, 4, 5))
                   - b.min(axis=(2, 4, 5)))     # (n, nb, nb)
            wgt = (np.arange(nb, dtype=np.int64)[:, None] * nb
                   + np.arange(nb, dtype=np.int64)[None, :] + 1)
            for k in range(n):
                rows.append((k, d, nb * nb,
                             int(rng[k].sum()),
                             int((rng[k] * wgt).sum())))
        return rows

    return shape_grouped(images, schema, kernel)


BAYER4 = np.array([[0, 8, 2, 10], [12, 4, 14, 6],
                   [3, 11, 1, 9], [15, 7, 13, 5]], dtype=np.int64)


def dither_checksums(images: DataFrame) -> DataFrame:
    """Ordered (Bayer 4x4) dithering over real decoded bytes — the
    halftoning / 1-bit-per-channel quantization pass: pixel turns on when
    v > B[y%4][x%4]*16 + 8 (the integer form of (B+0.5)*16), per channel.
    Returns per image the exact on-pixel count and a position-weighted
    checksum that catches a shifted or transposed threshold matrix."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("n_px", T.LongType()),
        T.StructField("n_on", T.LongType()),
        T.StructField("checksum", T.LongType()),
    ])

    def kernel(px, grp, w, h, fmt):
        px = px.astype(np.int64)
        ty = BAYER4[np.arange(h) % 4][:, np.arange(w) % 4]
        thr = (ty * 16 + 8)[None, :, :, None]    # (1, h, w, 1)
        on = px > thr                            # (n, h, w, 3)
        npx = h * w * 3
        pos = (np.arange(npx, dtype=np.int64) + 1).reshape(
            1, h, w, 3)
        return [(k, npx, int(on[k].sum()), int((on[k] * pos[0]).sum()))
                for k in range(len(px))]

    return shape_grouped(images, schema, kernel)


def harris_checksums(images: DataFrame) -> DataFrame:
    """Harris corner response over real decoded bytes, EXACT in integers:
    Sobel gradients gx/gy on the green channel, structure tensor
    (A, B, C) = 3x3 box sums of (gx^2, gy^2, gx*gy), and the response
    scaled to R20 = 20*(A*B - C^2) - (A + B)^2 — Harris k = 1/20, so the
    corner test R20 > 0 and the response mass stay integer (A*B ~ 8e13;
    the per-image mass is summed in python int, returned as the exact
    low-64 checksum R20 mod 2^63 alongside the count).  Valid region is
    the double interior (2-pixel margin)."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("n_valid", T.LongType()),
        T.StructField("n_corners", T.LongType()),
        T.StructField("mass_mod", T.LongType()),
    ])
    mod = 1 << 31

    def kernel(px, grp, w, h, fmt):
        p = px[..., 1].astype(np.int64)
        gx = ((p[:, :-2, 2:] + 2 * p[:, 1:-1, 2:] + p[:, 2:, 2:])
              - (p[:, :-2, :-2] + 2 * p[:, 1:-1, :-2]
                 + p[:, 2:, :-2]))
        gy = ((p[:, 2:, :-2] + 2 * p[:, 2:, 1:-1] + p[:, 2:, 2:])
              - (p[:, :-2, :-2] + 2 * p[:, :-2, 1:-1]
                 + p[:, :-2, 2:]))

        def box3(a):
            return (a[:, :-2, :-2] + a[:, :-2, 1:-1] + a[:, :-2, 2:]
                    + a[:, 1:-1, :-2] + a[:, 1:-1, 1:-1]
                    + a[:, 1:-1, 2:]
                    + a[:, 2:, :-2] + a[:, 2:, 1:-1] + a[:, 2:, 2:])
        aa, bb, cc = box3(gx * gx), box3(gy * gy), box3(gx * gy)
        # A*B ~ 8e13 fits int64; 20*A*B ~ 1.6e15 fits; the SUM
        # may not -> python ints, reported mod 2^31
        r20 = 20 * (aa * bb - cc * cc) - (aa + bb) ** 2
        corners = r20 > 0
        return [(k, int(r20[k].size), int(corners[k].sum()),
                 int(r20[k][corners[k]].sum()) % mod)
                for k in range(len(px))]

    return shape_grouped(images, schema, kernel)


def header_audit(images: DataFrame) -> DataFrame:
    """Container-metadata integrity audit WITHOUT full decode: parse each
    format's header fields (png IHDR w/h at bytes 16..24; qb's ">II" w/h
    at 0..8; jpg's SOF0 frame header via a marker walk; raw is headerless
    — its length must equal w*h*3) and compare
    against the catalog's w/h columns.  The cheap-scan counterpart of
    distortion_checksums: catches catalog/bytes drift before any decode
    cost is paid.  Vectorized per fmt group: the first 24 header bytes of
    every blob stack into ONE (n, 24) byte slab (a per-row 24-byte slice,
    nothing parsed row-at-a-time), and the big-endian w/h fields come out
    as u4 column views — no iterrows (VERDICT r3 item 3)."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("hdr_ok", T.IntegerType()),
    ])
    _IHDR = np.frombuffer(b"IHDR", dtype=np.uint8)

    def work(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            blobs = pdf["bytes"]
            n = len(pdf)
            n_bytes = np.fromiter((len(b) for b in blobs),
                                  dtype=np.int64, count=n)
            w = pdf["w"].to_numpy().astype(np.int64)
            h = pdf["h"].to_numpy().astype(np.int64)
            ok = np.zeros(n, dtype=np.int64)
            for fmt, idx in pdf.groupby("fmt").indices.items():
                if fmt == "raw":          # headerless: exact length check
                    ok[idx] = n_bytes[idx] == w[idx] * h[idx] * 3
                    continue
                if fmt == "jpg":          # dims live in the SOF0 marker,
                    # not at a fixed offset — walk markers per blob (a
                    # few segments each; header-only, no entropy decode)
                    from .jpeg import jpeg_dims
                    for i in idx:
                        try:
                            jh, jw = jpeg_dims(bytes(blobs.iloc[int(i)]))
                        except Exception:
                            continue
                        ok[i] = int(jw == w[i] and jh == h[i])
                    continue
                if fmt not in ("png", "qb"):   # fail LOUDLY on unknown
                    raise ValueError(
                        f"header_audit: unknown image fmt {fmt!r}")
                slab = np.frombuffer(
                    b"".join(bytes(blobs.iloc[int(i)])[:24].ljust(24, b"\0")
                             for i in idx),
                    dtype=np.uint8).reshape(-1, 24)
                if fmt == "png":          # IHDR w/h at bytes 16..24
                    hw = slab[:, 16:20].copy().view(">u4")[:, 0]
                    hh = slab[:, 20:24].copy().view(">u4")[:, 0]
                    magic = (slab[:, 12:16] == _IHDR).all(axis=1)
                else:                     # qb: ">II" w/h at bytes 0..8
                    hw = slab[:, 0:4].copy().view(">u4")[:, 0]
                    hh = slab[:, 4:8].copy().view(">u4")[:, 0]
                    magic = np.ones(len(idx), dtype=bool)
                ok[idx] = (hw == w[idx]) & (hh == h[idx]) & magic
            yield pd.DataFrame(
                {"image_id": pdf["image_id"].to_numpy(),
                 "fmt": pdf["fmt"].to_numpy(), "n_bytes": n_bytes,
                 "hdr_ok": ok.astype(np.int32)},
                columns=[f.name for f in schema])

    return (images.select("image_id", "bytes", "w", "h", "fmt")
            .mapInPandas(work, schema))


def opponent_moment_checksums(images: DataFrame) -> DataFrame:
    """Opponent-color moments over real decoded bytes for the
    Hasler–Süsstrunk colorfulness metric: rg = R − G and yb2 = R + G − 2B
    (the 2× scaling keeps it integer), returned as exact int64 per-image
    sums and sums of squares — the composition into M = σ + 0.3·µ happens
    in shared SQL literals downstream."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("n_px", T.LongType()),
        T.StructField("s_rg", T.LongType()),
        T.StructField("s_rg2", T.LongType()),
        T.StructField("s_yb", T.LongType()),
        T.StructField("s_yb2", T.LongType()),
    ])

    def kernel(px, grp, w, h, fmt):
        px = px.astype(np.int64)
        rg = px[..., 0] - px[..., 1]
        yb = px[..., 0] + px[..., 1] - 2 * px[..., 2]
        return [(k, h * w,
                 int(rg[k].sum()), int((rg[k] ** 2).sum()),
                 int(yb[k].sum()), int((yb[k] ** 2).sum()))
                for k in range(len(px))]

    return shape_grouped(images, schema, kernel)


def fingerprint_checksums(images: DataFrame) -> DataFrame:
    """Exact content fingerprint over real decoded bytes: the position-
    weighted pixel sum Σ px·pos (pos = (y·w + x)·3 + c + 1) mod 2^61−1 —
    two images share it iff their decoded content matches (collision odds
    aside), so exact-duplicate dedup can key on it.  Unlike phash, the
    fingerprint is replayable from the pixel formula in SQL."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("fp", T.LongType()),
    ])
    mod = (1 << 61) - 1

    def kernel(px, grp, w, h, fmt):
        px = px.astype(np.int64)
        pos = np.arange(h * w * 3, dtype=np.int64) + 1
        flat = px.reshape(len(px), -1)
        return [(k, int((flat[k] * pos).sum()) % mod)
                for k in range(len(px))]

    return shape_grouped(images, schema, kernel)


def boxsum_checksums(images: DataFrame, r: int = 4,
                     stride: int = 8) -> DataFrame:
    """Summed-area-table box filtering over real decoded bytes (the
    integral-image primitive behind box blur, Haar features, and SSD
    patch search): per image, the exact (2r+1)x(2r+1) box sum at every
    interior anchor on an r-inset stride lattice, for all 3 channels.
    The engine builds ONE O(npx) integral image per decode stack and
    answers each anchor with a 4-tap lookup — the property that makes
    box statistics corpus-size-independent per pixel; the oracle proves
    the same numbers by brute-force (2r+1)^2-tap window sums, so two
    genuinely different algorithms must agree exactly."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("n_anchors", T.LongType()),
        T.StructField("mass", T.LongType()),
        T.StructField("checksum", T.LongType()),
    ])

    def kernel(px, grp, w, h, fmt):
        px = px.astype(np.int64)
        # zero-padded SAT: S[:, y+1, x+1] = sum px[:, :y+1, :x+1]
        sat = np.zeros((len(px), h + 1, w + 1, 3), dtype=np.int64)
        np.cumsum(np.cumsum(px, axis=1), axis=2, out=sat[:, 1:, 1:])
        ay = np.arange(r, h - r, stride)
        ax = np.arange(r, w - r, stride)
        yy, xx = np.meshgrid(ay, ax, indexing="ij")
        yi = (yy + r + 1).ravel()
        xi = (xx + r + 1).ravel()
        y0 = (yy - r).ravel()
        x0 = (xx - r).ravel()
        box = (sat[:, yi, xi] - sat[:, y0, xi]
               - sat[:, yi, x0] + sat[:, y0, x0])  # (n, A, 3)
        pos = ((yy.ravel() * w + xx.ravel()) * 3)[None, :, None] \
            + np.arange(3)[None, None, :] + 1
        n_anchors = len(ay) * len(ax) * 3
        mass = box.sum(axis=(1, 2))
        chk = (box * pos).sum(axis=(1, 2))
        return [(k, n_anchors, int(mass[k]), int(chk[k]))
                for k in range(len(px))]

    return shape_grouped(images, schema, kernel)


def median_checksums(images: DataFrame) -> DataFrame:
    """3x3 median filter over real decoded bytes (the denoise / salt-and-
    pepper QA pass): per image, over the GREEN channel interior, the
    exact count of changed pixels, total absolute change, and a
    position-weighted checksum of the filtered values.  The engine sorts
    the 9-neighbor stack with ONE whole-stack np.sort; the oracle
    recomputes each median as DuckDB QUANTILE_DISC(v, 0.5) over a
    9-row window unnest — the 5th smallest of 9, exactly the sorted
    middle element."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("n_interior", T.LongType()),
        T.StructField("n_changed", T.LongType()),
        T.StructField("sum_absdiff", T.LongType()),
        T.StructField("checksum", T.LongType()),
    ])

    def kernel(px, grp, w, h, fmt):
        g = px[:, :, :, 1].astype(np.int64)       # (n, h, w)
        nb = np.stack([g[:, 1 + dy:h - 1 + dy, 1 + dx:w - 1 + dx]
                       for dy in (-1, 0, 1) for dx in (-1, 0, 1)],
                      axis=-1)                    # (n,h-2,w-2,9)
        med = np.sort(nb, axis=-1)[..., 4]
        ctr = g[:, 1:h - 1, 1:w - 1]
        diff = np.abs(med - ctr)
        ypos, xpos = np.meshgrid(np.arange(1, h - 1),
                                 np.arange(1, w - 1), indexing="ij")
        pos = (ypos * w + xpos + 1)[None, :, :]
        n_int = (h - 2) * (w - 2)
        return [(k, n_int, int((diff[k] > 0).sum()), int(diff[k].sum()),
                 int((med[k] * pos[0]).sum()))
                for k in range(len(px))]

    return shape_grouped(images, schema, kernel)


def hash_family_checksums(images: DataFrame) -> DataFrame:
    """aHash / dHash perceptual-hash family over real decoded bytes (the
    cheap cousins of phash in an image-dedup cascade): downsample the
    GREEN channel to an 8x8 block-sum grid (every fixture size is a
    multiple of 8, so block sums are exact integers — no resampling
    float ever enters), then
      aHash bit(y,x) = S[y,x]*64 > total   (strict mean compare, cross-
                                            multiplied to stay integer)
      dHash bit(y,x) = S[y,x] > S[y,(x+1)%8]  (row-adjacent gradient,
                                               wraparound column)
    Returns per image the two popcounts, the a^d Hamming distance, and
    bit-position-weighted checksums (sum over set bits of k+1, k=y*8+x)
    that pin WHICH bits are set, not just how many."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("a_pop", T.LongType()),
        T.StructField("d_pop", T.LongType()),
        T.StructField("hamming", T.LongType()),
        T.StructField("a_chk", T.LongType()),
        T.StructField("d_chk", T.LongType()),
    ])

    def kernel(px, grp, w, h, fmt):
        bh, bw = h // 8, w // 8
        g = px[:, :, :, 1].astype(np.int64)
        s = g.reshape(len(px), 8, bh, 8, bw).sum(axis=(2, 4))
        tot = s.sum(axis=(1, 2), keepdims=True)   # (n,1,1)
        a = s * 64 > tot                          # (n,8,8)
        d = s > np.roll(s, -1, axis=2)
        kpos = (np.arange(8)[:, None] * 8
                + np.arange(8)[None, :] + 1)[None, :, :]
        return [(k, int(a[k].sum()), int(d[k].sum()),
                 int((a[k] != d[k]).sum()),
                 int((a[k] * kpos[0]).sum()),
                 int((d[k] * kpos[0]).sum())) for k in range(len(px))]

    return shape_grouped(images, schema, kernel)


SSIM_C1 = 6.5025     # (0.01 * 255)^2
SSIM_C2 = 58.5225    # (0.03 * 255)^2
SSIM_Q = 1_000_000.0


def ssim_requant_checksums(images: DataFrame) -> DataFrame:
    """Per-8x8-block SSIM between the decoded GREEN channel and its
    qb-requantization floor(v/4)*4+2 — the perceptual codec-QA metric
    (codec_distortion's PSNR sibling). Block moments (X, Y, Sxx, Syy,
    Sxy over n=64 pixels) are EXACT int64 sums; the SSIM value is one
    float64 expression evaluated in the identical temporaries/op order
    as the oracle's staged SQL (mux -> vx/cxy -> num/den -> ratio), then
    floor-quantized to 1e-6 BEFORE any cross-block aggregation. qb-format
    images are already quantized, so y == x and every block hits
    ssim_q == 1e6 exactly — a planted fixture invariant the oracle gate
    re-proves."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("n_blocks", T.LongType()),
        T.StructField("ssim_q_sum", T.LongType()),
        T.StructField("ssim_q_min", T.LongType()),
    ])

    def kernel(px, grp, w, h, fmt):
        x = px[:, :, :, 1].astype(np.int64)
        y = (x // 4) * 4 + 2

        def bsum(a):
            return (a.reshape(len(px), h // 8, 8, w // 8, 8)
                    .sum(axis=(2, 4)))
        bx, by = bsum(x), bsum(y)
        sxx, syy, sxy = bsum(x * x), bsum(y * y), bsum(x * y)
        mux = bx / 64.0
        muy = by / 64.0
        vx = sxx / 64.0 - mux * mux
        vy = syy / 64.0 - muy * muy
        cxy = sxy / 64.0 - mux * muy
        num = (2.0 * mux * muy + SSIM_C1) * (2.0 * cxy + SSIM_C2)
        den = (mux * mux + muy * muy + SSIM_C1) * (vx + vy + SSIM_C2)
        q = np.floor((num / den) * SSIM_Q).astype(np.int64)
        nb = (h // 8) * (w // 8)
        return [(k, nb, int(q[k].sum()), int(q[k].min()))
                for k in range(len(px))]

    return shape_grouped(images, schema, kernel)


HOUGH_THRESH = 208                       # edge mask: v >= THRESH
HOUGH_SCALE = 65536                      # cos/sin fixed-point scale
HOUGH_RHO_Q = 8 * HOUGH_SCALE            # 8-pixel rho buckets
HOUGH_OFF = 160 * HOUGH_SCALE            # keeps x*C + y*S positive
HOUGH_TOPK = 3

# 12 theta bins over [0, pi): fixed-point tables computed ONCE here and
# shared as integer literals by both the numpy kernel and the SQL oracle.
HOUGH_TAB = tuple(
    (t, int(round(_math.cos(_math.pi * t / 12.0) * HOUGH_SCALE)),
     int(round(_math.sin(_math.pi * t / 12.0) * HOUGH_SCALE)))
    for t in range(12))


def hough_votes(images: DataFrame, thresh: int = HOUGH_THRESH,
                topk: int = HOUGH_TOPK) -> DataFrame:
    """Quantized Hough line transform over real decoded bytes (the lens
    the scanned-document/table-detection QA pass uses): GREEN-channel
    pixels >= thresh vote into (theta, rho) accumulator cells with
    fixed-point integer cos/sin (rho re-quantized to 8-px buckets after a
    positivity offset, so floor division agrees across engines), and the
    top-k cells per image are reported under the total order
    (votes DESC, theta ASC, bucket ASC). Everything after decode is
    integer; the oracle replays the identical votes by brute-force
    edge x theta expansion."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("n_edges", T.LongType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField("theta_idx", T.IntegerType()),
        T.StructField("rho_bucket", T.LongType()),
        T.StructField("votes", T.LongType()),
    ])
    tab = np.array(HOUGH_TAB, dtype=np.int64)

    def kernel(px, grp, w, h, fmt):
        g = px[:, :, :, 1].astype(np.int64)
        rows = []
        for k in range(len(px)):
            yy, xx = np.nonzero(g[k] >= thresh)
            n_edges = len(xx)
            # (E, T) fixed-point rho, positive by construction
            rq = (xx[:, None] * tab[None, :, 1]
                  + yy[:, None] * tab[None, :, 2] + HOUGH_OFF)
            bucket = rq // HOUGH_RHO_Q
            key = tab[None, :, 0] * (1 << 20) + bucket
            uk, cnt = np.unique(key.ravel(), return_counts=True)
            order = np.lexsort((uk % (1 << 20), uk >> 20, -cnt))
            for r in range(min(topk, len(uk))):
                j = order[r]
                rows.append((k, n_edges, r + 1,
                             int(uk[j] >> 20),
                             int(uk[j] % (1 << 20)),
                             int(cnt[j])))
        return rows

    return shape_grouped(images, schema, kernel)


def bilinear_checksums(images: DataFrame) -> DataFrame:
    """2x bilinear upsample (top-left aligned, replicate-edge) reduced to
    exact int64 checksums: every output sample is a half-integer average,
    so working in x4-SCALED integers (4p / 2(p+q) / p+q+r+s by output
    parity) keeps the whole kernel exact — no float interpolation enters.
    Shape-grouped stacks, one vectorized gather + einsum per (w,h,fmt)
    group; the checksum weights live on OUTPUT coordinates so a swapped
    parity branch, missing edge clamp, or transposed axis all shift it."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("mass4", T.LongType()),
        T.StructField("cs_up", T.LongType()),
    ])

    def kernel(px, grp, w, h, fmt):
        px = px.astype(np.int64)
        oy = np.arange(2 * h)
        ox = np.arange(2 * w)
        i0 = oy // 2
        j0 = ox // 2
        i1 = np.minimum(i0 + 1, h - 1)
        j1 = np.minimum(j0 + 1, w - 1)
        di = (oy % 2)[:, None, None]      # (2h,1,1)
        dj = (ox % 2)[None, :, None]      # (1,2w,1)
        p00 = px[:, i0][:, :, j0]
        p01 = px[:, i0][:, :, j1]
        p10 = px[:, i1][:, :, j0]
        p11 = px[:, i1][:, :, j1]
        a = (2 - di) * (2 - dj)
        b = (2 - di) * dj
        c = di * (2 - dj)
        d = di * dj
        out4 = a * p00 + b * p01 + c * p10 + d * p11
        wts = _aug_weights(2 * h, 2 * w)
        cs = np.einsum("nhwc,hwc->n", out4, wts)
        mass = out4.sum(axis=(1, 2, 3))
        return [(k, int(mass[k]), int(cs[k])) for k in range(len(px))]

    return shape_grouped(images, schema, kernel)


def moment_stats(images: DataFrame) -> DataFrame:
    """Raw image moments m00/m10/m01/m20/m02/m11 of the green channel —
    the blob centroid/orientation primitive behind image registration.
    All exact int64 (x^2*v <= 80^2*255*npx); one einsum per moment per
    shape group."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("m00", T.LongType()),
        T.StructField("m10", T.LongType()),
        T.StructField("m01", T.LongType()),
        T.StructField("m20", T.LongType()),
        T.StructField("m02", T.LongType()),
        T.StructField("m11", T.LongType()),
    ])

    def kernel(px, grp, w, h, fmt):
        g = px.astype(np.int64)[:, :, :, 1]
        y = np.arange(h, dtype=np.int64)[:, None]
        x = np.arange(w, dtype=np.int64)[None, :]
        m00 = g.sum(axis=(1, 2))
        m10 = (g * x).sum(axis=(1, 2))
        m01 = (g * y).sum(axis=(1, 2))
        m20 = (g * x * x).sum(axis=(1, 2))
        m02 = (g * y * y).sum(axis=(1, 2))
        m11 = (g * x * y).sum(axis=(1, 2))
        return [(k, int(m00[k]), int(m10[k]), int(m01[k]),
                 int(m20[k]), int(m02[k]), int(m11[k]))
                for k in range(len(px))]

    return shape_grouped(images, schema, kernel)


def pyramid_checksums(images: DataFrame, levels: int = 3) -> DataFrame:
    """Mipmap pyramid over real decoded bytes (the multi-resolution
    pre-compute of a tile server / training-resolution ladder): per image
    and level L in 1..levels, the 2^L x 2^L block-SUM downsample, reduced
    to exact int64s (cell count, max cell mass, position-weighted
    checksum — sums, not means, so every statistic is integer at any
    aggregation order).  One reshape-sum per (shape, level) on the whole
    decode stack — zero per-pixel Python.  Fixture dims are multiples of
    16, so three halvings always divide evenly."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("level", T.IntegerType()),
        T.StructField("n_cells", T.LongType()),
        T.StructField("max_cell", T.LongType()),
        T.StructField("checksum", T.LongType()),
    ])

    def kernel(px, grp, w, h, fmt):
        px = px.astype(np.int64)
        rows = []
        for lv in range(1, levels + 1):
            f = 1 << lv
            hl, wl = h // f, w // f
            s = px.reshape(len(px), hl, f, wl, f, 3) \
                  .sum(axis=(2, 4))            # (n, hl, wl, 3)
            yy = np.arange(hl, dtype=np.int64)[:, None, None]
            xx = np.arange(wl, dtype=np.int64)[None, :, None]
            cc = np.arange(3, dtype=np.int64)[None, None, :]
            wgt = (yy * wl + xx) * 3 + cc + 1
            chk = (s * wgt).sum(axis=(1, 2, 3))
            mx = s.max(axis=(1, 2, 3))
            rows += [(k, lv, hl * wl * 3, int(mx[k]), int(chk[k]))
                     for k in range(len(px))]
        return rows

    return shape_grouped(images, schema, kernel)


def wht_checksums(images: DataFrame) -> DataFrame:
    """8x8 Walsh-Hadamard block transform on the green channel (the SATD
    core of every modern video encoder's mode decision — H.264/HEVC/AV1
    use exactly this +-1 butterfly as the cheap DCT stand-in): per image,
    the exact int64 DC sum, total |coefficient| mass (SATD), and a
    block+frequency-position-weighted |coef| checksum that catches a
    transposed butterfly, swapped block order, or natural/sequency mixup.
    Natural-order Hadamard: H[u,y] = (-1)^popcount(u AND y), so the
    oracle can replay the transform with bit_count() in pure SQL.  One
    einsum per decode stack — zero per-pixel Python."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("n_blocks", T.LongType()),
        T.StructField("dc_sum", T.LongType()),
        T.StructField("satd", T.LongType()),
        T.StructField("checksum", T.LongType()),
    ])
    u = np.arange(8, dtype=np.int64)
    pop = np.zeros((8, 8), dtype=np.int64)
    for a in range(8):
        for b in range(8):
            pop[a, b] = bin(a & b).count("1")
    S = 1 - 2 * (pop % 2)                                # (8, 8) +-1

    def kernel(px, grp, w, h, fmt):
        hb, wb = h // 8, w // 8
        g = px.astype(np.int64)[:, :, :, 1]      # (n, h, w)
        r = g.reshape(len(px), hb, 8, wb, 8)
        coef = np.einsum("uy,nbyax,vx->nbuav", S, r, S)
        a = np.abs(coef)                         # (n,hb,8,wb,8)
        dc = coef[:, :, 0, :, 0].sum(axis=(1, 2))
        satd = a.sum(axis=(1, 2, 3, 4))
        by = np.arange(hb, dtype=np.int64)
        bx = np.arange(wb, dtype=np.int64)
        wgt = ((by[:, None, None, None] * wb
                + bx[None, None, :, None]) * 64
               + u[None, :, None, None] * 8
               + u[None, None, None, :] + 1)     # (hb,8,wb,8)
        chk = (a * wgt[None]).sum(axis=(1, 2, 3, 4))
        return [(k, hb * wb, int(dc[k]), int(satd[k]), int(chk[k]))
                for k in range(len(px))]

    return shape_grouped(images, schema, kernel)


def whitebalance_checksums(images: DataFrame) -> DataFrame:
    """Gray-world white balance with integer gains (the ISP color-cast
    correction pass): per-channel gain = (total_mass * 1024) // (3 *
    channel_mass) applied as (v * gain) // 1024 with a 255 clamp — every
    step integer floor division, so the balanced raster is bit-exactly
    reproducible in SQL.  Per image: the three gains, the clamp count,
    and a position-weighted checksum of the balanced pixels.  Shape-
    grouped stacks, one vectorized pass."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("r_gain", T.LongType()),
        T.StructField("g_gain", T.LongType()),
        T.StructField("b_gain", T.LongType()),
        T.StructField("n_clipped", T.LongType()),
        T.StructField("checksum", T.LongType()),
    ])

    def kernel(px, grp, w, h, fmt):
        px = px.astype(np.int64)
        cs = np.maximum(px.sum(axis=(1, 2)), 1)  # (n, 3)
        tot = cs.sum(axis=1, keepdims=True)      # (n, 1)
        gain = (tot * 1024) // (3 * cs)          # (n, 3)
        scaled = (px * gain[:, None, None, :]) // 1024
        bal = np.minimum(scaled, 255)
        clip = (scaled > 255).sum(axis=(1, 2, 3))
        yy = np.arange(h, dtype=np.int64)[:, None, None]
        xx = np.arange(w, dtype=np.int64)[None, :, None]
        cc = np.arange(3, dtype=np.int64)[None, None, :]
        wgt = (yy * w + xx) * 3 + cc + 1
        chk = (bal * wgt).sum(axis=(1, 2, 3))
        return [(k, int(gain[k, 0]), int(gain[k, 1]), int(gain[k, 2]),
                 int(clip[k]), int(chk[k])) for k in range(len(px))]

    return shape_grouped(images, schema, kernel)


def demosaic_checksums(images: DataFrame) -> DataFrame:
    """Bayer RGGB mosaic + bilinear demosaic, all-integer (the ISP
    sensor-reconstruction pass): the decoded RGB raster is sampled onto
    an RGGB CFA (cfa(y,x) = R at even/even, B at odd/odd, G elsewhere),
    then each interior pixel reconstructs all three channels at 4x scale
    with the textbook bilinear kernel — rec4(c) = 4 * sum(mosaic over
    3x3 sites of color c) // count(sites of color c), where the count
    (1, 2 or 4) always divides the scaled sum, so reconstruction is
    exact int64.  Gated: the reconstruction checksum AND the total
    |rec4 - 4*truth| demosaic error vs the decoded ground truth.
    Vectorized: 9 shifted adds per channel over the whole decode stack."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("n_px", T.LongType()),
        T.StructField("sad", T.LongType()),
        T.StructField("checksum", T.LongType()),
    ])

    def kernel(px, grp, w, h, fmt):
        px = px.astype(np.int64)
        yy = np.arange(h, dtype=np.int64)[:, None]
        xx = np.arange(w, dtype=np.int64)[None, :]
        cfa = np.where((yy % 2 == 0) & (xx % 2 == 0), 0,
                       np.where((yy % 2 == 1) & (xx % 2 == 1),
                                2, 1))            # (h, w)
        mos = np.take_along_axis(
            px, cfa[None, :, :, None], axis=3)[..., 0]  # (n,h,w)
        n = len(px)
        hi, wi = h - 2, w - 2                      # interior dims
        rec = np.zeros((n, hi, wi, 3), dtype=np.int64)
        for c in range(3):
            ssum = np.zeros((n, hi, wi), dtype=np.int64)
            cnt = np.zeros((hi, wi), dtype=np.int64)
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    hit = (cfa[1 + dy:h - 1 + dy,
                               1 + dx:w - 1 + dx] == c)
                    ssum += np.where(
                        hit[None],
                        mos[:, 1 + dy:h - 1 + dy,
                            1 + dx:w - 1 + dx], 0)
                    cnt += hit
            rec[..., c] = (4 * ssum) // cnt
        truth = px[:, 1:h - 1, 1:w - 1, :]
        sad = np.abs(rec - 4 * truth).sum(axis=(1, 2, 3))
        iy = np.arange(1, h - 1, dtype=np.int64)[:, None, None]
        ix = np.arange(1, w - 1, dtype=np.int64)[None, :, None]
        cc = np.arange(3, dtype=np.int64)[None, None, :]
        wgt = (iy * w + ix) * 3 + cc + 1
        chk = (rec * wgt).sum(axis=(1, 2, 3))
        return [(k, hi * wi * 3, int(sad[k]), int(chk[k]))
                for k in range(n)]

    return shape_grouped(images, schema, kernel)


BRIEF_K = 24


def brief_checksums(images: DataFrame, k: int = BRIEF_K) -> DataFrame:
    """BRIEF-style binary descriptor over the real decode: k fixed
    intensity-comparison pairs (the sampling pattern is a deterministic
    function of the pair index and the image dims — the same pattern for
    every image of a shape, as BRIEF prescribes), luma = 2R + 5G + B
    (integer), bit j set iff luma(p1_j) > luma(p2_j).  Emits the packed
    descriptor and its popcount per image.  Vectorized: per (w,h,fmt)
    stack ONE fancy-index gather of shape (n, k) per endpoint."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("desc", T.LongType()),
        T.StructField("pop", T.LongType()),
    ])
    j = np.arange(k, dtype=np.int64)

    def kernel(px, grp, w, h, fmt):
        px = px.astype(np.int64)
        luma = 2 * px[..., 0] + 5 * px[..., 1] + px[..., 2]
        x1, y1 = (j * 7919) % w, (j * 104729) % h
        x2, y2 = (j * 1299709 + 17) % w, (j * 15485863 + 29) % h
        g1 = luma[:, y1, x1]                       # (n, k)
        g2 = luma[:, y2, x2]
        bits = (g1 > g2).astype(np.int64)
        desc = bits @ (np.int64(1) << j)
        pop = bits.sum(axis=1)
        return [(t, int(desc[t]), int(pop[t])) for t in range(len(px))]

    return shape_grouped(images, schema, kernel)


def shear_checksums(images: DataFrame, shift_div: int = 4) -> DataFrame:
    """Horizontal integer shear warp with nearest-neighbor sampling (the
    affine-transform member of the augmentation family beyond
    flip/rot90/crop/resize): out(y, x) = in(y, x - y//shift_div) where
    in-range, else 0 — exact integers end to end.  Emits mass + the
    position-weighted checksum of the WARPED raster (a wrong shear sign,
    transposed axes, or an unclamped border all shift it).  Vectorized:
    one np.take gather per decode stack with a bounds mask."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("n_px", T.LongType()),
        T.StructField("mass", T.LongType()),
        T.StructField("checksum", T.LongType()),
    ])

    def kernel(px, grp, w, h, fmt):
        px = px.astype(np.int64)
        yy = np.arange(h, dtype=np.int64)[:, None]
        xx = np.arange(w, dtype=np.int64)[None, :]
        sx = xx - yy // shift_div                  # (h, w)
        ok = (sx >= 0) & (sx < w)
        gx = np.clip(sx, 0, w - 1)
        warped = np.take_along_axis(
            px, np.broadcast_to(
                gx[None, :, :, None],
                (len(px), h, w, 3)).copy(), axis=2)
        warped *= ok[None, :, :, None]
        wgt = (((yy * w + xx) * 3)[:, :, None]
               + np.arange(3, dtype=np.int64)[None, None, :] + 1)
        mass = warped.sum(axis=(1, 2, 3))
        chk = (warped * wgt[None]).sum(axis=(1, 2, 3))
        return [(t, h * w * 3, int(mass[t]), int(chk[t]))
                for t in range(len(px))]

    return shape_grouped(images, schema, kernel)


def haar_band_energies(images: DataFrame) -> DataFrame:
    """One-level 2-D Haar DWT over the real decode (the wavelet member
    of the transform family next to the WHT/SATD and mipmap ops): per
    2x2 block, LL = a+b+c+d, LH = a-b+c-d, HL = a+b-c-d, HH = a-b-c+d
    (integer, x2 scale per axis) — per-band energies (sum of squared
    coefficients) and an LL position-weighted checksum, all exact
    int64.  Vectorized: four strided slices per decode stack."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("n_blocks", T.LongType()),
        T.StructField("e_ll", T.LongType()),
        T.StructField("e_lh", T.LongType()),
        T.StructField("e_hl", T.LongType()),
        T.StructField("e_hh", T.LongType()),
        T.StructField("ll_checksum", T.LongType()),
    ])

    def kernel(px, grp, w, h, fmt):
        px = px.astype(np.int64)
        a = px[:, 0::2, 0::2, :]
        b = px[:, 0::2, 1::2, :]
        c = px[:, 1::2, 0::2, :]
        d = px[:, 1::2, 1::2, :]
        ll = a + b + c + d
        lh = a - b + c - d
        hl = a + b - c - d
        hh = a - b - c + d
        hb, wb = h // 2, w // 2
        by = np.arange(hb, dtype=np.int64)[:, None, None]
        bx = np.arange(wb, dtype=np.int64)[None, :, None]
        cc = np.arange(3, dtype=np.int64)[None, None, :]
        wgt = (by * wb + bx) * 3 + cc + 1
        rows_idx = {
            "e_ll": (ll * ll), "e_lh": (lh * lh),
            "e_hl": (hl * hl), "e_hh": (hh * hh)}
        sums = {k: v.sum(axis=(1, 2, 3)) for k, v in
                rows_idx.items()}
        chk = (ll * wgt[None]).sum(axis=(1, 2, 3))
        return [(t, hb * wb * 3,
                 int(sums["e_ll"][t]), int(sums["e_lh"][t]),
                 int(sums["e_hl"][t]), int(sums["e_hh"][t]),
                 int(chk[t])) for t in range(len(px))]

    return shape_grouped(images, schema, kernel)


SEAM_ROWS = 12


def seam_carve_costs(images: DataFrame) -> DataFrame:
    """Vertical seam-carving DP (Avidan-Shamir content-aware resizing)
    over the REAL decode: on channel 0 of the top SEAM_ROWS rows, energy
    E[r,j] = |p[r, min(j+1,w-1)] - p[r, max(j-1,0)]| (clamped central
    x-gradient) and the carve table M[r,j] = E[r,j] + min(M[r-1,j-1],
    M[r-1,j], M[r-1,j+1]) with missing edge neighbors excluded via a
    big sentinel — exactly the op order the staged-CTE oracle replays.
    Gated per image: the min seam cost with its smallest end column
    (packed argmin, w < 256 so m*256+j is injective) and a
    position-weighted checksum of the final DP row, all exact int64.
    Vectorized: the DP runs across (images x columns) per decode stack,
    SEAM_ROWS passes."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("w2", T.LongType()),
        T.StructField("seam_cost", T.LongType()),
        T.StructField("end_col", T.LongType()),
        T.StructField("dp_checksum", T.LongType()),
    ])
    big = np.int64(1_000_000_000)

    def kernel(px, grp, w, h, fmt):
        px = px.astype(np.int64)[:, :SEAM_ROWS, :, 0]   # (n, R, w)
        n = px.shape[0]
        left = px[:, :, np.maximum(np.arange(w) - 1, 0)]
        right = px[:, :, np.minimum(np.arange(w) + 1, w - 1)]
        e = np.abs(right - left)
        m = e[:, 0, :].copy()
        pad = np.full((n, 1), big, dtype=np.int64)
        for r in range(1, SEAM_ROWS):
            upl = np.concatenate([pad, m[:, :-1]], axis=1)
            upr = np.concatenate([m[:, 1:], pad], axis=1)
            m = e[:, r, :] + np.minimum(np.minimum(upl, m), upr)
        j = np.arange(w, dtype=np.int64)
        packed = (m * 256 + j).min(axis=1)
        chk = (m * (j + 1)).sum(axis=1)
        return [(t, w, int(packed[t] // 256), int(packed[t] % 256),
                 int(chk[t])) for t in range(n)]

    return shape_grouped(images, schema, kernel)


def dhash_codes(images: DataFrame) -> DataFrame:
    """63-bit dHash retrieval code per image over the REAL decode: the
    row-adjacent gradient bits of the 8x8 green block-sum grid
    (hash_family_checksums' dHash), packed bit k = y*8+x for k < 63 —
    bit 63 is dropped so the packed code stays int64-arithmetic-safe
    (1<<63 would overflow the BIGINT sum in both engines)."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("code", T.LongType()),
    ])
    wts = (np.int64(1) << np.arange(63, dtype=np.int64))

    def kernel(px, grp, w, h, fmt):
        bh, bw = h // 8, w // 8
        g = px[:, :, :, 1].astype(np.int64)
        s = g.reshape(len(px), 8, bh, 8, bw).sum(axis=(2, 4))
        d = (s > np.roll(s, -1, axis=2)).reshape(len(px), 64)
        codes = (d[:, :63] * wts).sum(axis=1)
        return [(k, int(codes[k])) for k in range(len(px))]

    return shape_grouped(images, schema, kernel)


MEDCUT_ROUNDS = 3


def median_cut_boxes(images: DataFrame) -> DataFrame:
    """Median-cut palette quantization (Heckbert) over the REAL decode:
    3 split rounds — each round every box splits on its WIDEST channel
    (max range, lowest-channel tiebreak via packed argmax) at the exact
    integer median (the ((n+1)//2)-th smallest VALUE), pixels with
    v < median go to child 2*box, the rest to 2*box+1.  Emits one row
    per (image, final box): pixel count + exact per-channel sums — the
    palette entry is sum DIV n, but gating the raw sums pins more.
    Box ids are sparse when a split lands on the minimum (empty left
    child) — the oracle reproduces exactly that sparsity."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("box", T.LongType()),
        T.StructField("n_px", T.LongType()),
        T.StructField("s0", T.LongType()),
        T.StructField("s1", T.LongType()),
        T.StructField("s2", T.LongType()),
    ])

    def kernel(px, grp, w, h, fmt):
        px = px.astype(np.int64).reshape(len(px), -1, 3)
        rows = []
        for t in range(len(px)):
            v = px[t]                       # (npx, 3)
            box = np.zeros(len(v), dtype=np.int64)
            for _ in range(MEDCUT_ROUNDS):
                nxt = box * 2
                for b in np.unique(box):
                    m = box == b
                    sub = v[m]
                    rng = sub.max(axis=0) - sub.min(axis=0)
                    wc = int((rng * 4 + (3 - np.arange(3)))
                             .argmax())
                    vals = np.sort(sub[:, wc])
                    med = int(vals[(len(vals) + 1) // 2 - 1])
                    nxt[m] += (sub[:, wc] >= med).astype(np.int64)
                box = nxt
            for b in np.unique(box):
                m = box == b
                s = v[m].sum(axis=0)
                rows.append((t, int(b), int(m.sum()),
                             int(s[0]), int(s[1]), int(s[2])))
        return rows

    return shape_grouped(images, schema, kernel)


def channel_moments(images: DataFrame) -> DataFrame:
    """Exact integer channel moments per image over the REAL decode —
    the inputs to color-PCA: pixel count, per-channel sums, and the six
    upper-triangle cross-product sums (all int64: v*v' <= 65025 per
    pixel, x6400 px)."""
    schema = T.StructType(
        [T.StructField("image_id", T.StringType()),
         T.StructField("n", T.LongType())]
        + [T.StructField(f"s{c}", T.LongType()) for c in range(3)]
        + [T.StructField(f"s{a}{b}", T.LongType())
           for a in range(3) for b in range(a, 3)])

    def kernel(px, grp, w, h, fmt):
        v = px.astype(np.int64).reshape(len(px), -1, 3)
        s = v.sum(axis=1)
        cross = np.einsum("npa,npb->nab", v, v)
        return [((t, w * h)
                 + tuple(int(x) for x in s[t])
                 + tuple(int(cross[t, a, b])
                         for a in range(3)
                         for b in range(a, 3))) for t in range(len(px))]

    return shape_grouped(images, schema, kernel)


def channel0_hist(images: DataFrame) -> DataFrame:
    """Exact 256-bin value histogram of channel 0 per image over the
    REAL decode (one bincount per decode stack); emits only non-empty
    bins — the input side of CDF-based histogram matching."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("v", T.LongType()),
        T.StructField("cnt", T.LongType()),
    ])

    def kernel(px, grp, w, h, fmt):
        px = px[:, :, :, 0].astype(np.int64)
        rows = []
        for t in range(len(px)):
            cnt = np.bincount(px[t].ravel(), minlength=256)
            rows += [(t, int(v), int(cnt[v])) for v in np.flatnonzero(cnt)]
        return rows

    return shape_grouped(images, schema, kernel)

"""Registry rows whose Spark side and DuckDB oracle read no sf tables —
every reprojection row (one per spec-table row, plus the combined families
row) and every image-kernel row — equal their DuckDB oracle: same columns,
same row count, same value multiset under the oracle differential's
canonical form."""

import duckdb
import pytest

from spark_shp import queries_shp
from spark_shp.registry import ALL_QUERIES
from tools.diffcheck import canon

NAMES = [s.name for s in queries_shp._REPROJECT_ROWS] + [
    "shp_reproject_families"]

# every row over the clip.shape_grouped image kernels, in registry
# order, plus the header-only image_metadata_audit row
IMAGE_ROWS = [
    "images_phash_verify", "clip_coverage_stats", "image_augment_checksums",
    "image_mosaic_tiles", "image_histogram_stats", "sobel_edge_stats",
    "canny_edge_stats", "image_blob_count", "template_match_peaks",
    "grad_orientation_hist", "codec_distortion", "glcm_texture",
    "hist_equalize", "image_quadtree", "image_dither", "harris_corners",
    "image_metadata_audit", "image_colorfulness", "image_curation_pipeline",
    "image_otsu_threshold", "image_rle_runs", "image_entropy",
    "image_boxfilter", "image_median_denoise", "image_hash_family",
    "image_ssim", "image_hough_lines", "image_bilinear_upsample",
    "image_moments", "image_pyramid_stats", "image_wht_satd",
    "image_white_balance", "image_bayer_demosaic", "image_brief_descriptor",
    "image_shear_warp", "image_haar_dwt", "image_seam_carve",
    "crossmodal_recall", "image_median_cut", "image_color_pca",
    "image_histogram_match"]


@pytest.mark.parametrize("name", NAMES + IMAGE_ROWS)
def test_reproject_row_matches_oracle(spark, name):
    fn, sql = ALL_QUERIES[name]
    sdf = fn(spark, "")
    cols = [c.lower() for c in sdf.columns]
    rows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    rel = con.sql(sql)
    ocols = [c.lower() for c in rel.columns]
    orows = rel.fetchall()
    assert sorted(cols) == sorted(ocols)
    assert len(rows) == len(orows) > 0
    assert canon(rows, cols) == canon(orows, ocols)

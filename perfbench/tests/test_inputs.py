"""Generators and result checks of the benchmark, without Spark."""

import numpy as np

from perfbench import inputs, run, spans, workloads
from spark_shp.shp import writer


def test_point_shp_matches_reference_writer():
    mm = inputs.fixtures.images_meta(np.arange(5000, 6000, dtype=np.int64))
    shp, shx = inputs.point_shp(mm["lon"], mm["lat"])
    recs = [(writer.POINT, (float(x), float(y)))
            for x, y in zip(mm["lon"], mm["lat"])]
    assert shp == writer.write_shp(recs)
    assert shx == writer.write_shx(recs)


def test_seed_keeps_hot_share_exact():
    n = 1000
    for seed in (0, 1, 4092, 4093, 123456):
        ids = np.arange(inputs.id_offset(seed, n),
                        inputs.id_offset(seed, n) + n)
        assert (ids % 10 < 3).sum() == 300
        assert ids[-1] < 10 ** 12


def test_blob_layer_shape():
    layer = inputs.blob_layer()
    edges = inputs.layer_edges(layer)
    assert all(len(e) > 64 for e in edges.values())
    assert len(layer[1]) == 2                      # polygon 1 has a hole
    hot = inputs.geom.points_in_polygon(
        np.array([inputs.fixtures.HOT_LON + 0.005]),
        np.array([inputs.fixtures.HOT_LAT + 0.005]), layer[0])
    assert hot.all()


class _Replay:
    """A workload whose trials return prepared results, checked by a real
    workload's check."""

    name = "replay"

    def __init__(self, check, results):
        self.check, self.results = check, list(results)

    def trial(self, spark, inp, tr):
        return None, self.results.pop(0)


def test_one_corrupted_result_counts_as_failed():
    ref = {"0": 10, "63": 7}
    good = [{"poly_id": 0, "n": 10}, {"poly_id": 63, "n": 7}]
    bad = [{"poly_id": 0, "n": 10}, {"poly_id": 63, "n": 6}]
    check = workloads.Flagship(1).check
    w = _Replay(check, [good, bad, good])
    trials = [run._trial(w, None, {"ref_fences": ref},
                         spans.Tracer(False), f"t{k}") for k in range(3)]
    s = run.summary(trials)
    assert (s["attempted"], s["failed"]) == (3, 1)
    assert s["failed_frac"] > 0


def test_query_s_leaves_out_trials_slowed_by_steal():
    def trials(*pairs):
        return [{"s": s, "steal": st, "ok": True} for s, st in pairs]

    s = run.summary(trials((1.0, 0.0), (5.0, 0.1), (1.2, 0.01)))
    assert (s["query_s"], s["quiet_trials"], s["query_s_all"]) == (1.1, 2, 1.2)
    s = run.summary(trials((2.0, 0.1), (3.0, 0.2)))
    assert (s["query_s"], s["quiet_trials"]) == (2.5, 2)


def test_shp_checkpoint_check_rejects_lost_or_changed_rows():
    w = workloads.ShpCheckpoint(4, "unused")
    ref = {"7": [4, 10]}
    res = {"before": ref, "after": ref, "manifest_rows": 4, "dropped": 1,
           "first": {"done": 0, "new": 1}, "resumed": {"done": 0, "new": 1}}
    inp = {"ref_buckets": ref}
    assert w.check(res, inp)
    assert not w.check({**res, "after": {"7": [4, 9]}}, inp)
    assert not w.check({**res, "manifest_rows": 3}, inp)
    assert not w.check({**res, "resumed": {"done": 1, "new": 0}}, inp)


def test_skew_clip_check_rejects_wrong_pixel_count():
    w = workloads.SkewClip(1)
    inp = {"ref_clip": {"img000000000001:3": 12}}
    assert w.check({"img000000000001:3": 12}, inp)
    assert not w.check({"img000000000001:3": 11}, inp)
    assert not w.check({}, inp)

"""Point-operator joins vs numpy brute force — same oracle style as the
reference suite (/root/reference/tests/kd_tests/*: soundness + completeness
for range search, distance equality for nearest, top-k set for n-nearest)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from knn_evaluators import EVALUATORS, knn_evaluator

from locus_spark.cells import GridSpec
from locus_spark.operators.points import (
    find_ball_join,
    find_box_join,
    knn_join,
    nearest_join,
)

coord = st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False)


def _points_df(spark, pts):
    return spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "id long, x double, y double",
    )


def _probes_df(spark, probes):
    return spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(probes)],
        "qid long, x double, y double",
    )


def _brute_knn(pts, probes, k):
    """{qid: [(dist2, id), ...] top-k with (dist2, id) ascending}"""
    out = {}
    arr = np.array(pts, dtype=np.float64)
    for qid, (qx, qy) in enumerate(probes):
        d2 = (arr[:, 0] - qx) ** 2 + (arr[:, 1] - qy) ** 2
        order = sorted(range(len(pts)), key=lambda i: (d2[i], i))[:k]
        out[qid] = [(d2[i], i) for i in order]
    return out


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.tuples(coord, coord), min_size=1, max_size=60),
    st.lists(st.tuples(coord, coord), min_size=1, max_size=8),
    st.integers(min_value=1, max_value=5),
    st.integers(min_value=2, max_value=5),
)
def test_knn_join_matches_brute(spark, pts, probes, k, res):
    want = _brute_knn(pts, probes, k)
    for evaluator in EVALUATORS:
        with knn_evaluator(evaluator, len(pts), k):
            got = knn_join(
                _points_df(spark, pts), _probes_df(spark, probes), k,
                grid=None if res % 2 else GridSpec(
                    min(p[0] for p in pts), min(p[1] for p in pts),
                    max(p[0] for p in pts), max(p[1] for p in pts), res),
            ).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r.qid, []).append((r.rn, r.dist2, r.id))
        assert set(by_q) == set(want)
        for qid, rows in by_q.items():
            rows.sort()
            assert [(d, i) for _, d, i in rows] == want[qid]


def test_knn_short_circuit_k_ge_size(spark):
    pts = [(0.0, 0.0), (1.0, 1.0), (2.0, 2.0)]
    probes = [(0.5, 0.5)]
    got = knn_join(_points_df(spark, pts), _probes_df(spark, probes), 10).collect()
    assert sorted(r.id for r in got) == [0, 1, 2]
    assert sorted(r.rn for r in got) == [1, 2, 3]


def test_knn_empty_points_raises(spark):
    empty = spark.createDataFrame([], "id long, x double, y double")
    with pytest.raises(ValueError):
        knn_join(empty, _probes_df(spark, [(0.0, 0.0)]), 1)


def test_knn_overflow_dist2_not_displaced_by_sentinel(spark):
    """A real candidate whose dist² overflows float64 to +inf must still be
    returned: the ring loop's per-probe sentinel rows (dist2 = +inf, null id)
    sort strictly AFTER real rows via an explicit null-id flag in the top-k
    sort key, not by distance alone."""
    # max float64 ~1.8e308; a (4e154)² term overflows to inf
    pts = [(-2e154, -2e154), (2e154, 2e154)]
    probes = [(-2e154, -2e154)]
    grid = GridSpec(-3e154, -3e154, 3e154, 3e154, 4)
    got = knn_join(
        _points_df(spark, pts), _probes_df(spark, probes), 2, grid=grid
    ).collect()
    by_rn = {r.rn: r for r in got}
    assert len(got) == 2
    assert by_rn[1].id == 0 and by_rn[1].dist2 == 0.0
    # the far point's dist² overflowed, and it is still ranked (not dropped
    # in favor of the sentinel)
    assert by_rn[2].id == 1 and by_rn[2].dist2 == float("inf")


def test_nearest_duplicate_points_tie_by_id(spark):
    pts = [(1.0, 1.0), (1.0, 1.0), (5.0, 5.0)]
    got = nearest_join(_points_df(spark, pts), _probes_df(spark, [(1.0, 1.0)])).collect()
    assert len(got) == 1 and got[0].id == 0 and got[0].dist2 == 0.0


def test_knn_hot_cluster_skew(spark, monkeypatch):
    """Regression for the hot-cell candidate explosion: half the points in one
    dense cluster, probes both inside and on the fringe — exercises the _cap
    branch-and-bound pruning in the broadcast round evaluator (the cogroup
    kernel itself is covered by test_cogroup_local_topk_path_matches_broadcast,
    which forces it via LOCAL_TOPK_MIN_TARGETS).  BRUTE_MAX_PAIRS = 0 keeps
    this toy-sized join on the ring loop."""
    import locus_spark.plans.knn as knnplan

    monkeypatch.setattr(knnplan, "BRUTE_MAX_PAIRS", 0)
    rng = np.random.RandomState(7)
    hot = rng.uniform(-1.0, 1.0, size=(400, 2))
    cold = rng.uniform(-100.0, 100.0, size=(400, 2))
    pts = [tuple(map(float, p)) for p in np.vstack([hot, cold])]
    probes = [tuple(map(float, p)) for p in np.vstack([
        rng.uniform(-1.0, 1.0, size=(5, 2)),       # inside the hot cluster
        rng.uniform(1.5, 3.0, size=(5, 2)),        # fringe next to it
        rng.uniform(-100.0, 100.0, size=(5, 2)),   # sparse region
    ])]
    grid = GridSpec(-100.0, -100.0, 100.0, 100.0, 6)
    got = knn_join(_points_df(spark, pts), _probes_df(spark, probes), 3, grid=grid).collect()
    want = _brute_knn(pts, probes, 3)
    by_q = {}
    for r in got:
        by_q.setdefault(r.qid, []).append((r.rn, r.dist2, r.id))
    assert set(by_q) == set(want)
    for qid, rows in by_q.items():
        rows.sort()
        assert [(d, i) for _, d, i in rows] == want[qid]


def test_cogroup_local_topk_path_matches_broadcast(spark, monkeypatch):
    """Force the cogrouped numpy local-top-k kernel (normally gated behind
    LOCAL_TOPK_MIN_TARGETS = 2M targets, unreachable by test-sized inputs)
    and assert it matches the broadcast round evaluator for all three kNN
    families — points, boxes, segments — including duplicate-geometry ties."""
    import locus_spark.plans.knn as knnplan
    from locus_spark.operators.boxes import box_knn_join
    from locus_spark.operators.segments import segment_knn_to_point_join

    rng = np.random.RandomState(11)
    pts = [tuple(map(float, p)) for p in rng.uniform(-50, 50, size=(200, 2))]
    pts += [pts[0], pts[1]]  # duplicates → tie-by-id coverage
    probes = [tuple(map(float, p)) for p in rng.uniform(-60, 60, size=(10, 2))]
    grid = GridSpec(-60.0, -60.0, 60.0, 60.0, 4)
    pdf, qdf = _points_df(spark, pts), _probes_df(spark, probes)
    raw_b = rng.uniform(-50, 50, size=(150, 4))
    boxes = [
        (i, float(min(a, b)), float(max(a, b)) + 0.5,
         float(min(c, d)), float(max(c, d)) + 0.5)
        for i, (a, b, c, d) in enumerate(raw_b)
    ]
    boxes += [(150, *boxes[0][1:]), (151, *boxes[1][1:])]  # duplicate boxes
    bdf = spark.createDataFrame(
        boxes, "id long, min_x double, max_x double, min_y double, max_y double"
    )
    raw_s = rng.uniform(-50, 50, size=(150, 4))
    segs = [
        (i, float(a), float(c), float(a + abs(b) * 0.1 + 0.01),
         float(c + abs(d) * 0.1 + 0.01))
        for i, (a, b, c, d) in enumerate(raw_s)
    ]
    sdf = spark.createDataFrame(
        segs, "id long, x1 double, y1 double, x2 double, y2 double"
    )

    def run_all():
        out = {}
        out["pts"] = sorted(
            (r.qid, r.rn, r.id, r.dist2)
            for r in knn_join(pdf, qdf, 3, grid=grid).collect()
        )
        out["boxes"] = sorted(
            (r.qid, r.rn, r.id, r.dist2)
            for r in box_knn_join(bdf, qdf, 3, grid=grid).collect()
        )
        out["segs"] = sorted(
            (r.qid, r.rn, r.id, r.dist2)
            for r in segment_knn_to_point_join(sdf, qdf, 3, grid=grid).collect()
        )
        return out

    # BRUTE_MAX_PAIRS = 0 keeps every join on the ring loop.  Arming
    # use_cogroup alone doesn't force the kernel (only annulus frames
    # too wide to broadcast route there) — drop the width guard to -1 so
    # every round takes the cogrouped kernel, and assert it actually did
    monkeypatch.setattr(knnplan, "BRUTE_MAX_PAIRS", 0)
    monkeypatch.setattr(knnplan, "LOCAL_TOPK_MIN_TARGETS", 1)
    monkeypatch.setattr(knnplan, "ANN_BROADCAST_MAX_ROWS", -1)
    got_cogroup = run_all()
    assert set(knnplan.LAST_ROUND_EVALUATORS) == {"cogroup"}
    monkeypatch.setattr(knnplan, "LOCAL_TOPK_MIN_TARGETS", 10**12)
    monkeypatch.setattr(knnplan, "ANN_BROADCAST_MAX_ROWS", 4_000_000)
    got_broadcast = run_all()
    assert set(knnplan.LAST_ROUND_EVALUATORS) == {"broadcast"}
    assert got_cogroup == got_broadcast
    # third path: broadcast evaluator with the sampled-cap prefilter (armed
    # for every capless probe whenever the large-scale machinery is — rate
    # 2 so the test-sized sample is non-degenerate) — must stay exact,
    # including probes whose sampled candidate set is smaller than k.
    # EVERY round with a capless probe runs the prefilter (tail rounds
    # included), covering the carried-cap/null-cap merge too.
    monkeypatch.setattr(knnplan, "LOCAL_TOPK_MIN_TARGETS", 1)
    monkeypatch.setattr(knnplan, "CAP_SAMPLE_RATE", 2)
    got_capped = run_all()
    assert "broadcast+scap" in set(knnplan.LAST_ROUND_EVALUATORS)
    assert got_capped == got_broadcast
    # fourth path: the ROUND-5 mid-scale gate — sampled-cap prefilter armed
    # via SCAP_MIN_TARGETS alone, with the cogroup machinery fully OFF
    # (LOCAL_TOPK_MIN_TARGETS huge): the configuration every >=100k-target
    # family runs below the 2M full-machinery threshold (the seg_knn fix).
    monkeypatch.setattr(knnplan, "LOCAL_TOPK_MIN_TARGETS", 10**12)
    monkeypatch.setattr(knnplan, "SCAP_MIN_TARGETS", 1)
    got_midscale = run_all()
    assert "broadcast+scap" in set(knnplan.LAST_ROUND_EVALUATORS)
    assert "cogroup" not in set(knnplan.LAST_ROUND_EVALUATORS)
    assert got_midscale == got_broadcast
    # and both match brute force for the points family
    want = _brute_knn(pts, probes, 3)
    by_q = {}
    for qid, rn, i, d in got_cogroup["pts"]:
        by_q.setdefault(qid, []).append((rn, d, i))
    for qid, rows in by_q.items():
        rows.sort()
        assert [(d, i) for _, d, i in rows] == want[qid]


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.tuples(coord, coord), min_size=1, max_size=80),
    st.lists(st.tuples(coord, coord, coord, coord), min_size=1, max_size=6),
)
def test_find_box_sound_and_complete(spark, pts, raw_boxes):
    boxes = [
        (qid, min(a, b), max(a, b) + 0.5, min(c, d), max(c, d) + 0.5)
        for qid, (a, b, c, d) in enumerate(raw_boxes)
    ]
    bdf = spark.createDataFrame(
        boxes, "qid long, min_x double, max_x double, min_y double, max_y double"
    )
    got = {(r.qid, r.id) for r in find_box_join(_points_df(spark, pts), bdf).collect()}
    want = {
        (qid, i)
        for qid, mnx, mxx, mny, mxy in boxes
        for i, (x, y) in enumerate(pts)
        if mnx <= x <= mxx and mny <= y <= mxy
    }
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.tuples(coord, coord), min_size=1, max_size=80),
    st.lists(
        st.tuples(coord, coord, st.floats(min_value=0.0, max_value=1e6)),
        min_size=1,
        max_size=6,
    ),
)
def test_find_ball_sound_and_complete(spark, pts, circles):
    cdf = spark.createDataFrame(
        [(q, x, y, r) for q, (x, y, r) in enumerate(circles)],
        "qid long, x double, y double, r double",
    )
    got = {(r.qid, r.id) for r in find_ball_join(_points_df(spark, pts), cdf).collect()}
    want = {
        (qid, i)
        for qid, (cx, cy, r) in enumerate(circles)
        for i, (x, y) in enumerate(pts)
        if (x - cx) ** 2 + (y - cy) ** 2 <= r * r
    }
    assert got == want

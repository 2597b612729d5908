"""Segment-operator joins vs brute force (oracle style of
/root/reference/tests/segmental_tests/*; ties prefer the SMALLEST id)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from knn_evaluators import EVALUATORS, knn_evaluator

from locus_spark.operators.segments import (
    segment_knn_join,
    segment_knn_to_point_join,
)

coord = st.floats(min_value=-1e5, max_value=1e5, allow_nan=False, allow_infinity=False)
seg_strategy = st.tuples(coord, coord, coord, coord).filter(
    lambda s: (s[0], s[1]) != (s[2], s[3])
)


def _segs_df(spark, segs, qid=False):
    key = "qid" if qid else "id"
    return spark.createDataFrame(
        [(i, *s) for i, s in enumerate(segs)],
        f"{key} long, x1 double, y1 double, x2 double, y2 double",
    )


def _d2_point_seg(px, py, x1, y1, x2, y2):
    len2 = (x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)
    dot = (px - x1) * (x2 - x1) + (py - y1) * (y2 - y1)
    t = 0.0 if len2 <= 0.0 else min(1.0, max(0.0, dot / len2))
    cx, cy = x1 + t * (x2 - x1), y1 + t * (y2 - y1)
    return (px - cx) * (px - cx) + (py - cy) * (py - cy)


def _cross(ox, oy, ax, ay, bx, by):
    return (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)


def _d2_seg_seg(a, b):
    ax1, ay1, ax2, ay2 = a
    bx1, by1, bx2, by2 = b
    o1 = _cross(ax1, ay1, ax2, ay2, bx1, by1)
    o2 = _cross(ax1, ay1, ax2, ay2, bx2, by2)
    o3 = _cross(bx1, by1, bx2, by2, ax1, ay1)
    o4 = _cross(bx1, by1, bx2, by2, ax2, ay2)
    if ((o1 > 0 and o2 < 0) or (o1 < 0 and o2 > 0)) and (
        (o3 > 0 and o4 < 0) or (o3 < 0 and o4 > 0)
    ):
        return 0.0
    return min(
        _d2_point_seg(ax1, ay1, *b),
        _d2_point_seg(ax2, ay2, *b),
        _d2_point_seg(bx1, by1, *a),
        _d2_point_seg(bx2, by2, *a),
    )


@settings(max_examples=6, deadline=None)
@given(
    st.lists(seg_strategy, min_size=2, max_size=40),
    st.lists(st.tuples(coord, coord), min_size=1, max_size=5),
    st.integers(min_value=1, max_value=4),
)
def test_segment_knn_to_point_matches_brute(spark, segs, probes, k):
    pdf = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(probes)], "qid long, x double, y double"
    )
    for evaluator in EVALUATORS:
        with knn_evaluator(evaluator, len(segs), k):
            got = segment_knn_to_point_join(_segs_df(spark, segs), pdf, k).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r.qid, []).append((r.rn, r.dist2, r.id))
        for qid, (px, py) in enumerate(probes):
            scored = sorted(
                (( _d2_point_seg(px, py, *s), i) for i, s in enumerate(segs)),
            )[:k]
            rows = sorted(by_q[qid])
            assert [(d, i) for _, d, i in rows] == scored


@settings(max_examples=6, deadline=None)
@given(
    st.lists(seg_strategy, min_size=2, max_size=30),
    st.lists(seg_strategy, min_size=1, max_size=4),
    st.integers(min_value=1, max_value=3),
)
def test_segment_knn_to_segment_matches_brute(spark, segs, probes, k):
    pdf = _segs_df(spark, probes, qid=True)
    for evaluator in EVALUATORS:
        with knn_evaluator(evaluator, len(segs), k):
            got = segment_knn_join(_segs_df(spark, segs), pdf, k).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r.qid, []).append((r.rn, r.dist2, r.id))
        for qid, q in enumerate(probes):
            scored = sorted(((_d2_seg_seg(q, s), i) for i, s in enumerate(segs)))[:k]
            rows = sorted(by_q[qid])
            assert [(d, i) for _, d, i in rows] == scored


def test_crossing_segments_distance_zero(spark):
    segs = [(-1.0, -1.0, 1.0, 1.0), (50.0, 50.0, 60.0, 60.0)]
    probes = [(-1.0, 1.0, 1.0, -1.0)]  # crosses segs[0] at origin
    got = segment_knn_join(_segs_df(spark, segs), _segs_df(spark, probes, qid=True), 1).collect()
    assert len(got) == 1 and got[0].id == 0 and got[0].dist2 == 0.0


def test_touching_endpoint_distance_zero(spark):
    segs = [(0.0, 0.0, 1.0, 0.0), (5.0, 5.0, 6.0, 5.0)]
    probes = [(1.0, 0.0, 2.0, 1.0)]  # touches segs[0] endpoint
    got = segment_knn_join(_segs_df(spark, segs), _segs_df(spark, probes, qid=True), 1).collect()
    assert len(got) == 1 and got[0].id == 0 and got[0].dist2 == 0.0

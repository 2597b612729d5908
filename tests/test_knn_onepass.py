"""The one-pass kNN evaluator (all pairs, per-partition numpy top-k, one
window merge) against the ring loop, forced with ``BRUTE_MAX_PAIRS = 0``.

Every family runs over targets laid out one partition per chunk, so the
per-partition kernel sees duplicate geometry split across partitions, a
partition holding fewer than k targets and an empty partition.  The parity
tests use finite coordinates only: the ring loop's order for null/NaN
geometry is not pinned; the one-pass order is, by its own test."""

from __future__ import annotations

import functools

import numpy as np
import pytest
from pyspark.sql import DataFrame

from locus_spark.cells import GridSpec
from locus_spark.operators.boxes import box_knn_join
from locus_spark.operators.points import knn_join
from locus_spark.operators.segments import segment_knn_join, segment_knn_to_point_join
from locus_spark.plans import knn as knn_plan

GRID = GridSpec(-60.0, -60.0, 60.0, 60.0, 4)
LMIN = -(2**63)
K = 3


def _partitioned(spark, chunks, schema):
    """One partition per chunk, in order; an empty chunk is an empty partition."""
    sc = spark.sparkContext
    df = functools.reduce(
        DataFrame.union,
        [spark.createDataFrame(sc.parallelize(c, 1), schema) for c in chunks],
    )
    assert [len(p) for p in df.rdd.glom().collect()] == [len(c) for c in chunks]
    return df


def _layout(rows):
    """[big, 2 rows (< K), empty, rest]: the partition shapes the per-partition
    kernel must handle."""
    return [rows[:60], rows[60:62], [], rows[62:]]


def _rng_rows(seed, n, width):
    return np.random.RandomState(seed).uniform(-50, 50, size=(n, width)).tolist()


def _points(spark):
    pts = [(i, x, y) for i, (x, y) in enumerate(_rng_rows(1, 120, 2))]
    # duplicate geometry in another partition: ties broken by ascending id
    pts += [(200, *pts[0][1:]), (201, *pts[61][1:])]
    return _partitioned(spark, _layout(pts), "id long, x double, y double")


def _boxes(spark):
    boxes = [
        (i, min(a, b), max(a, b) + 0.5, min(c, d), max(c, d) + 0.5)
        for i, (a, b, c, d) in enumerate(_rng_rows(2, 120, 4))
    ]
    # duplicate boxes in other partitions: ties broken by DESCENDING id
    boxes += [(200, *boxes[0][1:]), (-7, *boxes[0][1:]), (201, *boxes[61][1:])]
    return _partitioned(
        spark, _layout(boxes),
        "id long, min_x double, max_x double, min_y double, max_y double",
    )


def _segments(spark):
    segs = [
        (i, a, c, a + abs(b) * 0.1 + 0.01, c + abs(d) * 0.1 + 0.01)
        for i, (a, b, c, d) in enumerate(_rng_rows(3, 120, 4))
    ]
    segs += [(200, *segs[0][1:]), (201, *segs[61][1:])]
    return _partitioned(
        spark, _layout(segs), "id long, x1 double, y1 double, x2 double, y2 double"
    )


def _probe_points(spark):
    pts = _rng_rows(4, 12, 2) + [[-3.0, 40.0]]
    return spark.createDataFrame(
        [(q, x, y) for q, (x, y) in enumerate(pts)], "qid long, x double, y double"
    )


def _probe_segments(spark):
    rows = [
        (q, a, c, a + b * 0.05, c + d * 0.05)
        for q, (a, b, c, d) in enumerate(_rng_rows(5, 10, 4))
    ]
    return spark.createDataFrame(
        rows, "qid long, x1 double, y1 double, x2 double, y2 double"
    )


FAMILIES = {
    "points": (knn_join, _points, _probe_points),
    "boxes": (box_knn_join, _boxes, _probe_points),
    "seg_to_point": (segment_knn_to_point_join, _segments, _probe_points),
    "seg_to_seg": (segment_knn_join, _segments, _probe_segments),
}


def _run(join, targets, probes, k):
    return sorted(
        (r.qid, r.rn, r.id, r.dist2)
        for r in join(targets, probes, k, grid=GRID).collect()
    )


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_one_pass_matches_ring(spark, monkeypatch, family):
    join, make_targets, make_probes = FAMILIES[family]
    targets, probes = make_targets(spark), make_probes(spark)
    n_targets, n_probes = targets.count(), probes.count()

    one_pass = _run(join, targets, probes, K)
    assert knn_plan.LAST_ROUND_EVALUATORS == ["brute"]
    assert len(one_pass) == n_probes * K
    monkeypatch.setattr(knn_plan, "BRUTE_MAX_PAIRS", 0)
    ring = _run(join, targets, probes, K)
    assert "brute" not in knn_plan.LAST_ROUND_EVALUATORS
    assert one_pass == ring

    # k >= |targets| always takes the one-pass path: every target is ranked,
    # and the first |targets| - 1 ranks agree with the ring loop's
    everything = _run(join, targets, probes, n_targets)
    assert knn_plan.LAST_ROUND_EVALUATORS == ["brute"]
    assert len(everything) == n_probes * n_targets
    ring_all_but_one = _run(join, targets, probes, n_targets - 1)
    assert "brute" not in knn_plan.LAST_ROUND_EVALUATORS
    assert [r for r in everything if r[1] < n_targets] == ring_all_but_one


@pytest.mark.parametrize("path", ["brute", "cogroup"])
def test_box_knn_desc_id_tie_at_long_min(spark, monkeypatch, path):
    """Two identical boxes with ids 0 and Long.MIN_VALUE in one partition and
    one cell: the larger id (0) must win.  Negating the id as the desc tie
    key wraps Long.MIN_VALUE onto itself and ranks it first."""
    boxes = spark.createDataFrame(
        [(LMIN, 0.0, 1.0, 0.0, 1.0), (0, 0.0, 1.0, 0.0, 1.0),
         (9, 40.0, 41.0, 40.0, 41.0)],
        "id long, min_x double, max_x double, min_y double, max_y double",
    ).coalesce(1)
    probes = spark.createDataFrame([(0, 0.5, 0.5)], "qid long, x double, y double")
    if path == "cogroup":
        monkeypatch.setattr(knn_plan, "BRUTE_MAX_PAIRS", 0)
        monkeypatch.setattr(knn_plan, "LOCAL_TOPK_MIN_TARGETS", 1)
        monkeypatch.setattr(knn_plan, "ANN_BROADCAST_MAX_ROWS", -1)
    got = box_knn_join(boxes, probes, 1, grid=GRID).collect()
    assert set(knn_plan.LAST_ROUND_EVALUATORS) == {path}
    assert [(r.id, r.dist2) for r in got] == [(0, 0.0)]


def test_one_pass_ranks_null_and_nan_targets_last(spark):
    """A null or NaN coordinate gives a NaN dist², which comes back null: the
    one-pass path ranks such targets after every finite one, in id order,
    whichever partition holds them."""
    finite = [(i, float(i), 0.0) for i in range(4)]
    bad = [(10, None, 0.0), (11, float("nan"), 0.0)]
    probes = spark.createDataFrame([(0, 0.0, 0.0)], "qid long, x double, y double")
    ranked = [(1, 0, 0.0), (2, 1, 1.0), (3, 2, 4.0), (4, 3, 9.0),
              (5, 10, None), (6, 11, None)]
    # the bad rows share the nearest target's partition, then sit alone
    for chunks in ([bad + finite[:1], finite[1:]], [finite, bad[:1], bad[1:]]):
        points = _partitioned(spark, chunks, "id long, x double, y double")
        for k in (4, 6):
            got = knn_join(points, probes, k, grid=GRID).collect()
            assert knn_plan.LAST_ROUND_EVALUATORS == ["brute"]
            assert sorted((r.rn, r.id, r.dist2) for r in got) == ranked[:k]


def test_target_bound_routes_to_ring(spark, monkeypatch):
    """Above BRUTE_MAX_TARGETS the ring loop runs however few the pairs,
    unless k covers every target."""
    targets, probes = _points(spark), _probe_points(spark)
    n_targets = targets.count()
    monkeypatch.setattr(knn_plan, "BRUTE_MAX_TARGETS", n_targets - 1)
    ring = _run(knn_join, targets, probes, K)
    assert knn_plan.LAST_ROUND_EVALUATORS
    assert "brute" not in knn_plan.LAST_ROUND_EVALUATORS
    monkeypatch.setattr(knn_plan, "BRUTE_MAX_TARGETS", n_targets)
    assert _run(knn_join, targets, probes, K) == ring
    assert knn_plan.LAST_ROUND_EVALUATORS == ["brute"]
    monkeypatch.setattr(knn_plan, "BRUTE_MAX_TARGETS", 0)
    _run(knn_join, targets, probes, n_targets)
    assert knn_plan.LAST_ROUND_EVALUATORS == ["brute"]

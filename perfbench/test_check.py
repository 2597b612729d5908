"""Tests of the benchmark's answer checker and failure counting (no Spark).

    python3 -m pytest perfbench/test_check.py -q
"""

from __future__ import annotations

import pathlib
import sys
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))

import check  # noqa: E402
import gen  # noqa: E402
from run import Run  # noqa: E402
from workloads import Op  # noqa: E402


@pytest.fixture
def points():
    rng = np.random.default_rng(7)
    return pd.DataFrame({"id": np.arange(500), "x": rng.uniform(0, 10, 500), "y": rng.uniform(0, 10, 500)})


def knn_answer(points, probes, k):
    rows = []
    for p in probes.itertuples():
        d2 = (points.x - p.x) * (points.x - p.x) + (points.y - p.y) * (points.y - p.y)
        for i in np.argsort(d2.to_numpy(), kind="stable")[:k]:
            rows.append((p.qid, points.id[i], d2[i]))
    return pd.DataFrame(rows, columns=["qid", "id", "dist2"])


def test_knn_right_and_corrupted(points):
    probes = gen.query_points(np.random.default_rng(1), points[["x", "y"]].to_numpy(), 20)
    res = knn_answer(points, probes, 5)
    assert check.check_knn(points, probes, 5, res, range(20)) == []
    moved = res.copy()
    moved.loc[0, "dist2"] *= 1.5
    assert check.check_knn(points, probes, 5, moved, range(20))
    wrong_id = res.copy()
    wrong_id.loc[0, "id"] = res.loc[4, "id"] + 1 if res.loc[4, "id"] + 1 < 500 else 0
    assert check.check_knn(points, probes, 5, wrong_id, [0])
    assert check.check_knn(points, probes, 5, res.drop(index=0), [0])


def test_box_sets(points):
    q = gen.query_boxes(np.random.default_rng(2), points[["x", "y"]].to_numpy(), 10, 0.5, 2)
    rows = [
        (b.qid, p.id)
        for b in q.itertuples()
        for p in points.itertuples()
        if b.min_x <= p.x <= b.max_x and b.min_y <= p.y <= b.max_y
    ]
    res = pd.DataFrame(rows, columns=["qid", "id"])
    assert check.check_points_in_boxes(points, q, res, range(10)) == []
    assert check.check_points_in_boxes(points, q, res.iloc[1:], range(10))
    extra = pd.concat([res, pd.DataFrame({"qid": [0], "id": [10_000]})])
    assert check.check_points_in_boxes(points, q, extra, [0])


def test_dbscan_labels_and_corruption():
    # two tight clusters and one far point: labels 0 and 3, noise -1
    pts = pd.DataFrame({"id": [0, 1, 2, 3, 4, 5, 6], "x": [0, 0.1, 0.2, 5, 5.1, 5.2, 20.0], "y": [0.0] * 7})
    labels = check.dbscan_labels(pts, 0.15, 2)
    assert labels["cluster"].tolist() == [0, 0, 0, 3, 3, 3, -1]
    assert check.check_dbscan(pts, 0.15, 2, labels) == []
    bad = labels.copy()
    bad.loc[6, "cluster"] = 3
    assert check.check_dbscan(pts, 0.15, 2, bad)


def test_segment_distance_cases():
    # crossing → 0; parallel at distance 1 → 1; endpoint to interior
    d = check.d2_segment_segment(
        np.array([0.0, 0.0, 0.0]), np.array([0.0, 0.0, 0.0]), np.array([2.0, 2.0, 2.0]), np.array([2.0, 0.0, 0.0]),
        np.array([0.0, 0.0, 3.0]), np.array([2.0, 1.0, -1.0]), np.array([2.0, 2.0, 3.0]), np.array([0.0, 1.0, 1.0]),
    )
    assert d.tolist() == [0.0, 1.0, 1.0]


def test_hilbert_matches_scalar_definition():
    def scalar(order, x, y):
        d, s = 0, 1 << (order - 1)
        while s > 0:
            rx, ry = int(x & s > 0), int(y & s > 0)
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s >>= 1
        return d

    xs, ys = np.arange(16).repeat(16), np.tile(np.arange(16), 16)
    got = check.hilbert_d(4, xs, ys)
    assert got.tolist() == [scalar(4, int(a), int(b)) for a, b in zip(xs, ys)]
    assert sorted(got.tolist()) == list(range(256))


def test_wrong_answers_and_exceptions_are_counted():
    no_rdds = SimpleNamespace(sparkContext=SimpleNamespace(_jsc=SimpleNamespace(getPersistentRDDs=dict)))
    run = Run(SimpleNamespace(trace=0, seconds=0), no_rdds, wl=None)
    answer = pd.DataFrame({"qid": [0], "id": [1]})

    def op(check_errs=None, boom=False):
        def go(t, op_id):
            if boom:
                raise RuntimeError("engine failed")
            return answer

        return lambda: Op("box", 1, go, lambda res: check_errs or [])

    for factory in (op(), op(check_errs=["box qid=0: 1 extra"]), op(boom=True)):
        run.execute(run.make(factory), traced=False)
    assert (run.attempted, run.failed) == (3, 2)
    assert len(run.ops) == 1  # only the correct op is timed

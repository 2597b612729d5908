"""Multi-round invariants of the generic kNN ring planner.

Pins two hazards the plan-shape relies on:

* a multi-cell target that surfaces in DIFFERENT rounds via different
  covering cells must appear at most once per probe in the output — the
  round merge dedups with ``array_distinct`` over the full state struct,
  which silently emits duplicates instead of failing if any state column
  ever stops being bit-identical across a carried-state checkpoint
  round-trip (e.g. a future dist² expression referencing cell-derived or
  nondeterministic columns);
* ``tile_pyramid``'s level persists are scoped to the call — repeated
  invocations must not pin orphan entries in the CacheManager.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from locus_spark.cells import GridSpec
from locus_spark.operators.segments import segment_knn_to_point_join
from locus_spark.plans import knn as knn_plan

GRID = GridSpec(0.0, 0.0, 16.0, 16.0, 4)  # 16x16 cells, cell size 1.0

#: one long segment covering 16 cells of row y=8 (ids sort after the short
#: fillers so tie order never hides a duplicate), plus two short segments in
#: the far corner that only round 3's ring reaches.
SEGS = [
    (10, 0.5, 8.5, 15.5, 8.5),   # long: cells (0..15, 8)
    (20, 0.2, 15.8, 0.4, 15.8),  # cell (0, 15)
    (30, 15.6, 15.8, 15.8, 15.8),  # cell (15, 15)
]


def _brute_point_seg_d2(px, py, x1, y1, x2, y2):
    dx, dy = x2 - x1, y2 - y1
    den = dx * dx + dy * dy
    t = 0.0 if den == 0 else max(0.0, min(1.0, ((px - x1) * dx + (py - y1) * dy) / den))
    cx, cy = x1 + t * dx, y1 + t * dy
    return (px - cx) ** 2 + (py - cy) ** 2


def test_multicell_target_across_rounds_no_duplicates(spark, monkeypatch):
    """Probe at (0.5, 0.5): round 1 rings [0,4] see nothing, round 2 [5,14]
    finds the long segment via 15 covering cells, round 3 [15,...] re-finds
    the SAME segment via cell (15, 8) while the probe is still unsettled
    (k=2, only 1 candidate so far) — the carried-state + fresh-candidate
    merge must collapse to one row per (qid, id).  BRUTE_MAX_PAIRS = 0 keeps
    the join on the ring loop."""
    monkeypatch.setattr(knn_plan, "BRUTE_MAX_PAIRS", 0)
    segs = spark.createDataFrame(SEGS, ["id", "x1", "y1", "x2", "y2"])
    probes = spark.createDataFrame([(1, 0.5, 0.5)], ["qid", "x", "y"])
    out = segment_knn_to_point_join(segs, probes, k=2, grid=GRID).collect()
    assert len(knn_plan.LAST_ROUND_EVALUATORS) >= 3, (
        "fixture regression: the resurfacing scenario needs >= 3 rounds, got "
        f"{knn_plan.LAST_ROUND_EVALUATORS}"
    )
    pairs = [(r.qid, r.id) for r in out]
    assert len(pairs) == len(set(pairs)), f"duplicate (qid,id) rows: {sorted(pairs)}"
    assert sorted(r.rn for r in out) == [1, 2]
    # exactness against brute force
    expect = sorted(
        ((_brute_point_seg_d2(0.5, 0.5, *s[1:]), s[0]) for s in SEGS)
    )[:2]
    got = sorted((r.dist2, r.id) for r in out)
    assert got == pytest.approx(expect)


def test_desc_id_tie_encoding_is_order_reversing(spark):
    """The desc-id tie key uses ~id (bitwise complement), which reverses
    order over the WHOLE long range — including Long.MIN_VALUE, where -id
    overflows back to Long.MIN_VALUE and would corrupt the k-th-boundary
    tie order."""
    lmin, lmax = -(2**63), 2**63 - 1
    rows = spark.createDataFrame(
        [(lmin,), (-5,), (0,), (7,), (lmax,)], ["id"]
    ).select(F.col("id"), F.bitwise_not(F.col("id")).alias("enc"))
    got = [r.id for r in rows.orderBy("enc").collect()]
    assert got == [lmax, 7, 0, -5, lmin]


def test_tile_pyramid_releases_level_caches(spark):
    from locus_spark.operators.tiles import tile_pyramid

    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    cache_mgr.clearCache()
    pts = spark.range(500).select(
        F.col("id"),
        (F.pmod(F.xxhash64("id"), F.lit(1600)) / F.lit(100.0)).alias("x"),
        (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1600)) / F.lit(100.0)).alias("y"),
    )
    out = tile_pyramid(pts, GRID)
    assert out.count() > 0
    assert out.agg(F.sum("n")).first()[0] == 500 * (GRID.resolution + 1)
    assert cache_mgr.isEmpty(), "tile_pyramid left entries pinned in the CacheManager"

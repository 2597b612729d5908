"""The benchmark's workloads: a seeded base build plus a rotation of ops.

Each op is one closed-loop request from a single client: build its probe
batch (untimed), run the engine call and collect the answer to the driver
(timed), then check a seeded sample of the answer against brute force
(untimed).  With tracing on, every call into an engine layer runs inside a
span, and layers that only build a plan (extract, geocode, the Hilbert key,
the delta layout, the eps-pair frame) are materialized at their boundary so
their span holds their work.
"""

from __future__ import annotations

import pathlib
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import gen
from check import (
    Grid,
    check_boxes,
    check_dbscan,
    check_ingest,
    check_knn,
    check_pip,
    check_points_in_balls,
    check_points_in_boxes,
    check_pyramid,
    check_raster,
    check_rows,
    check_segment_knn,
)
from locus_spark.cells import GridSpec, cluster_by_hilbert
from locus_spark.extract import with_extracted_text
from locus_spark.functions.hilbert import make_hilbert_udf
from locus_spark.geocode import geocode
from locus_spark.operators import boxes as boxes_ops
from locus_spark.operators import components, density, maintenance, tiles
from locus_spark.operators import points as points_ops
from locus_spark.operators.segments import segment_knn_join
from locus_spark.skew import hot_cells, salted_repartition
from locus_spark.sources.checkpoint import StageCheckpoint
from spans import Tracer
from sparkstats import partitions_for

# -- sizes (fixed: the seed changes the inputs, never their size) ------------
BASE_PAGES = 10_000
BATCH_PAGES = 2_000
N_BOXES = 10_000
N_SEGMENTS = 5_000
RANGE_PROBES = 200
BOX_PROBES = 100
POLYGONS = 8
RASTER_FEATURES = 200
KNN_PROBES = 200
KNN_K = 10
SEG_PROBES = 40
SEG_K = 5
DBSCAN_POINTS = 1_000
DBSCAN_EPS = 0.3
DBSCAN_MIN_PTS = 5
#: ingest cycles between compactions (the first timed cycle compacts; the
#: warm-up does not)
COMPACT_EVERY = 2
#: coarsest zoom of the tile pyramid
PYRAMID_MIN_ZOOM = 4
#: probes per op whose answers are checked against brute force
CHECKED_PROBES = 8

#: world grid the base layout is built on and every delta is frozen to
GRID = GridSpec(-180.0, -90.0, 180.0, 90.0, 8)
#: coarser grid for the box table (boxes span several fine cells)
BOX_GRID = GridSpec(-180.0, -90.0, 180.0, 90.0, 7)
LAYOUT_COLS = ["id", "host", "x", "y", "text_len", "cell", "hkey"]


def union_all(frames: list[DataFrame]) -> DataFrame:
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def np_grid(g: GridSpec) -> Grid:
    return Grid(g.min_x, g.min_y, g.max_x, g.max_y, g.resolution)


@dataclass
class Op:
    kind: str
    #: work items the op serves: probes, input points or pages
    items: int
    #: timed part; returns the collected answer
    run: Callable[[Tracer, int], pd.DataFrame]
    #: untimed; returns mismatch messages
    check: Callable[[pd.DataFrame], list[str]]
    #: counted in the workload's throughput (compaction is not a request)
    request: bool = True


def materialize(t: Tracer, df: DataFrame) -> DataFrame:
    """Force a lazy layer's work inside its span (traced runs only)."""
    return df.localCheckpoint(eager=True) if t.enabled else df


@contextmanager
def wrapped(t: Tracer, op: int, module, name: str, span: str, lazy: bool):
    """While tracing, run calls to ``module.name`` inside ``span``; a lazy
    function's result is materialized inside the span."""
    if not t.enabled:
        yield
        return
    orig = getattr(module, name)

    def call(*args, **kwargs):
        with t.span(span, op):
            out = orig(*args, **kwargs)
            return materialize(t, out) if lazy else out

    setattr(module, name, call)
    try:
        yield
    finally:
        setattr(module, name, orig)


class Workload:
    """Base layout shared by every workload: seeded pages → extract →
    geocode → Hilbert-clustered, hot-cell-salted layout, checkpointed."""

    name = ""
    #: nominal seconds per cycle; ``--seconds`` / ``cycle_s`` cycles are timed
    cycle_s = 1.0

    def __init__(self, spark, seed: int, work: pathlib.Path) -> None:
        self.spark, self.seed, self.work = spark, seed, work
        self.rng = gen.stream(seed, f"ops-{self.name}")
        self.grid = np_grid(GRID)

    # -- set-up (its spans carry op id 0) --------------------------------------
    def build(self, t: Tracer) -> None:
        """Fresh base build into a new checkpoint root (never a resume)."""
        self.ck = StageCheckpoint(str(self.work / "ck"))
        self.layout = self._build_pages(t, gen.pages(self.seed, "base", 0, BASE_PAGES))
        self.points = self.layout.select("id", "x", "y").toPandas()
        self.build_tables(t)

    def _build_pages(self, t: Tracer, pages: pd.DataFrame, op: int = 0) -> DataFrame:
        spark = self.spark
        df = self.df(pages.drop(columns=["expected", "host"]))
        parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

        def geocoded() -> DataFrame:
            with t.span("extract", op):
                ext = materialize(t, with_extracted_text(df))
            with t.span("geocode", op):
                return materialize(
                    t,
                    geocode(ext).select(
                        "id", "host", "x", "y", F.length("extracted").alias("text_len")
                    ),
                )

        with t.span("sources.checkpoint.write", op):
            geo = self.ck.run_stage(spark, "geocoded", geocoded)

        def index() -> DataFrame:
            with t.span("functions.hilbert", op):
                clustered = materialize(t, cluster_by_hilbert(geo, GRID, num_partitions=parts))
            with t.span("skew.hot_cells", op):
                hot = hot_cells(clustered, factor=8.0, min_rows=100)
            if hot:
                clustered = salted_repartition(
                    clustered, hot=hot, buckets=8, id_col="id", num_partitions=parts
                )
            return clustered.select(*LAYOUT_COLS)

        with t.span("sources.checkpoint.write", op):
            return self.ck.run_stage(spark, "layout", index)

    def build_tables(self, t: Tracer) -> None:
        """Workload-specific seeded tables (checkpointed beside the layout)."""

    def cycle(self, c: int) -> list[Callable[[], Op]]:
        """Op factories of cycle ``c``; each is called when its turn comes,
        so it sees the state the previous op left.  Cycle -1 is the warm-up:
        one op of every kind, run before the timed window."""
        raise NotImplementedError

    # -- helpers ---------------------------------------------------------------
    def df(self, pdf: pd.DataFrame) -> DataFrame:
        """The engine's view of a generated table, partitioned by its size."""
        return self.spark.createDataFrame(pdf).coalesce(partitions_for(len(pdf)))

    def pts_df(self) -> DataFrame:
        return self.layout.select("id", "x", "y")

    def sample_qids(self, n: int) -> list[int]:
        return sorted(self.rng.choice(n, min(n, CHECKED_PROBES), replace=False).tolist())

    def xy(self) -> np.ndarray:
        return self.points[["x", "y"]].to_numpy()

    def layer_op(self, kind, layer, items, call, check) -> Op:
        def run(t: Tracer, op: int) -> pd.DataFrame:
            with t.span(layer, op):
                return call().toPandas()

        return Op(kind, items, run, check)

    # -- ops shared by both workloads --------------------------------------------
    def box_op(self) -> Op:
        q = gen.query_boxes(self.rng, self.xy(), RANGE_PROBES, 0.5, 2.0)
        qdf, qids = self.df(q), self.sample_qids(RANGE_PROBES)
        points_df, points = self.pts_df(), self.points
        return self.layer_op(
            "box", "operators.points", RANGE_PROBES,
            lambda: points_ops.find_box_join(points_df, qdf, grid=GRID),
            lambda res: check_points_in_boxes(points, q, res, qids),
        )

    def knn_op(self) -> Op:
        q = gen.query_points(self.rng, self.xy(), KNN_PROBES)
        qdf, qids = self.df(q), self.sample_qids(KNN_PROBES)
        points_df, points = self.pts_df(), self.points

        def run(t: Tracer, op: int) -> pd.DataFrame:
            with t.span("operators.points", op):
                with t.span("plans.knn", op):
                    out = points_ops.knn_join(points_df, qdf, KNN_K, grid=GRID)
                return out.toPandas()

        return Op("knn", KNN_PROBES, run, lambda res: check_knn(points, q, KNN_K, res, qids))


class RangeJoin(Workload):
    """Read-only, single pass: point box/ball joins over the layout, box
    containment/overlap joins over a seeded box table, and the tiling ops."""

    name = "range_join"
    #: nominal seconds per cycle of eight ops on a 4-core host
    cycle_s = 2.5

    def build_tables(self, t: Tracer) -> None:
        self.boxes = gen.boxes(self.seed, N_BOXES)
        with t.span("sources.checkpoint.write", 0):
            self.boxes_df = self.ck.run_stage(self.spark, "boxes", lambda: self.df(self.boxes))

    def boxes_op(self, kind: str, fn, half_lo: float, half_hi: float) -> Op:
        q = gen.query_boxes(self.rng, self.xy(), BOX_PROBES, half_lo, half_hi)
        qdf, qids = self.df(q), self.sample_qids(BOX_PROBES)
        return self.layer_op(
            kind, "operators.boxes", BOX_PROBES,
            lambda: fn(self.boxes_df, qdf, grid=BOX_GRID),
            lambda res: check_boxes(kind, self.boxes, q, res, qids),
        )

    def ball_op(self) -> Op:
        q = gen.query_circles(self.rng, self.xy(), RANGE_PROBES, 0.5, 2.0)
        qdf, qids = self.df(q), self.sample_qids(RANGE_PROBES)
        points_df = self.pts_df()
        return self.layer_op(
            "ball", "operators.points", RANGE_PROBES,
            lambda: points_ops.find_ball_join(points_df, qdf, grid=GRID),
            lambda res: check_points_in_balls(self.points, q, res, qids),
        )

    def pip_op(self) -> Op:
        edges = gen.polygons(self.rng, self.xy(), POLYGONS)
        edf, qids = self.df(edges), self.sample_qids(POLYGONS)
        return self.layer_op(
            "pip", "operators.tiles.pip", len(self.points),
            lambda: tiles.point_in_polygon_join(self.pts_df(), edf, grid=GRID),
            lambda res: check_pip(self.points, edges, res, qids),
        )

    def raster_op(self) -> Op:
        feats = gen.query_boxes(self.rng, self.xy(), RASTER_FEATURES, 0.2, 2.0)
        feats = feats.rename(columns={"qid": "id"})
        fdf, ids = self.df(feats), self.sample_qids(RASTER_FEATURES)
        return self.layer_op(
            "raster", "operators.tiles.raster", len(self.points),
            lambda: tiles.raster_vector_assignment(fdf, self.pts_df(), GRID),
            lambda res: check_raster(self.grid, self.points, feats, res, ids),
        )

    def pyramid_op(self) -> Op:
        return self.layer_op(
            "pyramid", "operators.tiles.pyramid", len(self.points),
            lambda: tiles.tile_pyramid(self.pts_df(), GRID, min_zoom=PYRAMID_MIN_ZOOM),
            lambda res: check_pyramid(self.grid, self.points, res, PYRAMID_MIN_ZOOM),
        )

    def cycle(self, c: int) -> list[Callable[[], Op]]:
        return [
            self.box_op,
            self.ball_op,
            lambda: self.boxes_op("subsets", boxes_ops.find_subsets_join, 2.0, 6.0),
            lambda: self.boxes_op("supersets", boxes_ops.find_supersets_join, 0.001, 0.05),
            lambda: self.boxes_op("overlaps", boxes_ops.find_overlaps_join, 0.2, 2.0),
            self.pip_op,
            self.raster_op,
            self.pyramid_op,
        ]


class IngestServe(Workload):
    """Writes beside iterative reads: each cycle ingests a fresh page batch
    (extract → geocode → delta layout → checkpoint), then serves point kNN,
    box, segment kNN and DBSCAN requests over base ∪ deltas; every
    ``COMPACT_EVERY`` cycles the deltas are compacted into the base."""

    name = "ingest_serve"
    cycle_s = 10.0

    def build_tables(self, t: Tracer) -> None:
        self.segs = gen.segments(self.seed, N_SEGMENTS)
        with t.span("sources.checkpoint.write", 0):
            self.segs_df = self.ck.run_stage(self.spark, "segments", lambda: self.df(self.segs))
        self.base = self.layout
        self.deltas: list[DataFrame] = []
        self.batches = 0
        self.compactions = 0
        self.compact_stats: list[dict] = []

    def merged(self) -> DataFrame:
        if not self.deltas:
            return self.base
        return maintenance.merged_layout(self.base, union_all(self.deltas))

    def ingest_op(self) -> Op:
        self.batches += 1
        b = self.batches
        batch = gen.pages(self.seed, f"batch{b}", BASE_PAGES + b * BATCH_PAGES, BATCH_PAGES)
        bdf = self.df(batch.drop(columns=["expected", "host"]))
        spark, ck = self.spark, self.ck

        def run(t: Tracer, op: int) -> pd.DataFrame:
            if t.enabled:
                with t.span("ingest", op):
                    with t.span("extract", op):
                        ext = materialize(t, with_extracted_text(bdf))
                    with t.span("geocode", op):
                        geo = materialize(
                            t, geocode(ext).select(
                                "id", "host", "x", "y", F.length("extracted").alias("text_len")
                            )
                        )
                    with t.span("functions.hilbert", op):
                        hk = make_hilbert_udf(GRID.resolution)
                        geo.select(
                            hk(GRID.cell_x_col(F.col("x")), GRID.cell_y_col(F.col("y")))
                        ).write.format("noop").mode("overwrite").save()
                    with t.span("operators.maintenance.delta", op):
                        delta = materialize(t, maintenance.delta_layout(geo, GRID))
                    with t.span("sources.checkpoint.write", op):
                        stored = ck.run_stage(spark, f"delta{b}", lambda: delta.select(*LAYOUT_COLS))
            else:
                stored = ck.run_stage(
                    spark, f"delta{b}",
                    lambda: maintenance.delta_layout(
                        geocode(with_extracted_text(bdf)).select(
                            "id", "host", "x", "y", F.length("extracted").alias("text_len")
                        ),
                        GRID,
                    ).select(*LAYOUT_COLS),
                )
            self.deltas.append(stored)
            return pd.DataFrame({"batch": [b]})

        def check(_: pd.DataFrame) -> list[str]:
            stored = self.deltas[-1].toPandas()
            self.points = pd.concat([self.points, stored[["id", "x", "y"]]], ignore_index=True)
            return check_ingest(self.grid, batch, stored)

        return Op("ingest", BATCH_PAGES, run, check)

    def compact_op(self) -> Op:
        self.compactions += 1
        name = f"base{self.compactions}"
        want = self.points["id"].to_numpy()
        base, deltas = self.base, list(self.deltas)
        spark, ck = self.spark, self.ck

        def run(t: Tracer, op: int) -> pd.DataFrame:
            with t.span("operators.maintenance.compact", op):
                layout, stats = maintenance.compact(base, union_all(deltas), num_ranges=8)
                layout = materialize(t, layout)
            self.compact_stats.append(stats)
            with t.span("sources.checkpoint.write", op):
                self.base = ck.run_stage(spark, name, lambda: layout)
            self.deltas = []
            return self.base.select("id").toPandas()

        return Op(
            "compact", len(want), run,
            lambda res: check_rows("compact", want, res["id"].to_numpy()),
            request=False,
        )

    def seg_knn_op(self) -> Op:
        q = gen.query_segments(self.rng, self.segs[["x1", "y1"]].to_numpy(), SEG_PROBES)
        qdf, qids = self.df(q), self.sample_qids(SEG_PROBES)

        def run(t: Tracer, op: int) -> pd.DataFrame:
            with t.span("operators.segments", op):
                with t.span("plans.knn", op):
                    out = segment_knn_join(self.segs_df, qdf, SEG_K, grid=GRID)
                return out.toPandas()

        return Op("seg_knn", SEG_PROBES, run,
                  lambda res: check_segment_knn(self.segs, q, SEG_K, res, qids))

    def dbscan_op(self) -> Op:
        pick = self.rng.choice(len(self.points), DBSCAN_POINTS, replace=False)
        sub = self.points.iloc[np.sort(pick)].reset_index(drop=True)
        sdf = self.df(sub)

        def run(t: Tracer, op: int) -> pd.DataFrame:
            with t.span("operators.density", op), wrapped(
                t, op, density, "eps_neighbor_pairs", "operators.density.pairs", lazy=True
            ), wrapped(
                t, op, components, "connected_components", "operators.components", lazy=False
            ):
                return density.dbscan(sdf, DBSCAN_EPS, DBSCAN_MIN_PTS).toPandas()

        return Op("dbscan", DBSCAN_POINTS, run,
                  lambda res: check_dbscan(sub, DBSCAN_EPS, DBSCAN_MIN_PTS, res))

    def pts_df(self) -> DataFrame:
        return self.merged().select("id", "x", "y")

    def cycle(self, c: int) -> list[Callable[[], Op]]:
        # reads see every batch ingested so far, including this cycle's
        ops = [
            self.ingest_op,
            self.knn_op,
            self.box_op,
            self.seg_knn_op,
            self.dbscan_op,
        ]
        if c >= 0 and c % COMPACT_EVERY == 0:
            ops.append(self.compact_op)
        return ops


WORKLOADS = {w.name: w for w in (RangeJoin, IngestServe)}

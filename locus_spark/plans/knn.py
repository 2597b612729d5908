"""Generic exact kNN join — the one planner behind every nearest/n-nearest
family in the reference:

* kd points  (K1/K4: ``/root/reference/locus/kd.py:176-374``)
* R-tree boxes (R7/R9: ``/root/reference/locus/r.py:453-635``)
* segments to point / to segment (S1-S8: ``/root/reference/locus/segmental.py``)

Three evaluators, tried in this order:

1. **One-pass** (``"brute"``) when ``k >= |targets|``, or when ``|targets|
   <= BRUTE_MAX_TARGETS`` (2M) and ``|probes| x |targets| <=
   BRUTE_MAX_PAIRS`` (60M).  Both are measured ring-vs-one-pass
   crossovers: the target bound with a single probe, the pair bound for
   point kNN, whose ring catches up at fewer pairs than segment-segment's
   (figures at the constants).  The collected probe frame ships to every
   target partition, a numpy kernel emits each partition's exact top-k per
   probe, and one window keeps the global k best: a single shuffle instead
   of the ring loop's two blocking jobs and fresh Catalyst plan per round,
   which dominate small joins.
2. **Broadcast ring**: the distributed analogue of the reference's pruning
   with per-node lower bounds on a heap frontier (``kd.py:368``,
   ``r.py:592-610``, ``_core/segmental.py:82-153``).  Join probes against
   targets in Chebyshev cell annuli of geometrically growing width, maintain
   a per-probe running top-k, and settle a probe once its k-th best squared
   distance is within the squared distance from the probe's geometry to the
   nearest *uncovered* region.  Exactness holds because (a) the exact dist²
   is evaluated on every candidate and (b) the settle bound is conservative
   (shrunk by a float-fuzz margin far above ULP scale, far below cell
   scale).  Each round is one broadcast-hash join (probe annuli are tiny
   relative to targets) + one aggregation; ring counts stay O(log gridsize)
   thanks to geometric annulus growth.
3. **Cogroup ring**: the same rounds, but an annulus frame too wide to
   broadcast (from ``LOCAL_TOPK_MIN_TARGETS`` targets on) is cogrouped with
   the targets by cell and ranked by the one-pass path's numpy kernel.

Targets that span multiple cells (boxes, segments) may surface in several
annuli; ring rounds therefore dedup on (qid, id) before the top-k.
"""

from __future__ import annotations

import os
import sys
import time
from collections.abc import Callable
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from locus_spark.cells import GridSpec

if TYPE_CHECKING:
    import pandas as pd
    from pyspark.sql.types import StructType

#: set LOCUS_KNN_DEBUG=1 to print per-round ring/unsettled diagnostics
_DEBUG = os.environ.get("LOCUS_KNN_DEBUG", "") not in ("", "0")

#: below this target count none of the large-scale machinery arms: no
#: per-cell occupancy histogram, no probe-frame checkpointing, no cogroup
#: kernel availability, no sampled-cap prefilter — the plain broadcast-join
#: + window evaluator handles everything (the whole target side fits a few
#: partitions, so per-round fixed jobs would dominate any cleverness).
LOCAL_TOPK_MIN_TARGETS = 2_000_000

#: annulus frames wider than this are not broadcast (sparse grids: many
#: cells per probe, few candidates) — the cogroup kernel shuffles instead.
#: This width guard is the ONLY route to the cogroup kernel: with cap-based
#: row pruning (`_cap` carried across rounds, or the sampled-cap prefilter
#: below for probes that don't have one yet) the broadcast evaluator's
#: window input is bounded at any candidate volume, and the join itself is
#: a linear whole-stage-codegen stream that scales with cores — whereas the
#: kernel pays two shuffles + an Arrow round-trip + Python-worker churn per
#: candidate row (measured scaling ~0.5 from 2 to 8 cores at 32-128M rows;
#: a candidate-volume crossover of 256M routed the 128M-row flagship's
#: first round — 579M exact candidates — back to the kernel and capped the
#: whole stage's two-level scaling at 0.44).
ANN_BROADCAST_MAX_ROWS = 4_000_000

#: sampled-cap prefilter: when a round has probes with no carried `_cap`
#: (always in round one; later for probes that found < k candidates so far)
#: at large scale (LOCAL_TOPK_MIN_TARGETS armed), derive a per-probe upper
#: bound of the true k-th distance from a 1/CAP_SAMPLE_RATE deterministic
#: target sample and row-prune the full join with it before the window.
#: The bound is exact-safe (k-th smallest within a subset >= k-th smallest
#: overall; probes with < k sampled candidates keep a null cap = no
#: pruning), and it bounds the window's input at ~CAP_SAMPLE_RATE*k rows
#: per probe regardless of cell density — measured at 32M rows / 24k
#: probes / 143M first-round candidates: 30 s window -> ~6 s total, pure
#: JVM.  (An exact candidate-volume gate — per-cell occupancy histogram +
#: a per-round volume job — used to decide this; at 128M rows the gate's
#: own jobs cost more than the prefilter ever saves, so capless probes at
#: scale now always take it.)
CAP_SAMPLE_RATE = 16

#: arm the sampled-cap prefilter for the BROADCAST evaluator from this
#: target count on, even below the LOCAL_TOPK_MIN_TARGETS full-machinery
#: threshold: at sf0.1 (~600k segments, 1000 probe segments, one 3x3-ish
#: ring) the un-prefiltered collect_list aggregation ingests the full
#: candidate volume and its walls turn ERRATIC under memory pressure —
#: measured min-of-reps 6.0 s but 15.4 s on 2 of 4 warm reps (and 25-55 s
#: whole-query outliers in the round-4 board), vs a flat 5.4 s with the
#: prefilter on.  Below this count the sampled pass is pure overhead
#: (and toy-scale tests pin the plain-broadcast plan).
SCAP_MIN_TARGETS = 100_000

#: the one-pass evaluator runs when k >= |targets|, or when |targets| is at
#: most BRUTE_MAX_TARGETS and |probes| x |targets| at most BRUTE_MAX_PAIRS;
#: otherwise the ring loop.  Both are ring-vs-one-pass crossovers measured
#: on a 4-core host (local[4], clustered perfbench-style inputs cached in 8
#: partitions, min of 2 warm runs, one-pass vs ring).  One-pass pays ~0.5 µs
#: per target to ship it through Arrow, whatever the probe count, while a
#: one-round ring over points costs ~2 s at any size: with 1 probe (k=1)
#: one-pass wins at 1M points (2.0 vs 3.5 s), the two tie at 2M (2.3 vs
#: 2.1 s) and the ring wins from 4M (3.4 vs 2.3 s; 16M: 8.6 vs 2.0 s).
BRUTE_MAX_TARGETS = 2_000_000
#: Per pair, point kNN (k=10) crosses first: one-pass wins at 60M pairs
#: (200 probes x 300k points 5.2 vs 6.1 s, 300 x 200k 4.4 vs 5.3 s, and
#: at the corner of both bounds, 30 x 2M, 5.8 vs 7.4 s), the ring at 100M
#: (5.5 vs 7.2 s, 5.7 vs 6.5 s).  Segment-segment (k=5), the
#: costliest metric, crosses later: one-pass wins at 100M pairs (100 probes
#: x 1M segments 17.4 vs 18.6 s, 500 x 200k 15.4 vs 18.2 s) and the ring at
#: 200M (31.6 vs 26.9 s; 1000 x 200k a tie, 28.9 vs 29.8 s).
BRUTE_MAX_PAIRS = 60_000_000

#: evaluator choice of each round of the most recent generic_knn_join call
#: ("brute" | "cogroup" | "broadcast" | "broadcast+scap") — introspection for tests,
#: so a forced-path test can assert the forced path actually ran instead of
#: being silently defanged by a policy change.
LAST_ROUND_EVALUATORS: list[str] = []

#: probe-side internal columns: cell-range of the probe geometry's bbox and
#: the bbox itself in coordinates.
PROBE_CELL_COLS = ("_bcx0", "_bcx1", "_bcy0", "_bcy1")
PROBE_BBOX_COLS = ("_sx0", "_sx1", "_sy0", "_sy1")


def _fresh_stats(df: DataFrame) -> DataFrame:
    """Rebuild ``df`` (already materialized by a checkpoint) as a fresh
    scan WITHOUT the origin plan's statistics.

    Load-bearing for every iterative loop in this engine (kNN rings, CC,
    PageRank, HITS, DBSCAN): a checkpoint otherwise CARRIES the round
    plan's estimated ``sizeInBytes`` forward, and size-only estimation
    multiplies child sizes at every join — so a loop whose round joins
    the state with itself squares the estimate each round.  The BigInt's
    bit-length then doubles per round, and from ~20 rounds on Catalyst
    spends its time in BigInteger.multiply inside stats estimation
    (measured: 0.3 s/round flat → 2 s/round at round 20 doubling to
    100+ s/round by round 24; flat 0.3 s with the rebuild).  AQE still
    makes broadcast decisions from RUNTIME sizes, so dropping the
    estimate costs nothing here.

    Uses ``internalCreateDataFrame`` (public at the bytecode level; the
    same hook GraphFrames uses for its iteration state).  Falls back to
    the input unchanged if the JVM hook is unavailable."""
    try:
        jdf = df._jdf
        jrdd = jdf.queryExecution().toRdd()
        njdf = df.sparkSession._jsparkSession.internalCreateDataFrame(
            jrdd, jdf.schema(), False
        )
        return DataFrame(njdf, df.sparkSession)
    except Exception:  # pragma: no cover - depends on Spark internals
        return df


def _truncate_lineage(df: DataFrame) -> DataFrame:
    """Materialize a round's running state and truncate its lineage.

    Two modes, picked by ``spark.locus.knn.checkpoint`` (default ``auto``):

    * ``reliable`` — persist, then checkpoint to the reliable checkpoint dir,
      then drop the cache.  This is the CLUSTER mode: executor-memory
      checkpoints die with their executor, so on a multi-executor cluster a
      reliable checkpoint removes the ring loop's single point of failure
      (r1 verdict #5).  The persist-first is load-bearing:
      ``checkpoint(eager=True)`` otherwise recomputes the full lineage —
      including the round's whole candidate kernel — a second time during
      the checkpoint-write job (measured 2.5-4x kNN slowdown).  Set
      ``sc.setCheckpointDir`` to shared storage; a temp dir is used as a
      local fallback.
    * ``local`` — ``localCheckpoint`` (executor-memory blocks).  This is the
      LOCAL-mode default: driver and executor share one process there, so
      executor loss isn't a survivable event anyway and the reliable write
      is pure overhead (measured ~3.5 s/round at local[32]).

    ``auto`` resolves to ``local`` when the master is ``local*``, else
    ``reliable``.  Reliable mode REQUIRES ``sc.setCheckpointDir`` on shared
    storage: a driver-local temp dir is not visible to executors on a real
    cluster (partitions written to per-node filesystems vanish with the
    node), so with no checkpoint dir configured on a non-local master we
    log a prominent warning and fall back to ``localCheckpoint`` rather
    than fake durability; the temp-dir convenience only applies to local
    masters (single machine — any dir is "shared").

    Checkpointed frames stay referenced until the returned result is
    consumed (settled probes' rows point at their round's frame); block
    cleanup is the ContextCleaner's job
    (``spark.cleaner.referenceTracking.cleanCheckpoints`` is set by
    ``locus_spark.session``), not an explicit unpersist —
    ``DataFrame.unpersist`` on a checkpoint-returned frame frees nothing
    anyway (the blocks aren't registered in the cache manager)."""
    spark = df.sparkSession
    mode = spark.conf.get("spark.locus.knn.checkpoint", "auto")
    sc = spark.sparkContext
    reliable = mode == "reliable" or (
        mode == "auto" and not sc.master.startswith("local")
    )
    if not reliable:
        return _fresh_stats(df.localCheckpoint(eager=True))
    if sc.getCheckpointDir() is None:
        if sc.master.startswith("local"):
            import tempfile

            sc.setCheckpointDir(tempfile.mkdtemp(prefix="locus_knn_ck_"))
        else:
            import warnings

            warnings.warn(
                "locus_spark kNN: reliable checkpoint mode requested but no "
                "checkpoint dir is set; a driver-local temp dir would NOT be "
                "shared storage on this cluster master, so falling back to "
                "localCheckpoint (no executor-loss tolerance). Call "
                "sc.setCheckpointDir(<shared path>) to enable reliable mode.",
                RuntimeWarning,
                stacklevel=2,
            )
            return _fresh_stats(df.localCheckpoint(eager=True))
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    out = df.checkpoint(eager=True)
    df.unpersist()
    return _fresh_stats(out)


def _small_state(df: DataFrame) -> DataFrame:
    """Materialize a ROUND's state below the large-scale threshold.

    Mode knob ``spark.locus.knn.smallstate`` (kept as A/B instrumentation
    from the round-5 seg_knn investigation):

    * ``eager``       — ``_truncate_lineage`` (eager checkpoint + fresh
      stats).  The DEFAULT since round 5: the round-4 ``lazy`` gate made
      seg_knn's walls erratic (sf0.1 min-of-3 A/B, fresh JVM per mode:
      lazy [25.9, 8.2, 31.8] s vs eager [26.9(cold-codegen), 9.5, 9.1] s —
      the lazy plan re-evaluates the wide seg-seg dist² nondeterministically
      when checkpoint blocks materialize inside a consuming job), while for
      kd/r/seg-to-point eager measured equal-or-faster (kd_knn 1.01 vs
      1.12, r_knn 4.94 vs 5.63, seg_to_point 4.43 vs 5.17).
    * ``lazy``        — ``localCheckpoint(eager=False)`` (the round-4 gate).
    * ``lazy_fresh``  — lazy + ``_fresh_stats`` (measured WORST: seg_knn
      min 18.7 s — kept only so the A/B remains reproducible).
    """
    mode = df.sparkSession.conf.get("spark.locus.knn.smallstate", "eager")
    if mode == "eager":
        return _truncate_lineage(df)
    out = df.localCheckpoint(eager=False)
    if mode == "lazy_fresh":
        out = _fresh_stats(out)
    return out


def probe_frame(
    probes: DataFrame,
    grid: GridSpec,
    min_x: Column,
    max_x: Column,
    min_y: Column,
    max_y: Column,
    payload: list[str],
) -> DataFrame:
    """Attach bbox + cell-range columns to a probe table.  For point probes
    pass the point for all four bounds."""
    return probes.select(
        "qid",
        *payload,
        min_x.alias("_sx0"),
        max_x.alias("_sx1"),
        min_y.alias("_sy0"),
        max_y.alias("_sy1"),
        grid.cell_x_col(min_x).alias("_bcx0"),
        grid.cell_x_col(max_x).alias("_bcx1"),
        grid.cell_y_col(min_y).alias("_bcy0"),
        grid.cell_y_col(max_y).alias("_bcy1"),
    )


def _annulus_cells(
    probes: DataFrame, grid: GridSpec, lo: int, hi: int, margin: float = 0.0
) -> DataFrame:
    """(probe, cell) pairs for cells whose Chebyshev distance to the probe's
    cell-rectangle lies in [lo, hi], clipped to the grid.

    When the probe row carries a ``_cap`` column (the running k-th-best
    squared distance from earlier rounds), cells whose squared distance to
    the probe's bbox exceeds the cap are pruned — the distributed form of
    the reference's branch-and-bound bound (``/root/reference/locus/kd.py:368``,
    ``r.py:592-606``): an already-found k-th neighbor caps how far the search
    ever needs to look, which keeps fringe probes from dragging whole dense
    cells through later rounds."""
    n = grid.n
    cx0 = F.greatest(F.lit(0), F.col("_bcx0") - F.lit(hi))
    cx1 = F.least(F.lit(n - 1), F.col("_bcx1") + F.lit(hi))
    cy0 = F.greatest(F.lit(0), F.col("_bcy0") - F.lit(hi))
    cy1 = F.least(F.lit(n - 1), F.col("_bcy1") + F.lit(hi))
    out = (
        probes.withColumn("_cx", F.explode(F.sequence(cx0, cx1)))
        .withColumn("_cy", F.explode(F.sequence(cy0, cy1)))
    )
    if lo > 0:
        dist_rect = F.greatest(
            F.greatest(F.col("_bcx0") - F.col("_cx"), F.col("_cx") - F.col("_bcx1"), F.lit(0)),
            F.greatest(F.col("_bcy0") - F.col("_cy"), F.col("_cy") - F.col("_bcy1"), F.lit(0)),
        )
        out = out.filter(dist_rect >= F.lit(lo))
    if "_cap" in probes.columns:
        # squared coordinate distance from the probe bbox to the cell rect
        cell_x0 = F.lit(grid.min_x) + F.col("_cx") * F.lit(grid.cell_w)
        cell_x1 = cell_x0 + F.lit(grid.cell_w)
        cell_y0 = F.lit(grid.min_y) + F.col("_cy") * F.lit(grid.cell_h)
        cell_y1 = cell_y0 + F.lit(grid.cell_h)
        dx = F.greatest(F.lit(0.0), cell_x0 - F.col("_sx1"), F.col("_sx0") - cell_x1)
        dy = F.greatest(F.lit(0.0), cell_y0 - F.col("_sy1"), F.col("_sy0") - cell_y1)
        d2_cell = (F.greatest(F.lit(0.0), dx - F.lit(margin)) ** 2
                   + F.greatest(F.lit(0.0), dy - F.lit(margin)) ** 2)
        out = out.filter(F.col("_cap").isNull() | (d2_cell <= F.col("_cap")))
    # fuse (cx, cy) into ONE long join key: a single-long equi-join key gives
    # the broadcast join a LongHashedRelation (dense, allocation-free probes)
    # instead of the composite-key BytesToBytesMap relation, whose lookup
    # path was measured to stop scaling with cores entirely (570M-row
    # candidate join at 128M targets: 13.6 s @2 cores -> 12.6 s @8; the
    # fused key: 5.0 s -> 1.4 s, at the host's own parallel ceiling)
    return out.withColumn("_jc", grid.pack(F.col("_cx"), F.col("_cy"))).drop(
        "_cx", "_cy"
    )


def _local_topk(
    targets: pd.DataFrame,
    probes: pd.DataFrame,
    k: int,
    local_dist2: Callable,
    tie_desc_id: bool,
    probe_out: list[str],
    target_out: list[str],
) -> pd.DataFrame:
    """Exact top-k of ``targets`` for every row of ``probes``: the numpy
    kernel behind both the cogroup ring evaluator (per cell) and the
    one-pass evaluator (per target partition).  Emits ``probe_out`` +
    ``target_out`` + ``dist2`` with ``min(k, len(targets))`` rows per probe
    — the distributed analogue of the reference's bounded heap
    (reference ``locus/kd.py:227-237``)."""
    import numpy as np
    import pandas as pd

    out_names = [*probe_out, *target_out, "dist2"]
    if len(targets) == 0 or len(probes) == 0:
        return pd.DataFrame({c: pd.Series(dtype="float64") for c in out_names})
    tie = targets["id"].to_numpy()
    # desc-id families sort ascending on ~id, the round aggregation's
    # tie_struct_val: -id wraps at Long.MIN_VALUE
    order = np.argsort(~tie if tie_desc_id else tie, kind="stable")
    targets = targets.iloc[order].reset_index(drop=True)
    nt = len(targets)
    k_eff = min(k, nt)
    target_arrs = {c: targets[c].to_numpy() for c in target_out}
    chunks = []
    # bound the distance-matrix footprint: metrics allocate up to ~15
    # (nt x nq) float64 temporaries (segment-segment), so cap entries
    # per chunk at 8M (~64 MB/array)
    chunk = max(1, 8_000_000 // nt)
    for s in range(0, len(probes), chunk):
        rp = probes.iloc[s : s + chunk]
        d2 = local_dist2(targets, rp)  # (nt, n_probes) float64
        # rows are pre-sorted by the tie key, so a stable argsort on
        # dist2 realizes the exact (dist2, tie) order incl. duplicates
        sel = np.argsort(d2, axis=0, kind="stable")[:k_eff]
        block = {
            c: np.repeat(rp[c].to_numpy()[None, :], k_eff, axis=0).ravel()
            for c in probe_out
        }
        for c in target_out:
            block[c] = target_arrs[c][sel].ravel()
        block["dist2"] = np.take_along_axis(d2, sel, axis=0).ravel()
        chunks.append(pd.DataFrame(block))
    return pd.concat(chunks, ignore_index=True)


def _out_schema(probe_fields: list, target_fields: list) -> StructType:
    from pyspark.sql.types import DoubleType, StructField, StructType

    return StructType(
        [*probe_fields, *target_fields, StructField("dist2", DoubleType())]
    )


def _cogroup_topk(
    target_cells: DataFrame,
    ann: DataFrame,
    k: int,
    local_dist2: Callable,
    tie_desc_id: bool,
    probe_out: list[str],
    target_out: list[str],
) -> DataFrame:
    """Per-cell local top-k: candidates never materialize as JVM rows.

    The naive round evaluator (broadcast-join every (probe, annulus-cell)
    pair against the cell's targets, then window) materializes |cell| rows
    PER covering probe; with skewed data a fringe probe next to a hot cell
    drags the whole cell through the window's sort — measured 2.6·10^8 rows
    and a >600 s spill for 4k probes over 16M points.  Here targets are
    cogrouped with the probe-annulus pairs BY CELL and :func:`_local_topk`
    emits only the k best rows per (probe, cell), so the downstream global
    window sees ≤ k·cells_per_probe rows per probe.
    """
    ann = ann.select(*probe_out, "_jc")
    cells = ann.select("_jc").distinct()
    tsub = target_cells.join(F.broadcast(cells), ["_jc"])
    a_fields = {f.name: f for f in ann.schema.fields}
    t_fields = {f.name: f for f in target_cells.schema.fields}
    out_schema = _out_schema(
        [a_fields[c] for c in probe_out], [t_fields[c] for c in target_out]
    )

    def fn(left, right):
        # left: targets in this cell; right: probes whose annulus covers it
        return _local_topk(
            left, right, k, local_dist2, tie_desc_id, probe_out, target_out
        )

    grouped = tsub.groupBy("_jc").cogroup(ann.groupBy("_jc"))
    return grouped.applyInPandas(fn, out_schema)


def _one_pass_topk(
    targets: DataFrame,
    probe_rows: pd.DataFrame,
    probe_fields: list,
    k: int,
    local_dist2: Callable,
    tie_desc_id: bool,
    tie: Column,
) -> DataFrame:
    """All-pairs evaluator for small joins: no rings, no round state.

    ``probe_rows`` (the collected probe frame) ships to every task with
    the kernel; each target partition emits its exact local top-k per
    probe through :func:`_local_topk`, and one ``row_number`` over (dist²,
    ``tie``) keeps the global k best.  The whole plan is a single shuffle,
    against two blocking jobs plus a fresh Catalyst plan per ring round.

    A target with null or NaN geometry has a NaN dist², which the kernel's
    argsort puts last and Arrow hands back as null (NaN payload columns come
    back null too); the merge therefore ranks null dist² last as well, so
    such a target never displaces a finite one and the ranks do not depend
    on how the targets are partitioned."""
    probe_out = [f.name for f in probe_fields]
    target_out = targets.columns

    def fn(batches):
        import pandas as pd

        frames = list(batches)
        if frames:
            yield _local_topk(
                pd.concat(frames, ignore_index=True), probe_rows, k,
                local_dist2, tie_desc_id, probe_out, target_out,
            )

    w = Window.partitionBy("qid").orderBy(F.col("dist2").asc_nulls_last(), tie)
    rn = F.row_number().over(w).cast("long")
    return (
        targets.mapInPandas(fn, _out_schema(probe_fields, targets.schema.fields))
        .withColumn("rn", rn)
        .filter(F.col("rn") <= k)
    )


def generic_knn_join(
    targets: DataFrame,
    target_cells: DataFrame,
    probes: DataFrame,
    k: int,
    grid: GridSpec,
    dist2: Column,
    local_dist2: Callable,
    tie_desc_id: bool = False,
    dedup: bool = False,
    max_rounds: int = 64,
) -> DataFrame:
    """Exact top-k join.

    ``targets``       — ``id`` + geometry payload columns.
    ``target_cells``  — same rows with ``_cx``/``_cy`` (exploded covering
                        cells for multi-cell geometries).
    ``probes``        — output of :func:`probe_frame`.
    ``dist2``         — squared-distance Column over the joined row.
    ``local_dist2``   — numpy mirror of ``dist2``: ``(targets_pdf,
                        probes_pdf) -> (n_targets, n_probes)`` float64.
    ``tie_desc_id``   — R-tree family breaks distance ties by *largest* id
                        (``/root/reference/locus/r.py:599-606``); kd and
                        segmental by smallest.

    Returns probe payload + target payload + ``dist2`` + ``rn`` (long).
    """
    if k < 1:
        raise ValueError("knn: k must be >= 1")
    t_setup = time.monotonic() if _DEBUG else 0.0
    n_targets = targets.count()
    if n_targets == 0:
        raise ValueError("knn: empty target input")
    if _DEBUG:
        print(
            f"[knn] target count {time.monotonic() - t_setup:.1f}s",
            file=sys.stderr,
            flush=True,
        )

    tie = F.col("id").desc() if tie_desc_id else F.col("id").asc()
    w = Window.partitionBy("qid").orderBy(F.col("dist2").asc(), tie)
    probe_payload = [c for c in probes.columns if c not in PROBE_CELL_COLS]
    target_payload = targets.columns
    out_cols = [*probe_payload, *target_payload, "dist2"]
    out_cols = [c for c in out_cols if c not in PROBE_BBOX_COLS]

    # One-pass evaluator when all pairs are cheap: always when k covers
    # every target (reference ``locus/kd.py:216-220``), else when targets
    # fit BRUTE_MAX_TARGETS and probes x targets fits BRUTE_MAX_PAIRS.  The
    # bounded collect doubles as the probe count and is skipped outright
    # when the targets alone rule the path out.
    if k >= n_targets:
        max_probes = None
    elif n_targets <= BRUTE_MAX_TARGETS:
        max_probes = BRUTE_MAX_PAIRS // n_targets
    else:
        max_probes = 0
    if max_probes is None or max_probes > 0:
        probe_fields = [f for f in probes.schema.fields if f.name in out_cols]
        head = probes.select(*[f.name for f in probe_fields])
        if max_probes is not None:
            head = head.limit(max_probes + 1)
        probe_rows = head.toPandas()
        if max_probes is None or len(probe_rows) <= max_probes:
            LAST_ROUND_EVALUATORS[:] = ["brute"]
            return _one_pass_topk(
                targets, probe_rows, probe_fields, k, local_dist2,
                tie_desc_id, tie,
            )

    scale = max(
        abs(grid.min_x), abs(grid.max_x), abs(grid.min_y), abs(grid.max_y),
        grid.cell_w * grid.n, grid.cell_h * grid.n,
    )
    margin = 1e-9 * scale

    # size the FIRST window from mean cell density so the typical probe
    # settles in round one — every extra round costs a fixed number of Spark
    # jobs, which dominates wall time when the data per round is small.  The
    # (2·hi+1)² window aims for ≥ ~4k expected candidates; when the probe's
    # own cell already holds that many (dense targets) the window stays a
    # single ring — widening it would multiply candidate-kernel work for no
    # round saved.  Sparse regions still expand geometrically afterwards.
    #
    # Only the BROADCAST evaluator benefits: its per-round cost is dominated
    # by fixed job overhead, so fewer rounds win.  The cogrouped kernel's
    # cost scales with covered cells (targets shuffled + Arrow-transferred
    # per cell), so a wider window multiplies real work — measured 3.6x kNN
    # slowdown at 16M rows — and there the loop starts at a single ring.
    import math

    use_cogroup = n_targets >= LOCAL_TOPK_MIN_TARGETS
    if use_cogroup:
        # Always start at a single cell: the cogroup kernel's dominant cost
        # is per-(cell, probe) GROUP overhead in applyInPandas, which scales
        # with the covered-cell count, not with the numpy math.  Measured at
        # 16M rows / 24k probes: hi0=0 settles 66% of probes in a 15.8 s
        # round 1 + 12.5 s round 2; hi0=1 (9 cells/probe) makes round 1
        # alone 94.7 s.  Geometric expansion after round 1 keeps the total
        # round count at 2 for uniform data.
        hi0 = 0
    else:
        density = n_targets / float(grid.n * grid.n)
        hi0 = int(
            math.ceil((math.sqrt((4.0 * k + 8.0) / max(density, 1e-12)) - 1.0) / 2.0)
        )
        hi0 = max(0, min(hi0, max(1, grid.n // 4)))

    # Incremental re-rank: only UNSETTLED probes' rows flow through the
    # per-round dedup/window/stats path.  A probe's top-k is final the round
    # it settles — its rows move to `done` and are never re-ranked again
    # (the r2 plan re-windowed every probe's accumulated rows every round).
    #
    # `target_cells` is persisted across rounds ONLY below the large-scale
    # threshold: every family's target lineage is a narrow scan + Column
    # projection (floor-arithmetic cells, least/greatest bbox, explode of a
    # cell sequence — no shuffle anywhere), so above it the per-round
    # re-scan is a linear columnar read that parallelizes with cores, while
    # persisting means WRITING a second copy of the whole target side to
    # the block store first — a data-sized, storage-bound cost that no
    # added executor speeds up (measured at 128M rows as ~40 s of
    # core-count-invariant kNN stage time, capping two-level scaling at
    # 0.49; it is also the wrong plan on a real cluster, where a 100 TB
    # target side is re-scanned pruned from columnar storage, never
    # duplicated into executor block stores).
    from pyspark import StorageLevel

    # fused long cell key (see _annulus_cells): every equi-join and groupBy
    # below keys on `_jc` so the broadcast relations are LongHashedRelation
    target_cells = target_cells.withColumn(
        "_jc", grid.pack(F.col("_cx"), F.col("_cy"))
    ).drop("_cx", "_cy")

    persist_targets = n_targets < LOCAL_TOPK_MIN_TARGETS
    if persist_targets:
        target_cells = target_cells.persist(StorageLevel.MEMORY_AND_DISK)
    n_unsettled: int | None = None
    n_nocap: int | None = None  # unsettled probes with no carried _cap yet
    unsettled = probes
    if use_cogroup:
        # materialize the probe frame once: every round touches it several
        # times (annulus build, settle joins), and its raw lineage re-scans
        # the probe source each time
        t_setup = time.monotonic() if _DEBUG else 0.0
        unsettled = _truncate_lineage(probes)
        n_unsettled = unsettled.count()
        n_nocap = n_unsettled  # round one: nobody has a cap yet
        if _DEBUG:
            print(
                f"[knn] probe checkpoint {time.monotonic() - t_setup:.1f}s"
                f" ({n_unsettled} probes)",
                file=sys.stderr,
                flush=True,
            )
    LAST_ROUND_EVALUATORS.clear()
    # Round state is ONE checkpointed frame per round (`merged`): every probe
    # still in play contributes a sentinel row (dist2 = +inf, null target), so
    # per-probe settle statistics are window columns computed inside the same
    # job that ranks the candidates, and the settled/unsettled/carried splits
    # are plain filters over the checkpoint — no stats join, no second
    # checkpoint, no semi/anti joins.  A round is exactly TWO blocking jobs
    # (the candidate join + rank + checkpoint, then a tiny termination agg);
    # every extra per-round job pays a fixed scheduling floor at EVERY
    # parallelism level, which is what caps two-cluster-size scaling once the
    # data-sized work is parallel.
    base_probe_cols = list(probes.columns)
    state_cols = [*base_probe_cols, *target_payload, "dist2"]
    state_cols_noq = [c for c in state_cols if c != "qid"]
    null_targets = [
        F.lit(None).cast(f.dataType).alias(f.name) for f in targets.schema.fields
    ]
    real = F.col("id").isNotNull()  # sentinel rows have a null target id
    # Per-probe top-k is a hash AGGREGATION (collect_list → array_sort →
    # slice), not a window: WindowExec sorts every partition's full row set
    # outside whole-stage codegen and was measured scaling only ~2.1x from 2
    # to 8 cores on the flagship round, while the object-hash aggregate with
    # per-group sorts of cap-bounded lists runs 1.7x faster at 8 cores and
    # scales ~3.2x.  The sort key mirrors the ranking window: dist² asc,
    # sentinels strictly last (a real dist² could itself overflow to +inf
    # and must never be displaced by the sentinel), then the family tie
    # order; the tie key is negated for desc-id families so one ascending
    # struct sort realizes every family's order.
    # desc-id families sort ascending on ~id (bitwise complement): strictly
    # order-reversing over the whole long range, unlike -id which overflows
    # at Long.MIN_VALUE and would corrupt the k-th-boundary tie order
    tie_struct_val = F.bitwise_not(F.col("id")) if tie_desc_id else F.col("id")
    sort_struct = F.struct(
        F.col("dist2").alias("_d"),
        F.col("id").isNull().alias("_sn"),
        F.coalesce(tie_struct_val, F.lit(0)).alias("_t"),
        F.struct(*state_cols_noq).alias("_p"),
    )
    done: list[DataFrame] = []
    carried: DataFrame | None = None  # unsettled probes' running top-k
    lo, step = 0, hi0 + 1
    for _ in range(max_rounds):
        hi = lo + step - 1
        t_round = time.monotonic() if _DEBUG else 0.0
        ann = _annulus_cells(unsettled, grid, lo, hi, margin=margin)
        # Evaluator choice: the broadcast-join evaluator is fully
        # whole-stage-codegen and its window input is bounded either by the
        # carried `_cap` (probes with >= k candidates) or the sampled-cap
        # prefilter (probes without one), so it is the plan at ANY exact
        # candidate volume — the join is a linear stream that parallelizes
        # with cores.  The cogrouped numpy kernel (k rows per (probe, cell),
        # but two shuffles + an Arrow round-trip + Python workers per
        # candidate row, measured two-level scaling ~0.5) remains only for
        # annulus frames too wide to broadcast (sparse grids: many cells
        # per probe, few candidates).
        ring_cells = (2 * hi + 1) ** 2 - ((2 * lo - 1) ** 2 if lo > 0 else 0)
        ann_rows = None if n_unsettled is None else n_unsettled * ring_cells
        round_cogroup = use_cogroup and (
            ann_rows is not None and ann_rows > ANN_BROADCAST_MAX_ROWS
        )
        if round_cogroup:
            LAST_ROUND_EVALUATORS.append("cogroup")
            cand = _cogroup_topk(
                target_cells, ann, k, local_dist2, tie_desc_id,
                base_probe_cols,
                target_payload,
            )
        else:
            has_cap = "_cap" in ann.columns
            cand = (
                F.broadcast(ann)
                .join(target_cells, ["_jc"])
                .withColumn("dist2", dist2)
            )
            if has_cap:
                # branch-and-bound at ROW level: a candidate farther than
                # the probe's current k-th best can never displace it
                # (ties at equal dist2 still pass — id order can displace)
                cand = cand.filter(
                    F.col("_cap").isNull() | (F.col("dist2") <= F.col("_cap"))
                )
            # Arm the sampled-cap prefilter whenever capless probes exist at
            # large scale.  An exact candidate-volume probe job used to gate
            # this (a per-cell occupancy histogram + a per-round count job);
            # measured at 128M rows the histogram build plus the extra
            # blocking job cost more than the prefilter's sampled pass ever
            # saves, and probes sampled from skewed data make a density
            # *estimate* under-count by orders of magnitude (200x measured)
            # — so at scale the prefilter is simply always worth it.
            use_scap = (use_cogroup or n_targets >= SCAP_MIN_TARGETS) and (
                n_nocap is None or n_nocap > 0
            )
            if use_scap:
                # capless probes over dense cells (all of them in round one;
                # later, probes that still found < k candidates): derive a
                # per-probe UPPER bound of the true k-th distance from a
                # deterministic 1/CAP_SAMPLE_RATE target sample and prune
                # with it, so the window never sees the dense cells' full
                # candidate volume.  Safe: the k-th smallest within a subset
                # >= the k-th smallest overall; fewer than k sampled
                # candidates => null cap => no pruning; <= keeps distance
                # ties (id order may still displace).
                ann_nocap = (
                    ann.filter(F.col("_cap").isNull()) if has_cap else ann
                )
                sampled = target_cells.filter(
                    F.pmod(F.xxhash64(F.col("id")), F.lit(CAP_SAMPLE_RATE)) == 0
                )
                scand = (
                    F.broadcast(ann_nocap)
                    .join(sampled, ["_jc"])
                    .withColumn("dist2", dist2)
                )
                sorted_d = F.sort_array(F.collect_list("dist2"))
                if dedup:
                    # multi-cell targets surface once per covering cell; a
                    # duplicated near target would understate the sampled
                    # k-th and over-prune.  Distinct distances only shift
                    # the k-th element toward larger values, so the bound
                    # stays a valid upper bound — and it removes the
                    # dropDuplicates shuffle a row-level dedup would need.
                    sorted_d = F.array_distinct(sorted_d)
                caps = (
                    scand.groupBy("qid")
                    .agg(F.slice(sorted_d, k, 1).alias("_ck"))
                    .select("qid", F.get("_ck", 0).alias("_scap"))
                )
                # probes with a carried _cap aren't in `caps` => null _scap
                # => pass through (they are already row-pruned above)
                cand = cand.join(F.broadcast(caps), "qid", "left").filter(
                    F.col("_scap").isNull() | (F.col("dist2") <= F.col("_scap"))
                )
            LAST_ROUND_EVALUATORS.append(
                "broadcast+scap" if use_scap else "broadcast"
            )
            cand = cand.select(*state_cols)
        merged = cand if carried is None else carried.unionByName(cand)
        # one sentinel per in-play probe: guarantees every probe has a row in
        # `merged` (rn == 1), so the termination agg and the next round's
        # probe frame are filters of this one checkpoint — including probes
        # whose annulus held no targets at all this round
        sent = unsettled.select(
            *base_probe_cols, *null_targets, F.lit(float("inf")).alias("dist2")
        )
        srt = F.array_sort(F.collect_list(sort_struct))
        if dedup:
            # a multi-cell target surfaces once per covering cell with a
            # BIT-IDENTICAL struct (same geometry → same dist², same
            # payload), so distinct-on-struct over the sorted list replaces
            # the dropDuplicates shuffle the window plan needed; it runs
            # before the k-truncation so duplicates never eat top-k slots
            srt = F.array_distinct(srt)
        top = (
            merged.unionByName(sent)
            .groupBy("qid")
            .agg(F.slice(srt, 1, k).alias("_top"))
            .withColumn(
                "_cnt", F.size(F.filter(F.col("_top"), lambda x: ~x["_sn"]))
            )
            .withColumn(
                "_kth",
                F.when(
                    F.col("_cnt") > 0,
                    # sentinels sort last, so real rows are a prefix and the
                    # _cnt-th element is the running k-th-best dist²
                    F.element_at(F.col("_top"), F.col("_cnt"))["_d"],
                ),
            )
        )
        # Round-state materialization: below the large-scale threshold the
        # mode is picked by _small_state (default EAGER since round 5 — the
        # round-4 lazy localCheckpoint made the wide-dist² segment family's
        # walls erratic; measurements in _small_state's docstring).  At
        # scale, _truncate_lineage keeps the eager persist-first protocol
        # the reliable-checkpoint mode needs.
        merged_plan = (
            top.select(
                "qid",
                "_cnt",
                "_kth",
                F.posexplode("_top").alias("_rn0", "_s"),
            )
            .select(
                "qid",
                "_cnt",
                "_kth",
                (F.col("_rn0") + 1).alias("_rn"),
                "_s._p.*",
            )
        )
        if persist_targets:
            merged = _small_state(merged_plan)
        else:
            merged = _truncate_lineage(merged_plan)
        if _DEBUG:
            print(
                f"[knn] ring [{lo},{hi}] topk-join {time.monotonic() - t_round:.1f}s",
                file=sys.stderr,
                flush=True,
            )

        n = grid.n
        big = F.lit(float("inf"))
        lx = F.lit(grid.min_x) + (F.col("_bcx0") - F.lit(hi)) * F.lit(grid.cell_w)
        rx = F.lit(grid.min_x) + (F.col("_bcx1") + F.lit(hi + 1)) * F.lit(grid.cell_w)
        ly = F.lit(grid.min_y) + (F.col("_bcy0") - F.lit(hi)) * F.lit(grid.cell_h)
        ty = F.lit(grid.min_y) + (F.col("_bcy1") + F.lit(hi + 1)) * F.lit(grid.cell_h)
        exh_l = F.col("_bcx0") - F.lit(hi) <= 0
        exh_r = F.col("_bcx1") + F.lit(hi) >= n - 1
        exh_b = F.col("_bcy0") - F.lit(hi) <= 0
        exh_t = F.col("_bcy1") + F.lit(hi) >= n - 1
        gap = F.least(
            F.when(exh_l, big).otherwise(F.col("_sx0") - lx),
            F.when(exh_r, big).otherwise(rx - F.col("_sx1")),
            F.when(exh_b, big).otherwise(F.col("_sy0") - ly),
            F.when(exh_t, big).otherwise(ty - F.col("_sy1")),
        )
        bound = F.greatest(F.lit(0.0), gap - F.lit(margin))
        all_exhausted = exh_l & exh_r & exh_b & exh_t
        settled = all_exhausted | F.coalesce(
            (F.col("_cnt") >= k) & (F.col("_kth") <= bound * bound), F.lit(False)
        )
        t0 = time.monotonic() if _DEBUG else 0.0
        # ONE tiny job decides the round's fate: total unsettled (termination
        # + annulus width guard) and how many still lack a carried _cap
        # (whether the next round needs the prefilter).  Every probe has an
        # rn == 1 row (sentinels), so this is a keyless agg over the
        # checkpoint — no join.
        counts = merged.filter(F.col("_rn") == 1).agg(
            F.count(F.when(~settled, F.lit(1))).alias("_n"),
            F.count(
                F.when((~settled) & (F.col("_cnt") >= k), F.lit(1))
            ).alias("_nc"),
        ).first()
        n_unsettled = counts[0]
        n_nocap = n_unsettled - counts[1]
        if _DEBUG:
            print(
                f"[knn] ring [{lo},{hi}] -> unsettled={n_unsettled}"
                f" (round {time.monotonic() - t0:.1f}s settle-check)",
                file=sys.stderr,
                flush=True,
            )
        if n_unsettled == 0:
            done.append(merged.filter(real))  # everyone settled: all final
            break
        # settled/carried/next-probe splits: plain filters over the round
        # checkpoint (block cleanup is the ContextCleaner's job — see
        # _truncate_lineage)
        done.append(merged.filter(settled & real))
        carried = merged.filter((~settled) & real).select(*state_cols)
        unsettled = merged.filter((F.col("_rn") == 1) & (~settled)).select(
            *base_probe_cols,
            # carry the k-th-best dist² forward as the next round's
            # branch-and-bound cap (null while fewer than k found)
            F.when(F.col("_cnt") >= k, F.col("_kth")).alias("_cap"),
        )
        lo, step = hi + 1, step * 2
    else:
        raise RuntimeError("generic_knn_join: ring expansion did not converge")

    if persist_targets:
        target_cells.unpersist()  # output rows live in checkpointed frames
    out = done[0]
    for part in done[1:]:
        out = out.unionByName(part)
    return out.select(
        *out_cols, F.row_number().over(w).cast("long").alias("rn")
    )


def make_dist2(fn: Callable[..., Column], *cols: str) -> Column:
    return fn(*[F.col(c) for c in cols])

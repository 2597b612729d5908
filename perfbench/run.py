#!/usr/bin/env python3
"""locus_spark benchmark: seeded workloads, end-to-end and per-layer metrics.

    python3 perfbench/run.py --workload range_join --seed 1 --seconds 10 --trace 0

Run from the repository root.  One process starts a ``local[<cores>]``
session, builds a fresh seeded base and runs one warm-up op of every kind
(set-up), then runs whole cycles of ops in a closed loop with one client; the
number of cycles is ``--seconds`` over the workload's nominal cycle length.
Every op's answer is checked against brute force outside its timed window.

``--trace 0`` reports ``setup_s`` (process start to the first timed op) and
``op_items_per_s`` (geometric mean over the workload's request kinds of items
per op ÷ median op wall).  ``--trace 1`` runs every request twice, traced and
untraced, and reports the per-layer metrics instead; spans go to
``.perfbench_out/``.  Human-readable lines come first; the last line of
standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import pathlib
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

import sparkstats
from spans import Tracer, group_of
from sparkstats import GroupStats, StatusReader, persistent_rdds, release_new_rdds

OUT_DIR = ".perfbench_out"

#: per-family throughputs, printed for reading (the op kinds each pools)
FAMILIES = {
    "range_probes_per_s": ("box", "ball", "subsets", "supersets", "overlaps"),
    "tile_points_per_s": ("pip", "raster", "pyramid"),
    "knn_probes_per_s": ("knn",),
    "seg_knn_probes_per_s": ("seg_knn",),
    "dbscan_points_per_s": ("dbscan",),
    "ingest_pages_per_s": ("ingest",),
}


def since_process_start() -> float:
    """Seconds since this process was created (kernel start time)."""
    start_ticks = int(pathlib.Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Run:
    def __init__(self, args, spark, wl) -> None:
        self.args, self.spark, self.wl = args, spark, wl
        self.off = Tracer()
        self.on = Tracer(spark) if args.trace else None
        self.reader = StatusReader(spark) if args.trace else None
        self.attempted = self.failed = 0
        self.n_op = 0
        #: one record per timed op that passed its check
        self.ops: list[dict] = []
        self.op_spans: dict[int, list[dict]] = {}

    def read_spans(self, start: int) -> list[dict]:
        """Attach status-store totals to the spans recorded since ``start``."""
        new = self.on.spans[start:]
        for s in new:
            s["stats"] = self.reader.group(group_of(s))
        return new

    def build(self) -> float:
        t = self.on or self.off
        before, mark = persistent_rdds(self.spark), len(t.spans)
        t0 = time.monotonic()
        self.wl.build(t)
        dt = time.monotonic() - t0
        if self.on:
            self.read_spans(mark)
        release_new_rdds(self.spark, before)
        return dt

    def fail(self, errs: list[str]) -> None:
        self.failed += 1
        print(f"op {self.n_op} failed:\n" + "\n".join(errs), file=sys.stderr)

    def make(self, factory):
        """Build the next op (untimed); ``None`` if that failed."""
        self.n_op += 1
        self.attempted += 1
        try:
            return factory()
        except Exception:
            self.fail([traceback.format_exc()])
            return None

    def execute(self, op, traced: bool, timed: bool = True) -> float:
        """Run (timed), check and clean up one op; returns its wall time."""
        t = self.on if traced else self.off
        mark = len(t.spans)
        before = persistent_rdds(self.spark)
        res, wall = None, 0.0
        try:
            t0 = time.monotonic()
            res = op.run(t, self.n_op)
            wall = time.monotonic() - t0
            errs = op.check(res)
        except Exception:
            errs = [traceback.format_exc()]
        if traced:
            self.op_spans[self.n_op] = self.read_spans(mark)
        release_new_rdds(self.spark, before)
        if errs:
            self.fail(errs)
        elif timed:
            self.ops.append({"id": self.n_op, "kind": op.kind, "wall": wall, "items": op.items,
                             "request": op.request, "traced": traced, "rows": len(res)})
        return wall

    def loop(self) -> float:
        """``--seconds`` ÷ the workload's nominal cycle length whole cycles
        (rounded up).  A fixed count, not a deadline: ops keep speeding up as
        the JVM warms, so a run that fits one more cycle would read faster.

        In a traced run every request runs twice back to back, once traced
        and once not, with the order alternating from op to op and cycle to
        cycle so that warming up favours neither; other ops run traced."""
        measured = 0.0
        for c in range(max(1, math.ceil(self.args.seconds / self.wl.cycle_s))):
            for pos, factory in enumerate(self.wl.cycle(c)):
                op = self.make(factory)
                if op is None:
                    continue
                traced = bool(self.on) and ((pos + c) % 2 == 0 or not op.request)
                measured += self.execute(op, traced)
                if self.on and op.request:
                    op = self.make(factory)
                    if op is not None:
                        measured += self.execute(op, not traced)
        return measured


def per_kind(ops, traced=False) -> dict[str, tuple[list[float], int, bool]]:
    """kind -> (walls, items per op, is a request)"""
    out: dict[str, tuple[list[float], int, bool]] = {}
    for o in ops:
        if o["traced"] == traced:
            out.setdefault(o["kind"], ([], o["items"], o["request"]))[0].append(o["wall"])
    return out


def end_to_end(run: Run, setup_s: float, rss_mb: float) -> tuple[dict, list[str]]:
    kinds = per_kind(run.ops)
    tput = {k: items / statistics.median(w) for k, (w, items, req) in kinds.items() if req}
    ratios = sorted(o["wall"] / statistics.median(kinds[o["kind"]][0]) for o in run.ops)
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_items_per_s": (geomean(tput.values()), "1/s"),
    }
    notes = [f"ops timed: {len(run.ops)} " + " ".join(f"{k}={len(w)}" for k, (w, _, _) in kinds.items())]
    for name, members in FAMILIES.items():
        have = [tput[k] for k in members if k in tput]
        if have:
            notes.append(f"{name} {geomean(have):.6g} 1/s")
    if len(ratios) > 10:
        n_beyond = 10
        p = 100.0 * (len(ratios) - n_beyond) / len(ratios)
        notes.append(
            f"op_tail_ratio {ratios[-n_beyond - 1]:.4f} ratio (p{p:.0f} of {len(ratios)} ops)"
        )
    else:
        notes.append(f"op_tail_ratio n/a ({len(ratios)} ops, needs 11)")
    notes.append(f"failed_op_frac {run.failed / run.attempted:.4f} frac")
    notes.append(f"peak_rss_mb {rss_mb:.1f} MB")
    return metrics, notes


def per_layer(run: Run, session_s: float, ck_root: pathlib.Path) -> dict:
    spans = [s for s in run.on.spans if "stats" in s]
    by = defaultdict(list)
    for s in spans:
        by[s["name"]].append(s)

    def dur(s):
        return s["end"] - s["start"]

    def med(name):
        return statistics.median(dur(s) for s in by[name]) if by[name] else 0.0

    def mean_jobs(name):
        return statistics.mean(s["stats"].jobs for s in by[name]) if by[name] else 0.0

    traced_ops = {o["id"]: o for o in run.ops if o["traced"]}
    # status-store totals of every traced op that passed its check
    totals: dict[int, GroupStats] = {}
    for oid in traced_ops:
        totals[oid] = GroupStats()
        for s in run.op_spans[oid]:
            totals[oid] += s["stats"]

    knn = [s for s in by["plans.knn"] if s["op"] in traced_ops]
    knn_rows = sum(traced_ops[s["op"]]["rows"] for s in knn)
    range_ids = [oid for oid, o in traced_ops.items() if o["kind"] in ("box", "ball")]
    range_rows = sum(traced_ops[o]["rows"] for o in range_ids)
    range_in = sum(totals[o].input_records for o in range_ids)
    totals = list(totals.values())

    stats = list(pathlib.Path(ck_root).glob("ck/*/manifest.json"))
    ck_rows = sum(json.loads(m.read_text())["rows"] for m in stats)
    ck_bytes = sum(f.stat().st_size for m in stats for f in (m.parent / "data").rglob("*") if f.is_file())

    touched = [s["touched_ranges"] / s["total_ranges"] for s in getattr(run.wl, "compact_stats", [])]
    on, off = per_kind(run.ops, True), per_kind(run.ops, False)
    overhead = [
        statistics.median(on[k][0]) / statistics.median(off[k][0]) for k in on if k in off
    ]
    return {
        "plans.knn.call_s": (med("plans.knn"), "s"),
        "plans.knn.jobs_per_op": (mean_jobs("plans.knn"), "count"),
        "plans.knn.executor_busy_frac": (
            sum(s["stats"].executor_run_s for s in knn) / (sum(dur(s) for s in knn) * sparkstats.cores())
            if knn else 0.0, "frac"),
        "plans.knn.shuffle_records_per_result": (
            sum(s["stats"].shuffle_write_records for s in knn) / knn_rows if knn_rows else 0.0,
            "rows/row"),
        "operators.density.pairs_s": (med("operators.density.pairs"), "s"),
        "operators.components.s": (med("operators.components"), "s"),
        "operators.components.jobs_per_op": (mean_jobs("operators.components"), "count"),
        "operators.points.s": (med("operators.points"), "s"),
        "operators.boxes.s": (med("operators.boxes"), "s"),
        "operators.segments.s": (med("operators.segments"), "s"),
        "cells.rows_scanned_per_result": (range_in / range_rows if range_rows else 0.0, "rows/row"),
        "spark.shuffle_bytes_per_op": (
            statistics.mean(t.shuffle_write_bytes for t in totals) if totals else 0.0, "B"),
        "operators.tiles.pip_s": (med("operators.tiles.pip"), "s"),
        "operators.tiles.raster_s": (med("operators.tiles.raster"), "s"),
        "operators.tiles.pyramid_s": (med("operators.tiles.pyramid"), "s"),
        "extract.s": (med("extract"), "s"),
        "geocode.s": (med("geocode"), "s"),
        "functions.hilbert.s": (med("functions.hilbert"), "s"),
        "sources.checkpoint.write_s": (med("sources.checkpoint.write"), "s"),
        "sources.checkpoint.bytes_per_row": (ck_bytes / ck_rows if ck_rows else 0.0, "B/row"),
        "skew.hot_cells_s": (med("skew.hot_cells"), "s"),
        "operators.maintenance.delta_s": (med("operators.maintenance.delta"), "s"),
        "operators.maintenance.compact_s": (med("operators.maintenance.compact"), "s"),
        "operators.maintenance.touched_range_frac": (
            statistics.mean(touched) if touched else 0.0, "frac"),
        "session.start_s": (session_s, "s"),
        "spark.jobs_per_op": (statistics.mean(t.jobs for t in totals) if totals else 0.0, "count"),
        "spark.tasks_per_op": (statistics.mean(t.tasks for t in totals) if totals else 0.0, "count"),
        "spark.task_skew": (statistics.median(t.task_skew for t in totals) if totals else 0.0, "ratio"),
        "spark.spill_bytes": (float(sum(t.spill_bytes for t in totals)), "B"),
        "trace.overhead_frac": (geomean(overhead) - 1.0 if overhead else 0.0, "frac"),
    }


def main(argv=None) -> int:
    args = parse(argv)
    root = pathlib.Path.cwd()
    if not (root / "locus_spark" / "__init__.py").is_file():
        print("perfbench: run from the repository root (no locus_spark/ here)", file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))

    from workloads import BASE_PAGES, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    out = root / OUT_DIR
    work = out / f"work-{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # every scratch file of Python, the JVM and Spark stays in the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # no /tmp/hsperfdata_<user> file from the launcher or driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"

    from locus_spark.session import get_spark

    master, parts, conf = sparkstats.session_conf(BASE_PAGES, work)
    spark = get_spark(app_name="perfbench", master=master, shuffle_partitions=parts, extra_conf=conf)
    session_s = since_process_start()
    try:
        run = Run(args, spark, WORKLOADS[args.workload](spark, args.seed, work))
        build_s = run.build()
        t0 = time.monotonic()
        for factory in run.wl.cycle(-1):
            op = run.make(factory)
            if op is not None:
                run.execute(op, traced=False, timed=False)
        warmup_s = time.monotonic() - t0
        setup_s = session_s + build_s + warmup_s
        measured = run.loop()
        rss_mb = sparkstats.peak_rss_mb()
        if args.trace:
            metrics = per_layer(run, session_s, work)
            notes = [f"spans: {len(run.on.spans)}"]
            run.on.write(out / f"trace-{args.workload}-s{args.seed}.json")
        else:
            metrics, notes = end_to_end(run, setup_s, rss_mb)
    finally:
        sparkstats.stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    notes.append(
        f"session_s {session_s:.3f} build_s {build_s:.3f} "
        f"warmup_s {warmup_s:.3f} measured_s {measured:.3f}"
    )
    for line in notes:
        print(line)
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    (out / f"result-{args.workload}-s{args.seed}-t{args.trace}.json").write_text(
        json.dumps({**result, "ops": run.ops, "notes": notes})
    )
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

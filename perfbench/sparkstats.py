"""Spark-side plumbing of the benchmark: session sizing, per-op cleanup,
status-store reads per job group, process-tree memory, and shutdown.

Everything here reaches the engine only through ``locus_spark.session``
and Spark's own public/JVM APIs; it does not change how any op runs.
"""

from __future__ import annotations

import os
import pathlib
import signal
import time
from dataclasses import dataclass, fields

#: task-time quantiles read per stage (median and max, for task skew)
QUANTILES = (0.5, 1.0)
#: rows per shuffle partition the session is sized for
ROWS_PER_PARTITION = 20_000


def cores() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def partitions_for(n_rows: int) -> int:
    return max(1, -(-n_rows // ROWS_PER_PARTITION))


def session_conf(n_rows: int, work_dir: pathlib.Path) -> tuple[str, int, dict]:
    """``(master, shuffle_partitions, extra_conf)`` for this host and input.

    Cores come from the host, driver memory from its physical RAM (an
    eighth, between 1 and 4 GiB), shuffle partitions from the input size
    alone, and every scratch file goes under ``work_dir``."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem_mb = max(1024, min(4096, ram // 8 // 2**20))
    local = work_dir / "spark-local"
    local.mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.driver.memory": f"{mem_mb}m",
        "spark.local.dir": str(local),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
        "spark.sql.warehouse.dir": str(work_dir / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    return f"local[{cores()}]", partitions_for(n_rows), conf


def persistent_rdds(spark) -> dict:
    return dict(spark.sparkContext._jsc.getPersistentRDDs())


def release_new_rdds(spark, before: dict) -> None:
    """Unpersist exactly the persistent RDDs created since ``before``."""
    for rid, jrdd in persistent_rdds(spark).items():
        if rid not in before:
            jrdd.unpersist(False)


@dataclass
class GroupStats:
    """Runtime totals of the jobs of one job group (or a sum of groups)."""

    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    input_records: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    spill_bytes: int = 0
    #: max ÷ median task run time of the group's busiest stage
    task_skew: float = 1.0
    _busiest: float = 0.0

    def __iadd__(self, o: "GroupStats") -> "GroupStats":
        for f in fields(self):
            if f.name not in ("task_skew", "_busiest"):
                setattr(self, f.name, getattr(self, f.name) + getattr(o, f.name))
        if o._busiest > self._busiest:
            self._busiest, self.task_skew = o._busiest, o.task_skew
        return self


class StatusReader:
    """Reads Spark's status store (works with the UI disabled)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        jvm, gw = self.sc._jvm, self.sc._gateway
        self._qs = gw.new_array(jvm.double, len(QUANTILES))
        for i, q in enumerate(QUANTILES):
            self._qs[i] = q
        self._jvm = jvm

    def group(self, group_id: str) -> GroupStats:
        out = GroupStats()
        for jid in self.sc.statusTracker().getJobIdsForGroup(group_id):
            out.jobs += 1
            sids = self.store.job(jid).stageIds()
            for i in range(sids.size()):
                self._add_stage(out, sids.apply(i))
        return out

    def _add_stage(self, out: GroupStats, sid: int) -> None:
        attempts = self.store.stageData(sid, False, self._jvm.java.util.ArrayList(), True, self._qs)
        if attempts.size() == 0:
            return
        sd = attempts.apply(attempts.size() - 1)
        if sd.numCompleteTasks() == 0:
            return  # skipped stage: its shuffle output was reused
        run_ms = sd.executorRunTime()
        out.tasks += sd.numCompleteTasks()
        out.executor_run_s += run_ms / 1000.0
        out.input_records += sd.inputRecords()
        out.shuffle_write_bytes += sd.shuffleWriteBytes()
        out.shuffle_write_records += sd.shuffleWriteRecords()
        out.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        dist = sd.taskMetricsDistributions()
        if run_ms > out._busiest and dist.isDefined():
            q = dist.get().executorRunTime()
            med, mx = q.apply(0), q.apply(1)
            out._busiest = run_ms
            out.task_skew = mx / med if med > 0 else 1.0


def _children(pid: int) -> list[int]:
    try:
        text = pathlib.Path(f"/proc/{pid}/task/{pid}/children").read_text()
    except OSError:
        return []
    return [int(c) for c in text.split()]


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    todo, seen = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo += _children(pid)
    return seen


def peak_rss_mb() -> float:
    """Sum of the peak resident sizes (VmHWM) of this process and its
    descendants: the driver JVM and every Python worker still alive."""
    total_kb = 0
    for pid in process_tree():
        try:
            for line in pathlib.Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def _alive(pid: int) -> bool:
    try:
        stat = pathlib.Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return False
    return stat.rsplit(")", 1)[1].split()[0] != "Z"


def stop(spark, timeout_s: float = 30.0) -> None:
    """Stop Spark and wait until the JVM and every Python worker it started
    have exited; kill any that outlive ``timeout_s``."""
    kids = [p for p in process_tree() if p != os.getpid()]
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout_s
    for pid in kids:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

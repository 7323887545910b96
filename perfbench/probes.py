"""Measurement helpers: layer spans, process-tree memory, table digests.

Spans are recorded from the benchmark's own code around each call into a
pipeline layer.  Spark is lazy, so every span ends by forcing the layer's
output; the span then holds the wall time plus the Spark jobs, tasks and
failed tasks that ran inside it, read from ``SparkContext.statusTracker()``.
Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time

from pyspark.sql import DataFrame, functions as F


class Tracer:
    """Flat list of layer spans.  Each span runs its Spark jobs under its
    own job group, so its job and task counts are exact.  ``span`` yields
    a dict the caller fills with the layer's counts.  A disabled tracer
    still runs the code inside ``span`` but records nothing."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._n = 0

    @contextlib.contextmanager
    def span(self, layer: str):
        counts: dict = {}
        if not self.enabled:
            yield counts
            return
        self._n += 1
        group = f"span-{self._n}-{layer}"
        self.sc.setJobGroup(group, layer)
        rec = {"layer": layer, "start": time.perf_counter(), "counts": counts}
        try:
            yield counts
        finally:
            rec["end"] = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec.update(self._job_stats(group))
            self.spans.append(rec)

    def _job_stats(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = failed = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                stage = st.getStageInfo(sid)
                if stage:      # skipped stages ran no tasks
                    tasks += stage.numCompletedTasks + stage.numFailedTasks
                    failed += stage.numFailedTasks
        return {"jobs": len(jobs), "tasks": tasks, "tasks_failed": failed}


def force(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now and return a frame over the stored result,
    so the next layer's span does not recompute this one."""
    return df.localCheckpoint(eager=True)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    """Summed resident memory of ``root`` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then end the JVM it launched (it exits when its
    stdin closes) and wait until no child process of ours is left."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while len(process_tree(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)


class RssSampler:
    """Background thread keeping the peak summed RSS of this process tree
    (Python driver, JVM and Python workers)."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


TRIPLE_COLS = ["subj", "pred", "obj", "obj_is_uri", "obj_datatype", "source_doc"]


def triples_digest(df: DataFrame) -> tuple[int, int]:
    """(row count, order-free sum of row hashes) over the triple columns.
    The sum is taken as a decimal so it cannot overflow under ANSI mode."""
    h = F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\0"))
                     for c in TRIPLE_COLS])
    row = df.select(h.cast("decimal(38,0)").alias("h")) \
        .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")).first()
    return int(row["n"]), int(row["s"] or 0)


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) of a parquet table directory."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size

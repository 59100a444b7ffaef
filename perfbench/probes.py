"""Measurement helpers that sit outside the engine: spans with Spark
job-group counts, a /proc process-tree RSS sampler, and order-independent
digests and sizes of written parquet tables."""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _data_files(path: str):
    """Parquet data files of a (hive-partitioned) table directory; hidden
    and underscore-prefixed entries (_SUCCESS, _EMPTY_SCHEMA, .crc) are
    not table data."""
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")):
                yield os.path.join(root, f)


def table_size(path: str) -> tuple[int, int]:
    """(bytes, files) of a table's data files; (0, 0) when absent."""
    sizes = [os.path.getsize(f) for f in _data_files(path)]
    return sum(sizes), len(sizes)


def read_table(path: str):
    """The table as a pyarrow Table, read without Spark, so the check does
    not trust the engine's own reader. ``None`` when nothing was written."""
    import pyarrow.dataset as pads
    if not any(True for _ in _data_files(path)):
        return None
    return pads.dataset(path, format="parquet", partitioning="hive").to_table()


def table_digest(table) -> str:
    """``rows:hash``: the sum mod 2^64 of a 64-bit hash of each row over all
    columns (in sorted name order), so row and file order do not matter.
    Nested values (vectors) are hashed through their exact ``repr``."""
    if table is None:
        return "0:absent"
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    cols = {}
    for name in sorted(table.column_names):
        col = table.column(name)
        cols[name] = (pd.Series([repr(v) for v in col.to_pylist()],
                                dtype=object)
                      if pa.types.is_nested(col.type) else col.to_pandas())
    h = pd.util.hash_pandas_object(pd.DataFrame(cols), index=False)
    return f"{table.num_rows}:{int(h.to_numpy().sum(dtype=np.uint64)):016x}"


def sink(df) -> None:
    """Materialise every column of ``df`` without writing it anywhere."""
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------- RSS

def _child_map() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited between listdir and open
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    kids, todo, out = _child_map(), [root], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """False once ``pid`` has exited (a zombie has exited too)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def rss_bytes(pids) -> int:
    """Summed resident bytes of ``pids`` (those that still exist)."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """One daemon thread summing the RSS of a process tree (here the driver
    Python, the JVM and the pyspark.daemon workers) every ``interval``
    seconds; ``peak`` is the maximum since the last reset. The tree is
    re-walked every ``rescan`` samples, which keeps the sampler's own CPU
    use far below the job's."""

    def __init__(self, root: int, interval: float = 0.05, rescan: int = 10):
        self.root, self.interval, self.rescan = root, interval, rescan
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        n, pids = 0, []
        while not self._stop.is_set():
            if n % self.rescan == 0:
                pids = descendants(self.root)
            n += 1
            rss = rss_bytes(pids)
            with self._lock:
                self.peak = max(self.peak, rss)
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        with self._lock:
            self.peak = 0

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------- spans

def group_counts(sc, group: str, timeout: float = 10.0) -> tuple[int, int, int]:
    """(jobs, tasks run, tasks failed) of a Spark job group, read from the
    StatusTracker once every job in the group has ended (the status store
    is fed asynchronously by the listener bus)."""
    st = sc.statusTracker()
    deadline = time.monotonic() + timeout
    while True:
        infos = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
        if all(i is not None and i.status != "RUNNING" for i in infos) \
                or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    tasks = failed = 0
    for info in infos:
        failed += int(info is not None and info.status == "FAILED")
        for sid in (info.stageIds if info is not None else ()):
            si = st.getStageInfo(sid)
            if si is not None:
                tasks += si.numCompletedTasks + si.numFailedTasks
                failed += si.numFailedTasks
    return len(infos), tasks, failed


class Tracer:
    """Spans kept in memory: name, start, end, parent and run id, plus the
    Spark jobs each span's own job group ran.

    A span may name a ``base``: the span whose cumulative prefix it
    recomputes. Its self time is its duration minus the base's. A prefix
    the program itself persists is not recomputed, so a span reading from
    that cache has no base."""

    def __init__(self, sc, run_id: str):
        self.sc, self.run_id = sc, run_id
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, base: str | None = None):
        rec = {"name": name, "run_id": self.run_id, "base": base,
               "parent": self._stack[-1]["name"] if self._stack else None,
               "group": f"{self.run_id}/{len(self.spans)}"}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"],
                                    self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def finish(self) -> None:
        """Attach job/task counts to every span (after all have ended)."""
        for rec in self.spans:
            rec["jobs"], rec["tasks"], rec["tasks_failed"] = \
                group_counts(self.sc, rec["group"])

    def dur(self, name: str) -> float:
        return sum(r["end"] - r["start"] for r in self.spans
                   if r["name"] == name)

    def self_s(self, name: str) -> float:
        rec = next(r for r in self.spans if r["name"] == name)
        return self.dur(name) - (self.dur(rec["base"]) if rec["base"] else 0.0)

    def layer_counts(self, layer: str) -> tuple[int, int, int]:
        spans = [r for r in self.spans
                 if r["name"].split(".")[0] == layer]
        return tuple(sum(r[k] for r in spans)
                     for k in ("jobs", "tasks", "tasks_failed"))

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra},
                      fh, indent=1, sort_keys=True)

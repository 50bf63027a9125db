"""Tracing from outside the program: spans around calls into the repo's
public functions, Spark job groups per span, stage metrics read back from
Spark's status store (works with ``spark.ui.enabled=false``), and a /proc
sampler for the resident memory of the driver JVM and its Python workers.

A span is (id, name, parent, start, end). A layer's self time is its span's
duration minus the part covered by child spans. Spans are kept in memory
and written out by the caller when the run ends.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame

PKG = "drug_target_discovery_spark"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": f"perfbench-{len(self.spans)}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name, False)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(top["id"], top["name"], False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def self_times(self) -> dict[str, float]:
        """span id -> duration minus the time its direct children cover."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0) for s in self.spans}

    def total(self, name: str) -> float:
        """Summed duration of the spans with this name, children included."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def layer_self(self, names: set[str] | str) -> float:
        names = {names} if isinstance(names, str) else names
        st = self.self_times()
        return sum(st[s["id"]] for s in self.spans if s["name"] in names)

    def export(self, t0: float) -> list[dict]:
        return [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
        ]


def materialize(out):
    """Force a lazily planned result so the span that produced it owns its
    execution: each DataFrame is replaced by an eager local checkpoint of
    itself, which also cuts its lineage, so later stages plan against a
    leaf instead of re-planning the whole chain. Returns (new result, row
    count of its first DataFrame or None)."""
    if isinstance(out, DataFrame):
        df = out.localCheckpoint(eager=True)
        return df, df.count()
    if isinstance(out, tuple) and any(isinstance(x, DataFrame) for x in out):
        done = [materialize(x) if isinstance(x, DataFrame) else (x, None) for x in out]
        return tuple(x for x, _ in done), next(n for _, n in done if n is not None)
    return out, None


class Patches:
    """Replace functions with traced wrappers and put them back on exit,
    including every name the package's modules imported them under."""

    def __init__(self):
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, factory) -> None:
        orig = getattr(owner, attr)
        wrapped = functools.wraps(orig)(factory(orig))
        targets = [owner]
        if not isinstance(owner, type):
            targets += [
                m for n, m in list(sys.modules.items())
                if m is not None and m is not owner and n.startswith(PKG)
                and getattr(m, attr, None) is orig
            ]
        for t in targets:
            self._undo.append((t, attr, orig))
            setattr(t, attr, wrapped)

    def restore(self) -> None:
        for t, attr, orig in reversed(self._undo):
            setattr(t, attr, orig)
        self._undo.clear()


def wrap_memos(patches: Patches, tracer: Tracer) -> dict:
    """Span every sweep-scoped memo build (``caching.fixture_cache`` and
    ``caching.fixture_checkpoint``); returns the live build counter."""
    import drug_target_discovery_spark.caching as caching

    count = {"builds": 0}

    def factory(orig):
        def w(*a, **k):
            count["builds"] += 1
            with tracer.span("caching.memo_build"):
                return orig(*a, **k)
        return w

    patches.wrap(caching, "fixture_cache", factory)
    patches.wrap(caching, "fixture_checkpoint", factory)
    return count


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

SPARK_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
)


def spark_metrics(sc, groups: list[str]) -> tuple[dict, dict[str, set[int]]]:
    """Sum the stage metrics of every job run under the given job groups.
    Skipped stages (reused shuffle output) count as neither stage nor task.
    Also returns, per group, the RDD ids its executed stages touched."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    tot = dict.fromkeys(SPARK_KEYS, 0.0)
    seen_stages: set[int] = set()
    rdds: dict[str, set[int]] = {}
    for g in groups:
        rdds[g] = set()
        for jid in tracker.getJobIdsForGroup(g):
            tot["jobs"] += 1
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen_stages:
                    continue
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # stage evicted or never submitted
                    continue
                if str(st.status().toString()) == "SKIPPED":
                    continue
                seen_stages.add(sid)
                tot["stages"] += 1
                tot["tasks"] += st.numCompleteTasks()
                tot["executor_run_s"] += st.executorRunTime() / 1e3
                tot["executor_cpu_s"] += st.executorCpuTime() / 1e9
                tot["gc_s"] += st.jvmGcTime() / 1e3
                tot["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
                tot["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                tot["spill_mb"] += st.diskBytesSpilled() / 2**20
                ids = str(st.rddIds().mkString(","))
                rdds[g].update(int(x) for x in ids.split(",") if x)
    return tot, rdds


def persistent_rdd_ids(sc) -> set[int]:
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet()}


def storage_mb(sc) -> float:
    return sum(
        (r.memSize() + r.diskSize()) for r in sc._jsc.sc().getRDDStorageInfo()
    ) / 2**20


# ---------------------------------------------------------------------------
# Resident memory of the JVM process tree
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    """parent pid -> pids of its child processes, read from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    return children


def child_pids(parent: int) -> list[int]:
    return _children().get(parent, [])


def _tree_rss_bytes(root: int, page: int) -> int:
    children = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Peak RSS of a process and all its descendants, sampled every
    ``period`` seconds on a background thread between start() and stop()."""

    def __init__(self, pid: int, period: float = 0.1):
        self.pid, self.period = pid, period
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(self.pid, self._page))
            if self._stop.wait(self.period):
                return

    def __enter__(self):
        self.peak = 0
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, _tree_rss_bytes(self.pid, self._page))

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20

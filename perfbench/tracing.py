"""In-memory spans around the package's public calls, Spark job groups per
span, and a per-group rollup of the Spark event log.

The tracer wraps methods from outside (the package is not modified): each
wrapper records a span — name, start, end, parent and generation — and
sets the Spark job group for the duration of the call in the calling
thread. ``setJobGroup`` is thread-local, which is why the wrapper sets it
itself: the crawl's rollup writes run in pool threads."""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

_GROUP_KEY = "spark.jobGroup.id"

# job groups of the crawl's traced spans
READ_GROUP = "catalog_read"
RUN_GROUP = "crawl_other"


def stage_group(table: str) -> str:
    """Job group of the catalog writes of one table."""
    return f"stage:{table}"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    generation: int | None = None
    group: str | None = None
    files: list[str] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.active = False
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._patched: list[tuple[type, str, object]] = []
        self.groups: set[str] = set()  # every job group a span has set

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, generation: int | None = None, group: str | None = None):
        stack = self._stack()
        # a pool thread's first span hangs off whatever the main thread is
        # inside (the crawl generation that submitted the work)
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        if generation is None and parent is not None:
            generation = self.spans[parent].generation
        prev_group = None
        if group is not None:
            prev_group = self.sc.getLocalProperty(_GROUP_KEY)
            self.sc.setJobGroup(group, name)
            self.groups.add(group)
        span = Span(name, time.perf_counter(), parent=parent, generation=generation,
                    group=group)
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx, prev_group

    def end(self, token) -> Span:
        idx, prev_group = token
        span = self.spans[idx]
        span.end = time.perf_counter()
        self._stack().pop()
        if span.group is not None:
            # a null value removes the property (SparkContext.setLocalProperty)
            self.sc.setLocalProperty(_GROUP_KEY, prev_group)
        return span

    def wrap(self, cls: type, method: str, name: str, group=None, generation=None) -> None:
        """Replace ``cls.method`` by a span-recording wrapper while active.
        ``group`` and ``generation`` map the call's (args, kwargs) to the job
        group and generation, or are None."""
        orig = getattr(cls, method)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            token = tracer.begin(
                name(args, kwargs) if callable(name) else name,
                generation(args, kwargs) if generation else None,
                group(args, kwargs) if callable(group) else group,
            )
            try:
                out = orig(*args, **kwargs)
                if isinstance(out, list) and all(isinstance(f, str) for f in out):
                    tracer.spans[token[0]].files = list(out)
                return out
            finally:
                tracer.end(token)

        setattr(cls, method, wrapper)
        self._patched.append((cls, method, orig))

    def unwrap_all(self) -> None:
        for cls, method, orig in reversed(self._patched):
            setattr(cls, method, orig)
        self._patched.clear()

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]


def _arg(pos: int, key: str):
    def get(args, kwargs):
        return kwargs[key] if key in kwargs else args[pos]
    return get


def install_catalog_and_crawl(tracer: Tracer) -> None:
    """Spans around the public SnapshotCatalog calls the crawl makes and
    around CrawlJob.run. Catalog writes get a job group per table; reads and
    jobs outside any catalog span fall into the generation's group."""
    from scrapy_spark.plans.crawl import CrawlJob
    from scrapy_spark.sources.catalog import SnapshotCatalog

    table = _arg(2, "table")
    tracer.wrap(SnapshotCatalog, "stage", lambda a, k: f"catalog.stage:{table(a, k)}",
                group=lambda a, k: stage_group(table(a, k)),
                generation=_arg(3, "generation"))
    tracer.wrap(SnapshotCatalog, "stage_pandas", "catalog.stage_pandas",
                generation=_arg(3, "generation"))
    tracer.wrap(SnapshotCatalog, "commit", "catalog.commit", generation=_arg(1, "generation"))
    for m in ("staged_rows", "staged_column_sum", "read", "read_files"):
        tracer.wrap(SnapshotCatalog, m, f"catalog.{m}", group=READ_GROUP)
    tracer.wrap(CrawlJob, "run", "crawl.run", group=RUN_GROUP,
                generation=lambda a, k: a[0].catalog.committed_generation() + 1)


def interval_union(spans: list[Span]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s in sorted(spans, key=lambda s: s.start):
        if cur_e is None or s.start > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s.start, s.end
        else:
            cur_e = max(cur_e, s.end)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def event_log_rollup(log_dir: str, app_id: str) -> dict[str, dict[str, float]]:
    """Per job group: executor CPU seconds, shuffle bytes written, bytes
    spilled and task skew (max over median task duration), read from the
    uncompressed (rolling or single-file) event log of application app_id."""
    files = [
        os.path.join(dirpath, n)
        for dirpath, _dirs, names in os.walk(log_dir)
        for n in names
        if app_id in n and (n.startswith("events_") or n.startswith(app_id))
    ]
    group_of_stage: dict[int, str] = {}
    tasks: dict[str, list[tuple[float, float, float, float]]] = {}
    pending: list[dict] = []
    for path in sorted(files):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(_GROUP_KEY)
                    for sid in ev.get("Stage IDs", []):
                        group_of_stage[sid] = group or "none"
                elif kind == "SparkListenerTaskEnd":
                    pending.append(ev)
    for ev in pending:
        group = group_of_stage.get(ev.get("Stage ID"), "none")
        m = ev.get("Task Metrics") or {}
        info = ev.get("Task Info") or {}
        sw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        spill = m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
        tasks.setdefault(group, []).append(
            (m.get("Executor CPU Time", 0) / 1e9, float(sw), float(spill), dur)
        )
    out = {}
    for group, rows in tasks.items():
        durs = [r[3] for r in rows]
        med = statistics.median(durs)
        out[group] = {
            "executor_cpu_s": sum(r[0] for r in rows),
            "shuffle_bytes": sum(r[1] for r in rows),
            "spill_bytes": sum(r[2] for r in rows),
            "task_skew": max(durs) / med if med > 0 else 1.0,
            "tasks": len(rows),
        }
    return out


def merge_groups(rollup: dict[str, dict[str, float]], groups: list[str]) -> dict[str, float]:
    """Sum the counters of several job groups; skew is the largest."""
    rows = [rollup[g] for g in groups if g in rollup]
    if not rows:
        return {"executor_cpu_s": 0.0, "shuffle_bytes": 0.0, "spill_bytes": 0.0, "task_skew": 0.0}
    return {
        "executor_cpu_s": sum(r["executor_cpu_s"] for r in rows),
        "shuffle_bytes": sum(r["shuffle_bytes"] for r in rows),
        "spill_bytes": sum(r["spill_bytes"] for r in rows),
        "task_skew": max(r["task_skew"] for r in rows),
    }

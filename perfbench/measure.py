"""Outside-in measurement: Spark's event log, process RSS, and spans.

Nothing here reaches inside ``lieu_spark``. Layer timings come from
spans the benchmark records around its own calls into the public entry
points (plus ``PipelineResult.stage_wall`` in eager mode), and Spark
run metrics come from the event log the session writes when started
with ``spark.eventLog.enabled`` through ``build_session(extra_conf=)``.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

from lieu_spark.checkpoint import StageStore

MB = 1024 * 1024


# ---------------------------------------------------------------- event log

@dataclass
class Task:
    launch: float  # unix seconds
    run_s: float
    gc_s: float
    shuffle_write: int
    spill: int


@dataclass
class EventLog:
    """Incremental reader of the session's event log (one JSON event per
    line). ``sync()`` drains Spark's listener bus first, so every task of
    every finished job is on disk (the writer flushes on each job end)."""

    spark: object
    log_dir: Path
    tasks: list[Task] = field(default_factory=list)
    job_starts: list[float] = field(default_factory=list)
    _path: Path | None = None
    _pos: int = 0

    def sync(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        if self._path is None:
            app = self.spark.sparkContext.applicationId
            found = [p for p in self.log_dir.iterdir() if p.name.startswith(app)]
            if not found:
                raise RuntimeError(f"no event log for {app} in {self.log_dir}")
            self._path = found[0]
        with open(self._path, "rb") as fh:
            fh.seek(self._pos)
            data = fh.read()
        end = data.rfind(b"\n") + 1  # only complete lines
        self._pos += end
        for line in data[:end].splitlines():
            if line.startswith(b'{"Event":"SparkListenerTaskEnd"'):
                self._task(json.loads(line))
            elif line.startswith(b'{"Event":"SparkListenerJobStart"'):
                self.job_starts.append(json.loads(line)["Submission Time"] / 1000)

    def _task(self, ev: dict) -> None:
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        self.tasks.append(
            Task(
                launch=info["Launch Time"] / 1000,
                run_s=m.get("Executor Run Time", 0) / 1000,
                gc_s=m.get("JVM GC Time", 0) / 1000,
                shuffle_write=(m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                ),
                spill=m.get("Disk Bytes Spilled", 0),
            )
        )

    def window(self, t0: float, t1: float) -> list[Task]:
        return [t for t in self.tasks if t0 <= t.launch < t1]

    def jobs_in(self, t0: float, t1: float) -> int:
        return sum(1 for s in self.job_starts if t0 <= s < t1)


def runtime_metrics(tasks: list[Task], wall: float, cores: int) -> dict[str, float]:
    task_s = sum(t.run_s for t in tasks)
    return {
        "spark.task_s": task_s,
        "spark.core_util": task_s / (wall * cores) if wall > 0 else 0.0,
        "spark.gc_s": sum(t.gc_s for t in tasks),
        "spark.spill_mb": sum(t.spill for t in tasks) / MB,
        "spark.tasks": float(len(tasks)),
    }


def shuffle_mb(tasks: list[Task]) -> float:
    return sum(t.shuffle_write for t in tasks) / MB


# -------------------------------------------------------------------- memory

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rfind(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids, out, todo = _children_map(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def rss_bytes(pids: list[int]) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", "rb") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass  # a python worker exited between listing and reading
    return total


class RssSampler:
    """Peak summed RSS of a process tree (the Spark JVM and the Python
    workers it forks), sampled every ``interval`` seconds while running.
    Use as a context manager around the timed region."""

    def __init__(self, root_pid: int, interval: float = 0.05) -> None:
        self.root_pid = root_pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids, listed = [], 0.0
        while True:
            now = time.monotonic()
            if now - listed > 0.5:
                pids, listed = process_tree(self.root_pid), now
            self.peak = max(self.peak, rss_bytes(pids))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# --------------------------------------------------------------------- spans

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans. Parents are assigned by interval containment when
    the tree is read, so spans may be recorded in any order (stage spans
    are rebuilt from ``stage_wall`` after ``run_pipeline`` returns)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float) -> None:
        self.spans.append(Span(name, start, end))

    @contextmanager
    def span(self, name: str):
        start = time.time()
        try:
            yield
        finally:
            self.add(name, start, time.time())

    def tree(self) -> list[Span]:
        # longest-first, so an enclosing span is placed before its children
        order = sorted(self.spans, key=lambda s: (s.start, -s.dur))
        for i, s in enumerate(order):
            s.parent = None
            for j in range(i - 1, -1, -1):
                p = order[j]
                if p.start <= s.start and s.end <= p.end + 1e-6:
                    s.parent = j
                    break
        self.spans = order
        return order

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == idx
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return s.dur - covered

    def innermost(self, t: float) -> int | None:
        best = None
        for i, s in enumerate(self.spans):
            if s.start <= t < s.end and (best is None or s.dur <= self.spans[best].dur):
                best = i
        return best

    def dump(self, path: Path, events: EventLog | None) -> list[dict]:
        """Write the span tree with self times and the Spark task metrics
        billed to each span (by task launch time); returns the rows."""
        self.tree()
        billed: dict[int, list[Task]] = {}
        if events is not None and self.spans:
            t0 = min(s.start for s in self.spans)
            t1 = max(s.end for s in self.spans)
            for task in events.window(t0, t1):
                idx = self.innermost(task.launch)
                if idx is not None:
                    billed.setdefault(idx, []).append(task)
        rows = []
        for i, s in enumerate(self.spans):
            tasks = billed.get(i, [])
            rows.append({
                "name": s.name,
                "parent": s.parent,
                "start": s.start,
                "dur_s": s.dur,
                "self_s": self.self_time(i),
                "tasks": len(tasks),
                "task_s": sum(t.run_s for t in tasks),
                "shuffle_mb": shuffle_mb(tasks),
            })
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(rows, indent=1))
        return rows


@dataclass
class TracedStageStore(StageStore):
    """A StageStore whose public ``save``/``load`` calls are recorded as
    spans. ``save`` ends with a ``load`` of what it wrote, so the load
    span nests inside the save span."""

    tracer: Tracer | None = None

    def save(self, spark, stage, df, fingerprint):
        with self.tracer.span(f"checkpoint.save:{stage}"):
            return super().save(spark, stage, df, fingerprint)

    def load(self, spark, stage):
        with self.tracer.span(f"checkpoint.load:{stage}"):
            return super().load(spark, stage)


def dir_mb(path: Path) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / MB

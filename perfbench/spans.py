"""Spans around layer calls, a storage sampler, and Spark event-log parsing.

A span is recorded around each call the benchmark makes into a layer's
public function. With ``tag_jobs`` the span id is also set as the Spark job
description, so every job the call submits carries it into the event log;
the log's task records then give the span's busy and idle time, CPU, GC,
shuffle, spill and failed attempts. Spans stay in memory and are written
out once, at the end.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

MB = 1024 * 1024
_TAG = "span:"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0
    # cached storage around the call, read only when jobs are tagged
    cached_before: int = 0
    cached_after: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans (epoch-second bounds, parent, run id) in memory."""

    def __init__(self, sc, tag_jobs: bool):
        self.sc = sc
        self.tag_jobs = tag_jobs
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.run = ""

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, self.run, time.time())
        self.spans.append(s)
        self._stack.append(s.id)
        if self.tag_jobs:
            s.cached_before = cached_bytes(self.sc)
            s.start = time.time()
        self._tag(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)
            if self.tag_jobs:
                s.cached_after = cached_bytes(self.sc)

    def _tag(self, sid: int | None) -> None:
        if self.tag_jobs:
            self.sc.setJobDescription(None if sid is None else f"{_TAG}{sid}")

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def subtree(self, sid: int) -> set[int]:
        out, todo = set(), [sid]
        while todo:
            cur = todo.pop()
            out.add(cur)
            todo.extend(s.id for s in self.spans if s.parent == cur)
        return out

    def self_seconds(self, s: Span) -> float:
        return s.seconds - sum(c.seconds for c in self.children(s.id))

    def named(self, name: str, run: str | None = None) -> list[Span]:
        return [s for s in self.spans if s.name == name and (run is None or s.run == run)]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self_s": self.self_seconds(s)}) + "\n")


def cached_bytes(sc) -> int:
    """Memory + disk bytes of every cached RDD (DataFrame caches included)."""
    return sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo())


class StorageSampler:
    """Polls cached storage from a side thread; ``peak`` is the highest reading."""

    def __init__(self, sc, interval: float = 0.02):
        self.sc = sc
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, cached_bytes(self.sc))
            self._stop.wait(self.interval)

    def __enter__(self) -> "StorageSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=30)
        if self._thread.is_alive():
            raise RuntimeError("storage sampler did not stop")
        self.peak = max(self.peak, cached_bytes(self.sc))


@dataclass
class EventLog:
    """The parts of a Spark event log the per-layer metrics need."""

    job_span: dict[int, int | None] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    # one dict per task attempt
    tasks: list[dict] = field(default_factory=list)

    @classmethod
    def read(cls, path: str) -> "EventLog":
        log = cls()
        with open(path) as f:
            for line in f:
                head = line[:48]
                if '"SparkListenerTaskEnd"' in head:
                    log._task(json.loads(line))
                elif '"SparkListenerJobStart"' in head:
                    ev = json.loads(line)
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    job = ev["Job ID"]
                    log.job_span[job] = int(desc[len(_TAG):]) if desc.startswith(_TAG) else None
                    for st in ev.get("Stage IDs", []):
                        log.stage_job.setdefault(st, job)
        return log

    def _task(self, ev: dict) -> None:
        info = ev["Task Info"]
        m = ev.get("Task Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        self.tasks.append(
            {
                "stage": ev["Stage ID"],
                "start": info["Launch Time"] / 1000.0,
                "end": info["Finish Time"] / 1000.0,
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "failed": bool(info.get("Failed") or info.get("Killed"))
                or (ev.get("Task End Reason") or {}).get("Reason") != "Success",
            }
        )

    def span_of_task(self, t: dict) -> int | None:
        job = self.stage_job.get(t["stage"])
        return None if job is None else self.job_span.get(job)

    def busy_seconds(self, start: float, end: float) -> float:
        """Length of [start, end] covered by at least one task attempt."""
        ivs = sorted(
            (max(t["start"], start), min(t["end"], end))
            for t in self.tasks
            if t["end"] > start and t["start"] < end
        )
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return busy

    def totals(self, span_ids: set[int]) -> dict:
        """Task totals over the jobs tagged with any of ``span_ids``."""
        tasks = [t for t in self.tasks if self.span_of_task(t) in span_ids]
        jobs = {j for j, s in self.job_span.items() if s in span_ids}
        run_s = sum(t["run_s"] for t in tasks)
        cpu_s = sum(t["cpu_s"] for t in tasks)
        return {
            "jobs": len(jobs),
            "stages": len({t["stage"] for t in tasks}),
            "tasks": len(tasks),
            "run_s": run_s,
            "cpu_frac": cpu_s / run_s if run_s else 0.0,
            "gc_s": sum(t["gc_s"] for t in tasks),
            "shuffle_mb": sum(t["shuffle_write"] for t in tasks) / MB,
            "spill_mb": sum(t["spill"] for t in tasks) / MB,
            "retries": sum(t["failed"] for t in tasks),
        }

"""Spans around calls into the engine's public functions (traced runs only).

A span has a name, a start, an end and the span that caused it.  Spans stay
in memory and are written out when the run ends.  Each span sets a Spark job
group while it is open, so every Spark job is tied to the innermost span
that started it; the job, stage and task figures come from the driver's
local REST API (the UI is enabled in traced runs only).
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
import urllib.request
from dataclasses import asdict, dataclass


_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` costs one branch."""

    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self.jobs: list[dict] = []  # per Spark job: its span and the stages it ran
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            s = Span(len(self.spans), name, stack[-1].id if stack else None, time.perf_counter())
            self.spans.append(s)
        stack.append(s)
        outer_group = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, f"{name}#{s.id}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(_GROUP, outer_group)

    def wrap(self, name: str, fn):
        """``fn`` run inside a span named ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- after the run -------------------------------------------------------

    def attach_spark_metrics(self) -> None:
        """Tie each job (and the stages it ran) to the span whose job group
        started it, then fold the figures into every enclosing span."""
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        base = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"
        jobs = _get_json(f"{base}/jobs")
        stages = {s["stageId"]: s for s in _get_json(f"{base}/stages") if s["status"] != "SKIPPED"}
        by_id = {s.id: s for s in self.spans}
        owner: dict[int, int] = {}  # stage id -> first job that ran it
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            for sid in job["stageIds"]:
                owner.setdefault(sid, job["jobId"])
        for job in jobs:
            span = by_id.get(_span_id(job.get("jobGroup")))
            chain = []
            while span is not None:
                chain.append(span)
                span = by_id.get(span.parent)
            ran = [stages[sid] for sid in job["stageIds"] if sid in stages and owner[sid] == job["jobId"]]
            self.jobs.append(
                {
                    "job": job["jobId"],
                    "span": chain[0].id if chain else None,
                    "description": job.get("description") or job.get("name"),
                    "stages": [[st["stageId"], st["numTasks"], st["executorRunTime"]] for st in ran],
                }
            )
            for s in chain:
                s.jobs += 1
                s.stages += len(ran)
                for st in ran:
                    s.tasks += st["numTasks"]
                    s.executor_run_s += st["executorRunTime"] / 1000.0
                    s.shuffle_read_bytes += st["shuffleReadBytes"]
                    s.shuffle_write_bytes += st["shuffleWriteBytes"]
                    s.spill_bytes += st["memoryBytesSpilled"] + st["diskBytesSpilled"]

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": [asdict(s) for s in self.spans], "jobs": self.jobs}, f, indent=1)


def _span_id(group: str | None) -> int | None:
    if not group or "#" not in group:
        return None
    return int(group.rsplit("#", 1)[1])


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def traced_conf() -> dict[str, str]:
    """Extra session settings of a traced run: the UI (for its REST API) and
    enough retained jobs and stages to hold a whole run."""
    return {
        "spark.ui.enabled": "true",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }

"""Spans, Spark REST queries and job attribution for the traced run.

Spans are recorded by the benchmark around calls into the engine's
public functions (and a few module attributes the engine looks up at
call time); nothing inside ``fences_spark`` is changed.  Every span
tags the Spark jobs started inside it with a job group, so the jobs a
span ran can be read back from the Spark UI's status REST API.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime, timezone


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def union_length(intervals) -> float:
    """Total length covered by ``[(start, end), ...]``; overlaps count once."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its children cover.  Child
    intervals are clipped to the parent and may overlap each other."""
    clipped = [(max(c.start, span.start), min(c.end, span.end))
               for c in children if c.end is not None]
    return span.duration - union_length([(s, e) for s, e in clipped if e > s])


def no_span(name: str, **attrs):
    """The untraced stand-in for :meth:`Tracer.span`."""
    return contextlib.nullcontext()


class Tracer:
    """In-memory span recorder.  While a span is open, the Spark jobs the
    calling thread starts carry the job group ``fb-<span id>``."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []  # open spans; one driver thread opens them all
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def open(self, name: str, **attrs) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(len(self.spans), name, parent, time.perf_counter(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp.sid)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._stack.remove(sp)
        self._set_group(self._stack[-1].sid if self._stack else None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sp = self.open(name, **attrs)
        try:
            yield sp
        finally:
            self.close(sp)

    def _set_group(self, sid: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id",
                                     None if sid is None else f"fb-{sid}")

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.sid]

    def descendants(self, sp: Span) -> set[int]:
        out, todo = set(), [sp.sid]
        while todo:
            p = todo.pop()
            for s in self.spans:
                if s.parent == p:
                    out.add(s.sid)
                    todo.append(s.sid)
        return out

    # -- wrapping engine functions --------------------------------------
    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper until
        :meth:`unwrap_all`.  ``on_result(span, args, kwargs, result)``
        may record attributes of the call."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            sp = self.open(name)
            try:
                result = orig(*args, **kwargs)
            finally:
                self.close(sp)
            if on_result is not None:
                on_result(sp, args, kwargs, result)
            return result

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


# ---------------------------------------------------------------------------
# Spark status REST API
# ---------------------------------------------------------------------------
def _ts(s: str) -> float:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=timezone.utc).timestamp()


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_metric(value: str) -> float:
    """'3,000' -> 3000; '1596.6 KiB' -> bytes; '275 ms' -> 275."""
    v = value.strip().split("\n")[0]
    m = re.match(r"^(?:total[^:]*:\s*)?([\d,.]+)\s*([A-Za-z]*)", v)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2), 1)


class SparkRest:
    """Reads jobs, stages and SQL executions of the running application."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self, timeout: float = 30.0) -> None:
        """Wait until the status store has seen every job and SQL
        execution end (listener events arrive asynchronously)."""
        deadline = time.monotonic() + timeout
        last = None
        while time.monotonic() < deadline:
            jobs = self._get("/jobs")
            sql = self._get("/sql?details=false&offset=0&length=1000000")
            running = [j for j in jobs if j["status"] == "RUNNING"] + [
                e for e in sql if e["status"] == "RUNNING"]
            sig = (len(jobs), len(sql))
            if not running and sig == last:
                return
            last = sig
            time.sleep(0.2)
        raise TimeoutError("Spark status store did not settle")

    def snapshot(self) -> "RestSnapshot":
        return RestSnapshot(
            jobs={j["jobId"]: j for j in self._get("/jobs")},
            stages={(s["stageId"], s["attemptId"]): s for s in self._get("/stages")},
            # the SQL listing is paged, 20 executions by default
            sql=self._get("/sql?details=true&planDescription=true&offset=0&length=1000000"),
        )


@dataclass
class RestSnapshot:
    jobs: dict
    stages: dict
    sql: list

    def jobs_in(self, groups: set[str]) -> list[dict]:
        return [j for j in self.jobs.values() if j.get("jobGroup") in groups]

    def job_interval(self, job: dict) -> tuple[float, float]:
        return _ts(job["submissionTime"]), _ts(job.get("completionTime") or job["submissionTime"])

    def stage_sum(self, jobs: list[dict], key: str) -> float:
        """Sum a stage metric over the stages the jobs ran, each stage
        once (skipped stages report zeros)."""
        ids = {sid for j in jobs for sid in j["stageIds"]}
        return sum(st.get(key, 0) for (sid, _), st in self.stages.items() if sid in ids)

    def executions_of(self, jobs: list[dict]) -> list[dict]:
        ids = {j["jobId"] for j in jobs}
        return [e for e in self.sql
                if ids & set(e.get("successJobIds", []) + e.get("failedJobIds", [])
                             + e.get("runningJobIds", []))]

    def execution_of_job(self, job_id: int) -> dict | None:
        for e in self.sql:
            if job_id in e.get("successJobIds", []) + e.get("failedJobIds", []):
                return e
        return None


def node_metric(executions: list[dict], node_name: str, metric: str) -> float:
    total = 0.0
    for e in executions:
        for n in e.get("nodes", []):
            if n["nodeName"] == node_name:
                for m in n.get("metrics", []):
                    if m["name"] == metric:
                        total += parse_metric(m["value"])
    return total


def scan_rows(executions: list[dict], file_bytes: int) -> tuple[float, float]:
    """(rows read by scans of a file of ``file_bytes`` bytes, rows read by
    every other parquet scan).  A scan node names no path, so the
    source file is recognised by its size, which the UI rounds to four
    significant digits."""
    matched = other = 0.0
    for e in executions:
        for n in e.get("nodes", []):
            if n["nodeName"] != "Scan parquet":
                continue
            m = {x["name"]: x["value"] for x in n.get("metrics", [])}
            rows = parse_metric(m.get("number of output rows", "0"))
            size = parse_metric(m.get("size of files read", "0"))
            if m.get("number of files read", "").strip() == "1" and \
                    abs(size - file_bytes) <= max(0.0005 * file_bytes, 64):
                matched += rows
            else:
                other += rows
    return matched, other


_WRITE_RE = re.compile(r"\(\d+\) Execute InsertIntoHadoopFsRelationCommand\n"
                       r"(?:[^\n]+\n)*?Arguments: (file:[^,\s]+)")


def written_paths(execution: dict) -> list[str]:
    """Output paths of the parquet writes an execution performed."""
    return sorted(set(_WRITE_RE.findall(execution.get("planDescription", ""))))

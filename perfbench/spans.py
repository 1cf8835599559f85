"""Tracing from outside the program: spans, Spark REST metrics, peak RSS.

Nothing here touches levsim.  A traced run times the benchmark's own calls
into levsim, tags Spark jobs with job groups (the pipeline sets its own
``er_<stage>`` groups; the benchmark sets ``leaf_<name>`` around each
leaf), and reads job, stage and SQL-node metrics back from the Spark driver's
status REST API once the call has returned.  Spans are kept in memory and
written out as JSON lines when the run ends.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import threading
import time
import urllib.request
from dataclasses import asdict, dataclass, field
from typing import Iterable, Optional


@dataclass
class Span:
    span_id: int
    parent_id: Optional[int]
    name: str
    kind: str            # workload | op | layer | leaf | job
    start: float         # epoch seconds
    end: float
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span store; one trace per benchmark run."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[Span] = []

    def add(self, name: str, kind: str, start: float, end: float,
            parent: Optional[Span] = None, **attrs) -> Span:
        s = Span(len(self.spans) + 1, parent.span_id if parent else None, name, kind,
                 start, end, attrs)
        self.spans.append(s)
        return s

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"trace_id": self.trace_id, **asdict(s)}) + "\n")


def _epoch(ts: Optional[str]) -> Optional[float]:
    # REST timestamps look like 2026-10-17T03:19:01.444GMT
    if not ts:
        return None
    dt = datetime.datetime.strptime(ts[:23], "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp()


_DUR_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PY_INIT = ("time to start Python workers", "time to initialize Python workers")
_PY_RUN = "time to run Python workers"


def _metric_total_s(value: str) -> float:
    """Total of a Spark SQL timing metric, whose value reads
    'total (min, med, max (stageId: taskId))\\n9.5 s (2.3 s, ...)'."""
    line = value.split("\n")[-1].strip()
    num, unit = line.split(" ")[:2]
    return float(num.replace(",", "")) * _DUR_UNITS[unit]


class SparkRest:
    """Reader for the Spark driver's /api/v1 status endpoints."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.loads(r.read().decode())

    def jobs(self) -> list[dict]:
        return self._get("jobs")

    def settled_jobs(self, after: int) -> list[dict]:
        """Jobs with id > ``after`` once the status store has caught up
        (the listener bus is asynchronous): no job still running and two
        consecutive reads agree."""
        prev = None
        for _ in range(100):
            cur = [j for j in self.jobs() if j["jobId"] > after]
            key = sorted((j["jobId"], j["status"]) for j in cur)
            if key == prev and all(j["status"] != "RUNNING" for j in cur):
                return cur
            prev = key
            time.sleep(0.1)
        return cur

    def max_job_id(self) -> int:
        return max((j["jobId"] for j in self.jobs()), default=-1)

    def stages(self) -> dict[int, dict]:
        return {s["stageId"]: s for s in self._get("stages")}

    def sql(self, job_ids: Iterable[int] = ()) -> list[dict]:
        """SQL executions with node metrics, once every execution that ran
        one of ``job_ids`` has finished (its metrics are final then)."""
        ids = set(job_ids)
        for _ in range(100):
            # the endpoint pages by 20 executions unless told otherwise
            execs = self._get("sql?details=true&planDescription=false&offset=0&length=1000000")
            if not any(ex["status"] == "RUNNING" and ids.intersection(
                    ex["runningJobIds"] + ex["successJobIds"] + ex["failedJobIds"])
                    for ex in execs):
                return execs
            time.sleep(0.1)
        return execs


def job_metrics(jobs: Iterable[dict], stages: dict[int, dict], sql: list[dict]) -> dict:
    """Aggregate jobs, tasks, shuffle MB and Python-worker times over a set
    of jobs.  Python times are task-time totals of the SQL-node metrics
    'time to start/initialize Python workers' (init) and 'time to run
    Python workers' (run); executorCpuTime does not see Python workers."""
    jobs = list(jobs)
    ids = {j["jobId"] for j in jobs}
    tasks, shuffle = 0, 0
    for sid in {s for j in jobs for s in j["stageIds"]}:
        st = stages.get(sid)
        if st is None or st["status"] == "SKIPPED":
            continue
        tasks += st["numCompleteTasks"]
        shuffle += st["shuffleWriteBytes"]
    py_init = py_run = 0.0
    py_stages: set[int] = set()
    for ex in sql:
        if not ids.intersection(ex.get("successJobIds", []) + ex.get("failedJobIds", [])):
            continue
        for node in ex["nodes"]:
            for m in node["metrics"]:
                if m["name"] in _PY_INIT:
                    py_init += _metric_total_s(m["value"])
                elif m["name"] == _PY_RUN:
                    py_run += _metric_total_s(m["value"])
                    py_stages.update(int(s) for s in re.findall(r"stage (\d+)\.", m["value"]))
    return {"jobs": len(jobs), "tasks": tasks, "shuffle_mb": shuffle / 1e6,
            "python_stages": len(py_stages), "python_init_s": py_init,
            "python_run_s": py_run}


def job_spans(tracer: Tracer, jobs: Iterable[dict], parent: Span) -> None:
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        start, end = _epoch(j.get("submissionTime")), _epoch(j.get("completionTime"))
        if start is not None and end is not None:
            tracer.add(f"job{j['jobId']}", "job", start, end, parent,
                       group=j.get("jobGroup"), stages=j["stageIds"],
                       tasks=j["numCompletedTasks"], status=j["status"])


class RssSampler(threading.Thread):
    """Samples the summed RSS of a process tree (the Spark JVM and the
    Python workers it forks) from /proc every 50 ms; ``take_peak`` returns
    the largest sum seen since its previous call.

    A child that still runs the JVM's executable is a fork about to exec a
    helper (Hadoop's local file system shells out to chmod and friends
    without native libraries); its RSS is the JVM's own shared pages, so
    counting it would double the JVM whenever a sample lands on a fork."""

    def __init__(self, root_pid: int):
        super().__init__(daemon=True)
        self.root_pid = root_pid
        self.root_exe = self._exe(root_pid)
        self.peak_mb = 0.0
        self._lock = threading.Lock()
        self._stop_evt = threading.Event()

    @staticmethod
    def _children(pid: int) -> list[int]:
        out = []
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
        return out

    @staticmethod
    def _exe(pid: int) -> Optional[str]:
        try:
            return os.readlink(f"/proc/{pid}/exe")
        except OSError:
            return None

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> float:
        total, todo = self._rss_kb(self.root_pid), self._children(self.root_pid)
        while todo:
            pid = todo.pop()
            if self._exe(pid) == self.root_exe:
                continue
            total += self._rss_kb(pid)
            todo.extend(self._children(pid))
        mb = total / 1024.0
        with self._lock:
            self.peak_mb = max(self.peak_mb, mb)
        return mb

    def take_peak(self) -> float:
        """Peak since the previous call (or the start), then reset."""
        self.sample()
        with self._lock:
            peak, self.peak_mb = self.peak_mb, 0.0
        return peak

    def run(self) -> None:
        while not self._stop_evt.wait(0.05):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()

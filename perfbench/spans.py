"""Tracing for the benchmark's traced run, from outside the program.

``Tracer.install`` wraps the engine's public entry points and the calls
into each layer in spans (name, start, end, parent, request id). The
wrappers are installed on the engine's classes and modules for the life
of one traced run and removed by ``Tracer.uninstall``; nothing in
``antidb_spark`` is edited. Spans stay in memory and are written out at
the end of the run.

Spark work is attributed per operation with job groups: the job and
stage ids come from ``SparkContext.statusTracker()``; executor run time,
shuffle bytes and GC time from the Spark REST API (the UI is enabled
only in the traced session).
"""

from __future__ import annotations

import functools
import json
import time
import urllib.request
from dataclasses import dataclass, field

# (owner import path, attribute, span name): the layer boundaries timed.
# ``varint_decode`` is wrapped where ``operators.build`` binds it, so only
# the driver-side (warm path) decode is counted.
WRAPPED = (
    ("antidb_spark.operators.build:IndexBuilder", "build", "operators.build.build"),
    ("antidb_spark.operators.build:IndexBuilder", "query_warm", "operators.build.query_warm"),
    ("antidb_spark.operators.build:IndexBuilder", "query_batch", "operators.build.query_batch"),
    ("antidb_spark.operators.build:IndexBuilder", "upsert_docs", "operators.upsert.upsert_docs"),
    ("antidb_spark.operators.build:IndexBuilder", "delete_docs", "operators.upsert.delete_docs"),
    ("antidb_spark.operators.build:IndexBuilder", "rollback", "operators.build.rollback"),
    ("antidb_spark.operators.upsert", "append_run", "operators.upsert.append_run"),
    ("antidb_spark.sources.catalog:Catalog", "write", "sources.catalog.write"),
    ("antidb_spark.sources.catalog:Catalog", "replace", "sources.catalog.replace"),
    ("antidb_spark.sources.catalog:Catalog", "manifest", "sources.catalog.manifest"),
    ("antidb_spark.sources.catalog:Catalog", "read_arrow", "sources.catalog.read_arrow"),
    ("antidb_spark.sources.catalog:Catalog", "read_pruned_arrow", "sources.catalog.read_pruned_arrow"),
    ("antidb_spark.operators.build", "varint_decode", "functions.packing.varint_decode"),
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: str | None = None
    attrs: dict = field(default_factory=dict)
    children_s: float = 0.0  # summed duration of direct child spans

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.seconds - self.children_s


def _resolve(path: str):
    import importlib

    mod, _, cls = path.partition(":")
    owner = importlib.import_module(mod)
    return getattr(owner, cls) if cls else owner


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []
        self.request: str | None = None

    # -- spans --------------------------------------------------------------

    def span(self, name: str, fn, *args, **kwargs):
        sp = Span(name, 0.0, parent=self._stack[-1] if self._stack else None,
                  request=self.request)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        sp.start = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sp.parent is not None:
                self.spans[sp.parent].children_s += sp.seconds
        if name.endswith("read_pruned_arrow") or name.endswith("read_arrow"):
            sp.attrs["table"] = args[1] if len(args) > 1 else kwargs.get("name")
            sp.attrs["rows"] = out.num_rows
        elif name.endswith("varint_decode"):
            sp.attrs["bytes"] = len(args[0])
        elif name.endswith("catalog.write") or name.endswith("catalog.replace"):
            sp.attrs["table"] = args[2] if len(args) > 2 else kwargs.get("name")
        return out

    def install(self) -> None:
        for path, attr, name in WRAPPED:
            owner = _resolve(path)
            orig = owner.__dict__[attr]
            self._saved.append((owner, attr, orig))

            def wrapper(*args, _orig=orig, _name=name, **kwargs):
                return self.span(_name, _orig, *args, **kwargs)

            setattr(owner, attr, functools.wraps(orig)(wrapper))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "request": s.request, **s.attrs,
                }) + "\n")

    # -- aggregation --------------------------------------------------------

    def roots(self, name: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.name == name]

    def descendants(self, root: int) -> list[Span]:
        """Spans under ``root``; spans are appended in start order, so
        every descendant follows the root and starts before it ends."""
        ids, keep = {root}, []
        for j in range(root + 1, len(self.spans)):
            if self.spans[j].start > self.spans[root].end:
                break
            if self.spans[j].parent in ids:
                ids.add(j)
                keep.append(self.spans[j])
        return keep


class SparkProbe:
    """Per-operation Spark job/stage/task accounting via job groups."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.groups: dict[str, str] = {}  # job group -> op kind
        self._n = 0

    def start(self, kind: str) -> str:
        self._n += 1
        gid = f"{kind}-{self._n}"
        self.groups[gid] = kind
        self.sc.setJobGroup(gid, kind)
        return gid

    def stop(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def jobs(self, gid: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(gid))

    def _rest(self, path: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}{path}"
        with urllib.request.urlopen(url, timeout=10) as r:
            return json.load(r)

    def per_group(self) -> dict[str, dict[str, float]]:
        """{job group: {jobs, stages, tasks, executor_run_s,
        shuffle_write_bytes, gc_s, jobs_wall_s}} for every op started.
        Waits up to 10 s for the REST API to list every job as ended."""
        job_ids = {gid: self.jobs(gid) for gid in self.groups}
        want = {j for js in job_ids.values() for j in js}
        deadline = time.monotonic() + 10.0
        while True:
            jobs = {j["jobId"]: j for j in self._rest("/jobs")}
            stages = {st["stageId"]: st for st in self._rest("/stages")}
            settled = all(
                j in jobs and jobs[j]["status"] != "RUNNING"
                and all(
                    s in stages and stages[s]["status"] not in ("ACTIVE", "PENDING")
                    for s in jobs[j]["stageIds"]
                )
                for j in want
            )
            if settled or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        out: dict[str, dict[str, float]] = {}
        for gid, ids in job_ids.items():
            acc = out[gid] = {
                "jobs": len(ids), "stages": 0, "tasks": 0, "executor_run_s": 0.0,
                "shuffle_write_bytes": 0, "gc_s": 0.0, "jobs_wall_s": 0.0,
            }
            for j in ids:
                info = jobs.get(j)
                if info is None:
                    continue
                acc["jobs_wall_s"] += _job_wall(info)
                for s in info["stageIds"]:
                    st = stages.get(s)
                    if st is None or st["status"] == "SKIPPED":
                        continue  # reused shuffle output: no work ran
                    acc["stages"] += 1
                    acc["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                    acc["executor_run_s"] += st["executorRunTime"] / 1e3
                    acc["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                    acc["gc_s"] += st.get("jvmGcTime", 0) / 1e3
        return out


def _job_wall(info: dict) -> float:
    import datetime as dt

    def ts(s: str) -> float:
        return dt.datetime.strptime(s.replace("GMT", "+0000"),
                                    "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()

    if "submissionTime" not in info or "completionTime" not in info:
        return 0.0
    return ts(info["completionTime"]) - ts(info["submissionTime"])

"""Spans around calls into the program's layers, for the traced run only.

``Tracer.patch`` swaps a module-level function for a wrapper that opens a
span, calls the original, and materializes the DataFrame it returns
(``localCheckpoint(eager=True)``) inside the span: every layer call is
lazy, so without this a span would time plan building only. The extra
barriers are part of the tracing overhead the run reports.

Each span sets the Spark job group of its thread to the span id, so the
jobs it runs can be attributed to it afterwards from the REST API of the
traced session. Spans opened on another thread while a root span is open
(the pipeline's concurrent candidate chains) get the root as parent, so
they show as siblings. Spans are kept in memory and written once at the
end.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
import urllib.request
from datetime import datetime, timezone

from pyspark.sql import DataFrame

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: str | None = None
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[str]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        with self._lock:
            sid = f"span-{len(self.spans)}"
            rec = {
                "id": sid,
                "name": name,
                "parent": stack[-1] if stack else self._root,
                "thread": threading.current_thread().name,
                "start": time.time(),
                "end": None,
            }
            self.spans.append(rec)
            if self._root is None:
                self._root = sid
        prev = self._sc.getLocalProperty(GROUP_KEY)
        self._sc.setLocalProperty(GROUP_KEY, sid)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            self._sc.setLocalProperty(GROUP_KEY, prev)
            rec["end"] = time.time()
            with self._lock:
                if self._root == sid:
                    self._root = None

    def patch(self, module, attr: str, name: str, keep_input: int | None = None):
        """Wrap ``module.attr`` in a span named ``name``.

        A returned DataFrame (or the first element of a returned tuple) is
        materialized inside the span and kept on the span record as
        ``out``; other return values pass through. ``keep_input`` names a
        positional DataFrame argument to materialize first and keep as
        ``in``, for input/output ratios.
        """
        orig = getattr(module, attr)

        def wrapped(*args, **kwargs):
            with self.span(name) as rec:
                if keep_input is not None:
                    args = list(args)
                    args[keep_input] = _materialize(args[keep_input])
                    rec["in"] = args[keep_input]
                out = orig(*args, **kwargs)
                if isinstance(out, tuple) and out and isinstance(out[0], DataFrame):
                    out = (_materialize(out[0]),) + out[1:]
                    rec["out"] = out[0]
                elif isinstance(out, DataFrame):
                    out = _materialize(out)
                    rec["out"] = out
                return out

        setattr(module, attr, wrapped)
        self._patched.append((module, attr, orig))

    def restore(self):
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)


def _materialize(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def self_time(span: dict, spans: list[dict]) -> float:
    """Span duration minus the part of it its child spans cover."""
    kids = sorted(
        (max(c["start"], span["start"]), min(c["end"], span["end"]))
        for c in spans
        if c["parent"] == span["id"]
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span["end"] - span["start"] - covered


# --- Spark REST API of the traced session ----------------------------------


def _get(sc, path: str):
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def _ts(s: str) -> float:
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


def spark_jobs(sc, settle_s: float = 15.0) -> list[dict]:
    """Finished jobs of the session, each with the counters of the stages
    it computed.

    A stage id listed by several jobs (a shuffle map stage a later job
    skipped) is charged to the first job that lists it, so summing over
    jobs counts every stage once. The UI status store is fed
    asynchronously: poll until no job is running and two reads agree.
    """
    deadline = time.time() + settle_s
    last = None
    while True:
        jobs = _get(sc, "jobs")
        done = all(j["status"] != "RUNNING" for j in jobs)
        if (done and last is not None and len(jobs) == len(last)) or time.time() > deadline:
            break
        last = jobs
        time.sleep(0.3)
    stages: dict[int, list[int]] = {}
    for st in _get(sc, "stages"):
        if st["status"] != "COMPLETE":
            continue
        m = stages.setdefault(st["stageId"], [0, 0, 0])
        m[0] += st["executorRunTime"]
        m[1] += st["shuffleWriteBytes"]
        m[2] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
    charged: set[int] = set()
    out = []
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        task_ms = shuffle = spill = 0
        for sid in j["stageIds"]:
            if sid in charged:
                continue
            charged.add(sid)
            t, sh, sp = stages.get(sid, (0, 0, 0))
            task_ms, shuffle, spill = task_ms + t, shuffle + sh, spill + sp
        out.append({
            "job_id": j["jobId"],
            "group": j.get("jobGroup"),
            "description": j.get("description"),
            "submitted": _ts(j["submissionTime"]) if "submissionTime" in j else None,
            "task_ms": task_ms,
            "shuffle_bytes": shuffle,
            "spill_bytes": spill,
        })
    return out


def jobs_within(jobs: list[dict], span: dict) -> list[dict]:
    """Jobs submitted while ``span`` was open."""
    return [
        j for j in jobs
        if j["submitted"] is not None and span["start"] - 0.05 <= j["submitted"] <= span["end"]
    ]


def attribute(spans: list[dict], jobs: list[dict]) -> None:
    """Add each job's counters to the span whose id is its job group."""
    by_id = {s["id"]: s for s in spans}
    for j in jobs:
        s = by_id.get(j["group"])
        if s is None:
            continue
        s["jobs"] = s.get("jobs", 0) + 1
        for k in ("task_ms", "shuffle_bytes", "spill_bytes"):
            s[k] = s.get(k, 0) + j[k]


def dump(path: str, spans: list[dict], extra: dict) -> None:
    rows = [{k: v for k, v in s.items() if k not in ("in", "out")} for s in spans]
    with open(path, "w") as fh:
        json.dump({"spans": rows, **extra}, fh, indent=1, default=str)

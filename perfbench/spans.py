"""In-memory spans around the calls into the package's modules, and the
Spark event-log reader that attributes task counters to them.

Used by the traced run only (`--trace 1`). The wrappers are installed
from here over the package's public functions and methods, and
`Tracer.restore` puts the originals back; nothing under
`propensity_spark/` is edited.

Attribution rule: a wrapped call that may run Spark jobs sets the job
description `pbspan:<id>` on its thread for its duration (restoring the
previous one afterwards), so every job carries the innermost span that
submitted it. Jobs that `ml/training.py` labels `train <commodity>`
belong to the `train_commodity_models` span open when they were
submitted. A lazy plan runs in the span whose action triggers it: the
feature aggregation of a daily job, for example, executes inside
`feature_store.merge`'s staging write, not inside
`pipeline.engineer_features` where it is built.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import sys
import threading
import time
import uuid
from pathlib import Path

DESC_PREFIX = "pbspan:"


class Tracer:
    """Span recorder. One per traced run; spans stay in memory until
    `write` is called at the end of the run."""

    def __init__(self, sc):
        self.sc = sc
        self.trace_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self.active = True
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._main = threading.main_thread()
        self._main_stack: list[dict] = []
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, jobs: bool = True):
        """Context manager recording one span. `jobs=False` skips the
        job-description tagging for calls that never run Spark jobs."""
        return _Span(self, name, jobs)

    def record(self, name: str, start: float, end: float) -> None:
        """Add a finished top-level span timed by the caller."""
        with self._lock:
            self.spans.append(
                {
                    "id": next(self._ids),
                    "name": name,
                    "parent": None,
                    "thread": threading.current_thread().name,
                    "trace_id": self.trace_id,
                    "start": start,
                    "end": end,
                }
            )

    # -- wrappers ---------------------------------------------------------

    def _wrapper(self, orig, name: str, jobs: bool):
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            with tracer.span(name, jobs):
                return orig(*args, **kwargs)

        return wrapper

    def wrap_function(self, module, attr: str, name: str, jobs: bool = True) -> None:
        """Replace `module.attr` and every package module's imported
        alias of it (modules bind `from x import f` at import time)."""
        orig = getattr(module, attr)
        wrapper = self._wrapper(orig, name, jobs)
        for mod in list(sys.modules.values()):
            mod_name = getattr(mod, "__name__", "")
            if not (mod_name.startswith("propensity_spark") or mod_name == "__spark_entry__"):
                continue
            if getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapper)
                self._patches.append((mod, attr, orig))

    def wrap_method(self, cls, attr: str, name: str, jobs: bool = True) -> None:
        orig = cls.__dict__[attr]
        setattr(cls, attr, self._wrapper(orig, name, jobs))
        self._patches.append((cls, attr, orig))

    def restore(self) -> None:
        for obj, attr, orig in reversed(self._patches):
            setattr(obj, attr, orig)
        self._patches.clear()

    def write(self, path: Path, extra: dict) -> None:
        payload = {"trace_id": self.trace_id, "spans": self.spans, **extra}
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(payload, indent=1, default=str) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, jobs: bool):
        self.tracer, self.name, self.jobs = tracer, name, jobs

    def __enter__(self) -> dict:
        t = self.tracer
        stack = t._stack()
        with t._lock:
            if stack:
                parent = stack[-1]["id"]
            elif t._main_stack:
                # a pool thread with no open span of its own hangs
                # under the main thread's innermost open span
                parent = t._main_stack[-1]["id"]
            else:
                parent = None
            sp = {
                "id": next(t._ids),
                "name": self.name,
                "parent": parent,
                "thread": threading.current_thread().name,
                "trace_id": t.trace_id,
                "start": time.time(),
            }
            stack.append(sp)
        self.sp = sp
        if self.jobs:
            self.prev = t.sc.getLocalProperty("spark.job.description")
            t.sc.setJobDescription(f"{DESC_PREFIX}{sp['id']}")
        return sp

    def __exit__(self, *exc) -> None:
        t = self.tracer
        if self.jobs:
            t.sc.setJobDescription(self.prev)
        self.sp["end"] = time.time()
        with t._lock:
            t._stack().pop()
            t.spans.append(self.sp)


# -- event log ---------------------------------------------------------------


def read_event_log(log_dir: Path) -> tuple[list[dict], dict[int, list[dict]], dict[int, int]]:
    """Parse the event log under `log_dir` (Spark 4 writes it rolling, as
    `eventlog_v2_<app>/events_<n>_<app>`; plain JSON lines). Returns
    (jobs, tasks by stage id, written files by SQL execution id)."""
    jobs: list[dict] = []
    tasks: dict[int, list[dict]] = {}
    file_metric_ids: dict[int, set[int]] = {}
    acc_values: dict[int, dict[int, int]] = {}
    for f in sorted(log_dir.rglob("events_*"), key=lambda p: int(p.name.split("_")[1])):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs.append(
                        {
                            "id": ev["Job ID"],
                            "time": ev["Submission Time"] / 1000.0,
                            "stages": ev.get("Stage IDs", []),
                            "desc": props.get("spark.job.description"),
                            "execution": props.get("spark.sql.execution.id"),
                        }
                    )
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append(
                        {
                            "run_ms": m.get("Executor Run Time", 0),
                            "gc_ms": m.get("JVM GC Time", 0),
                            "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                            "spill": m.get("Disk Bytes Spilled", 0),
                            "written": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                        }
                    )
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    ids = file_metric_ids.setdefault(ev["executionId"], set())
                    _written_file_metrics(ev.get("sparkPlanInfo") or {}, ids)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    vals = acc_values.setdefault(ev["executionId"], {})
                    for acc_id, value in ev.get("accumUpdates", []):
                        vals[acc_id] = vals.get(acc_id, 0) + value
    files = {
        ex: sum(v for k, v in acc_values.get(ex, {}).items() if k in ids)
        for ex, ids in file_metric_ids.items()
    }
    return jobs, tasks, files


def _written_file_metrics(plan: dict, out: set[int]) -> None:
    for metric in plan.get("metrics", []):
        if metric.get("name") == "number of written files":
            out.add(metric["accumulatorId"])
    for child in plan.get("children", []):
        _written_file_metrics(child, out)


def attribute(spans: list[dict], jobs: list[dict]) -> dict[int, int | None]:
    """Job id -> span id (None when no span claims it)."""
    by_id = {s["id"]: s for s in spans}
    fits = [s for s in spans if s["name"] == "ml.training.train_commodity_models"]
    out: dict[int, int | None] = {}
    for job in jobs:
        desc = job["desc"] or ""
        sid = None
        if desc.startswith(DESC_PREFIX):
            sid = int(desc[len(DESC_PREFIX):])
            sid = sid if sid in by_id else None
        elif desc.startswith("train "):
            sid = next((s["id"] for s in fits if s["start"] <= job["time"] <= s["end"]), None)
        out[job["id"]] = sid
    return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its child spans cover
    (children of pool threads overlap, so the union is subtracted)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in children.get(s["id"], [])
            if min(b, s["end"]) > max(a, s["start"])
        ]
        out[s["id"]] = (s["end"] - s["start"]) - _union_length(clipped)
    return out


def counters(task_list: list[dict], n_jobs: int, files: int) -> dict[str, float]:
    """Spark task counters of one group of jobs."""
    runs = [t["run_ms"] for t in task_list]
    med = statistics.median(runs) if runs else 0
    return {
        "jobs": n_jobs,
        "tasks": len(task_list),
        "task_s": sum(runs) / 1000.0,
        "gc_s": sum(t["gc_ms"] for t in task_list) / 1000.0,
        "shuffle_write_mb": sum(t["shuffle_write"] for t in task_list) / 1e6,
        "spill_mb": sum(t["spill"] for t in task_list) / 1e6,
        "bytes_written_mb": sum(t["written"] for t in task_list) / 1e6,
        "files_written": files,
        # median of 0 ms (tasks faster than the clock tick): fall back to 1 ms
        "max_task_over_median": (max(runs) / max(med, 1)) if runs else 0.0,
    }


def group_counters(
    span_ids: set[int],
    jobs: list[dict],
    tasks: dict[int, list[dict]],
    files: dict[int, int],
    owner: dict[int, int | None],
) -> dict[str, float]:
    """Counters of every job attributed to one of `span_ids`."""
    # a stage listed by several jobs (reused, then skipped) ran under
    # the first job that listed it
    first_job: dict[int, int] = {}
    for j in jobs:
        for st in j["stages"]:
            first_job.setdefault(st, j["id"])
    mine = [j for j in jobs if owner.get(j["id"]) in span_ids]
    task_list = [
        t
        for j in mine
        for st in j["stages"]
        if first_job[st] == j["id"]
        for t in tasks.get(st, [])
    ]
    executions = {j["execution"] for j in mine if j["execution"] is not None}
    n_files = sum(files.get(int(ex), 0) for ex in executions)
    return counters(task_list, len(mine), n_files)

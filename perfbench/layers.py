"""Per-layer metrics of a traced run, from its spans and Spark event log.

Metric names follow the module names. `<span>.<counter>` is a counter of
every span with that name: `calls`, `s` (summed wall time), `self_s`
(wall time minus child spans), and the Spark task counters of the jobs
those spans submitted (`jobs`, `tasks`, `task_s`, `gc_s`,
`shuffle_write_mb`, `spill_mb`, `bytes_written_mb`, `files_written`,
`max_task_over_median`). `<module>.build_s`, `.plan_s` and `.exec_s`
sum the adhoc spans `<module>.build`, `.plan` and `.exec`, and
`adhoc.<counter>` covers every job of the sweep. The traced
run times one unit, so each value covers setup plus that one unit.
"""

from __future__ import annotations

from spans import group_counters, self_times

SPAN_COUNTERS = ("calls", "s", "self_s")
TASK_COUNTERS = (
    "jobs",
    "tasks",
    "task_s",
    "gc_s",
    "shuffle_write_mb",
    "spill_mb",
    "bytes_written_mb",
    "files_written",
    "max_task_over_median",
)
ADHOC_PHASES = ("build", "plan", "exec")


def compute(names: list[str], spans: list[dict], log, extra: dict[str, float]) -> dict[str, float]:
    """Value of every metric in `names`. `extra` holds the ones measured
    outside spans (memo ratio, fit ratio, overhead, uncovered share)."""
    jobs, tasks, files, owner = log
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    selfs = self_times(spans)
    sweeps = {s["id"] for s in spans if s["name"] == "adhoc.sweep"}
    adhoc_ids = {s["id"] for s in spans if s["parent"] in sweeps}
    cache: dict[str, dict] = {}

    def task_counters(key: str, ids: set[int]) -> dict:
        if key not in cache:
            cache[key] = group_counters(ids, jobs, tasks, files, owner)
        return cache[key]

    out: dict[str, float] = {}
    for name in names:
        if name in extra:
            out[name] = extra[name]
            continue
        prefix, counter = name.rsplit(".", 1)
        if prefix == "adhoc":
            out[name] = task_counters("adhoc", adhoc_ids)[counter]
        elif counter.endswith("_s") and counter[:-2] in ADHOC_PHASES:
            group = by_name.get(f"{prefix}.{counter[:-2]}", [])
            out[name] = sum(s["end"] - s["start"] for s in group)
        elif counter in SPAN_COUNTERS:
            group = by_name.get(prefix, [])
            out[name] = {
                "calls": len(group),
                "s": sum(s["end"] - s["start"] for s in group),
                "self_s": sum(selfs[s["id"]] for s in group),
            }[counter]
        elif counter in TASK_COUNTERS:
            ids = {s["id"] for s in by_name.get(prefix, [])}
            out[name] = task_counters(prefix, ids)[counter]
        else:
            raise KeyError(f"no rule computes per-layer metric {name!r}")
    return out

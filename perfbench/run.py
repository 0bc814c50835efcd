"""Benchmark runner for the propensity engine.

Run from the repository root:

    python3 perfbench/run.py --workload daily|adhoc --seed N --seconds S --trace 0|1

One run is one fresh process with one client on local[<cpus>], where
<cpus> is one fewer than the host's cores. With
`--trace 0` the last stdout line holds the end-to-end metrics of
BENCHMARK.json; with `--trace 1` it holds the per-layer metrics, and the
spans go to `.perfbench_out/trace_<workload>_seed<N>.json`. Both check
every output; see workloads.py for the workloads and README.md for the
metric definitions.
"""

from __future__ import annotations

import os
import time


def _process_start() -> float:
    """Wall-clock time this process started (from /proc, 10 ms ticks)."""
    hz = os.sysconf("SC_CLK_TCK")
    with open("/proc/self/stat") as f:
        started = int(f.read().rsplit(")", 1)[1].split()[19]) / hz
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - started)


PROC_START = _process_start()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import uuid  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".perfbench_out"
RUNS_DIR = ROOT / ".perfbench_run"
DRIVER_MEM_SHARE = 0.4


# -- environment --------------------------------------------------------------


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def pin_env(run_dir: Path) -> dict:
    """Pin what the package reads from the environment, so the defaults
    are measured on the host's cores and memory. Spark gets one core
    fewer than the host: on 4 cores, local[4] left the driver's own
    threads (planning, JIT, GC, the Python client) competing with four
    task threads, and the daily job ran 5-9% slower, on ~10% more CPU,
    than on local[3]."""
    host_cpus = len(os.sched_getaffinity(0))
    cpus = max(1, host_cpus - 1)
    driver_mb = min(48 * 1024, int(_meminfo_kb("MemTotal") / 1024 * DRIVER_MEM_SHARE))
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    (run_dir / "local").mkdir(parents=True)
    (run_dir / "tmp").mkdir()
    prev_path = os.environ.get("PYTHONPATH")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=f"{driver_mb}m",
        # Python workers import the package (media_pipeline's UDF)
        PYTHONPATH=str(ROOT) + (os.pathsep + prev_path if prev_path else ""),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=str(run_dir / "local"),
        TMPDIR=str(run_dir / "tmp"),
        # the launcher JVM that spark-submit starts before the driver
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}",
    )
    return {
        "host_cpus": host_cpus,
        "cpus": cpus,
        "master": f"local[{cpus}]",
        "driver_mem": f"{driver_mb}m",
    }


def env_line(stage: str, env: dict, steal_s: float) -> str:
    load1 = os.getloadavg()[0]
    return json.dumps({"env": stage, **env, "load1": load1, "steal_s": steal_s})


# -- processes ------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            ppid = int((d / "stat").read_text().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d.name))
    return kids


def descendants() -> list[int]:
    kids, out, todo = _children(), [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def jvm_peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of the Spark JVM, a descendant of
    this process."""
    for pid in descendants():
        try:
            status = Path(f"/proc/{pid}/status").read_text()
        except OSError:
            continue
        fields = dict(line.split(":", 1) for line in status.splitlines() if ":" in line)
        if fields.get("Name", "").strip() == "java":
            return int(fields["VmHWM"].split()[0]) / 1024.0
    raise RuntimeError("no Spark JVM found among this process's descendants")


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until every process the
    run started (JVM, Python workers) has ended."""
    from pyspark import SparkContext

    procs = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in procs if Path(f"/proc/{p}").exists()]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


# -- tracing ----------------------------------------------------------------------


def install_wrappers(tracer) -> None:
    import __spark_entry__ as entry
    from propensity_spark import feature_store, io, pipeline
    from propensity_spark.ml import training
    from propensity_spark.operators import relational

    entry.queries()  # import every module first, so their aliases get wrapped
    tracer.wrap_function(io, "load_table", "io.load_table", jobs=False)
    tracer.wrap_function(relational, "top_commodities", "operators.relational.top_commodities")
    for m in ("backfill", "run_weekly", "run_daily", "engineer_features", "score", "publish",
              "drift"):
        tracer.wrap_method(pipeline.Pipeline, m, f"pipeline.{m}")
    for m in ("create", "merge", "validate", "lookup", "has_day"):
        tracer.wrap_method(feature_store.FeatureTable, m, f"feature_store.{m}")
    for f in ("build_training_set", "train_commodity_models", "score_batch"):
        tracer.wrap_function(training, f, f"ml.training.{f}")


def untraced_reference(workload: str) -> float | None:
    """Median unit time of this checkout's recorded untraced runs."""
    try:
        lines = (OUT / "runs.jsonl").read_text().splitlines()
    except OSError:
        return None
    vals = [r["job_s"] for r in map(json.loads, lines) if r["workload"] == workload]
    return statistics.median(vals) if vals else None


# -- main ---------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test only: add 1 to one adhoc query's expected row count
    ap.add_argument("--plant-wrong-count", default=None)
    args = ap.parse_args(argv)

    missing = [p for p in ("propensity_spark/__init__.py", "bench.py", "__spark_entry__.py")
               if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: program files missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    bench_def = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in bench_def["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run_dir = RUNS_DIR / f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    env = pin_env(run_dir)
    sys.path.insert(0, str(ROOT))
    import workloads

    print(env_line("before", env, workloads.steal_s()), flush=True)
    try:
        result = _run(args, bench_def, run_dir, workloads)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        if not any(RUNS_DIR.iterdir()):
            RUNS_DIR.rmdir()
    print(env_line("after", env, workloads.steal_s()), flush=True)
    print(json.dumps(result, separators=(",", ":")))
    return 0


def _run(args, bench_def: dict, run_dir: Path, workloads) -> dict:
    from propensity_spark import io
    from propensity_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # The JVM's temp files (native libs, artifacts) go to the run dir.
        # A fixed heap and young generation make VmHWM follow the live
        # data: with G1 resizing the heap on GC timing, identical runs
        # peaked 20-40% apart.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData"
            f" -Xms{os.environ['SPARK_DRIVER_MEM']} -Xmn512m"
        ),
    }
    if args.trace:
        (run_dir / "eventlog").mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (run_dir / "eventlog").as_uri(),
                # plain JSON lines: no zstd to undo when reading it back
                "spark.eventLog.compress": "false",
            }
        )
    t0 = time.time()
    spark = get_spark("perfbench", extra_conf=conf)
    t1 = time.time()
    tracer = None
    try:
        expected = workloads.load_expected()
        if args.plant_wrong_count:
            expected["adhoc_rows"][args.plant_wrong_count] += 1
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark.sparkContext)
            tracer.record("session.get_spark", t0, t1)
            install_wrappers(tracer)
            memo_before = len(io._SCAN_MEMO)
        run = workloads.Run(spark, args.seconds, expected, tracer, jvm_peak_rss_mb)
        ref = untraced_reference(args.workload) if tracer else None
        run.need_reference = tracer is not None and ref is None
        workloads.WORKLOADS[args.workload](run, args.seed, run_dir)
    finally:
        if tracer is not None:
            tracer.active = False
            tracer.restore()
        stop_spark(spark)

    print(json.dumps({"seed": args.seed, "unit_s": run.unit_s,
                      "unit_disturbed": run.unit_disturbed, "notes": run.notes,
                      "errors": run.errors},
                     default=str), flush=True)
    job_s = run.job_s()
    out = {"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed}
    if not tracer:
        values = {
            "setup_s": run.setup_done - PROC_START,
            "job_s": job_s,
            "ok_ops_ratio": 1.0 - run.failed / run.attempted,
            "jvm_peak_rss_mb": run.first_unit_rss_mb,
        }
        OUT.mkdir(exist_ok=True)
        with open(OUT / "runs.jsonl", "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": args.seed, **values}) + "\n")
        declared = bench_def["end_to_end"]
    else:
        values = _layer_values(args, bench_def, run, tracer, run_dir, ref, memo_before, io)
        declared = bench_def["per_layer"]
    out["metrics"] = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    return out


def _layer_values(args, bench_def, run, tracer, run_dir, ref, memo_before, io) -> dict:
    import layers
    from spans import attribute, read_event_log, self_times

    jobs, tasks, files = read_event_log(run_dir / "eventlog")
    owner = attribute(tracer.spans, jobs)
    traced_s = run.unit_s[-1]
    if ref is None:
        ref, ref_source = run.reference_s, "in-run untraced unit (event log on)"
    else:
        ref_source = "median of this checkout's untraced runs"
    unit_span = "pipeline.run_daily" if args.workload == "daily" else "adhoc.sweep"
    unit = [s for s in tracer.spans if s["name"] == unit_span][-1]
    load_calls = sum(s["name"] == "io.load_table" for s in tracer.spans)
    extra = {
        "io.scan_memo_hit_ratio": (
            1.0 - (len(io._SCAN_MEMO) - memo_before) / load_calls if load_calls else 0.0
        ),
        "ml.training.fit_success_ratio": run.notes.get("fit_success_ratio", 0.0),
        "trace.overhead_s": traced_s - ref,
        "trace.uncovered_share": self_times(tracer.spans)[unit["id"]]
        / (unit["end"] - unit["start"]),
    }
    names = [m["name"] for m in bench_def["per_layer"]]
    values = layers.compute(names, tracer.spans, (jobs, tasks, files, owner), extra)
    unattributed = [j for j in jobs if owner[j["id"]] is None]
    tracer.write(
        OUT / f"trace_{args.workload}_seed{args.seed}.json",
        {
            "workload": args.workload,
            "seed": args.seed,
            "traced_unit_s": traced_s,
            "untraced_reference_s": ref,
            "untraced_reference": ref_source,
            "unattributed_jobs": len(unattributed),
            "lazy_plans": "a lazy plan runs in the span whose action triggers it, e.g. the "
            "feature aggregation executes inside feature_store.merge's staging write",
            "per_layer": values,
        },
    )
    return values


if __name__ == "__main__":
    sys.exit(main())

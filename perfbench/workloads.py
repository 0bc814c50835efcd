"""The benchmark's workloads, their seed-derived inputs and output checks.

Both workloads read the fixture copied under `perfbench/data/sf0.001`.
The seed picks three things and nothing else: the anchor day (from the
fixture's last weeks of `l_shipdate`), the trained commodity (from the
top-k) and the order of the `adhoc` mix. Every workload computes all
three, so a seed means the same inputs on every workload.

- `daily`: setup is `run_init`'s work on the anchor without its control
  table write: the backfill of the anchor day and `run_weekly` (LR on
  the seed's commodity). The timed unit is the daily job
  (`Pipeline.run_daily`: engineer_features -> score -> publish -> drift)
  on the next day after the anchor.
- `adhoc`: setup is one warm-up query. The timed unit is one
  closed-loop sweep (one client, each query waits for the previous) of
  the first `bench.BENCH_QUERIES` entry of each of 13 operator modules,
  leaving out pipeline stages, each built and written to the `noop`
  sink.
"""

from __future__ import annotations

import datetime
import itertools
import json
import math
import os
import random
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
DATA_DIR = str(HERE / "data" / "sf0.001")
EXPECTED_PATH = HERE / "expected.json"

# Stages the daily workload already runs, plus the stream_tumbling shim
# (batch_windows still covers streaming.windows).
NOT_ADHOC = {
    "topk_commodities",
    "silver_projection",
    "household_agg_suite",
    "labels",
    "household_features",
    "household_commodity_features",
    "pivot_unpivot_scores",
    "stream_tumbling",
}

ADHOC_MODULES = (
    "operators.relational",
    "operators.extended",
    "operators.behavior",
    "operators.stats",
    "operators.profiling",
    "operators.graph",
    "operators.maintenance",
    "text.analysis",
    "text.dedup",
    "vector.similarity",
    "streaming.windows",
    "multimodal.media",
    "ml.quality",
)

# The mix keeps the first entry of each module, in bench.BENCH_QUERIES
# order (13 of the 34): the other 21 add ~10-15 s to every adhoc run,
# more than the benchmark's time budget (48 runs in 3420 s) can take
# next to the daily workload.
PER_MODULE = 1


def adhoc_queries() -> list[str]:
    """The adhoc mix in bench.BENCH_QUERIES order."""
    import bench

    taken: dict[str, int] = {}
    out = []
    for q in bench.BENCH_QUERIES:
        if q in NOT_ADHOC:
            continue
        m = module_of(q)
        if taken.get(m, 0) < PER_MODULE:
            taken[m] = taken.get(m, 0) + 1
            out.append(q)
    return out


# Anchor days lie this many days before the last fact: at least a week
# of new days follows every anchor.
ANCHOR_LEAD_DAYS = (7, 34)
MAX_DAILY_UNITS = ANCHOR_LEAD_DAYS[0] - 1
# One trained commodity, not the pair the gate trains: a second fit adds
# ~7 s to every daily run, which the benchmark's time budget cannot take.
N_COMMODITIES = 1
# A fit needs both classes in its 80% training split. With one positive
# label (Brand#5 in this fixture) the seeded split can put it in the test
# side; the fit then fails and is recorded as failed, by design.
MIN_LABEL_POSITIVES = 2


# The host is a VM on a shared machine. Now and then its hypervisor
# withholds CPU from it for a minute or more: the steal counter then
# grows by 0.1-2 CPU-seconds per second where it grows by ~0.01
# otherwise, and a daily job caught in it took 15-60% longer. Before each
# timed unit the runner keeps one core busy for a probe and waits, at
# most STEAL_MAX_WAIT_S, until a probe sees at most STEAL_QUIET_TICKS of
# steal (1/100 s each; one busy core sees 2-5 a second in a burst). A
# daily unit during which more than DISTURBED_STEAL_SHARE of the host's
# CPU time was stolen counts as disturbed: it is timed again, once, and
# job_s leaves it out (daily days are alike; a second adhoc sweep runs
# warm and is not, so adhoc units are never timed again).
HOST_CPUS = len(os.sched_getaffinity(0))
STEAL_PROBE_S = 2.0
STEAL_QUIET_TICKS = 2
STEAL_MAX_WAIT_S = 10.0
DISTURBED_STEAL_SHARE = 0.01


def steal_ticks() -> int:
    """CPU time the hypervisor gave to others, all cores, since boot,
    in clock ticks."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def steal_s() -> float:
    return steal_ticks() / os.sysconf("SC_CLK_TCK")


def wait_for_quiet_host() -> float:
    """Probe until the hypervisor stops withholding CPU, at most
    STEAL_MAX_WAIT_S; return the seconds waited. An idle VM accrues no
    steal, so each probe keeps one core busy while it reads the counter."""
    start = time.perf_counter()
    while True:
        s0, t0 = steal_ticks(), time.perf_counter()
        while time.perf_counter() - t0 < STEAL_PROBE_S:
            pass
        quiet = steal_ticks() - s0 <= STEAL_QUIET_TICKS
        waited = time.perf_counter() - start
        if quiet or waited >= STEAL_MAX_WAIT_S:
            return waited


def load_expected() -> dict:
    """Outputs recorded once with DuckDB (record_expected.py)."""
    return json.loads(EXPECTED_PATH.read_text())


def picks(seed: int, expected: dict) -> dict:
    """The only inputs a seed changes."""
    rng = random.Random(seed)
    max_day = datetime.date.fromisoformat(expected["max_day"])
    anchor = max_day - datetime.timedelta(days=rng.randint(*ANCHOR_LEAD_DAYS))
    trainable = [
        c for c in expected["topk"] if expected["label_positives"][c] >= MIN_LABEL_POSITIVES
    ]
    commodities = sorted(rng.sample(trainable, N_COMMODITIES))
    order = adhoc_queries()
    rng.shuffle(order)
    return {"anchor": anchor, "commodities": commodities, "order": order}


def module_of(query: str) -> str:
    """The adhoc module whose QUERIES registers `query`."""
    import importlib

    for m in ADHOC_MODULES:
        if query in getattr(importlib.import_module(f"propensity_spark.{m}"), "QUERIES", {}):
            return m
    raise KeyError(query)


class Run:
    """State of one benchmark run: operation counts, unit times and the
    optional tracer. An operation fails if it raises or if its check
    returns a message."""

    def __init__(self, spark, seconds: float, expected: dict, tracer=None, peak_rss_mb=None):
        self.spark = spark
        # read once, after the first timed unit: a disturbed daily unit's
        # second day would otherwise raise the peak by ~20%
        self.peak_rss_mb = peak_rss_mb
        self.first_unit_rss_mb: float | None = None
        self.seconds = seconds
        self.tracer = tracer
        self.expected = expected
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.unit_s: list[float] = []
        self.unit_disturbed: list[bool] = []
        self.setup_done: float | None = None
        self.notes: dict = {}
        # traced run without a recorded untraced reference: time one
        # unit with the wrappers off before the traced one
        self.need_reference = False
        self.reference_s: float | None = None

    def op(self, name: str, fn, check):
        self.attempted += 1
        try:
            out = fn()
            problem = check(out)
        except Exception as exc:  # noqa: BLE001 — a raising operation is a failed one
            traceback.print_exc(file=sys.stderr)
            out, problem = None, f"{type(exc).__name__}: {exc}"
        if problem:
            self.failed += 1
            self.errors.append(f"{name}: {problem}"[:300])
            print(f"[perfbench] FAILED {name}: {problem}", file=sys.stderr)
        return out

    def span(self, name: str, jobs: bool = True):
        import contextlib

        if self.tracer and self.tracer.active:
            return self.tracer.span(name, jobs)
        return contextlib.nullcontext()

    def _timed(self, unit, i: int) -> float:
        """Wait for a quiet host, then time `unit(i)`; record the wait,
        the steal during the unit and whether it was disturbed."""
        self.notes.setdefault("quiet_wait_s", []).append(round(wait_for_quiet_host(), 2))
        s0, t0 = steal_s(), time.perf_counter()
        unit(i)
        took = time.perf_counter() - t0
        stolen = steal_s() - s0
        if self.peak_rss_mb and self.first_unit_rss_mb is None:
            self.first_unit_rss_mb = self.peak_rss_mb()
        self.notes.setdefault("unit_steal_s", []).append(round(stolen, 2))
        self.unit_disturbed.append(stolen > DISTURBED_STEAL_SHARE * took * HOST_CPUS)
        return took

    def timed_units(self, unit, max_units: int | None = None, retime: bool = False) -> None:
        """Run `unit(i)` for i = 1, 2, ... until `seconds` have passed
        (at least once, at most `max_units`). With `retime`, a disturbed
        unit is timed again, once, if no undisturbed unit was timed. A
        traced run times one unit, so its per-layer totals are per unit
        plus setup."""
        self.setup_done = time.time()
        i = 1
        if self.need_reference:
            self.tracer.active = False
            self.reference_s = self._timed(unit, i)
            self.unit_disturbed.clear()
            self.tracer.active = True
            i += 1
        deadline = time.perf_counter() + self.seconds
        retimes = 1 if retime and not self.tracer else 0
        while True:
            self.unit_s.append(self._timed(unit, i))
            i += 1
            if len(self.unit_s) == max_units:
                break
            if self.tracer or time.perf_counter() >= deadline:
                if retimes and all(self.unit_disturbed):
                    retimes -= 1
                    continue
                break

    def job_s(self) -> float:
        """Median unit time, leaving out disturbed units if any other
        was timed."""
        clean = [t for t, d in zip(self.unit_s, self.unit_disturbed) if not d]
        return statistics.median(clean or self.unit_s)


# -- daily --------------------------------------------------------------------


def _check_manifest(commodities: list[str], notes: dict):
    def check(manifest) -> str | None:
        rows = [r.asDict() for r in manifest.collect()]
        notes["aupr"] = {r["commodity_desc"]: r["metric_aupr"] for r in rows}
        notes["fit_success_ratio"] = (
            sum(r["stage"] == "Production" for r in rows) / len(rows) if rows else 0.0
        )
        if sorted(r["commodity_desc"] for r in rows) != commodities:
            return f"manifest commodities {[r['commodity_desc'] for r in rows]} != {commodities}"
        for r in rows:
            if r["stage"] != "Production":
                return f"{r['commodity_desc']} stage {r['stage']}: {r['error']}"
            if not (r["model_path"] and Path(r["model_path"]).is_dir()):
                return f"{r['commodity_desc']} has no saved model directory"
            aupr = r["metric_aupr"]
            if aupr is None or not 0.0 <= aupr <= 1.0:
                return f"{r['commodity_desc']} metric_aupr {aupr} outside [0,1]"
        return None

    return check


def _check_day(p, n_scores: int, published: list[str]):
    def check(_paths) -> str | None:
        m = p.last_publish_metrics or {}
        if (m.get("n_scores"), m.get("n_out_of_range"), m.get("n_null")) != (n_scores, 0, 0):
            return f"publish metrics {m}, expected n_scores={n_scores} and no bad scores"
        v = p.last_validation or {}
        if sorted(v) != ["commodity", "household", "household_commodity"]:
            return f"validated grains {sorted(v)}"
        for grain, res in v.items():
            bad = (res.get("failed_expectations"), res["null_pk"], res["duplicate_pk"])
            if bad != (0, 0, 0):
                return f"{grain}: failed expectations / null PK / duplicate PK = {bad}"
        # drift compares with the latest earlier published day; the
        # first timed day has none, later ones must report a PSI
        d, prior = p.last_drift, published[:-1]
        if not prior and d is not None:
            return f"drift {d} with no earlier published day"
        if prior and (d is None or not (math.isfinite(d["psi"]) and d["psi"] >= 0)):
            return f"drift {d}"
        return None

    return check


def daily(run: Run, seed: int, base: Path) -> None:
    from propensity_spark.pipeline import Pipeline

    pk = picks(seed, run.expected)
    anchor, commodities = pk["anchor"], pk["commodities"]
    p = Pipeline(run.spark, DATA_DIR, str(base / "pipeline"))

    def init():
        # run_init minus the commodities_to_score write, which nothing
        # downstream reads (labels memoize their own top-k collect): ~5 s
        # of every daily run that the time budget cannot spare
        p.backfill([anchor])
        return p.run_weekly(commodities, day=anchor, model_type="lr")

    manifest = run.op("init", init, _check_manifest(commodities, run.notes))
    if manifest is None:
        raise RuntimeError("training failed; the daily job has no models to score with")
    n_scores = run.expected["silver_households"] * len(commodities)
    published = run.notes["days"] = []

    def unit(i: int) -> None:
        day = anchor + datetime.timedelta(days=i)
        published.append(str(day))
        run.op(
            f"daily {day}",
            lambda: p.run_daily(day, manifest),
            _check_day(p, n_scores, published),
        )

    run.timed_units(unit, MAX_DAILY_UNITS, retime=True)


# -- adhoc --------------------------------------------------------------------


def adhoc(run: Run, seed: int, base: Path) -> None:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from propensity_spark.operators.relational import q_agg_minmax_day

    spark = run.spark
    order = picks(seed, run.expected)["order"]
    qs = entry.queries()
    owner = {q: module_of(q) for q in order}
    expected = run.expected["adhoc_rows"]
    n_obs = itertools.count()

    def noop_rows(build, module: str) -> int:
        with run.span(f"{module}.build"):
            df = build()
        obs = Observation(f"perfbench_rows_{next(n_obs)}")
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        if run.tracer and run.tracer.active:
            with run.span(f"{module}.plan"):
                df._jdf.queryExecution().executedPlan()
        with run.span(f"{module}.exec"):
            df.write.format("noop").mode("overwrite").save()
        return obs.get["rows"]

    run.op(
        "warm-up",
        lambda: noop_rows(lambda: q_agg_minmax_day(spark, DATA_DIR), "warmup"),
        lambda n: None if n == 1 else f"{n} rows, expected 1",
    )

    def unit(_i: int) -> None:
        with run.span("adhoc.sweep"):
            for q in order:
                run.op(
                    q,
                    lambda q=q: noop_rows(lambda: qs[q](spark, DATA_DIR), owner[q]),
                    lambda n, q=q: None if n == expected[q] else f"{n} rows, oracle {expected[q]}",
                )

    run.timed_units(unit)


WORKLOADS = {"daily": daily, "adhoc": adhoc}

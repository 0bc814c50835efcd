"""Self-test of the benchmark (fixture sf0.001). From the repository root:

    python3 perfbench/selftest.py

Checks that
- every metric BENCHMARK.json names is printed, with its unit, by each
  workload with tracing off (end-to-end) and on (per-layer);
- the seed changes the anchor day, the trained commodity and the mix
  order, and nothing else: `picks` is the only use of the seed, and it
  is a function of the seed alone;
- a planted wrong expected row count is reported as a failed operation,
  so the output check is live.
Takes about five minutes on 4 cores; exits non-zero on the first failure.
"""

from __future__ import annotations

import inspect
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))


def run(workload: str, trace: int, *extra: str) -> tuple[dict, list[dict]]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        raise SystemExit(f"{cmd} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = [json.loads(x) for x in proc.stdout.splitlines() if x.startswith("{")]
    return lines[-1], lines[:-1]


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        raise SystemExit(1)


def main() -> None:
    import workloads

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    expected = workloads.load_expected()

    # seed -> inputs
    a, b = workloads.picks(1, expected), workloads.picks(2, expected)
    check(a == workloads.picks(1, expected), "the same seed picks the same inputs")
    check(all(a[k] != b[k] for k in ("anchor", "commodities", "order")),
          "another seed changes the anchor day, the commodity and the mix order")
    check(sorted(a["order"]) == sorted(workloads.adhoc_queries()), "the order is a permutation")
    for fn in workloads.WORKLOADS.values():
        src = inspect.getsource(fn)
        check(src.count("seed") == 2 and "picks(seed, run.expected)" in src,
              f"{fn.__name__} uses the seed only through picks")

    planted = workloads.adhoc_queries()[0]
    for workload in [w["name"] for w in bench["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            extra = ("--plant-wrong-count", planted) if workload == "adhoc" and not trace else ()
            result, _ = run(workload, trace, *extra)
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            want = {m["name"]: m["unit"] for m in bench[key]}
            check(got == want, f"{workload} --trace {trace} prints every {key} metric with its unit")
            check(all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()),
                  f"{workload} --trace {trace} values are numbers")
            if extra:
                check(result["failed"] == 1 and not result["correct"],
                      f"a planted wrong row count for {planted} is one failed operation")
            else:
                check(result["failed"] == 0 and result["correct"],
                      f"{workload} --trace {trace} passes its output checks")


if __name__ == "__main__":
    main()

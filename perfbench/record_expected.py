"""Record the benchmark's expected outputs with DuckDB.

Run from the repository root after the fixture under `perfbench/data`
or an oracle changes:

    python3 perfbench/record_expected.py

It writes `perfbench/expected.json`:
- `adhoc_rows`: the row count of each `adhoc` query's DuckDB oracle
  (`__spark_entry__.oracle_sql()`), which the runner compares with the
  count an `Observation` takes on the Spark side;
- `topk`: the top-k commodities (`TOPK_SQL`), from which the seed
  picks the trained commodity;
- `label_positives`: positive labels per top-k commodity (the `labels`
  oracle), which decide which commodities can be trained;
- `silver_households`: distinct households in the silver view, the
  number of scores each trained commodity must publish per day;
- `max_day`: the last `l_shipdate`, which bounds the anchor days.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

from workloads import DATA_DIR, adhoc_queries  # noqa: E402


def main() -> None:
    import duckdb

    import __spark_entry__ as entry
    from propensity_spark.io import TABLES
    from propensity_spark.operators.relational import SILVER_SQL, TOPK_SQL

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA_DIR}/{t}.parquet')"
        )
    adhoc_rows = {
        name: con.execute(f"SELECT count(*) FROM ({oracles[name]}) q").fetchone()[0]
        for name in adhoc_queries()
    }
    topk = [r[0] for r in con.execute(f"SELECT commodity_desc FROM ({TOPK_SQL}) t").fetchall()]
    positives = dict(
        con.execute(
            f"SELECT commodity_desc, sum(purchased)::BIGINT FROM ({oracles['labels']}) l GROUP BY 1"
        ).fetchall()
    )
    households = con.execute(
        f"SELECT count(DISTINCT household_key) FROM ({SILVER_SQL}) s"
    ).fetchone()[0]
    max_day = con.execute("SELECT max(CAST(l_shipdate AS DATE)) FROM lineitem").fetchone()[0]
    out = {
        "adhoc_rows": adhoc_rows,
        "topk": topk,
        "label_positives": positives,
        "silver_households": households,
        "max_day": str(max_day),
    }
    (HERE / "expected.json").write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    print(json.dumps(out))


if __name__ == "__main__":
    main()

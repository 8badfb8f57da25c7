"""Capture `.explain("formatted")` for every declared catalog query into
plans/<tag>/<query>_<suffix>.txt (guide §1: plan evidence before/after).

Usage: python tools/capture_plans.py <tag> <suffix> [query ...]
e.g.   python tools/capture_plans.py r14 before
       python tools/capture_plans.py r14 after q01_pricing_summary

Only DataFrame-building queries can be captured without running them;
the machinery queries (q48/q50/q52/q53) EXECUTE table commits or
streaming pipelines inside the builder, so for those the captured plan
is the plan of the RETURNED (final-state) frame; their per-phase
counters come from a traced benchmark run
(python3 perfbench/run.py --trace 1) instead.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from databricks_delta_lake_project_spark.queries.catalog import (
    PRODUCTION_OVERRIDES,
    QUERIES,
)
from databricks_delta_lake_project_spark.session import get_spark


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = REPO / "plans" / tag
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(app_name=f"plans_{tag}_{suffix}")
    spark.sparkContext.setLogLevel("ERROR")
    for name, (fn, _) in QUERIES.items():
        if only and name not in only:
            continue
        fn = PRODUCTION_OVERRIDES.get(name, fn)
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"CAPTURE FAILED: {type(exc).__name__}: {exc}"
        (out_dir / f"{name}_{suffix}.txt").write_text(plan)
        print(name, "ok" if not plan.startswith("CAPTURE") else "FAILED")


if __name__ == "__main__":
    main()

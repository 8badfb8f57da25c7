"""Regenerate ``expected.json``: the output digest of every catalog
query the benchmark runs, each one first validated against the DuckDB
oracle on the benchmark's input tables.

    python3 perfbench/regen_expected.py

Run it only when the input tables or the queries' defined results
change; the oracle is slow (minutes), which is why runs compare digests.
Exits non-zero, writing nothing, if any query disagrees with the oracle.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run


def main() -> int:
    sys.path.insert(0, str(run.ROOT))
    run_dir = run.WORK / f"regen-{os.getpid()}"
    run._prepare_env(run_dir, run._cores())
    import workloads
    from databricks_delta_lake_project_spark.parity import compare, duckdb_connection
    from databricks_delta_lake_project_spark.queries.catalog import QUERIES
    from databricks_delta_lake_project_spark.session import get_spark

    sf_dir = str(run.DATA_DIR)
    spark = get_spark(app_name="perfbench-regen")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_connection(sf_dir)
    names = (workloads.BI_QUERIES + workloads.CURATION_QUERIES
             + list(workloads.STREAM_QUERIES))
    out, bad = {}, []
    try:
        for name in names:
            fn, sql = QUERIES[name]
            ok = compare(fn(spark, sf_dir), con, sql)["values_match"]
            print(name, "matches the oracle" if ok else "DIFFERS from the oracle", flush=True)
            if not ok:
                bad.append(name)
                continue
            out[name] = workloads.digest(fn(spark, sf_dir))
    finally:
        con.close()
        run._shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    if bad:
        print("oracle mismatch:", bad, file=sys.stderr)
        return 1
    (run.BENCH / "expected.json").write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

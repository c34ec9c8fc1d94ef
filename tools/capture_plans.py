"""Capture ``explain("formatted")`` for headline lanes into plans/r19/.

Usage::

    python tools/capture_plans.py before            # all headline lanes
    python tools/capture_plans.py after lane1 lane2 # specific lanes

Writes ``plans/r19/<lane>_<tag>.txt`` (the directory is ``ROUND_DIR``).
These files back plan-shape claims (Exchange counts, join strategies,
pushed filters) made about the code, so they are committed artifacts.
Below the lane's own plan, each file lists the plans of the queries the
lane ran eagerly while building its DataFrame (quantizer training,
index builds), read from Spark's SQL status store.
"""

from __future__ import annotations

import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark import (  # noqa: E402
    session,
    workload,
)

ROUND_DIR = "r19"


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    lanes = sys.argv[2:]
    if not lanes:
        import bench

        lanes = list(bench.HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(here, "plans", ROUND_DIR)
    os.makedirs(out_dir, exist_ok=True)

    spark = session.get_spark(app_name="plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    store = spark._jsparkSession.sharedState().statusStore()
    for name in lanes:
        try:
            seen = store.executionsCount()
            df = workload.QUERIES[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            n = store.executionsCount() - seen
            # the store refuses an empty window (a lane that ran nothing)
            ran = store.executionsList(seen, n) if n > 0 else None
            for i in range(n):
                plan += (
                    f"\n\n== eager query {i + 1} of {n} run while "
                    f"building the lane ==\n"
                    + ran.apply(i).physicalPlanDescription()
                )
        except Exception:
            plan = "CAPTURE FAILED:\n" + traceback.format_exc()
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan)
        print(name, flush=True)
        try:
            spark.catalog.clearCache()
        except Exception:
            pass
    spark.stop()


if __name__ == "__main__":
    main()

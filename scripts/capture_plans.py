"""Capture .explain("formatted") for named registry queries into
plans/r14/<query>_<tag>.txt of the checkout holding this script
(before/after evidence for a plan change). $SPARK_GRAFT_PLANS_OUT
overrides the directory.

Usage: python scripts/capture_plans.py TAG name [name ...]
       TAG is e.g. 'before' or 'after'.

Streaming-sink queries (stream_*) execute their stream during query
construction; the captured plan is the final batch read-back, which is
still the declared query's returned DataFrame.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from rabitq_spark.session import get_spark  # noqa: E402

OUT = os.environ.get("SPARK_GRAFT_PLANS_OUT", os.path.join(ROOT, "plans", "r14"))


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(OUT, exist_ok=True)
    spark = get_spark("capture_plans")
    spark.sparkContext.setLogLevel("ERROR")
    from rabitq_spark.queries import SPARK_QUERIES

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for name in names:
        df = SPARK_QUERIES[name](spark, sf)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(OUT, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()

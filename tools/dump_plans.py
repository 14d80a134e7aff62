"""Dump .explain('formatted') for declared queries to plans/$SPARK_GRAFT_PLANS_TAG/ (default r14).

    python tools/dump_plans.py before q1_pricing_summary f3_clean_patches ...

Writes plans/<plans tag>/<query>_<tag>.txt, so a plan claim can be checked
against the file (AdaptiveSparkPlan shows the initial plan).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", os.environ.get("SPARK_GRAFT_PLANS_TAG", "r14"))
    os.makedirs(out_dir, exist_ok=True)

    import __spark_entry__ as entry
    from asid_v2_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name=f"dump-plans-{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        txt = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()

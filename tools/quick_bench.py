"""Quick in-situ micro-bench for a subset of declared queries (sf0.001
warmup, N count() passes at the target SF, median + min) plus the
baseline comparison from BENCH_DETAIL.json.

    python tools/quick_bench.py q1_pricing_summary f3_clean_patches [...]
    SPARK_GRAFT_BENCH_PASSES=3 SPARK_GRAFT_SF_DIR=... python tools/quick_bench.py ...
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, ".")


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))

    import __spark_entry__ as entry
    from asid_v2_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="quick-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    base = {}
    try:
        with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH_DETAIL.json")) as f:
            base = json.load(f)["queries"]
    except Exception:
        pass

    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"warmup {name}")
        fn(spark, "/root/testdata/sf0.001").count()
        times = []
        for i in range(passes):
            spark.sparkContext.setJobDescription(f"bench {name} pass {i}")
            t0 = time.time()
            fn(spark, sf_dir).count()
            times.append(time.time() - t0)
        med = statistics.median(times)
        mn = min(times)
        b = base.get(name)
        delta = f"  baseline {b:.3f}  ({med / b:.2f}x)" if b else ""
        print(f"{name:28s} med {med:7.3f}  min {mn:7.3f}{delta}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""sf10 spot-probe (VERDICT r6 item 6): one warm run of the heaviest
queries at sf1 and sf10 (a 100x replica of the driver's sf0.1), so the
sf0.1 -> sf1 growth factors are confirmed to hold a second decade.
Run IDLE (no other Spark process); results go to stdout for SCALE.md.

Usage: python scripts/sf10_probe.py [query ...]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PROBES = [
    "ll79_ivfpq_trained_topk",
    "ll42_semantic_dedup",
    "ll55_semantic_decontaminate",
    "c9_pca_power_iteration",
    "ll87_excise_repeated_spans",
    "ll96_semantic_dedup_sized",
    "ll97_decontaminate_sized",
    "ll95_residual_ivfpq_topk",
]

SF1 = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1")
SF10 = os.environ.get("SPARK_GRAFT_SF10_DIR", "/tmp/spark_graft_sf10")


def main() -> None:
    names = sys.argv[1:] or PROBES
    from flink_luad_pipeline_spark import plans
    from flink_luad_pipeline_spark.session import get_spark
    from scripts.make_scale_data import materialize

    spark = get_spark("sf10_probe")
    if not os.path.isfile(os.path.join(SF1, "_SUCCESS")):
        materialize(spark, SF1)
        open(os.path.join(SF1, "_SUCCESS"), "w").write("ok\n")
    if not os.path.isfile(os.path.join(SF10, "_SUCCESS")):
        # stack a second decade on the sf1 replica: stride above the
        # sf1 key domain (10 copies x 1e7), a distinct word tag
        materialize(
            spark, SF10, src=SF1, stride=1_000_000_000, tag="s"
        )
        open(os.path.join(SF10, "_SUCCESS"), "w").write("ok\n")
    queries = plans.all_queries()
    print("query,sf1_s,sf10_s,growth")
    for name in names:
        fn = queries[name]
        fn(spark, SF1).toPandas()  # warm (codegen, footers)
        t0 = time.perf_counter()
        fn(spark, SF1).toPandas()
        t1 = time.perf_counter() - t0
        t0 = time.perf_counter()
        fn(spark, SF10).toPandas()
        t10 = time.perf_counter() - t0
        print(
            f"{name},{t1:.1f},{t10:.1f},{t10 / t1:.1f}", flush=True
        )


if __name__ == "__main__":
    main()

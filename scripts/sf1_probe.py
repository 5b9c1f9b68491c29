"""Round-13 optimization helper: time individual SCALE_PATH queries on the
10x scale cache in isolation (bench.py's sf1 section methodology — same
.count() action, same warmup shape on the sf0.1 tables), so growth-factor
regressions can be attributed without a 4-minute full bench run.

Usage: python scripts/sf1_probe.py q1 q2 ...
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from bench import _control, _ensure_sf1
    from qdrant_datafusion_spark.entry_queries import QUERIES
    from qdrant_datafusion_spark.session import get_spark

    spark = get_spark(app_name="sf1-probe")
    sf1_dir, _ = _ensure_sf1(spark, sf_dir)
    # bench.py's warm-up: footers, then six untimed control runs
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    for _ in range(6):
        _control(spark, sf_dir)
    for name in names:
        spark.sparkContext.setJobDescription(f"sf1probe:{name}")
        t0 = time.time()
        n = QUERIES[name](spark, sf1_dir).count()
        print(f"sf1 {name}: {time.time() - t0:.2f}s ({n} rows)", flush=True)
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()

"""Warm single-session mini-bench: time named queries with the bench's
exact forcing (count()), after the bench warmup, in one session.

Usage:
    python tools/minibench.py <query> [query ...]

Numbers are comparable to a single bench.py child-run's per-query values
(same warmup, same forcing, same session shape) — use for before/after
A/B of a subset without paying the full suite.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import warmup
from dataproc_spark.core import get_spark
from dataproc_spark import queries as registry


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("minibench")
    spark.sparkContext.setLogLevel("ERROR")
    warmup(spark, sf_dir)

    qs = registry.queries()
    total = 0.0
    for name in names:
        spark.sparkContext.setJobDescription(name)
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).count()
        dt = time.perf_counter() - t0
        total += dt
        print(f"{name}: {dt:.3f}s")
        spark.sparkContext.setJobDescription(None)
    print(f"TOTAL: {total:.3f}s")
    spark.stop()


if __name__ == "__main__":
    main()

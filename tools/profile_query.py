"""Profile one declared query: run it (count-forced, same as bench),
then dump per-job and per-stage wall times from the Spark status REST
API so the expensive stage is identifiable.

Usage:
    python tools/profile_query.py <query> [runs] [--noop]

--noop forces with the noop sink (guide 1.4: computes every column)
instead of the bench's count(); use it to see cost count() prunes away.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import warmup
from dataproc_spark.core import get_spark
from dataproc_spark import queries as registry


def main() -> None:
    name = sys.argv[1]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 and sys.argv[2].isdigit() else 1
    noop = "--noop" in sys.argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile_query")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    warmup(spark, sf_dir)  # bench.py's, so run 1 is comparable

    qs = registry.queries()
    for i in range(runs):
        sc.setJobDescription(f"{name} run{i}")
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        t_build = time.perf_counter() - t0
        if noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()
        t_total = time.perf_counter() - t0
        print(f"RUN {i}: build={t_build:.3f}s total={t_total:.3f}s")
        sc.setJobDescription(None)

    ui = sc.uiWebUrl
    app_id = sc.applicationId
    jobs = json.load(
        urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/jobs")
    )
    stages = json.load(
        urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages")
    )
    st_by_id = {s["stageId"]: s for s in stages}
    print("\njobId  dur_s  desc")
    for j in sorted(jobs, key=lambda x: x["jobId"]):
        from datetime import datetime

        fmt = "%Y-%m-%dT%H:%M:%S.%fGMT"
        try:
            dur = (
                datetime.strptime(j["completionTime"], fmt)
                - datetime.strptime(j["submissionTime"], fmt)
            ).total_seconds()
        except Exception:
            dur = float("nan")
        desc = (j.get("description") or j["name"])[:100]
        print(f"{j['jobId']:>5}  {dur:6.2f}  {desc}")
        for sid in sorted(j.get("stageIds", [])):
            s = st_by_id.get(sid)
            if not s or s.get("status") == "SKIPPED":
                continue
            try:
                sdur = (
                    datetime.strptime(s["completionTime"], fmt)
                    - datetime.strptime(s["firstTaskLaunchedTime"], fmt)
                ).total_seconds()
            except Exception:
                sdur = float("nan")
            print(
                f"       stage {sid:>4} {sdur:6.2f}s tasks={s['numCompleteTasks']:>3}"
                f" in={s['inputBytes']:>9} sh_r={s['shuffleReadBytes']:>8}"
                f" sh_w={s['shuffleWriteBytes']:>8}  {s['name'][:60]}"
            )
    spark.stop()


if __name__ == "__main__":
    main()

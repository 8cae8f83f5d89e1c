"""Time registry gates one call at a time, with each call's Spark counters.

    python tools/probe.py [--force count|consume] GATE [GATE ...]

Runs at $SPARK_GRAFT_SF_DIR (bench.py's default: sf0.1) in a plain
``get_spark`` session ($SPARK_GRAFT_CPUS cores), after ``bench.warmup``.
Gates run in the order given and each name is one call, so ``q q`` is
the warm A/B convention: the second call is the optimization signal, the
first also pays per-session codegen of the plan shape. One failing gate
is reported on its line and the rest still run. Each call prints one
JSON line:

    {"gate", "sf_dir", "force", "build_s", "action_s", "rows",
     "jobs", "stages", "tasks", "shuffle_read_bytes",
     "shuffle_write_bytes", "spill_bytes", "catalyst_s", "error"}

``build_s`` is the gate's construction (eager probes and jobs inside
operators included), ``action_s`` the forcing action. The counters sum
every job either of them launched, through one job group each;
``catalyst_s`` sums the analysis, optimization and planning phases of
every action in the call. Both come from ``perfbench/tracer.py``.

Forcing: ``count`` (default) is bench.py's, and lets Catalyst prune the
computed columns the count does not need. ``consume`` reads every output
column through ``agg(sum(hash(*cols)), count(*))``, so it measures the
whole expression work; use it for absolute costs.

A pipeline that is not a registry gate is measured from a scratch script:
``probe.measure(spark, "label", lambda: build_frame(spark), "consume")``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

from bench import run_gate, warmup
from dataproc_spark.core import get_spark
from perfbench.tracer import PHASES, Tracer


def consume(df) -> int:
    """Force ``df`` through an aggregate that reads every column; returns
    its row count. Spark does not hash maps, so any column whose type
    holds a map is hashed as its JSON text."""
    cols = [f"c{i}" for i in range(len(df.columns))]
    types = [t for _, t in df.dtypes]
    df = df.toDF(*cols)  # positional names: dots and duplicates are safe
    hashed = [F.to_json(c) if "map<" in t else F.col(c) for c, t in zip(cols, types)]
    return df.agg(F.sum(F.hash(*hashed)), F.count(F.lit(1))).first()[1]


def measure(spark, label: str, build, force: str) -> dict:
    """Build a frame with ``build()``, force it with ``force`` (``count``
    or ``consume``) and return the call's record: seconds, rows, Spark
    counters, Catalyst seconds and ``error`` (None when it ran)."""
    tr = Tracer(True)
    tr.attach(spark)
    forcing = consume if force == "consume" else (lambda df: df.count())
    try:
        # a unique op id: a gate named twice must not share job groups
        with tr.op(f"{label}#{uuid.uuid4().hex[:8]}"):
            build_s, action_s, rows, err = run_gate(
                lambda: tr.step("build", build),
                lambda df: tr.step("action", forcing, df, action=True),
            )
        tr.drain()
    finally:  # leave the session as it was found
        spark._jsparkSession.listenerManager().unregister(tr._listener)
        spark.sparkContext._jsc.clearJobGroup()
    for st in tr.steps:
        tr.collect_step(st)
    rec = {"force": force, "build_s": build_s, "action_s": action_s, "rows": rows}
    for k in ("jobs", "stages", "tasks", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes"):
        rec[k] = int(sum(st.counters.get(k, 0) for st in tr.steps))
    rec["catalyst_s"] = sum(q[ph][1] - q[ph][0] for q in tr.queries
                            for ph in PHASES if ph in q)
    rec["error"] = err
    return {k: round(v, 3) if isinstance(v, float) else v for k, v in rec.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--force", choices=("count", "consume"), default="count")
    ap.add_argument("gates", nargs="+", metavar="GATE")
    args = ap.parse_args()

    from dataproc_spark.queries import REGISTRY

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Python workers (the Arrow-path gates) import the package through
    # PYTHONPATH, not through this process's sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    spark = get_spark("probe")
    spark.sparkContext.setLogLevel("ERROR")
    warmup(spark, sf_dir)
    failed = 0
    for gate in args.gates:
        rec = measure(spark, gate, lambda: REGISTRY[gate][0](spark, sf_dir), args.force)
        failed += rec["error"] is not None
        print(json.dumps({"gate": gate, "sf_dir": sf_dir, **rec}), flush=True)
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())

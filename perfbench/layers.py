"""Per-layer metrics of a traced run.

The layers are the repository's modules — ``core``, ``io``, ``selective``
(with ``measures``, whose column factories do no work of their own) and
``queries`` (the registry and the ``extensions`` it calls) — above Spark's
``catalyst`` and ``spark`` execution. :data:`PER_LAYER` lists the figures
every traced run prints on its last line; they are measured on every
workload. The report line adds the per-function and per-gate figures of
the layers a workload calls.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict
from dataclasses import asdict

from tracer import PHASES

#: name -> unit, the BENCHMARK.json per_layer list
PER_LAYER = {
    "core.get_spark_s": "s",
    "ops.build_s": "s", "ops.action_s": "s", "ops.build_jobs": "count",
    "program.self_s": "s",
    # the phases' sum: each phase is a sum of whole milliseconds, and the
    # small ones (analysis, tens of ms) can repeat exactly between runs
    "catalyst.phases_s": "s",
    "spark.exec_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.failed_tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.jvm_gc_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "cache.persisted_bytes": "bytes", "cache.inmemory_scans": "count",
    "mem.jvm_peak_rss_mb": "MB",
    "trace.wall_s": "s", "trace.hook_s": "s",
}
#: span layers that are the program's own Python (not the harness, not the JVM)
PROGRAM_LAYERS = ("io", "selective", "queries")


def wrap(tr) -> None:
    from dataproc_spark import io, measures, selective

    tr.wrap_modules({io: "io", selective: "selective", measures: "selective"})


def measure(tr, workload: str, ops: list, get_spark_s: float, rss_mb: float,
            run_dir: str) -> dict:
    """Every per-layer figure of the run: the :data:`PER_LAYER` ones with
    their units, then the workload's own."""
    tr.drain()
    totals = defaultdict(float)
    jvm = []
    per_step = defaultdict(lambda: defaultdict(float))
    for st in tr.steps:
        jvm += [(a, b, "spark") for a, b in tr.collect_step(st)]
        for k, v in st.counters.items():
            totals[f"spark.{k}"] += v
        jobs = st.counters.get("jobs", 0)
        if st.action:
            totals["ops.action_s"] += st.seconds
        else:
            totals["ops.build_s"] += st.seconds
            totals["ops.build_jobs"] += jobs
        rec = per_step[(st.op, st.label)]
        rec["s"] += st.seconds
        rec["jobs"] += jobs
        rec["shuffle_write_bytes"] += st.counters.get("shuffle_write_bytes", 0)
    for q in tr.queries:
        totals["cache.inmemory_scans"] += q["scans"]
        for ph in PHASES:
            if ph in q:
                a, b = q[ph]
                totals[f"catalyst.{ph}_s"] += b - a
                totals["catalyst.phases_s"] += b - a
                jvm.append((a, b, "catalyst"))
    self_s = tr.self_times(jvm)
    totals.update({
        "core.get_spark_s": get_spark_s,
        "mem.jvm_peak_rss_mb": rss_mb,
        "program.self_s": sum(self_s.get(lay, 0.0) for lay in PROGRAM_LAYERS),
        "spark.exec_s": self_s.get("spark", 0.0),
        "cache.persisted_bytes": tr.persisted_bytes(),
        "trace.wall_s": sum(o["s"] for o in ops),
        "trace.hook_s": tr.hook_s,
    })
    out = {k: (totals.get(k, 0.0), unit) for k, unit in PER_LAYER.items()}
    extra = {f"catalyst.{ph}_s": (totals[f"catalyst.{ph}_s"], "s") for ph in PHASES}
    extra.update({f"layer.{lay}.self_s": (v, "s") for lay, v in sorted(self_s.items())})
    by_name = defaultdict(float)
    for s in tr.spans:
        if s.layer in ("io", "selective"):
            by_name[f"{s.name}_s"] += s.end - s.start
    extra.update({k: (v, "s") for k, v in sorted(by_name.items())})
    if workload == "ss_sweep":
        extra.update(_ss_extra(per_step, run_dir))
    else:
        for (op, label), rec in per_step.items():
            if label.startswith("queries."):
                extra[f"{label}.build_s"] = (rec["s"], "s")
                extra[f"{label}.build_jobs"] = (rec["jobs"], "count")
            elif label == "count":
                extra[f"queries.{op}.action_s"] = (rec["s"], "s")
    return {**out, **extra}


def _ss_extra(per_step, run_dir: str) -> dict:
    evaluate = [rec for (op, label), rec in per_step.items()
                if op.startswith("evaluate") and label == "collect"]
    written = 0
    for dirpath, _, files in os.walk(run_dir):
        written += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return {
        "io.load_bucket_selection.jobs": (
            per_step[("ingest", "io.load_bucket_selection")]["jobs"], "count"),
        "io.bytes_written": (written, "bytes"),
        "selective.evaluate.collect_s": (sum(r["s"] for r in evaluate), "s"),
        "selective.evaluate.shuffle_write_bytes": (
            sum(r["shuffle_write_bytes"] for r in evaluate), "bytes"),
    }


def overhead(history: str, workload: str, traced_wall: float):
    """Traced wall_s minus the median untraced wall_s recorded for this
    workload in this checkout, or None before any untraced run."""
    if not os.path.exists(history):
        return None
    with open(history) as f:
        walls = [r["wall_s"] for r in map(json.loads, f) if r["workload"] == workload]
    return traced_wall - statistics.median(walls) if walls else None


def dump(tr) -> dict:
    return {
        "spans": [asdict(s) for s in tr.spans],
        "steps": [asdict(s) for s in tr.steps],
        "queries": tr.queries,
    }

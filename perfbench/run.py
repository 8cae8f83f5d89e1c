"""The repository benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload ss_sweep --seed 1 --seconds 40 --trace 0

Run from the root of a checkout. The process generates its inputs from
the seed (cached under ``.perfbench/cache``), sets Spark up (``get_spark``
on ``local[4]``, which launches the JVM), then runs the workload's ops in
a closed loop with one client: each op starts when the previous one
returns. There is no warmup: the first ops pay the session's first-call
costs inside the timed region. After the timed ops it checks every op's
output against an independent computation and prints, as its last stdout
line, one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it is a fuller report (every op, the
workload's own metrics, every per-layer figure). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
CORES = 4
WORKLOADS = ("ss_sweep", "registry_sf01", "registry_x10")


def _confine() -> None:
    """Keep every file the run writes inside the checkout: Python and JVM
    temp files, Spark's local and warehouse dirs. Python workers find the
    package through PYTHONPATH."""
    import tempfile

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def start_spark():
    from dataproc_spark.core import get_spark

    return get_spark("perfbench", master=f"local[{CORES}]", extra_conf={
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    })


def setup(log):
    """get_spark, which launches the JVM, once per process; returns the
    session and its seconds."""
    t0 = time.perf_counter()
    spark = start_spark()
    spark.sparkContext.setLogLevel("ERROR")
    secs = time.perf_counter() - t0
    log(f"setup: get_spark {secs:.2f}s")
    return spark, secs


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def cpu_seconds(pid: int) -> float:
    """CPU seconds used so far by process ``pid`` and its live descendants
    (the JVM, the Python worker daemon and its workers), counting the
    children each of them has reaped."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # the process exited while we listed /proc
                continue
            stats[int(entry)] = (int(fields[1]), sum(map(int, fields[11:15])))
    children = {}
    for p, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(p)
    todo, ticks = [pid], 0
    while todo:
        p = todo.pop()
        ticks += stats.get(p, (0, 0))[1]
        todo.extend(children.get(p, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of this machine's CPUs: time the hypervisor
    ran something else while a CPU here wanted to run."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return cpu[7], sum(cpu)


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM to exit: the gateway server exits
    when its stdin closes (the py4j threads left in Python are daemons)."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


class Ctx:
    def __init__(self, spark, tr, run_dir):
        self.spark, self.tr, self.run_dir = spark, tr, run_dir


def run_ops(wl, ctx, log):
    """The closed loop: one client, each op after the previous returns.
    Returns the op records and the CPU seconds and steal share of the
    machine over the loop."""
    jvm = ctx.spark.sparkContext._gateway.proc.pid
    cpu0, steal0 = cpu_seconds(jvm) + _own_cpu(), steal_ticks()
    ops = []
    for op_id, kind, fn in wl.ops():
        rec = {"op": op_id, "kind": kind, "ok": True, "error": None}
        t0 = time.perf_counter()
        try:
            with ctx.tr.op(op_id):
                rec["out"] = fn(ctx)
        except Exception as exc:  # noqa: BLE001 — one failed op must not hide the rest
            rec["ok"], rec["error"] = False, f"{type(exc).__name__}: {exc}"[:500]
        rec["s"] = time.perf_counter() - t0
        log(f"op {op_id}: {rec['s']:.3f}s" + ("" if rec["ok"] else f" ERROR {rec['error']}"))
        ops.append(rec)
    cpu = cpu_seconds(jvm) + _own_cpu() - cpu0
    steal1 = steal_ticks()
    return ops, cpu, (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])


def _own_cpu() -> float:
    t = os.times()
    return t.user + t.system


def end_to_end(get_spark_s, ops, cpu_s) -> dict:
    """The BENCHMARK.json end-to-end metrics."""
    return {
        "setup_s": (get_spark_s, "s"),
        "wall_s": (sum(o["s"] for o in ops), "s"),
        "cpu_s": (cpu_s, "s"),
    }


def workload_metrics(name, ops) -> dict:
    """The workload's own end-to-end figures (printed in the report)."""
    by = lambda kind: [o["s"] for o in ops if o["kind"] == kind]  # noqa: E731
    out = {"op_p50_s": (statistics.median(o["s"] for o in ops), "s")}
    if name == "ss_sweep":
        out.update({"ingest_s": (sum(by("ingest")), "s"),
                    "select_export_p50_s": (statistics.median(by("select_export")), "s"),
                    "evaluate_s": (sum(by("evaluate")), "s")})
    else:
        out["query_p50_s"] = (statistics.median(by("gate")), "s")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=40,
                    help="nominal length of the timed ops; the op list is fixed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    start = time.perf_counter()

    def log(msg):
        print(f"# [{time.perf_counter() - start:6.1f}s] {msg}", file=sys.stderr, flush=True)

    if not os.path.isfile(os.path.join(ROOT, "dataproc_spark", "__init__.py")):
        log(f"no dataproc_spark package under {ROOT}: run from a full checkout")
        return 2
    _confine()
    import dataproc_spark  # noqa: F401 — fail here, before any output

    import layers
    import tracer as tracing

    cache = os.path.join(WORK, "cache")
    if args.workload == "ss_sweep":
        from ss import SsSweep
        wl = SsSweep(cache, args.seed)
    else:
        from registry import Registry
        wl = Registry(cache, args.seed, 1 if args.workload == "registry_sf01" else 10)
    log(f"inputs ready, generation {wl.gen_s:.2f}s (0 = cached)")

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    spark, get_spark_s = setup(log)
    tr = tracing.Tracer(bool(args.trace))
    if args.trace:
        tr.attach(spark)
        layers.wrap(tr)
    ctx = Ctx(spark, tr, run_dir)
    try:
        ops, cpu_s, steal = run_ops(wl, ctx, log)
        rss_mb = jvm_peak_rss_mb(spark)
        per_layer = (layers.measure(tr, wl.name, ops, get_spark_s, rss_mb, run_dir)
                     if args.trace else None)
        for o in ops:  # output checks, outside the timed region
            if o["ok"]:
                why = wl.check(o["op"], o["out"])
                if why:
                    o["ok"], o["error"] = False, f"wrong output: {why}"
                    log(f"op {o['op']}: {o['error']}")
    finally:
        shutdown(spark)

    e2e = end_to_end(get_spark_s, ops, cpu_s)
    failed = sum(not o["ok"] for o in ops)
    wall = e2e["wall_s"][0]
    if wall > 3 * args.seconds:
        log(f"timed ops took {wall:.1f}s, over 3x the nominal {args.seconds}s")
    report = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "generation_s": wl.gen_s, "steal_share": steal,
        "ops": [{k: o[k] for k in ("op", "kind", "s", "ok", "error")} for o in ops],
        "end_to_end": {**e2e, **workload_metrics(wl.name, ops),
                       "error_rate": (failed / len(ops), "ratio"),
                       "jvm_peak_rss_mb": (rss_mb, "MB")},
    }
    os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
    history = os.path.join(WORK, "out", "history.jsonl")
    if args.trace:
        report["per_layer"] = per_layer
        report["trace_overhead_s"] = layers.overhead(history, wl.name, wall)
        path = os.path.join(WORK, "out", f"{wl.name}-seed{args.seed}-trace.json")
        with open(path, "w") as f:
            json.dump({"report": report, **layers.dump(tr)}, f)
        log(f"spans written to {path}")
        metrics = {k: per_layer[k] for k in layers.PER_LAYER}
    else:
        with open(history, "a") as f:
            f.write(json.dumps({"workload": wl.name, "seed": args.seed, "wall_s": wall}) + "\n")
        metrics = e2e
    print(json.dumps(report))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

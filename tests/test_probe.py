"""tools/probe.py, in-process: its forcings, its per-call record and the
perfbench tracer it reads counters and Catalyst phases from."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from dataproc_spark.queries import REGISTRY
from tests.test_registry_analysis import _SF_DIR as SF
from tools import probe


@pytest.mark.parametrize("gate", ["select_top_t", "resolve_buckets"])
def test_count_and_consume_agree(spark, gate):
    recs = {}
    for force in ("count", "consume"):
        t0 = time.perf_counter()
        rec = probe.measure(spark, gate, lambda: REGISTRY[gate][0](spark, SF), force)
        wall = time.perf_counter() - t0
        assert rec["error"] is None and rec["force"] == force
        assert rec["jobs"] >= 1 and rec["stages"] >= 1 and rec["tasks"] >= 1
        assert rec["catalyst_s"] > 0
        # the record's two phases are the call: what is left is the
        # tracer's attach, drain and counter reads
        timed = rec["build_s"] + rec["action_s"]
        assert timed <= wall + 0.002 and wall - timed < 1.0
        recs[force] = rec
    assert recs["count"]["rows"] == recs["consume"]["rows"] > 0
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_consume_hashes_map_and_binary_columns(spark):
    df = spark.createDataFrame(
        [(i, {"a": i, "b": -i}, bytes([i, 255 - i])) for i in range(7)],
        "k long, m map<string,int>, b binary",
    )
    rec = probe.measure(spark, "maps", lambda: df.where("k > 1"), "consume")
    assert rec["error"] is None and rec["rows"] == 5


def test_consume_reads_every_column(spark):
    """count() lets Catalyst prune a computed column; consume must run
    it, so a column that fails to compute fails only under consume."""
    boom = F.udf(lambda k: 1 // (k - k), "long")

    def build():
        return spark.range(4).select("id", boom("id").alias("x"))

    assert probe.measure(spark, "pruned", build, "count")["rows"] == 4
    rec = probe.measure(spark, "consumed", build, "consume")
    assert rec["rows"] is None and rec["error"].startswith("PythonException")
    assert rec["build_s"] is not None and rec["action_s"] is None

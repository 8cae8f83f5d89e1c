"""The ``registry_*`` workloads: the 17 headline gates of ``bench.py``, in
its order, each built and forced with ``count()``.

Each gate's count is checked against ``COUNT(*)`` of its DuckDB oracle
(``oracle_sql()``) over the same generated tables. ``dedup_minhash`` has
no oracle (its pairs depend on the hash family); its count is checked
against the count recorded the first time this input was run, a weaker
check that catches drift between runs but not a wrong first answer.
"""

from __future__ import annotations

import json
import os

import gen

#: bench.py's BENCH_QUERIES, in its order
GATES = (
    "select_top_t", "select_with_decay", "evaluate_sweep", "trec_export",
    "resolve_buckets", "tpch_q1", "tpch_q3", "tpch_q5", "top_customers",
    "events_hourly", "events_sessionize", "dedup_exact", "dedup_minhash",
    "text_stats", "token_topk", "embed_near_dup", "ann_bucketed",
)
#: left out at 10x: replication makes their true output grow ~45x, so
#: their time would measure the replica rather than the program
X10_SKIP = ("dedup_minhash", "embed_near_dup")
FIRST_RUN = ("dedup_minhash",)


class Registry:
    def __init__(self, cache: str, seed: int, scale: int):
        self.name = "registry_sf01" if scale == 1 else f"registry_x{scale}"
        self.sf_dir, self.gen_s = gen.star_tables(cache, seed, scale, permute=scale > 1)
        self.gates = [g for g in GATES if scale == 1 or g not in X10_SKIP]
        self._counts_path = os.path.join(self.sf_dir, "expected_counts.json")
        self.expected = self._oracle_counts()

    def ops(self):
        return [(g, "gate", self._gate(g)) for g in self.gates]

    def _gate(self, name: str):
        def op(ctx):
            from dataproc_spark import queries

            df = ctx.tr.step(f"queries.{name}", queries.REGISTRY[name][0],
                             ctx.spark, self.sf_dir, layer="queries")
            return ctx.tr.step("count", df.count, action=True, layer="action")

        return op

    def _oracle_counts(self) -> dict:
        if os.path.exists(self._counts_path):
            with open(self._counts_path) as f:
                return json.load(f)
        import duckdb
        from dataproc_spark import queries

        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{os.path.join(self.sf_dir, 'duckdb.tmp')}'")
        con.execute("SET threads = 4")
        for t in queries.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.sf_dir, t)}.parquet')")
        counts = {}
        for g in self.gates:
            sql = queries.REGISTRY[g][1]
            if sql is not None:
                counts[g] = con.execute(f"SELECT COUNT(*) FROM ({sql})").fetchone()[0]
        con.close()
        self._save(counts)
        return counts

    def _save(self, counts: dict) -> None:
        tmp = self._counts_path + ".partial"
        with open(tmp, "w") as f:
            json.dump(counts, f)
        os.replace(tmp, self._counts_path)

    def check(self, op_id: str, count: int) -> str | None:
        want = self.expected.get(op_id)
        if want is None and op_id in FIRST_RUN:
            self.expected[op_id] = count
            self._save(self.expected)
            return None
        if count != want:
            return f"count {count}, oracle {want}"
        return None

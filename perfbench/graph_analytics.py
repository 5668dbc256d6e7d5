"""graph_analytics: whole-graph jobs through the embedded API, no server.

Each op builds one analytics job over the seeded tables with the
package's operators (through the ``__spark_entry__`` gate function for
that job) and collects its result. The work is Spark shuffles and iterations
inside ``operators.*``; parse, compile and the store are not involved.
Every result is checked against an answer computed without the engine:
the gate's DuckDB oracle through ``scripts/check_correctness.compare``,
and ``scripts/differential_oracles.diff_ann_search`` for ANN search.
"""

from __future__ import annotations

import os
import sys
from concurrent.futures import ThreadPoolExecutor

import duckdb

from harness import ROOT, Op

sys.path.insert(0, os.path.join(ROOT, "scripts"))

# job -> the __spark_entry__ gate that builds it; one of each per round.
# pagerank (every vertex active each superstep) and shortest paths (a small
# frontier) are the two ends of the superstep range; connected components
# and label propagation are left out to fit the run-time budget.
JOBS = {
    "pagerank": "q_pagerank",
    "shortest_path_lengths": "q_shortest_paths",
    "jaccard_pairs": "q_ngram_jaccard",
    "ann_search": "q_ann_search",
    "pack_chunks": "q_pack_chunks",
}

_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
           "lineitem", "events", "documents", "embeddings"]


def _duckdb(data_dir: str):
    con = duckdb.connect()
    for t in _TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


class GraphAnalytics:
    name = "graph_analytics"
    sf = 0.001

    def __init__(self, bench):
        self.b = bench

    def prepare(self) -> None:
        self.data = self.b.dataset(self.sf, self.b.seed)
        self.warm_data = self.b.dataset(self.sf, self.b.warm_seed)
        # the oracles run in DuckDB while the warm-up runs in Spark
        self._pool = ThreadPoolExecutor(max_workers=1)
        self._expected = self._pool.submit(self._oracles, self.data["dir"])

    def _oracles(self, data_dir: str) -> dict:
        import __spark_entry__ as gates

        con = _duckdb(data_dir)
        sql = gates.oracle_sql()
        out = {}
        for job, gate in JOBS.items():
            if gate in sql:
                rel = con.sql(sql[gate])
                out[job] = (rel.columns, [dict(zip(rel.columns, r)) for r in rel.fetchall()])
        con.close()
        return out

    def setup(self, data=None) -> str:
        """User set-up: read the tables the jobs scan. Returns the data dir."""
        import __spark_entry__ as gates
        from nicefox_graphdb_spark.sources import tpch

        data_dir = (data or self.data)["dir"]
        with self.b.span("tpch.load"):
            tables = tpch.read_tables(self.b.spark, data_dir)
        gates._TABLES_CACHE[(id(self.b.spark), data_dir)] = tables
        return data_dir

    def engines(self, target) -> list:
        return []

    def _check(self, job: str, data_dir: str):
        from check_correctness import compare
        from differential_oracles import diff_ann_search

        if job == "ann_search":
            def check(res):
                con = _duckdb(data_dir)
                try:
                    return diff_ann_search(res[1], con, data_dir)[0]
                finally:
                    con.close()
            return check
        cols, rows = self._expected.result()[job]
        return lambda res: compare(job, res[1], res[0], rows, cols)[0] == "MATCH"

    def _run(self, job: str, data_dir: str):
        import __spark_entry__ as gates

        if job == "ann_search":
            gates._IVF_INDEXES.clear()  # every op builds its own index
        with self.b.span("job", "exec"):
            df = gates.queries()[JOBS[job]](self.b.spark, data_dir)
            rows = [r.asDict(recursive=True) for r in df.collect()]
        return df.columns, rows

    def _ops(self, data_dir: str, rounds: int, checked: bool = True) -> list[Op]:
        ok = lambda res: True  # noqa: E731 — warm-up data has no oracle
        return [
            Op(job, lambda j=job: self._run(j, data_dir),
               self._check(job, data_dir) if checked else ok)
            for _ in range(rounds) for job in JOBS
        ]

    def warm_up(self, target) -> None:
        data_dir = self.setup(self.warm_data)
        self.b.run_untimed(self._ops(data_dir, 1, checked=False))

    def ops(self, data_dir: str) -> list[Op]:
        return self._ops(data_dir, self.b.rounds(self))

    def finish(self, data_dir: str) -> tuple[bool, dict]:
        self._pool.shutdown()
        return True, {}

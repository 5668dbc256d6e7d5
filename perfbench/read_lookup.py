"""Keyed Cypher reads on the TPC-H graph (the read half of ``statements``).

The TPC-H graph engine is registered as a server project, so it is never
written and its plan cache keeps its entries. Four keyed shapes run in
fixed counts per round. In each shape half of the ops reuse one hot key,
so they hit the engine's 100-entry plan cache after the first; the other
half use keys not seen before in the run, so they compile. Expected rows
come from DuckDB over the same parquet, computed before the timed pass.
"""

from __future__ import annotations

import random

import duckdb

from harness import Op

# shape -> (cypher, per-round count)
SHAPES = {
    "point": (
        "MATCH (c:Customer {custkey: $k}) RETURN c.name AS name, c.acctbal AS bal",
        6,
    ),
    "one_hop": (
        "MATCH (c:Customer {custkey: $k})-[:PLACED]->(o:Order) "
        "RETURN o.orderkey AS ok, o.totalprice AS price ORDER BY ok",
        3,
    ),
    "two_hop": (
        "MATCH (c:Customer {custkey: $k})-[:PLACED]->(:Order)-[:CONTAINS]->(p:Part) "
        "RETURN p.partkey AS pk, count(*) AS n ORDER BY pk",
        2,
    ),
    "var_length": (
        "MATCH (e:Event {event_id: $k})-[:NEXT*1..3]->(x:Event) "
        "RETURN x.event_id AS id ORDER BY id",
        1,
    ),
}

_ORACLE = {
    "point": """
        SELECT c_custkey AS k, c_name AS name, c_acctbal AS bal
        FROM customer WHERE c_custkey IN ({keys})""",
    "one_hop": """
        SELECT o_custkey AS k, o_orderkey AS ok, o_totalprice AS price
        FROM orders WHERE o_custkey IN ({keys}) ORDER BY k, ok""",
    "two_hop": """
        SELECT o_custkey AS k, l_partkey AS pk, count(*) AS n
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        WHERE o_custkey IN ({keys}) GROUP BY 1, 2 ORDER BY k, pk""",
    "var_length": """
        WITH nxt AS (
            SELECT event_id,
                   lead(event_id, 1) OVER w AS n1,
                   lead(event_id, 2) OVER w AS n2,
                   lead(event_id, 3) OVER w AS n3
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        SELECT event_id AS k, unnest([n1, n2, n3]) AS id FROM nxt
        WHERE event_id IN ({keys})""",
}


def script(seed: int, rounds: int, n_cust: int, n_events: int) -> list[tuple[str, int]]:
    """The seeded (shape, key) sequence: fixed counts per shape, half of
    each shape's ops on its hot key, the rest on distinct fresh keys."""
    rng = random.Random(seed)
    space = {"point": n_cust, "one_hop": n_cust, "two_hop": n_cust,
             "var_length": n_events}
    ops = []
    for shape, (_q, per_round) in SHAPES.items():
        n = per_round * rounds
        keys = rng.sample(range(space[shape]), n - n // 2 + 1)
        hot, fresh = keys[0], keys[1:]
        ops += [(shape, hot)] * (n // 2) + [(shape, k) for k in fresh]
    rng.shuffle(ops)
    return ops


def expected(data_dir: str, ops: list[tuple[str, int]]) -> dict[tuple[str, int], list]:
    con = duckdb.connect()
    for t in ("customer", "orders", "lineitem", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out: dict[tuple[str, int], list] = {op: [] for op in ops}
    for shape, sql in _ORACLE.items():
        keys = sorted({k for s, k in ops if s == shape})
        if not keys:
            continue
        rel = con.sql(sql.format(keys=", ".join(map(str, keys))))
        cols = rel.columns
        rows = [dict(zip(cols, r)) for r in rel.fetchall()]
        for r in rows:
            k = r.pop("k")
            if shape == "var_length" and r["id"] is None:
                continue
            out[(shape, k)].append(r)
    for (shape, k), rows in out.items():
        if shape == "var_length":
            rows.sort(key=lambda r: r["id"])
    con.close()
    return out


class ReadPart:
    """The read half of the ``statements`` workload: project ``tpch<n>``."""

    sf = 0.01

    def __init__(self, bench, server):
        self.b = bench
        self.server = server
        self._projects = 0

    def prepare(self) -> None:
        self.data = self.b.dataset(self.sf, self.b.seed)

    def setup(self) -> str:
        """User set-up: load the TPC-H graph and register it as a project.
        Returns the project name."""
        from nicefox_graphdb_spark import CypherEngine
        from nicefox_graphdb_spark.sources import tpch

        with self.b.span("tpch.load"):
            cat = tpch.load_tpch_graph(self.b.spark, self.data["dir"])
        self._projects += 1
        project = f"tpch{self._projects}"
        self.server.manager.register(project, CypherEngine(self.b.spark, cat))
        return project

    def engine(self, project: str):
        return self.server.manager.engine(project)

    def _ops(self, project: str, seed: int, rounds: int) -> list[Op]:
        rows = self.data["rows"]
        seq = script(seed, rounds, rows["customer"], rows["events"])
        want = expected(self.data["dir"], seq)
        client = self.server.client(project)
        return [
            Op(
                f"read_lookup.{shape}",
                lambda c=SHAPES[shape][0], k=key: self.b.request(client, c, {"k": k}),
                lambda resp, rows=want[(shape, key)]: resp["success"] and resp["data"] == rows,
                {"key": key},
            )
            for shape, key in seq
        ]

    def warm_up(self, project: str) -> None:
        self.b.run_untimed(self._ops(project, self.b.warm_seed, 1))

    def ops(self, project: str, rounds: int) -> list[Op]:
        return self._ops(project, self.b.seed, rounds)

    def finish(self, project: str) -> tuple[bool, dict]:
        return True, {}

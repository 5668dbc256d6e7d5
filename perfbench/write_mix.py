"""Keyed writes and reads on a durable project (the write half of
``statements``).

The server runs with a data directory, so every write project is a fresh
``DurableGraph`` on local disk, published with the store's manifest fsync.
Set-up seeds a new project with ``Acct`` nodes and ``PAYS`` edges. The
timed pass is a fixed count of five write shapes plus the point and
one-hop reads of read_lookup over the graph being written. Every write
bumps the catalog version, so the reads always miss the plan cache.

A Python model of the keyed graph evolves with the script; it supplies
the expected rows of every read and the final aggregate.
"""

from __future__ import annotations

import json
import os
import random

from harness import Op, dir_bytes

N_ACCTS = 2_000

SEED_NODES = (
    f"UNWIND range(0, {N_ACCTS - 1}) AS i "
    "CREATE (:Acct {id: i, bal: i % 1000, tier: 'base'})"
)
SEED_EDGES = (
    "MATCH (a:Acct) WITH a, (a.id * 7 + 3) % " + str(N_ACCTS) + " AS j "
    "MATCH (b:Acct) WHERE b.id = j CREATE (a)-[:PAYS {amt: a.id % 100}]->(b)"
)

# shape -> (cypher, per-round count)
SHAPES = {
    "merge_node": (
        "MERGE (a:Acct {id: $id}) ON CREATE SET a.bal = $bal, a.tier = 'new' "
        "ON MATCH SET a.bal = a.bal + 1",
        2,
    ),
    "merge_rel": (
        "MATCH (a:Acct {id: $a}), (b:Acct {id: $b}) "
        "MERGE (a)-[r:PAYS]->(b) ON CREATE SET r.amt = $amt",
        1,
    ),
    "set": ("MATCH (a:Acct {id: $id}) SET a.bal = $bal", 1),
    "create": (
        "UNWIND $rows AS r CREATE (:Acct {id: r.id, bal: r.bal, tier: 'batch'})",
        1,
    ),
    "delete": ("MATCH (a:Acct {id: $id}) DETACH DELETE a", 1),
    "point": ("MATCH (a:Acct {id: $id}) RETURN a.bal AS bal, a.tier AS tier", 2),
    "one_hop": (
        "MATCH (a:Acct {id: $id})-[:PAYS]->(b:Acct) RETURN b.id AS id ORDER BY id",
        1,
    ),
}
FINAL = (
    "MATCH (a:Acct) RETURN count(*) AS n",
    "MATCH (:Acct)-[r:PAYS]->(:Acct) RETURN count(*) AS m, sum(r.amt) AS amt",
)


class Model:
    """The keyed graph as plain dicts: id -> props, (src, dst) -> amt."""

    def __init__(self):
        self.nodes = {i: {"bal": i % 1000, "tier": "base"} for i in range(N_ACCTS)}
        self.edges = {(i, (i * 7 + 3) % N_ACCTS): i % 100 for i in range(N_ACCTS)}
        self.next_id = 10 * N_ACCTS

    def apply(self, shape: str, p: dict):
        """Apply one statement; returns the rows a read should yield."""
        if shape == "merge_node":
            if p["id"] in self.nodes:
                self.nodes[p["id"]]["bal"] += 1
            else:
                self.nodes[p["id"]] = {"bal": p["bal"], "tier": "new"}
        elif shape == "merge_rel":
            self.edges.setdefault((p["a"], p["b"]), p["amt"])
        elif shape == "set":
            self.nodes[p["id"]]["bal"] = p["bal"]
        elif shape == "create":
            for r in p["rows"]:
                self.nodes[r["id"]] = {"bal": r["bal"], "tier": "batch"}
        elif shape == "delete":
            del self.nodes[p["id"]]
            self.edges = {e: a for e, a in self.edges.items() if p["id"] not in e}
        elif shape == "point":
            n = self.nodes.get(p["id"])
            return [] if n is None else [dict(n)]
        elif shape == "one_hop":
            return [{"id": d} for d in sorted(d for s, d in self.edges if s == p["id"])]
        return []

    def final(self) -> list[list[dict]]:
        return [[{"n": len(self.nodes)}],
                [{"m": len(self.edges), "amt": sum(self.edges.values())}]]

    def json_bytes(self) -> int:
        return len(json.dumps({
            "nodes": [{"id": i, **n} for i, n in self.nodes.items()],
            "edges": [{"src": s, "dst": d, "amt": a} for (s, d), a in self.edges.items()],
        }))


def script(seed: int, rounds: int) -> tuple[list[tuple[str, dict, list]], Model]:
    """Seeded statement sequence with each read's expected rows; the
    model is left at the state the run should end in."""
    rng = random.Random(seed)
    model = Model()
    shapes = [s for s, (_q, n) in SHAPES.items() for _ in range(n * rounds)]
    rng.shuffle(shapes)
    out = []
    upserts = 0
    for shape in shapes:
        ids = sorted(model.nodes)
        if shape == "merge_node":
            # half of the upserts match an existing node, half create one
            upserts += 1
            if upserts % 2:
                pick = rng.choice(ids)
            else:
                pick = model.next_id
                model.next_id += 1
            p = {"id": pick, "bal": rng.randrange(1000)}
        elif shape == "merge_rel":
            p = {"a": rng.choice(ids), "b": rng.choice(ids), "amt": rng.randrange(100)}
        elif shape == "create":
            p = {"rows": [{"id": model.next_id + i, "bal": rng.randrange(1000)}
                          for i in range(5)]}
            model.next_id += 5
        elif shape == "set":
            p = {"id": rng.choice(ids), "bal": rng.randrange(1000)}
        else:
            p = {"id": rng.choice(ids)}
        out.append((shape, p, model.apply(shape, p)))
    return out, model


class WritePart:
    """The write half of the ``statements`` workload: project ``acct<n>``."""

    def __init__(self, bench, server, data_dir: str):
        self.b = bench
        self.server = server
        self.data_dir = data_dir
        self._projects = 0

    def prepare(self) -> None:
        pass

    def setup(self) -> str:
        """User set-up: seed a fresh durable project. Returns its name."""
        self._projects += 1
        project = f"acct{self._projects}"
        client = self.server.client(project)
        for stmt in (SEED_NODES, SEED_EDGES):
            resp = self.b.request(client, stmt)
            if not resp["success"]:
                raise RuntimeError(f"seeding failed: {resp.get('error')}")
        return project

    def engine(self, project: str):
        return self.server.manager.engine(project)

    def _ops(self, project: str, seed: int, rounds: int) -> list[Op]:
        seq, self.model = script(seed, rounds)
        client = self.server.client(project)
        return [
            Op(
                f"write_mix.{shape}",
                lambda c=SHAPES[shape][0], p=p: self.b.request(client, c, p),
                lambda resp, rows=rows: resp["success"] and resp["data"] == rows,
            )
            for shape, p, rows in seq
        ]

    def warm_up(self, project: str) -> None:
        """Writes to ``project``, which the timed pass does not use."""
        self.b.run_untimed(self._ops(project, self.b.warm_seed, 1))

    def ops(self, project: str, rounds: int) -> list[Op]:
        return self._ops(project, self.b.seed, rounds)

    def finish(self, project: str) -> tuple[bool, dict]:
        """Check the final aggregate against the model; measure space."""
        client = self.server.client(project)
        got = [client.query_response(q) for q in FINAL]
        ok = all(r["success"] for r in got) and [r["data"] for r in got] == self.model.final()
        store = self.engine(project).store
        live = sum(len(t["files"]) for t in store.tables.manifest["tables"].values())
        on_disk = dir_bytes(os.path.join(self.data_dir, project))
        return ok, {
            "final_aggregate": [r.get("data") for r in got],
            "live_files": live,
            "store_bytes": on_disk,
            "model_json_bytes": self.model.json_bytes(),
            "space_amp": on_disk / self.model.json_bytes(),
        }

"""statements: interactive Cypher through the HTTP server, one client.

One ``RemoteEngine`` sends each statement over loopback and waits for the
reply before sending the next (closed loop, one client). The server holds
two projects, and the stream interleaves their statements in a seeded
order that keeps each project's own order:

- ``tpch<n>`` (read_lookup.py): keyed reads on the TPC-H graph, never
  written, so its plan cache keeps entries and hot keys hit it;
- ``acct<n>`` (write_mix.py): a fresh durable project per pass, with
  keyed writes and reads; every write bumps its catalog version, so its
  reads always miss the plan cache.
"""

from __future__ import annotations

import os
import random

from read_lookup import ReadPart
from write_mix import WritePart


class Statements:
    name = "statements"

    def __init__(self, bench):
        self.b = bench

    def prepare(self) -> None:
        data_dir = os.path.join(self.b.work, "projects")
        server = self.b.server(data_dir=data_dir)
        self.parts = [ReadPart(self.b, server), WritePart(self.b, server, data_dir)]
        for part in self.parts:
            part.prepare()

    def setup(self) -> tuple[str, str]:
        """User set-up: register the TPC-H graph and seed a durable project."""
        return tuple(part.setup() for part in self.parts)

    def warm_up(self, target) -> None:
        """Each shape once, with the warm-up seed, on the projects of the
        first set-up; the timed pass runs on fresh ones."""
        for part, t in zip(self.parts, target):
            part.warm_up(t)

    def engines(self, target) -> list:
        return [part.engine(t) for part, t in zip(self.parts, target)]

    def ops(self, target) -> list:
        rounds = self.b.rounds(self)
        queues = [part.ops(t, rounds)[::-1] for part, t in zip(self.parts, target)]
        rng = random.Random(self.b.seed)
        merged = []
        while any(queues):
            # draw the next statement's project in proportion to what is left
            q = rng.choices(queues, weights=[len(q) for q in queues])[0]
            merged.append(q.pop())
        return merged

    def finish(self, target) -> tuple[bool, dict]:
        ok, info = True, {}
        for part, t in zip(self.parts, target):
            part_ok, part_info = part.finish(t)
            ok &= part_ok
            info.update(part_info)
        return ok, info

"""Generate tests/tck/features/merge_emptiness_matrix.feature.

MERGE under EMPTY vs NON-EMPTY inputs, crossed with pattern-exists vs
pattern-absent — the decision matrix round 9 turned from driver isEmpty()
probe jobs into data (limit-1 seed frames, observe-metric checkpoints,
anti-joined 1-row markers; compiler.py _merge_multi_hop /
_merge_standalone_path / keyless _merge_node / _merge_chain_correlated).
Neo4j semantics (openCypher Merge: "MERGE runs once per incoming row"):

- zero input rows  -> MERGE executes ZERO times: nothing is ever created,
  downstream RETURN sees zero rows;
- n>0 input rows, pattern absent -> uncorrelated MERGE creates the whole
  pattern ONCE globally, every row binds it;
- n>0 input rows, pattern present -> no creation, every row binds every
  match (cardinality multiplies).

Expected values are closed-form per shape (counts over a fixed seed),
independent of the engine. Reference merge interpreters:
src/executor.ts:6835-7121 (one transaction, no pre-queries: 446-456).
"""

from __future__ import annotations

import os

OUT = os.path.join(
    os.path.dirname(__file__), "..", "tests", "tck", "features",
    "merge_emptiness_matrix.feature",
)

# seed: two Person rows drive the non-empty branch; WHERE FALSE-style
# filter drives the empty branch. EXisting-pattern variants pre-create it.
SEED = "CREATE (:Person {name: 'A'}), (:Person {name: 'B'})"

# (shape-title, merge-pattern, pre-create-cypher-for-"present",
#  count-check-cypher, count-when-created, count-when-present-preexisting)
SHAPES = [
    (
        "keyless node",
        "MERGE (s:Solo)",
        "CREATE (:Solo)",
        "MATCH (s:Solo) RETURN count(*) AS c",
        1,
        1,
    ),
    (
        "keyed node",
        "MERGE (s:City {k: 1})",
        "CREATE (:City {k: 1})",
        "MATCH (s:City) RETURN count(*) AS c",
        1,
        1,
    ),
    (
        "single-hop chain both unbound keyed",
        "MERGE (x:Org {k: 1})-[:AT]->(y:Site {k: 2})",
        "CREATE (:Org {k: 1})-[:AT]->(:Site {k: 2})",
        "MATCH (:Org)-[r:AT]->(:Site) RETURN count(*) AS c",
        1,
        1,
    ),
    (
        "multi-hop chain",
        "MERGE (x:Hub {h: 1})-[:L]->(y:Mid {m: 1})-[:L]->(z:Leaf {f: 1})",
        "CREATE (:Hub {h: 1})-[:L]->(:Mid {m: 1})-[:L]->(:Leaf {f: 1})",
        "MATCH (:Hub)-[:L]->(:Mid)-[:L]->(:Leaf) RETURN count(*) AS c",
        1,
        1,
    ),
]

# correlated one-unbound shape handled separately (binds p per row)
CORRELATED = (
    "one endpoint bound",
    "MERGE (p)-[:OWNS]->(c:Car {plate: p.name})",
    "MATCH (:Car) RETURN count(*) AS c",
)

lines = [
    "Feature: MERGE emptiness matrix — zero-input and pattern-present "
    "decision grid",
    "",
    "  # Generated by scripts/gen_tck_merge_emptiness.py; round-9 guard for",
    "  # the probe-free (data-dependent) MERGE decision paths.",
    "",
]


def scenario(title: str, setup: list[str], query: str, cols: list[str],
             rows: list[list[str]]) -> None:
    lines.append(f"  Scenario: {title}")
    lines.append("    Given an empty graph")
    for s in setup:
        lines.append("    And having executed:")
        lines.append('      """')
        lines.append(f"      {s}")
        lines.append('      """')
    lines.append("    When executing query:")
    lines.append('      """')
    for ln in query.split("\n"):
        lines.append(f"      {ln}")
    lines.append('      """')
    lines.append("    Then the result should be, in any order:")
    lines.append("      | " + " | ".join(cols) + " |")
    for r in rows:
        lines.append("      | " + " | ".join(r) + " |")
    lines.append("")


for title, merge, pre, check, n_created, n_present in SHAPES:
    # 1. zero input rows: MERGE runs zero times, creates nothing
    scenario(
        f"{title} — zero input rows creates nothing",
        [SEED],
        f"MATCH (p:Person) WHERE p.name = 'ZZZ' {merge} "
        f"RETURN count(*) AS c",
        ["c"], [["0"]],
    )
    scenario(
        f"{title} — zero input rows leaves graph untouched",
        [SEED, f"MATCH (p:Person) WHERE p.name = 'ZZZ' {merge}"],
        check, ["c"], [["0"]],
    )
    # 2. non-empty input, pattern absent: created once, binds every row
    scenario(
        f"{title} — two rows create once and all bind",
        [SEED],
        f"MATCH (p:Person) {merge} RETURN count(*) AS c",
        ["c"], [["2"]],
    )
    scenario(
        f"{title} — two rows create exactly one pattern",
        [SEED, f"MATCH (p:Person) {merge}"],
        check, ["c"], [[str(n_created)]],
    )
    # 3. non-empty input, pattern present: no new creation
    scenario(
        f"{title} — existing pattern is matched not duplicated",
        [SEED, pre, f"MATCH (p:Person) {merge}"],
        check, ["c"], [[str(n_present)]],
    )
    # 4. standalone (no incoming rows clause): create-once semantics
    scenario(
        f"{title} — standalone merge is idempotent",
        [merge, merge],
        check, ["c"], [[str(n_created)]],
    )

# correlated one-unbound: per-row create when absent, zero rows -> nothing
c_title, c_merge, c_check = CORRELATED
scenario(
    f"{c_title} — zero input rows creates nothing",
    [SEED, f"MATCH (p:Person) WHERE p.name = 'ZZZ' {c_merge}"],
    c_check, ["c"], [["0"]],
)
scenario(
    f"{c_title} — one created per distinct bound row",
    [SEED, f"MATCH (p:Person) {c_merge}"],
    c_check, ["c"], [["2"]],
)
scenario(
    f"{c_title} — re-merge matches instead of duplicating",
    [SEED, f"MATCH (p:Person) {c_merge}", f"MATCH (p:Person) {c_merge}"],
    c_check, ["c"], [["2"]],
)

with open(OUT, "w") as f:
    f.write("\n".join(lines) + "\n")
n = sum(1 for ln in lines if ln.startswith("  Scenario:"))
print(f"wrote {OUT}: {n} scenarios")

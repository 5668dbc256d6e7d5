"""Graph analytics — Pregel-style iterative algorithms on DataFrames.

The BASELINE north star calls for GraphX-class analytics; GraphX has no
Python binding, so these are the same message-passing shapes expressed as
DataFrame joins (what GraphFrames does under the hood): per superstep,
messages = edges ⋈ vertex-state, new state = aggregate(messages), and
every loop runs on the one superstep driver (``operators.superstep``):
one observed lineage cut per step. Every superstep is one
distributed join+aggregate — exactly the shape that scales to a
1000-executor cluster. SSSP alone keeps a small frontier on the driver,
one pruned edge scan per hop (``superstep.frontier_supersteps``).

Inputs are edge DataFrames with `src`/`dst` (string ids) columns; vertex
sets are derived or passed explicitly.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nicefox_graphdb_spark.operators.common import local_frame, shuffle_partitions
from nicefox_graphdb_spark.operators.superstep import (
    bounded_rows,
    cut,
    frontier_supersteps,
    supersteps,
)

# Most (start, id, dist) rows SSSP holds on the driver before its hops
# join (``superstep.frontier_supersteps``): the measured crossover of the
# two hops. One hop from a frontier of F rows on the ×10 ``NEXT`` edges
# of ``scripts/gen_scale_data.py`` (1M edges, 4 cores), driver / join,
# median of 3:
#
#     F         10     1k    10k    20k    50k   100k
#     driver  0.21   0.16   0.59   0.96   2.09   4.25 s
#     join    0.51   0.44   0.56   0.64   1.04   1.52 s
SSSP_FRONTIER_ROWS = 10_000

# per-partition edge-row budget for the local union-find contraction in
# connected_components: bounds each Arrow batch's numpy arrays (and the
# factorize dictionary) independent of corpus size
_CC_ROWS_PER_PART = 4_000_000


def _both_ways(edges: DataFrame) -> DataFrame:
    """``edges``' (src, dst) pairs in both directions."""
    return edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _vertices(edges: DataFrame, vertices: DataFrame | None) -> DataFrame:
    if vertices is None:
        return _both_ways(edges).select(F.col("src").alias("id")).distinct()
    return vertices.select(F.col(vertices.columns[0]).alias("id")).distinct()


def degrees(edges: DataFrame, vertices: DataFrame | None = None) -> DataFrame:
    """Per-vertex out/in/total degree. One aggregation per direction."""
    verts = _vertices(edges, vertices)
    out_deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("out_degree")
    )
    in_deg = edges.groupBy(F.col("dst").alias("id")).agg(
        F.count("*").alias("in_degree")
    )
    return (
        verts.join(out_deg, on="id", how="left")
        .join(in_deg, on="id", how="left")
        .fillna(0, ["out_degree", "in_degree"])
        .withColumn("degree", F.col("out_degree") + F.col("in_degree"))
    )


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 20,
) -> DataFrame:
    """Undirected connected components, multilevel: (1) per-partition
    vectorized union-find (Shiloach-Vishkin over numpy int codes) contracts
    each partition's edge subset to a min-rooted star forest with NO
    shuffle; (2) the surviving mapping coalesces into fewer partitions
    (narrow dependency) and contracts again until the residual fits one
    partition — the global fixpoint; (3) for residuals past the
    per-partition row budget, alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) finish the job in O(log n) one-shuffle phases.

    Component id = the smallest vertex id in the component (deterministic
    → SQL-oracle-able; factorize(sort=True) makes the min int code the min
    lexicographic id inside each union-find). Neighbor-min pointer-jumping
    alone needs O(diameter) supersteps on adversarial labelings (measured
    50+ rounds on a randomly-labeled 99-chain), which is why the star
    phases remain the distributed fallback.

    An edge with a NULL endpoint connects nothing: NULL is not a vertex
    id. Its non-NULL endpoint still counts as a vertex (``least`` and
    ``greatest`` skip NULL, so the edge canonicalizes to a self-loop on
    it), and comes back as its own component unless another edge joins
    it to one. Pass ``vertices`` explicitly to include isolated vertices
    in the output.
    """
    # Canonicalize the edges ONCE (self-loops kept so the vertex set stays
    # exact) with the non-loop row count riding the cut: the input lineage,
    # often a window/join pipeline rather than a bare scan, would otherwise
    # re-run for the count, the first contraction and the vertex join.
    nonloop = F.count_if(F.col("u") != F.col("v"))
    canon, seen = cut(
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        ).where(F.col("u").isNotNull()),
        rows=nonloop,
    )
    verts = (
        _vertices(canon.select(F.col("u").alias("src"), F.col("v").alias("dst")), None)
        if vertices is None
        else _vertices(edges, vertices)
    )
    # canonical (u < v), self-loops dropped. NO distinct here: union-find is
    # idempotent under duplicate edges, so the pre-pass needs no shuffle at
    # all — dedup happens on the (much smaller) star-forest mapping that
    # each contraction emits.
    e = canon.where(F.col("u") != F.col("v"))

    # Per-partition union-find pre-contraction (mapInPandas, Arrow batches):
    # each partition's edge subset collapses to a spanning star forest in one
    # shuffle-free pass, so the global rounds start from stars instead of
    # paths. Memory is O(nodes-per-partition) — bounded by
    # spark.sql.files.maxPartitionBytes / AQE target size, the same budget
    # any shuffle hash table gets. On small inputs AQE coalesces to few
    # partitions and this pass alone reaches the global fixpoint.
    def _local_contract(iterator):
        # Vectorized Shiloach-Vishkin union-find over the partition's edge
        # subset: factorize(sort=True) maps ids to SORTED int codes (so the
        # min code IS the lexicographic min id — the component-id contract),
        # then alternate vectorized hooking (np.minimum.at) with full
        # pointer-jump compression. O(E) numpy work per round, ~log rounds;
        # ~20x faster than a per-edge Python dict loop at 1M edges.
        import numpy as np
        import pandas as pd

        chunks = [pdf for pdf in iterator if len(pdf)]
        if not chunks:
            yield pd.DataFrame({"u": [], "v": []})
            return
        edges = pd.concat(chunks, ignore_index=True)
        both = pd.concat([edges["u"], edges["v"]], ignore_index=True)
        codes, uniq = pd.factorize(both, sort=True)
        uniq = np.asarray(uniq)
        m = len(edges)
        ui = codes[:m]
        vi = codes[m:]
        parent = np.arange(len(uniq), dtype=np.int64)
        while True:
            pu = parent[ui]
            pv = parent[vi]
            mism = pu != pv
            if not mism.any():
                break
            hi = np.maximum(pu[mism], pv[mism])
            lo = np.minimum(pu[mism], pv[mism])
            np.minimum.at(parent, hi, lo)
            while True:
                pp = parent[parent]
                if np.array_equal(pp, parent):
                    break
                parent = pp
        nodes = np.arange(len(uniq), dtype=np.int64)
        sel = nodes[parent != nodes]
        out = pd.DataFrame({"u": uniq[parent[sel]], "v": uniq[sel]})
        yield out if len(out) else pd.DataFrame({"u": [], "v": []})

    def width(e: DataFrame, rows: int) -> int:
        # partitions the residual needs under the per-partition row budget
        return min(-(-rows // _CC_ROWS_PER_PART), max(1, e.rdd.getNumPartitions()))

    def level(e: DataFrame, seen: dict) -> DataFrame:
        # COALESCE the survivors (a narrow dependency, no shuffle) into as
        # few partitions as the row budget allows and contract each one
        return (
            e.coalesce(width(e, seen["rows"]))
            .mapInPandas(_local_contract, "u string, v string")
            # UF emits (node, root) with root < node; canonicalize to (u<v)
            .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    # Multi-level local contraction: rows-per-partition stays bounded (each
    # partition's arrays are O(rows-in-partition)), so executor memory is
    # safe at any scale. A level that does not shrink the residual hands it
    # to the star rounds, the fallback for residuals too big to coalesce.
    rows = seen["rows"]
    if width(e, rows) > 1:
        for e, seen in supersteps(level, e, seen, rows=nonloop):
            last, rows = rows, seen["rows"]
            if rows >= last or width(e, rows) <= 1:
                break

    def _phase(cur: DataFrame, large: bool) -> DataFrame:
        # neighborhood minimum via a WINDOW over the symmetrized edges —
        # one shuffle per phase instead of the groupBy + re-join pair
        # (measured 58 s -> 38 s on a 1M-edge chain graph at 7 rounds).
        # `cur` is disjoint min-rooted stars iff no node has both a smaller
        # neighbour and a second one (`__bad`): the same window flags such
        # nodes, and in the small phase each one's (node, m) row carries
        # the flag to the output.
        w = Window.partitionBy("u")
        j = cur.select("u", "v").unionByName(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).select(
            "u",
            "v",
            F.least(F.min("v").over(w), F.col("u")).alias("m"),
            (
                (F.min("v").over(w) < F.col("u")) & (F.count("*").over(w) > 1)
            ).alias("__bad"),
        )
        out = j.where(F.col("v") > F.col("u")).select(
            F.col("v").alias("a"), "m", "__bad"
        )
        if not large:
            out = j.where(F.col("v") < F.col("u")).select(
                F.col("v").alias("a"), "m", "__bad"
            ).unionByName(
                j.select(F.col("u").alias("a"), "m", "__bad").dropDuplicates(["a"])
            )
        return (
            out.where(F.col("a") != F.col("m"))
            .groupBy(F.least("a", "m").alias("u"), F.greatest("a", "m").alias("v"))
            .agg(F.bool_or("__bad").alias("__bad"))
        )

    if width(e, rows) <= 1:
        # the whole residual passes through ONE union-find: the output is
        # min-rooted disjoint stars by construction — the global fixpoint.
        # No star rounds and no cut: the UF emits each member node exactly
        # once with root < node, and the assign join below reads it once.
        e = e.coalesce(1).mapInPandas(_local_contract, "u string, v string")
    else:
        # alternating large-star / small-star rounds; the round whose
        # large-star output is already disjoint stars is the fixpoint
        def star_round(cur: DataFrame, _seen) -> DataFrame:
            return _phase(_phase(cur, large=True), large=False)

        bad = F.count_if("__bad")
        for e, seen in supersteps(star_round, e, None, max_iter, bad=bad):
            if not seen["bad"]:
                break
    # fixpoint: e is a union of stars rooted at each component's min id
    assign = e.select(F.col("v").alias("id"), F.col("u").alias("component"))
    return verts.join(assign, on="id", how="left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


def pagerank(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    n_iter: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Power-iteration PageRank (fixed iterations, deterministic).

    Per superstep: contributions = rank/out_degree routed along edges; new
    rank = (1-d) + d * (incoming + dangling mass / N). Rank sum stays N.
    """
    # Materialize the edge input once, HASH-PARTITIONED on the superstep
    # join key: every superstep joins `edges` on src, so one setup shuffle
    # here replaces an edges Exchange in all n_iter superstep jobs — the
    # co-partitioned GraphX shape. The copartitioned cut records the
    # partitioning, which a plain cut under AQE loses.
    n_part = shuffle_partitions(edges)
    edges, _ = cut(
        edges.select("src", "dst").repartition(n_part, "src"), copartitioned=True
    )
    out_deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("out_degree")
    )
    state = (
        _vertices(edges, vertices)
        .join(out_deg, on="id", how="left")
        .select(
            "id",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.lit(1.0).alias("rank"),
        )
        # hash(id, n_part) — recorded by the superstep cuts, so the state
        # side of both per-superstep joins never re-shuffles either. Later
        # states inherit hash(id, n_part) from the rank-update join's
        # streamed side, so only this setup repartition is explicit.
        .repartition(n_part, "id")
    )
    # the dangling mass each superstep spreads over all N vertices rides
    # the previous state's cut (N rides the first one)
    dang = F.coalesce(
        F.sum(F.when(F.col("out_degree") == 0, F.col("rank"))), F.lit(0.0)
    )
    state, seen = cut(state, copartitioned=True, n=F.count(F.lit(1)), dang=dang)
    n = float(seen["n"])

    def superstep(state: DataFrame, seen: dict) -> DataFrame:
        # shuffle_hash on the co-partitioned sides: the planner's stats
        # otherwise BROADCAST the full vertex state every superstep (a
        # driver collect + hash-relation build per iteration — measured
        # 14.6 s -> 8.8 s for 5 supersteps on the x10 graph with the hint).
        # With both sides' hash partitioning recorded by the cuts, the SHJ
        # needs NO exchange; the build side is one partition's share of
        # the vertex state (vertices / n_part — the standard Pregel
        # per-worker memory bound, near-uniform under id hashing).
        hs = state.hint("shuffle_hash")
        contribs = (
            edges.join(hs, edges["src"] == hs["id"])
            .where(F.col("out_degree") > 0)
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") / F.col("out_degree")).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("incoming"))
        )
        return (
            state.select("id", "out_degree")
            .join(contribs.hint("shuffle_hash"), on="id", how="left")
            .select(
                "id",
                "out_degree",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping)
                    * (
                        F.coalesce("incoming", F.lit(0.0))
                        + F.lit(float(seen["dang"])) / F.lit(n)
                    )
                ).alias("rank"),
            )
        )

    for state, _ in supersteps(
        superstep, state, seen, n_iter, copartitioned=True, dang=dang
    ):
        pass
    return state.select("id", F.round("rank", 6).alias("rank"))


def label_propagation(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 5,
) -> DataFrame:
    """Community detection by synchronous label propagation (mode of
    neighbor labels; min-label tie-break keeps it deterministic). Stops
    early at the first step that changes no label: a fixpoint."""
    # materialized once: `sym` is joined every iteration (r11). NOT
    # co-partitioned on src (unlike pagerank): recording sym's hash(src)
    # partitioning flipped the per-iteration state join from broadcast to
    # a full state shuffle — measured r12: 17.0 s -> 48.0 s on the x10
    # graph, reverted.
    sym, _ = cut(_both_ways(edges))
    w = Window.partitionBy("vid").orderBy(F.col("votes").desc(), F.col("label").asc())

    def step(state: DataFrame, _seen) -> DataFrame:
        votes = (
            sym.join(state, sym["src"] == state["id"])
            .groupBy(F.col("dst").alias("vid"), F.col("label"))
            .agg(F.count("*").alias("votes"))
        )
        best = (
            votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("vid").alias("id"), F.col("label").alias("new_label"))
        )
        return state.join(best, on="id", how="left").select(
            "id",
            F.coalesce("new_label", F.col("label")).alias("label"),
            (F.col("new_label") != F.col("label")).alias("__changed"),
        )

    state = _vertices(sym, vertices).withColumn("label", F.col("id"))
    changed = F.count_if("__changed")
    for state, seen in supersteps(step, state, None, max_iter, changed=changed):
        if not seen["changed"]:
            break
    return state.select("id", "label")


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count on the undirected simple graph.

    Degree-ordered orientation (each triangle counted from its lowest-
    degree vertex): every undirected edge is directed from its lower
    (degree, id) endpoint to the higher, wedges are enumerated only at
    the LOW end, and the closing edge is looked up in the same oriented
    set. Per-vertex wedge cost is out-degree² where max out-degree is
    O(√m) — a hot vertex of degree d no longer contributes d² candidate
    pairs, which is what kills the naive sum-deg² plan on skewed graphs
    at 100 TB."""
    und, _ = cut(
        _both_ways(edges)
        .where(F.col("src") < F.col("dst"))
        .distinct()
        # und feeds THREE consumers (degree agg, the oriented join, and the
        # closing-edge lookup): materialize once instead of re-running the
        # input lineage + distinct per consumer (r11)
    )
    deg = (
        und.select(F.col("src").alias("id"))
        .unionByName(und.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("d"))
    )
    e = (
        und.join(deg.select(F.col("id").alias("src"), F.col("d").alias("ds")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("d").alias("dd")), "dst")
    )
    src_first = (F.col("ds") < F.col("dd")) | (
        (F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst"))
    )
    oriented = e.select(
        F.when(src_first, F.col("src")).otherwise(F.col("dst")).alias("lo"),
        F.when(src_first, F.col("dst")).otherwise(F.col("src")).alias("hi"),
        F.when(src_first, F.col("dd")).otherwise(F.col("ds")).alias("hi_d"),
    )
    o1 = oriented.select(
        F.col("lo").alias("u"), F.col("hi").alias("v"), F.col("hi_d").alias("vd")
    )
    o2 = oriented.select(
        F.col("lo").alias("u"), F.col("hi").alias("w"), F.col("hi_d").alias("wd")
    )
    # each unordered out-pair once, ordered by the same (degree, id) rank
    wedges = o1.join(o2, "u").where(
        (F.col("vd") < F.col("wd"))
        | ((F.col("vd") == F.col("wd")) & (F.col("v") < F.col("w")))
    )
    # rank(v) < rank(w) ⇒ a v–w edge is oriented v→w in `oriented`
    closing = oriented.select(F.col("lo").alias("v"), F.col("hi").alias("w"))
    return (
        wedges.select("v", "w")
        .join(closing, on=["v", "w"])
        .agg(F.count("*").cast("long").alias("triangles"))
    )


def shortest_path_lengths(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 10,
) -> DataFrame:
    """Unweighted single/multi-source shortest path lengths via frontier
    BFS with visited-set pruning (each vertex settled once per source).

    Rows (start, id, dist): every source once per input row at dist 0,
    then each (start, id) pair reached first at hop dist. A NULL id is
    never settled, so it comes back at every hop that reaches it."""
    # materialize the edge input once: every hop reads `edges`, so a
    # computed lineage would otherwise re-execute max_hops times (r11).
    # NOT co-partitioned on src (unlike pagerank): neither hop reads the
    # edge side's partitioning (the join hop broadcasts the edge set, the
    # driver hop prunes it by src) — measured r12: the setup repartition
    # alone regressed the gate +6% at x10 / +13% at sf0.1, reverted.
    edges, _ = cut(edges.select("src", "dst"))
    src0 = sources.select(F.col(sources.columns[0]).alias("start"))
    schema = T.StructType(
        [
            T.StructField("start", src0.schema[0].dataType),
            T.StructField("id", src0.schema[0].dataType),
            T.StructField("dist", T.IntegerType()),
        ]
    )
    seeds = (
        bounded_rows(src0, SSSP_FRONTIER_ROWS)
        if {f.dataType for f in edges.schema} == {src0.schema[0].dataType}
        else None
    )
    # settled rows held on the driver, settled frames once the loop joins
    rows = [(s, s, 0) for (s,) in seeds] if seeds is not None else []
    frames: list[DataFrame] = []
    if seeds is None:
        frames.append(
            src0.select("start", F.col("start").alias("id"), F.lit(0).alias("dist"))
        )
    # (start, id) pairs settled so far; a NULL never matches the anti-join
    done = {(s, i) for s, i, _ in rows if s is not None and i is not None}

    def extend(frontier: list, edge_rows: list, limit: int) -> list | None:
        # the join hop below on the driver: frontier ⋈ edges, distinct,
        # anti-join on settled (start, id); None past `limit` rows
        adj: dict = {}
        for src, dst in edge_rows:
            adj.setdefault(src, []).append(dst)
        nxt = {}
        for s, i, d in frontier:
            for dst in adj.get(i, ()):
                if (s, dst) not in done:
                    nxt[(s, dst, d + 1)] = None
                    if len(nxt) > limit:
                        return None
        done.update((s, i) for s, i, _ in nxt if s is not None and i is not None)
        return list(nxt)

    def settled() -> DataFrame:
        if rows or not frames:
            # the driver's rows join the frames once, as one local frame
            frames.insert(0, local_frame(edges.sparkSession, rows, schema))
            rows.clear()
        return functools.reduce(DataFrame.unionByName, frames)

    def hop(frontier: DataFrame, _seen) -> DataFrame:
        # `settled()` is read when the step is built, after the loop below
        # has added the previous frontier to it. Under AQE the hop
        # broadcasts the cut edge set, and shuffles then broadcasts the
        # settled union for the anti-join: a job per stage.
        return (
            frontier.join(edges, frontier["id"] == edges["src"])
            .select("start", F.col("dst").alias("id"), (F.col("dist") + 1).alias("dist"))
            .distinct()
            .join(
                settled().select("start", "id"), on=["start", "id"], how="left_anti"
            )
        )

    start = list(rows) if seeds is not None else frames[0]
    hops = frontier_supersteps(
        hop, extend, start, edges, "src", schema, max_hops, SSSP_FRONTIER_ROWS
    )
    for frontier, n in hops:
        if not n:
            break
        if isinstance(frontier, list):
            rows.extend(frontier)
        else:
            frames.append(frontier)
    return settled()

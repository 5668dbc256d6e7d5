"""Graph analytics — Pregel-style iterative algorithms on DataFrames.

The BASELINE north star calls for GraphX-class analytics; GraphX has no
Python binding, so these are the same message-passing shapes expressed as
DataFrame joins (what GraphFrames does under the hood): per superstep,
messages = edges ⋈ vertex-state, new state = aggregate(messages), with
`localCheckpoint` lineage cuts per iteration. Every superstep is one
distributed join+aggregate — exactly the shape that scales to a
1000-executor cluster.

Inputs are edge DataFrames with `src`/`dst` (string ids) columns; vertex
sets are derived or passed explicitly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nicefox_graphdb_spark.operators.common import shuffle_partitions

CHECKPOINT_EVERY = 4


def _reliable_every_k() -> int:
    """Reliable-checkpoint cadence for the iterative algorithms (0 = off).

    The per-iteration lineage cuts use ``localCheckpoint`` —
    executor-storage-backed and non-replayable, so on a real cluster an
    executor loss mid-run aborts the job (the same trade GraphX makes).
    Set ``NICEFOX_RELIABLE_CHECKPOINT_EVERY_K=k`` (with
    ``sparkContext.setCheckpointDir`` pointing at durable storage) to
    route every k-th iteration's cut through the reliable checkpoint
    path instead: replayable across executor loss, at the cost of a
    distributed write. Off by default locally — the bench's single host
    has no executor to lose."""
    try:
        return int(
            os.environ.get("NICEFOX_RELIABLE_CHECKPOINT_EVERY_K", "0") or 0
        )
    except ValueError:
        return 0


def _cut(df: DataFrame, i: int = 0) -> DataFrame:
    """One per-iteration lineage cut (guide §5): localCheckpoint, or the
    reliable checkpoint on every k-th iteration when the durability knob
    is set (``_reliable_every_k``)."""
    k = _reliable_every_k()
    if k and (i + 1) % k == 0:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _cut_copartitioned(df: DataFrame, i: int = 0) -> DataFrame:
    """Lineage cut that RECORDS the frame's hash partitioning on the
    checkpointed RDD. Under AQE the executed plan's root is
    AdaptiveSparkPlanExec, which reports UnknownPartitioning —
    ``Dataset.checkpoint`` then stamps the new LogicalRDD Unknown and
    every downstream same-key join re-shuffles the frame from scratch.
    Disabling AQE for just this action keeps the physical plan's
    HashPartitioning visible, so per-superstep ``edges ⋈ state`` joins
    reuse BOTH sides' recorded partitioning (zero join Exchange — the
    co-partitioned GraphX shape; AQE coalesce/skew handling is traded
    away for the superstep job, whose shuffle count this removes). The
    conf flip is session-scoped; the only callers are the
    single-threaded driver iteration loops below."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return _cut(df, i)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


# per-partition edge-row budget for the local union-find contraction in
# connected_components: bounds each Arrow batch's numpy arrays (and the
# factorize dictionary) independent of corpus size
_CC_ROWS_PER_PART = 4_000_000


def _vertices(edges: DataFrame, vertices: DataFrame | None) -> DataFrame:
    if vertices is not None:
        return vertices.select(F.col(vertices.columns[0]).alias("id")).distinct()
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


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
        .select(
            "id",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            (
                F.coalesce("out_degree", F.lit(0))
                + F.coalesce("in_degree", F.lit(0))
            ).alias("degree"),
        )
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

    Edges with a NULL endpoint are DROPPED (documented, ADVICE r11): NULL
    is not a vertex id, and the least/greatest canonicalization below
    would otherwise silently collapse such an edge to a self-loop on the
    non-NULL endpoint. Pass ``vertices`` explicitly to include isolated
    vertices in the output.
    """
    # Materialize the canonicalized edges ONCE (self-loops kept so the
    # vertex set stays exact) with the non-loop row count riding the same
    # job as an Observation: the input lineage — often a window/join
    # pipeline, not a bare scan — previously re-executed three times (the
    # pre-loop count, the first contraction, and the final _vertices join).
    # r11, guide §5 (localCheckpoint to cut lineage) — measured 3.0 s →
    # ~2.2 s on the 100k-event gate.
    from pyspark.sql import Observation

    obs = Observation()
    canon0 = (
        edges.where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .observe(
            obs,
            F.coalesce(
                F.sum(F.when(F.col("u") != F.col("v"), 1).otherwise(0)),
                F.lit(0),
            ).alias("__edges"),
        )
        .localCheckpoint(eager=True)
    )
    n_edges = int(obs.get["__edges"])
    verts = (
        _vertices(canon0.select(F.col("u").alias("src"), F.col("v").alias("dst")), None)
        if vertices is None
        else _vertices(edges, vertices)
    )
    # canonical (u < v), self-loops dropped. NO distinct here: union-find is
    # idempotent under duplicate edges, so the pre-pass needs no shuffle at
    # all — dedup happens on the (much smaller) star-forest mapping that
    # each contraction emits.
    e = canon0.where(F.col("u") != F.col("v"))

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

    def _contract(df: DataFrame) -> DataFrame:
        return (
            df.mapInPandas(_local_contract, "u string, v string")
            # UF emits (node, root) with root < node; canonicalize to (u<v)
            .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )

    # Multi-level local contraction: contract each partition's edge subset
    # to a star forest (shuffle-free), then COALESCE the survivors into as
    # few partitions as the per-partition row budget allows — a narrow
    # dependency, no shuffle — and contract again. Rows-per-partition stays
    # bounded (each partition's arrays are O(rows-in-partition)), so
    # executor memory is safe at any scale; once the residual fits ONE
    # partition the pass reaches the global fixpoint and the star-phase
    # loop below exits on its first convergence check. Star phases remain
    # the fallback for residuals too big to coalesce further.
    rows = n_edges  # rode the canon0 checkpoint job — no extra pass (r11)
    solved = False
    while rows:
        nparts = max(1, e.rdd.getNumPartitions())
        target = min(max(1, -(-rows // _CC_ROWS_PER_PART)), nparts)
        src = e.coalesce(target) if target < nparts else e
        if target == 1:
            # the whole residual passes through ONE union-find: the output
            # is min-rooted disjoint stars by construction — global
            # fixpoint. No star phases, no convergence probes, and (r11)
            # no dedup/checkpoint/count either: the UF emits each member
            # node exactly once with root < node, and the single consumer
            # below (the assign join) reads it once.
            e = src.mapInPandas(_local_contract, "u string, v string")
            solved = True
            break
        e = _contract(src)
        new_rows = e.count()
        if new_rows >= rows:
            rows = new_rows
            break
        rows = new_rows

    def _phase(cur: DataFrame, large: bool) -> DataFrame:
        # neighborhood minimum via a WINDOW over the symmetrized edges —
        # one shuffle per phase instead of the groupBy + re-join pair
        # (measured 58 s -> 38 s on a 1M-edge chain graph at 7 rounds)
        from pyspark.sql import Window

        sym = cur.unionByName(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        j = sym.withColumn(
            "m", F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
        )
        if large:
            out = j.where(F.col("v") > F.col("u")).select(
                F.col("v").alias("a"), F.col("m").alias("b")
            )
        else:
            out = j.where(F.col("v") <= F.col("u")).select(
                F.col("v").alias("a"), F.col("m").alias("b")
            ).unionByName(
                j.select(
                    F.col("u").alias("a"), F.col("m").alias("b")
                ).dropDuplicates(["a"])
            )
        return (
            out.where(F.col("a") != F.col("b"))
            .select(
                F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
            )
            .distinct()
        )

    def _is_disjoint_stars(cur: DataFrame) -> bool:
        # converged iff no member belongs to two stars and no member is
        # itself a center — two limit-1 probes on the checkpointed frame
        dup = cur.groupBy("v").agg(F.count("*").alias("c")).where(F.col("c") > 1)
        if not dup.isEmpty():
            return False
        member_center = cur.select("u").join(
            cur.select(F.col("v").alias("u")), on="u"
        )
        return member_center.isEmpty()

    for it in range(max_iter if not solved else 0):
        if _is_disjoint_stars(e):
            break
        e = _phase(e, large=True)
        e = _cut(_phase(e, large=False), it)
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
    # join key (r12; r11 checkpointed it unpartitioned): every superstep
    # joins `edges` on src, so one setup shuffle here replaces an edges
    # Exchange in all n_iter superstep jobs — the co-partitioned GraphX
    # shape. The checkpoint records the partitioning (_cut_copartitioned),
    # which a plain localCheckpoint under AQE loses.
    n_part = shuffle_partitions(edges)
    edges = _cut_copartitioned(
        edges.select("src", "dst").repartition(n_part, "src")
    )
    verts = _vertices(edges, vertices)
    n = verts.count()
    out_deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("out_degree")
    )
    state = (
        verts.join(out_deg, on="id", how="left")
        .select(
            "id",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.lit(1.0).alias("rank"),
        )
        # hash(id, n_part) — recorded by the superstep cuts below, so the
        # state side of both per-superstep joins never re-shuffles either.
        # Iterations ≥ 1 inherit hash(id, n_part) from the rank-update
        # join's streamed side, so only this setup repartition is explicit.
        .repartition(n_part, "id")
    )
    from pyspark.sql import Observation

    for i in range(n_iter):
        # Checkpoint the superstep ONCE and ride the dangling-mass sum on
        # the same job as an Observation (r11). The previous shape — a
        # 1-row dangling aggregate FRAME broadcast into the next superstep
        # — scheduled a broadcast-build job per iteration that re-executed
        # the whole un-checkpointed state lineage (quadratic re-execution
        # between the every-4th checkpoints). One job per superstep now;
        # the observed sum is the same partial-aggregated double the
        # broadcast frame produced (float-sum order was never deterministic
        # across partitions — the oracle's round-6 tolerance covers both).
        obs = Observation()
        state = _cut_copartitioned(
            state.observe(
                obs,
                F.coalesce(
                    F.sum(F.when(F.col("out_degree") == 0, F.col("rank"))),
                    F.lit(0.0),
                ).alias("__dang"),
            ),
            i,
        )
        dang = float(obs.get["__dang"])
        # shuffle_hash on the co-partitioned sides: the planner's stats
        # otherwise BROADCAST the full vertex state every superstep (a
        # driver collect + hash-relation build per iteration — measured
        # 14.6 s -> 8.8 s for 5 supersteps on the x10 graph with the hint).
        # With both sides' hash partitioning recorded by the checkpoints,
        # the SHJ needs NO exchange; the build side is one partition's
        # share of the vertex state (vertices / n_part — the standard
        # Pregel per-worker memory bound, near-uniform under id hashing).
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
        state = (
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
                        + F.lit(dang) / F.lit(float(n))
                    )
                ).alias("rank"),
            )
        )
    return state.select("id", F.round("rank", 6).alias("rank"))


def label_propagation(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 5,
) -> DataFrame:
    """Community detection by synchronous label propagation (mode of
    neighbor labels; min-label tie-break keeps it deterministic)."""
    # materialized once: `sym` is joined every iteration (r11). NOT
    # co-partitioned on src (unlike pagerank): recording sym's hash(src)
    # partitioning flipped the per-iteration state join from broadcast to
    # a full state shuffle — measured r12: 17.0 s -> 48.0 s on the x10
    # graph, reverted.
    sym = (
        edges.select("src", "dst")
        .unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .localCheckpoint(eager=True)
    )
    state = _vertices(sym, vertices).withColumn("label", F.col("id"))
    for i in range(max_iter):
        votes = (
            sym.join(state, sym["src"] == state["id"])
            .groupBy(F.col("dst").alias("vid"), F.col("label"))
            .agg(F.count("*").alias("votes"))
        )
        from pyspark.sql import Window

        w = Window.partitionBy("vid").orderBy(
            F.col("votes").desc(), F.col("label").asc()
        )
        best = (
            votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("vid").alias("id"), F.col("label").alias("new_label"))
        )
        state = state.join(best, on="id", how="left").select(
            "id", F.coalesce("new_label", F.col("label")).alias("label")
        )
        if i % CHECKPOINT_EVERY == CHECKPOINT_EVERY - 1:
            state = _cut(state, i)
    return state


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
    und = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .where(F.col("src") < F.col("dst"))
        .distinct()
        # und feeds THREE consumers (degree agg, the oriented join, and the
        # closing-edge lookup): materialize once instead of re-running the
        # input lineage + distinct per consumer (r11)
        .localCheckpoint(eager=True)
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
    BFS with visited-set pruning (each vertex settled once per source)."""
    # materialize the edge input once: every hop joins `edges`, so a
    # computed lineage would otherwise re-execute max_hops times (r11).
    # NOT co-partitioned on src (unlike pagerank): the frontier side is
    # broadcast-small every hop, so the planner never uses the edge-side
    # partitioning — measured r12: the setup repartition alone regressed
    # the gate +6% at x10 / +13% at sf0.1, reverted.
    edges = edges.select("src", "dst").localCheckpoint(eager=True)
    src0 = sources.select(F.col(sources.columns[0]).alias("start"))
    settled = src0.select(
        "start", F.col("start").alias("id"), F.lit(0).alias("dist")
    )
    frontier = settled
    from pyspark.sql import Observation

    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(edges, frontier["id"] == edges["src"])
            .select("start", F.col("dst").alias("id"), F.lit(hop).alias("dist"))
            .distinct()
            .join(settled.select("start", "id"), on=["start", "id"], how="left_anti")
        )
        # Checkpoint EVERY hop with the frontier size riding the same
        # action: the isEmpty() convergence probe otherwise executes the
        # hop's full join+distinct+anti plan, and the un-checkpointed
        # lineage then re-executed it again inside the next hop (r11 — one
        # checkpoint per hop now, and the settled union reads materialized
        # frontiers). Under AQE each shuffle stage of that checkpoint runs
        # as its own Spark job: about 7 jobs per hop (88-90 jobs for 12 hops
        # on a 30-vertex chain, counted by job group).
        obs = Observation()
        nxt = _cut(nxt.observe(obs, F.count(F.lit(1)).alias("__n")), hop)
        if not obs.get["__n"]:
            break
        settled = settled.unionByName(nxt)
        frontier = nxt
    return settled

"""Similarity search over embedding columns (ARRAY<FLOAT>).

Two tiers, as any 100 TB pipeline needs:
- **Brute-force cosine top-k** — exact; one scan, a zip_with/aggregate dot
  product per row (JVM codegen — no Python), then TakeOrderedAndProject.
  Right answer for a single query vector or a small probe set.
- **Random-hyperplane LSH ANN** — corpus-scale: r sign-bits bucket the
  vectors; candidate pairs/queries only meet within a bucket (optionally
  multi-probe across several independent tables). Turns the O(N·Q) scan into
  bucket-local work; the planes are seeded literals so results are
  deterministic and replayable.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nicefox_graphdb_spark.operators.common import local_frame


def dot(a: Column, b: Column) -> Column:
    """Sequential-order double-precision dot product (oracle-reproducible)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Single-pass cosine: ONE fold accumulates (a·b, a·a, b·b) — the dot
    and both squared norms ride the same sequential left fold, so each sum
    is bit-identical to the dot()/norm() composition (DuckDB
    list_inner_product parity preserved) at a third of the higher-order-
    function evaluation cost. The division happens in the aggregate's
    finish lambda: one expression, one evaluation — extracting struct
    fields outside would inline a full copy of the fold per field."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: F.struct(
                x.cast("double").alias("x"), y.cast("double").alias("y")
            ),
        ),
        F.struct(
            F.lit(0.0).alias("xy"), F.lit(0.0).alias("xx"), F.lit(0.0).alias("yy")
        ),
        lambda s, v: F.struct(
            (s["xy"] + v["x"] * v["y"]).alias("xy"),
            (s["xx"] + v["x"] * v["x"]).alias("xx"),
            (s["yy"] + v["y"] * v["y"]).alias("yy"),
        ),
        lambda s: s["xy"] / (F.sqrt(s["xx"]) * F.sqrt(s["yy"])),
    )


def cosine_prenormed(a: Column, b: Column, b_norm: Column) -> Column:
    """Cosine when b's norm is already known (query vectors, IVF rows):
    one fold accumulates (a·b, a·a) in the same sequential order; the
    finish lambda captures the outer b_norm column."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: F.struct(
                x.cast("double").alias("x"), y.cast("double").alias("y")
            ),
        ),
        F.struct(F.lit(0.0).alias("xy"), F.lit(0.0).alias("xx")),
        lambda s, v: F.struct(
            (s["xy"] + v["x"] * v["y"]).alias("xy"),
            (s["xx"] + v["x"] * v["x"]).alias("xx"),
        ),
        lambda s: s["xy"] / (F.sqrt(s["xx"]) * b_norm),
    )


def topk_cosine(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: Column,
    k: int = 10,
    exclude_id=None,
) -> DataFrame:
    """Exact top-k by cosine against one query vector.

    Output: id, cosine (rounded 6dp) — ordered desc, ties by id.
    """
    out = df.select(
        F.col(id_col).alias("id"),
        # fused single-fold cosine (dot + both norms share the pass)
        F.round(cosine(F.col(vec_col), query_vec), 6).alias("cosine"),
    )
    if exclude_id is not None:
        out = out.where(F.col("id") != exclude_id)
    return out.orderBy(F.col("cosine").desc(), F.col("id").asc()).limit(k)


def auto_lsh_params(
    n_rows: int,
    threshold: float,
    target_bucket: int = 64,
    target_recall: float = 0.9,
    max_tables: int = 16,
) -> tuple[int, int]:
    """Size (n_planes, n_tables) from the corpus, not by hand.

    Planes keep the EXPECTED BUCKET SIZE constant as the corpus grows
    (``n_planes = log2(N / target_bucket)``), which keeps candidate volume
    LINEAR in N — a pinned plane count makes buckets grow with N and
    candidate pairs grow quadratically (measured: a 4-plane table at 10x
    rows took 25x the wall clock). Tables come from the standard LSH recall
    identity: a θ-cosine pair collides in one table with
    ``p^planes, p = 1 - acos(θ)/π``, so
    ``tables = ln(1-recall) / ln(1-p^planes)``. For LOW thresholds p is
    close to ½ and the required table count explodes — ``max_tables`` caps
    the cost (recall degrades past the cap; hyperplane LSH is the wrong
    tool below θ ≈ 0.6, use IVF probing instead).
    """
    import math

    n_planes = max(2, math.ceil(math.log2(max(n_rows, 2) / max(target_bucket, 1))))
    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    per_table = max(p**n_planes, 1e-12)
    if per_table >= 1.0:
        return n_planes, 1
    n_tables = math.ceil(
        math.log(max(1.0 - target_recall, 1e-12)) / math.log(1.0 - per_table)
    )
    return n_planes, max(1, min(n_tables, max_tables))


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (python-side literals)."""
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def _assign_clusters(base: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """id → nearest-centroid cluster via a broadcast cross-join against the
    k-row centroid table + min_by argmin. ONE distance lambda in the plan —
    inlining k centroid-literal expressions explodes codegen compile time
    (measured: minutes for k=16, d=64)."""
    cdf = local_frame(
        base.sparkSession,
        list(enumerate(centroids)),
        "cluster int, c array<double>",
    )
    d = F.aggregate(
        F.zip_with(
            F.col("v"), F.col("c"), lambda a, b: (a.cast("double") - b) ** 2
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        base.crossJoin(F.broadcast(cdf))
        .withColumn("dist", d)
        .groupBy("id")
        .agg(F.min_by("cluster", "dist").alias("cluster"))
    )


def _kmeans_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_clusters: int,
    n_iter: int = 5,
    train_sample: int = 65536,
) -> list[list[float]]:
    """Deterministic Lloyd's k-means over a bounded training sample.

    The quantizer trains on the ``train_sample`` rows with the smallest
    ``xxhash64(id)`` (seedless determinism, ONE collect of ≤ sample·dim
    floats) with vectorized numpy iterations on the driver; the full-corpus
    work is the single distributed ASSIGN pass the caller runs afterwards.
    This is the FAISS-style IVF recipe — coarse quantizers are always
    trained on a sample, so training cost is independent of corpus size
    (5 distributed join+agg rounds per build was the prior shape; a 100 TB
    corpus never iterates k-means over every row)."""
    import numpy as np

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    rows = (
        base.orderBy(F.xxhash64(F.col("id").cast("string")))
        .limit(max(train_sample, n_clusters))
        .collect()
    )
    x = np.array([[float(v) for v in r["v"]] for r in rows])
    cent = x[:n_clusters].copy()
    x_sq = (x * x).sum(axis=1)
    for _ in range(n_iter):
        d2 = x_sq[:, None] + (cent * cent).sum(axis=1)[None, :] - 2.0 * (x @ cent.T)
        assign = d2.argmin(axis=1)
        for c in range(n_clusters):
            members = x[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return [[float(v) for v in row] for row in cent]


class IvfIndex:
    """A built IVF index: trained centroids + the corpus with persisted
    cluster assignments (plus precomputed norms). Build ONCE per corpus
    (`build_ivf_index`), then serve any number of queries (`query`) — each
    query scans only its probed clusters, never re-trains or re-assigns
    (training per query was the round-1 anti-pattern)."""

    def __init__(
        self,
        centroids: list[list[float]],
        assigned: DataFrame,
        path: str | None = None,
    ):
        self.centroids = centroids
        self.assigned = assigned  # id, v, nrm, cluster (checkpointed or on disk)
        self.path = path  # non-None: assigned is a cluster-partitioned scan

    @classmethod
    def load(cls, spark, path: str) -> "IvfIndex":
        """Reopen a deployed index: centroids from the tiny json sidecar,
        corpus from the cluster-partitioned parquet — probe queries prune
        cluster= directories at the file listing, so a 4-probe query over a
        64-cluster corpus touches ~1/16 of the files on disk."""
        import json

        row = spark.read.text(f"{path}/centroids").collect()[0]
        centroids = json.loads(row["value"])
        assigned = spark.read.parquet(f"{path}/assigned")
        return cls(centroids, assigned, path=path)

    def query(
        self,
        query_vec: list[float],
        k: int = 10,
        n_probe: int = 4,
        exclude_id=None,
    ) -> DataFrame:
        import math

        qnorm = math.sqrt(sum(x * x for x in query_vec))

        def dist2(c):
            return sum((a - b) ** 2 for a, b in zip(query_vec, c))

        probe = sorted(
            range(len(self.centroids)), key=lambda i: dist2(self.centroids[i])
        )[:n_probe]
        cand = self.assigned.where(F.col("cluster").isin(probe))
        if exclude_id is not None:
            cand = cand.where(F.col("id") != exclude_id)
        q_col = F.array(*[F.lit(float(x)) for x in query_vec])
        out = cand.select(
            "id",
            F.round(
                dot(F.col("v"), q_col) / (F.col("nrm") * F.lit(qnorm)), 6
            ).alias("cosine"),
        )
        return out.orderBy(F.col("cosine").desc(), F.col("id")).limit(k)


def build_ivf_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_clusters: int = 16,
    n_iter: int = 5,
    path: str | None = None,
) -> IvfIndex:
    """Train the coarse quantizer and persist cluster assignments + norms.
    Deterministic: same data → same centroids → same index.

    ``path=None`` keeps the assigned frame in executor memory (iterating /
    single session) as a lazy local checkpoint: the first query stores its
    blocks, later ones read them, and Spark's ContextCleaner frees them
    once the index is unreachable, so an ad-hoc ``ivf_topk`` call leaves
    no cached frame behind. Such an index does not survive executor loss:
    checkpoint blocks have no lineage to recompute them from, so every
    later query of it fails and it must be built again. A ``persist()``
    would recompute, but Spark keys a cache by plan: an index uncaching
    itself when dropped would also uncache every live index built alike.
    An index that must outlive an executor is deployed instead: with
    ``path`` the assigned frame is written partitioned by ``cluster`` so
    every probe query prunes cluster= directories at the parquet file
    listing (no full-corpus scan, no cache warm-up), and ``IvfIndex.load``
    reopens it in any session.
    """
    import json

    centroids = _kmeans_centroids(df, id_col, vec_col, dim, n_clusters, n_iter)
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    assigned = base.join(_assign_clusters(base, centroids), on="id").withColumn(
        "nrm", norm(F.col("v"))
    )
    if path is not None:
        spark = df.sparkSession
        (
            assigned.repartition("cluster")
            .write.mode("overwrite")
            .partitionBy("cluster")
            .parquet(f"{path}/assigned")
        )
        # centroids sidecar rides the same filesystem as the data (works on
        # object stores too — no driver-local fs assumption)
        local_frame(spark, [(json.dumps(centroids),)], "value string").coalesce(
            1
        ).write.mode("overwrite").text(f"{path}/centroids")
        return IvfIndex.load(spark, path)
    return IvfIndex(centroids, assigned.localCheckpoint(eager=False), path=None)


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    dim: int,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    exclude_id=None,
    index: IvfIndex | None = None,
) -> DataFrame:
    """IVF approximate nearest neighbors: probe the n_probe clusters nearest
    the query, exact cosine inside them (~n_probe/n_clusters of the corpus
    scanned; recall grows with n_probe). Pass a prebuilt ``index`` to serve
    repeated queries; otherwise one is built ad hoc."""
    if index is None:
        index = build_ivf_index(df, id_col, vec_col, dim, n_clusters)
    return index.query(query_vec, k=k, n_probe=n_probe, exclude_id=exclude_id)


def ann_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int | None = 6,
    n_tables: int | None = 10,
    threshold: float = 0.9,
    seed: int = 42,
) -> DataFrame:
    """Multi-table LSH near-dup pairs: candidates share a bucket in ANY of
    the `n_tables` independent hash tables, then are verified by exact
    cosine (precision 1 by construction; recall ≈
    1 - (1 - p^n_planes)^n_tables with p = 1 - θ/π).

    Pass ``n_planes=None`` / ``n_tables=None`` to auto-size from the corpus
    (one count job): planes hold the expected bucket size constant so the
    candidate volume stays LINEAR in N; tables come from the recall
    identity (see :func:`auto_lsh_params`). Pinned values are honored as
    given — the scale-safe default for corpus-size-varying inputs is auto."""
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if n_planes is None or n_tables is None:
        n_rows = base.count()
        auto_planes, auto_tables = auto_lsh_params(n_rows, threshold)
        n_planes = auto_planes if n_planes is None else n_planes
        n_tables = auto_tables if n_tables is None else n_tables
    # All tables' sign-bits in ONE Arrow-batched matmul: (batch, dim) @
    # (dim, tables*planes) then bit-pack per table. Expression-per-plane
    # folds are O(tables*planes) codegen — 100+ fold expressions measurably
    # stall whole-stage compilation — while BLAS does the same arithmetic
    # in one kernel.
    import numpy as np

    flat_planes = np.array(
        [
            plane
            for t_idx in range(n_tables)
            for plane in hyperplanes(dim, n_planes, seed + 1000 * t_idx)
        ],
        dtype=np.float64,
    ).T  # (dim, tables*planes)
    bit_weights = (1 << np.arange(n_planes, dtype=np.int64))
    nt, npl = n_tables, n_planes
    id_type = base.schema["id"].dataType.simpleString()

    def _bucketize(iterator):
        import pandas as pd

        for pdf in iterator:
            if not len(pdf):
                continue
            vecs = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
            )
            bits = (vecs @ flat_planes) >= 0  # (n, tables*planes)
            buckets = (
                bits.reshape(len(pdf), nt, npl).astype(np.int64) * bit_weights
            ).sum(axis=2)  # (n, tables)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].repeat(nt).reset_index(drop=True),
                    "table": np.tile(np.arange(nt, dtype=np.int32), len(pdf)),
                    "bucket": buckets.reshape(-1),
                    "v": pdf["v"].repeat(nt).reset_index(drop=True),
                }
            )

    bucketed = base.mapInPandas(
        _bucketize, f"id {id_type}, table int, bucket long, v array<double>"
    )

    # Verify WITHIN each (table, bucket) group: one normalized matmul per
    # group (bucket size is held ~constant by the plane count, so the
    # per-task matrix stays tiny at any corpus size). Vectors travel ONCE
    # through the bucket shuffle — never joined per candidate pair, which
    # is quadratically more traffic. Only qualifying pairs leave the group;
    # the global dedup then runs on near-dup pairs only.
    thr = float(threshold)

    def _bucket_pairs(pdf):
        import pandas as pd

        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": pdf["id"].dtype, "id_b": pdf["id"].dtype, "cosine": float}
            )
        vecs = np.array([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
        norms = np.sqrt((vecs * vecs).sum(axis=1))
        norms[norms == 0] = 1.0
        sims = (vecs / norms[:, None]) @ (vecs / norms[:, None]).T
        iu, ju = np.triu_indices(n, 1)
        keep = np.round(sims[iu, ju], 6) >= thr
        ids = pdf["id"].to_numpy()
        ia, ib = ids[iu[keep]], ids[ju[keep]]
        lo = np.minimum(ia, ib)
        hi = np.maximum(ia, ib)
        return pd.DataFrame(
            {"id_a": lo, "id_b": hi, "cosine": np.round(sims[iu, ju][keep], 6)}
        )

    pairs = bucketed.groupBy("table", "bucket").applyInPandas(
        _bucket_pairs, f"id_a {id_type}, id_b {id_type}, cosine double"
    )
    return pairs.dropDuplicates(["id_a", "id_b"]).select("id_a", "id_b", "cosine")

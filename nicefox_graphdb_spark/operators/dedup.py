"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design (the whole point of these shapes at 100 TB):
- **Exact**: hash-groupBy on a content digest — one shuffle on a short key.
- **N-gram Jaccard**: explode shingles → self-join on shingle → count
  intersections → filter by threshold. The shingle join is the classic
  "inverted index as shuffle" pattern; high-frequency shingles are capped
  (``max_shingle_freq``) to kill the quadratic hot-key blowup (same trick as
  stopword removal in ES/Lucene-based dedup).
- **MinHash+LSH**: k min-hashes per doc → band signatures → join on
  (band_id, band_hash) buckets — candidate generation is linear in corpus
  size; only candidates pay the exact-verify cost.
- **SimHash**: 64-bit signature via bit votes; banding on 16-bit chunks for
  candidates; verify by Hamming distance (bit_count of xor — one ALU op).
- **Embedding cosine**: see operators/similarity.py for the bucketed ANN
  variant; the exact pair scan here is for modest candidate sets.

All pure Column expressions / joins — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nicefox_graphdb_spark.operators.text import tokens


# _shuffle_partitions: used to re-spread CPU-heavy verify stages whose
# inputs AQE would coalesce to one task by byte size; spread_scan
# parallelizes the per-row shingle/signature work over single-file scans.
from nicefox_graphdb_spark.operators.common import (  # noqa: E402
    shuffle_partitions as _shuffle_partitions,
    spread_scan as _spread_scan,
)

# A verify side of up to this many rows (the corpus, counted on its
# checkpoint) is broadcast when the candidate pairs re-attach their
# shingle arrays; larger corpora keep the planner's join.
BROADCAST_VERIFY_ROWS = 200_000


# -- shingling -------------------------------------------------------------
def char_shingles(col: Column, n: int = 5) -> Column:
    """Distinct character n-grams of a string (ARRAY<STRING>)."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(col) - (n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: col.substr(i, F.lit(n))))


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-grams (ARRAY<STRING>), from the shared tokenizer.

    The tokenizer output is let-bound through a one-element-array lambda:
    referencing ``tokens(col)`` directly inside the per-position transform
    would make Catalyst re-run the regex split once per shingle position
    (O(words²) per document — measured 20x slower at sf0.1)."""

    def shingle(toks: Column) -> Column:
        cnt = F.greatest(F.size(toks) - (n - 1), F.lit(1))
        idx = F.sequence(F.lit(1), cnt)
        return F.array_distinct(
            F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
        )

    return F.get(F.transform(F.array(tokens(col)), shingle), 0)


# -- exact ----------------------------------------------------------------
def exact_dup_groups(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Groups of ids sharing an identical content digest (md5)."""
    return (
        df.select(F.col(id_col).alias("id"), F.md5(F.col(content_col)).alias("digest"))
        .groupBy("digest")
        .agg(F.count("*").alias("n"), F.sort_array(F.collect_list("id")).alias("ids"))
        .where(F.col("n") > 1)
    )


# -- n-gram Jaccard --------------------------------------------------------
def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    shingles_col: Column,
    threshold: float = 0.8,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Pairs (id_a < id_b) with shingle-set Jaccard >= threshold.

    Output: id_a, id_b, jaccard (rounded to 6dp for stable comparison).

    Candidate generation uses **prefix filtering** (the PPJoin family's core
    trick): order each doc's shingles by ascending global corpus frequency,
    index only the first `sz - ceil(t*sz) + 1` of them. Any pair with
    Jaccard >= t MUST share a prefix shingle (valid at EVERY t, since
    J >= t forces overlap >= ceil(t*max(|A|,|B|))), so the result is
    exactly the full self-join's — and the corpus's hottest shingles sort
    into every doc's suffix, so they are never indexed at all. A size-ratio
    predicate (`t*|A| <= |B| <= |A|/t`) and the PPJoin positional bound
    prune candidates before the exact verify. All three optimizations are
    lossless — the SQL oracle computes the naive full join and must agree.
    """
    # single-file scans tokenize+shingle+hash on ONE task otherwise (r11)
    base = _spread_scan(df).select(F.col(id_col).alias("id"), shingles_col.alias("sh"))
    if max_shingle_freq is not None:
        # drop ultra-common shingles corpus-wide (lossy cap for hot keys —
        # disable for exact-parity runs)
        freq = (
            base.select(F.explode("sh").alias("shingle"))
            .groupBy("shingle")
            .agg(F.count("*").alias("f"))
            .where(F.col("f") > max_shingle_freq)
        )
        hot = F.collect_list("shingle")
        # small hot-list broadcast via join (keeps everything distributed)
        base = base.crossJoin(
            freq.agg(hot.alias("__hot")).select("__hot")
        ).select(
            "id",
            F.filter(
                F.col("sh"),
                lambda s: ~F.coalesce(
                    F.array_contains(F.col("__hot"), s), F.lit(False)
                ),
            ).alias("sh"),
        )
    # base feeds FOUR scans (freq, canon join, and both verify re-attach
    # sides) and pref feeds both self-join sides — materialize each once or
    # the shingle-tokenization lineage recomputes per consumer.
    # Shingles are hashed to 64-bit longs up front: every downstream
    # shuffle (inverted index, prefix self-join, verify re-attach) moves
    # 8-byte keys instead of multi-word strings, and the verify intersects
    # long arrays instead of string arrays. Candidate generation is
    # collision-safe by construction (a collision can only ADD a
    # candidate); the verify intersection is exact up to 64-bit xxhash
    # collisions within a pair (~|sh|²/2⁶⁴ ≈ 1e-15 per pair).
    from pyspark.sql import Observation

    obs = Observation()
    base = (
        base.withColumn("sz", F.size("sh"))
        .withColumn("hsh", F.transform("sh", lambda s: F.xxhash64(s)))
        .drop("sh")
        # row count rides the checkpoint job (gates the verify-join
        # strategy below; a checkpointed frame's plan stats are MaxValue,
        # so AQE can't see how small this side really is)
        .observe(obs, F.count(F.lit(1)).alias("__n"))
        .localCheckpoint(eager=True)
    )
    n_base = obs.get["__n"]
    size_ok = (F.col("sz_b") >= F.lit(threshold) * F.col("sz_a")) & (
        F.col("sz_b") * F.lit(threshold) <= F.col("sz_a")
    )
    # Canonical order = ascending GLOBAL corpus frequency (ties by value):
    # J >= t implies overlap c >= ceil(t*max(|A|,|B|)), so indexing only the
    # first sz - ceil(t*sz) + 1 shingles of each doc is LOSSLESS at every t
    # (the first shared shingle in a global total order lands inside both
    # prefixes). Frequency ordering puts the corpus's hottest shingles at
    # the END of every doc, i.e. outside every prefix — the hot-key
    # quadratic join blowup disappears instead of being capped.
    inv = base.select("id", F.explode("hsh").alias("shingle"))
    freq = inv.groupBy("shingle").agg(F.count("*").alias("f"))
    # sz rides the same aggregation as the canon array (inv has exactly one
    # row per (id, shingle), so count(*) == size of the shingle set): one
    # fewer join against base on the prefix path (r11 — was
    # base.select(id, sz) ⋈ canon, an extra Exchange pair at corpus scale).
    canon = (
        inv.join(freq, on="shingle")
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("f", "shingle"))),
                lambda x: x.getField("shingle"),
            ).alias("canon"),
            F.count("*").cast("int").alias("sz"),
        )
    )
    prefix_len = (
        F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")).cast("int") + 1
    )
    pref = (
        canon
        .withColumn("__prefix", F.slice("canon", 1, F.greatest(prefix_len, F.lit(1))))
        .select(
            "id",
            "sz",
            F.posexplode("__prefix").alias("pos", "shingle"),
        )
        .localCheckpoint(eager=True)
    )
    a = pref.select(
        F.col("id").alias("id_a"), F.col("sz").alias("sz_a"),
        F.col("pos").alias("pos_a"), "shingle",
    )
    b = pref.select(
        F.col("id").alias("id_b"), F.col("sz").alias("sz_b"),
        F.col("pos").alias("pos_b"), "shingle",
    )
    # PPJoin positional filter: at the first shared canonical shingle, the
    # remaining suffixes bound the overlap; a qualifying pair always
    # survives via that first-shared row, so dropping later rows is lossless
    alpha = F.ceil(
        F.lit(threshold) / (1.0 + threshold) * (F.col("sz_a") + F.col("sz_b"))
    )
    pos_ok = (
        1 + F.least(F.col("sz_a") - 1 - F.col("pos_a"),
                    F.col("sz_b") - 1 - F.col("pos_b"))
    ) >= alpha
    cands = (
        a.join(b, on="shingle")
        .where((F.col("id_a") < F.col("id_b")) & size_ok & pos_ok)
        .select("id_a", "id_b")
        # ONE exchange for dedup + verify spread (r12; was dropDuplicates'
        # own shuffle PLUS an unconditional round-robin respread — ADVICE
        # r11 flagged the extra shuffle as overhead on the corpus-scale
        # path). The explicit pair-key repartition at the configured
        # parallelism (a) is the exchange dropDuplicates needs anyway, so
        # it reuses the partitioning, (b) pins the partition count so AQE
        # cannot byte-coalesce the 16-byte candidate rows to ONE task
        # before the CPU-bound array_intersect verify (the r11 bug:
        # 495k pairs ≈ 8 MB -> single-threaded verify), and (c) is
        # near-uniform — candidate pairs are almost all distinct, so the
        # pair hash spreads evenly. Measured r12: verify phase
        # 1.79 s -> 1.08 s at sf0.1/t=0.2.
        .repartition(_shuffle_partitions(df), "id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # hashed arrays re-attached per CANDIDATE only — never shuffled through
    # the inverted-index fan-out; |A∪B| = |A|+|B|-|A∩B| saves the
    # array_union pass entirely (shingle arrays are distinct by build)
    full_a = base.select(
        F.col("id").alias("id_a"), F.col("hsh").alias("h_a"), F.col("sz").alias("za")
    )
    full_b = base.select(
        F.col("id").alias("id_b"), F.col("hsh").alias("h_b"), F.col("sz").alias("zb")
    )
    if n_base <= BROADCAST_VERIFY_ROWS:
        # low thresholds generate candidates >> corpus rows (measured 495k
        # candidates for 5k docs at t=0.2). AQE does rescue this join at
        # runtime (SMJ→BHJ from actual shuffle sizes — interleaved A/B at
        # sf0.1 reads perf-neutral), but only AFTER planning against the
        # checkpoint's MaxValue stats; the explicit row-gated hint encodes
        # the intended plan up front — candidates never write shuffle
        # files for the re-attach — and stays robust if AQE's conversion
        # thresholds or stats change. Above the gate (corpus scale) the
        # shuffle join is the right plan.
        full_a, full_b = F.broadcast(full_a), F.broadcast(full_b)
    verified = cands.join(full_a, on="id_a").join(full_b, on="id_b")
    inter = F.size(F.array_intersect(F.col("h_a"), F.col("h_b")))
    union = F.col("za") + F.col("zb") - inter
    return (
        verified.withColumn("jaccard", F.round(inter / union, 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# -- MinHash + LSH ---------------------------------------------------------
def minhash_signature(shingles_col: Column, k: int = 32) -> Column:
    """ARRAY<BIGINT> of k min-hashes (xxhash64 with per-function seed)."""
    return F.array(
        *[
            F.array_min(
                F.transform(shingles_col, lambda s: F.xxhash64(F.lit(i), s))
            )
            for i in range(k)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    shingles_col: Column,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.6,
) -> DataFrame:
    """MinHash candidates via banding, verified with exact Jaccard.

    Output: id_a, id_b, jaccard — candidates only pay the verify cost, so
    corpus-size scaling is linear until the true-duplicate mass dominates.
    """
    rows_per_band = k // bands
    # materialize shingles once, THEN derive the k min-hashes from the
    # column reference — otherwise the shingle expression is recomputed k
    # times per row (no CSE across lambda boundaries)
    from pyspark.sql import Observation

    obs = Observation()
    base = (
        # spread first: the k min-hash folds are the operator's heaviest
        # per-row work and a single-file scan would run them on one task
        _spread_scan(df)
        .select(F.col(id_col).alias("id"), shingles_col.alias("sh"))
        .select("id", "sh", minhash_signature(F.col("sh"), k).alias("sig"))
        # hashed shingles for the verify: long-array intersect + arithmetic
        # union beats string-array intersect/union (same trick as
        # jaccard_pairs; collisions ~|sh|²/2⁶⁴ per pair)
        .select(
            "id",
            "sig",
            F.size("sh").alias("sz"),
            F.transform("sh", lambda s: F.xxhash64(s)).alias("hsh"),
        )
        # base feeds THREE consumers (banding + both verify re-attach
        # sides); without a lineage cut each re-runs the shingling (column
        # pruning drops the k min-hash folds from the re-attach branches,
        # but the tokenizer+slice work repeats). The row count rides the
        # same job and gates the verify-join strategy (see jaccard_pairs).
        .observe(obs, F.count(F.lit(1)).alias("__n"))
        .localCheckpoint(eager=True)
    )
    n_base = obs.get["__n"]
    # band (id, band, bucket) ONLY — the shingle arrays must not ride
    # through the bands-x explode, the bucket-join fan-out, or the pair
    # dedup (at corpus scale that's a bands-fold payload amplification
    # through the shuffle); they are re-attached per CANDIDATE below
    banded = base.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.element_at(F.col("sig"), b * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    left = banded.select(F.col("id").alias("id_a"), "band", "bucket")
    right = banded.select(F.col("id").alias("id_b"), "band", "bucket")
    cands = (
        left.join(right, on=["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        # one exchange for dedup + verify spread — see jaccard_pairs: the
        # pair-key repartition is the shuffle dropDuplicates needs anyway,
        # with the partition count pinned so AQE cannot byte-coalesce the
        # candidates to one task before the CPU-bound verify (r12)
        .repartition(_shuffle_partitions(df), "id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    full_a = base.select(
        F.col("id").alias("id_a"), F.col("hsh").alias("h_a"), F.col("sz").alias("za")
    )
    full_b = base.select(
        F.col("id").alias("id_b"), F.col("hsh").alias("h_b"), F.col("sz").alias("zb")
    )
    if n_base <= BROADCAST_VERIFY_ROWS:
        # map-side re-attach of the shingle arrays (see jaccard_pairs —
        # checkpointed plan stats are MaxValue, AQE can't pick this alone)
        full_a, full_b = F.broadcast(full_a), F.broadcast(full_b)
    verified = cands.join(full_a, on="id_a").join(full_b, on="id_b")
    inter = F.size(F.array_intersect(F.col("h_a"), F.col("h_b")))
    union = F.col("za") + F.col("zb") - inter
    return (
        verified.withColumn("jaccard", F.round(inter / union, 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# -- SimHash ---------------------------------------------------------------
def simhash_votes(tokens_col: Column) -> Column:
    """ARRAY<LONG>[64] of SimHash bit votes over a token array.

    Bit positions are unrolled python-side (shiftleft/shiftright take literal
    bit counts), so the vote vector is one codegen'd expression."""
    return F.aggregate(
        tokens_col,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, t: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(
                        F.shiftright(F.xxhash64(t), b).bitwiseAND(F.lit(1)) == 1,
                        F.lit(1),
                    ).otherwise(F.lit(-1))
                    for b in range(64)
                ]
            ),
            lambda a, v: a + v,
        ),
    )


def pack_votes(votes_col: Column) -> Column:
    """Sign-pack a 64-vote array into one LONG signature.

    Call on a *materialized column* (not the raw votes expression): the pack
    references its input 64 times, so inlining the aggregate would blow up
    the expression tree 64×."""
    packed = F.lit(0).cast("long")
    for b in range(64):
        bit_val = F.lit(-(2**63) if b == 63 else (1 << b)).cast("long")
        packed = packed.bitwiseOR(
            F.when(F.element_at(votes_col, b + 1) > 0, bit_val).otherwise(
                F.lit(0).cast("long")
            )
        )
    return packed


def simhash_pairs(
    df: DataFrame, id_col: str, tokens_col: Column, max_hamming: int = 6
) -> DataFrame:
    """Near-dup pairs by SimHash banding (4×16-bit chunks) + Hamming verify.

    A pair within Hamming distance 3 must agree on ≥1 of 4 chunks (pigeonhole);
    larger max_hamming trades recall for candidate volume.
    """
    base = (
        # spread first: the 64-bit-vote fold is heavy per row and a
        # single-file scan would run it on one task
        _spread_scan(df)
        .select(F.col(id_col).alias("id"), tokens_col.alias("toks"))
        .select("id", simhash_votes(F.col("toks")).alias("votes"))
        .select("id", pack_votes(F.col("votes")).alias("sig"))
    )
    chunked = base.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("sig"), 16 * c)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cc"),
    ).select("id", "sig", F.col("cc.chunk").alias("chunk"), F.col("cc.val").alias("val"))
    left = chunked.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"), "chunk", "val")
    right = chunked.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"), "chunk", "val")
    cands = (
        left.join(right, on=["chunk", "val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cands.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# -- embedding near-dup ----------------------------------------------------
def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    max_rows: int | None = 100_000,
) -> DataFrame:
    """Exact pairwise cosine near-dups — the bounded-set tier.

    The plan is an O(N²) self-join; that is the correct tool for candidate
    sets (an LSH bucket, a cluster, a dedup shard) and the WRONG tool for a
    corpus. ``max_rows`` enforces that contract: inputs above it raise and
    point at the linear-candidate tiers (`similarity.ann_neardup_pairs`,
    `minhash_lsh_pairs`) instead of silently scheduling an N² shuffle that
    would never finish at 100 TB. Pass ``max_rows=None`` only when the
    caller has already bounded the input.
    """
    from nicefox_graphdb_spark.operators.similarity import dot, norm

    if max_rows is not None:
        n = df.count()
        if n > max_rows:
            raise ValueError(
                f"embedding_neardup_pairs is the exact O(N^2) tier for "
                f"bounded candidate sets; got {n} rows > max_rows="
                f"{max_rows}. Use similarity.ann_neardup_pairs or "
                f"minhash_lsh_pairs for corpus-scale near-dup."
            )
    # spread: the O(N²) fold work parallelizes with the LEFT side's
    # partitioning (the right side broadcasts through the nested-loop
    # join); a single-file scan would run every pair on one task (r11)
    base = _spread_scan(df).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("nrm"),  # precomputed: O(N·d), not O(N²·d)
    )
    a = base.select(
        F.col("id").alias("id_a"), F.col("v").alias("v_a"), F.col("nrm").alias("n_a")
    )
    b = base.select(
        F.col("id").alias("id_b"), F.col("v").alias("v_b"), F.col("nrm").alias("n_b")
    )
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.round(
                dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b")), 6
            ),
        )
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )

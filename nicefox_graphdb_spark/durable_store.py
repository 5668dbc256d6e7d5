"""DurableGraph — durable, partition-pruned write storage for Cypher writes.

The reference persists every write inside a single SQLite file per project
(reference src/db.ts:47-70, src/local.ts:22-45): writes survive a restart.
`MutableGraph` (graph_store.py) keeps written tables as session-local
copy-on-write DataFrames — correct interactively, but (a) a restart loses
everything, and (b) every SET rewrites the whole label table.

This module is the Spark-native durable equivalent, the same shape a
Delta/Iceberg-backed store would take (neither library ships in this
environment, so the transactional layer is implemented directly — it is
small):

- Every table's rows are hash-bucketed by ``_id`` (``pmod(xxhash64(_id),
  n_buckets)``); the manifest tracks, per FILE, the set of buckets whose
  rows it may contain plus row/byte stats — Delta/Iceberg's file-stats
  model, with the bucket set as the skipping predicate.
- A versioned JSON **manifest** maps table → schema + file list. Commits
  write a new manifest version then atomically swing a ``CURRENT`` pointer
  (``os.replace``) — readers always see a consistent snapshot and a crash
  mid-write leaves the previous version intact (Delta's _delta_log, in
  miniature).
- **Writes are size-aware** (Delta's optimized write): the incoming
  frame's Catalyst plan statistics decide the physical shape with zero
  extra jobs. Small writes land as ONE parquet file spanning several
  buckets, with the exact bucket set, row count, and contract validation
  collected by ``DataFrame.observe`` DURING the write (no follow-up scan);
  large writes fan out via an AQE-rebalanced ``partitionBy`` into
  bucket-exclusive files. A 1 000-row MERGE therefore costs one
  single-task file write, while a 1 TB bulk load still parallelizes.
- **Keyed MERGE prunes files**: ``SET n.p = v`` on k matched ids computes
  the touched bucket set from the update keys (≤ n_buckets small ints),
  reads and rewrites ONLY the files overlapping those buckets, and commits
  a manifest where untouched files stay referenced byte-for-byte. At
  100 TB with n_buckets=4096, a 10-row MERGE touches ~10 files, not the
  table.
- **Appends add files** without rewriting anything; when a bucket's
  exclusive files or the table's shared (multi-bucket) files exceed
  ``compact_threshold``, they are compacted back into bucket-exclusive
  files in the same commit.
- Schema evolution: the manifest carries the table's logical schema
  (first-seen type wins, as in MutableGraph); old files are read with the
  current schema, so columns added later null-fill for free (parquet
  missing-column semantics).

``DurableGraph`` subclasses ``MutableGraph`` so the Cypher compiler's write
paths (compiler.py compile_create/merge/set/delete) run unchanged — only
the storage engine under them swaps.

Deployment: the data plane (parquet IO, bucket pruning) is Spark-native and
cluster-ready; the commit plane (manifest IO, CURRENT swing, staged-file
moves) is pluggable via ``commit_plane.CommitPlane`` — driver-local ``os.*``
by default, ``HadoopCommitPlane`` for hdfs://-style roots, and the op-by-op
object-store mapping (or the swap to Delta/Iceberg, whose log solves raw-S3
rename) is documented in commit_plane.py.
"""

from __future__ import annotations

import json
import os
import uuid
from urllib.parse import quote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nicefox_graphdb_spark.catalog import EdgeTable, GraphCatalog
from nicefox_graphdb_spark.commit_plane import LocalCommitPlane
from nicefox_graphdb_spark.graph_store import MutableGraph


def _q(s: str) -> str:
    """Filesystem-safe table-key component. The empty string (the catalog's
    sentinel label for unlabeled nodes) maps to "%00" — a NUL escape no
    real label can quote to, so it cannot collide."""
    return quote(s, safe="") if s else "%00"


def node_key(label: str) -> str:
    return f"nodes/{_q(label)}"


def edge_key(type_: str, src_label: str, dst_label: str) -> str:
    return f"edges/{_q(type_)}__{_q(src_label)}__{_q(dst_label)}"


class DurableTableStore:
    """Bucketed-parquet tables under one root, with atomic manifest commits.

    Layout::

        {root}/_manifest/v{n:012d}.json   # full manifest per version
        {root}/_manifest/CURRENT          # name of the live manifest
        {root}/data/{table_key}/b{bucket:05d}-{uuid}.parquet   # exclusive
        {root}/data/{table_key}/s-{uuid}.parquet               # shared

    Each manifest table entry carries ``files``: a list of
    ``{"name", "buckets": [int] | None, "rows": int | None, "bytes": int}``
    — ``buckets`` is the (exact or superset) bucket set whose rows the file
    may contain (``None`` = unknown/any), the skipping stat every pruned
    read and rewrite consults.
    """

    # writes whose Catalyst-estimated output is at most this land as one
    # single-task file instead of a partitionBy fan-out (Delta's
    # optimized-write small-file path); at 100 TB the estimate of a bulk
    # load blows straight past it and fans out
    small_write_bytes = 32 * 1024 * 1024

    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 16,
                 compact_threshold: int = 8, fs=None,
                 retain_versions: int = 10, vacuum_every: int = 8):
        """``fs`` is the commit plane (see commit_plane.py): every
        small-file metadata operation — manifest IO, CURRENT swing, staged
        parquet moves, vacuum deletes — routes through it. Default is the
        driver-local filesystem; pass ``HadoopCommitPlane(spark, root)``
        for hdfs://-style roots.

        ``retain_versions`` bounds storage growth: every ``vacuum_every``
        commits, manifest versions older than the newest N are deleted and
        data files referenced by NO retained version are vacuumed (Delta's
        log-retention + VACUUM, wired into the commit cadence instead of a
        cron). Time-travel (``read_table_at``) stays valid for the
        retained window. ``retain_versions=None`` disables (grow forever,
        vacuum manually)."""
        self.spark = spark
        self.root = root
        self.retain_versions = retain_versions
        self.vacuum_every = vacuum_every
        self.fs = fs if fs is not None else LocalCommitPlane()
        self._mdir = os.path.join(root, "_manifest")
        self.fs.makedirs(self._mdir)
        self.fs.makedirs(os.path.join(root, "data"))
        self.compact_threshold = compact_threshold
        self.manifest = self._load() or {
            "version": 0,
            "n_buckets": n_buckets,
            "multi_label_dirty": False,
            "tables": {},
        }
        # the persisted bucket count always wins — pruning depends on every
        # write agreeing on the hash ring
        self.n_buckets = self.manifest["n_buckets"]

    # -- manifest ---------------------------------------------------------
    def _load(self) -> dict | None:
        cur = os.path.join(self._mdir, "CURRENT")
        if self.fs.exists(cur):
            name = self.fs.read_text(cur).strip()
        else:
            # CURRENT missing but versions exist: a crash between the
            # manifest publish and the CURRENT swing. Every v*.json was
            # itself published atomically, so adopting the newest one is
            # equivalent to the interrupted commit having succeeded.
            versions = [
                n for n in self.fs.listdir(self._mdir)
                if n.startswith("v") and n.endswith(".json")
            ]
            if not versions:
                return None
            name = max(versions)
        m = json.loads(self.fs.read_text(os.path.join(self._mdir, name)))
        for t in m.get("tables", {}).values():
            if "files" not in t:  # pre-v2 manifest: bucket → file-name map
                t["files"] = [
                    {"name": f, "buckets": [int(b)], "rows": None, "bytes": None}
                    for b, names in t.pop("buckets", {}).items()
                    for f in names
                ]
        return m

    def commit(self) -> None:
        """Write the next manifest version, then atomically swing CURRENT."""
        self.manifest["version"] += 1
        name = f"v{self.manifest['version']:012d}.json"
        self.fs.write_text_atomic(
            os.path.join(self._mdir, name), json.dumps(self.manifest)
        )
        self.fs.write_text_atomic(os.path.join(self._mdir, "CURRENT"), name)
        if (
            self.retain_versions is not None
            and self.manifest["version"] % self.vacuum_every == 0
        ):
            self.apply_retention()

    def _manifest_at(self, version: int) -> dict:
        path = os.path.join(self._mdir, f"v{version:012d}.json")
        if not self.fs.exists(path):
            raise FileNotFoundError(
                f"manifest version {version} not retained (floor is "
                f"{self.manifest['version'] - (self.retain_versions or 0) + 1})"
            )
        return json.loads(self.fs.read_text(path))

    def read_table_at(self, key: str, version: int) -> DataFrame:
        """Time-travel read: the table as of a retained manifest version."""
        m = self._manifest_at(version)
        t = m["tables"][key]
        ddir = os.path.join(self.root, "data", key)
        paths = [os.path.join(ddir, e["name"]) for e in t["files"]]
        schema = T.StructType.fromJson(t["schema"])
        if not paths:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*paths)

    def apply_retention(self) -> tuple[int, int]:
        """Drop manifest versions beyond the retained window and vacuum
        data files referenced by NO retained version. Returns
        (manifests_deleted, files_deleted)."""
        cur = self.manifest["version"]
        floor = max(1, cur - (self.retain_versions or cur) + 1)
        dropped = 0
        retained: list[dict] = []
        for fn in sorted(self.fs.listdir(self._mdir)):
            if not (fn.startswith("v") and fn.endswith(".json")):
                continue
            v = int(fn[1:13])
            if v < floor:
                self.fs.remove(os.path.join(self._mdir, fn))
                dropped += 1
            else:
                retained.append(
                    json.loads(self.fs.read_text(os.path.join(self._mdir, fn)))
                )
        live: dict[str, set] = {}
        for m in [*retained, self.manifest]:
            for key, t in m.get("tables", {}).items():
                live.setdefault(key, set()).update(
                    e["name"] for e in t["files"]
                )
        removed = 0
        data_root = os.path.join(self.root, "data")
        # table keys are paths (nodes/<label>, edges/<t>__<s>__<d>) — walk
        # the tree; any dir holding parquet files is a table dir whose key
        # is its path relative to data/
        stack = [""]
        while stack:
            rel = stack.pop()
            d = os.path.join(data_root, rel) if rel else data_root
            if not self.fs.isdir(d):
                continue
            keep = live.get(rel, set())
            for fn in self.fs.listdir(d):
                p = os.path.join(d, fn)
                if self.fs.isdir(p):
                    stack.append(os.path.join(rel, fn) if rel else fn)
                elif fn.endswith(".parquet") and fn not in keep:
                    self.fs.remove(p)
                    removed += 1
        return dropped, removed

    # -- schema / bucket helpers -----------------------------------------
    def bucket_col(self, id_col: F.Column) -> F.Column:
        return F.pmod(F.xxhash64(id_col), F.lit(self.n_buckets)).cast("int")

    def touched_buckets(self, keys: DataFrame, id_col: str = "_id") -> list[int]:
        """Distinct bucket ids of the given keys — driver-side pruning
        metadata (≤ n_buckets ints), the file-skipping step of the MERGE."""
        rows = (
            keys.select(self.bucket_col(F.col(id_col)).alias("b"))
            .distinct()
            .collect()
        )
        return sorted(r["b"] for r in rows)

    def checkpoint_with_buckets(
        self, keys: DataFrame, id_col: str = "_id"
    ) -> tuple[DataFrame, list[int], int]:
        """Materialize an update/delete row set ONCE (localCheckpoint) and
        collect its distinct bucket ids AND row count on the SAME job via
        ``observe`` — the pruning metadata rides the materialization
        instead of re-executing the (often join-heavy) source plan once
        for the bucket probe and again for every downstream read/rewrite.
        The count row-gates the membership probes' broadcast hints (a
        checkpointed frame reports MaxValue plan stats, so the planner
        can't see how small the key set really is)."""
        from pyspark.sql import Observation

        obs = Observation()
        ck = keys.observe(
            obs,
            F.collect_set(self.bucket_col(F.col(id_col))).alias("b"),
            F.count(F.lit(1)).alias("n"),
        ).localCheckpoint(eager=True)
        got = obs.get
        return ck, sorted(got["b"]), got["n"]

    def schema_of(self, key: str) -> T.StructType:
        return T.StructType.fromJson(self.manifest["tables"][key]["schema"])

    def set_schema(self, key: str, schema: dict[str, T.DataType]) -> None:
        self.manifest["tables"][key]["schema"] = T.StructType(
            [T.StructField(n, t) for n, t in schema.items()]
        ).jsonValue()

    def has_table(self, key: str) -> bool:
        return key in self.manifest["tables"]

    def create_table(self, key: str, meta: dict, schema: T.StructType) -> None:
        self.manifest["tables"][key] = {
            **meta,
            "schema": schema.jsonValue(),
            "files": [],
        }

    # -- reads ------------------------------------------------------------
    @staticmethod
    def _overlaps(entry: dict, buckets: list[int]) -> bool:
        return entry["buckets"] is None or any(
            b in buckets for b in entry["buckets"]
        )

    def read_table(self, key: str, buckets: list[int] | None = None) -> DataFrame:
        """Scan the table (or only the given buckets) at the current logical
        schema; files written before a column existed null-fill it. Pruned
        reads skip files whose bucket set is disjoint from the request; a
        shared (multi-bucket) file that overlaps gets a residual row filter
        so only the requested buckets' rows come back."""
        schema = self.schema_of(key)
        t = self.manifest["tables"][key]
        ddir = os.path.join(self.root, "data", key)
        if buckets is None:
            entries = t["files"]
        else:
            entries = [e for e in t["files"] if self._overlaps(e, buckets)]
        if not entries:
            return self.spark.createDataFrame([], schema)
        df = self.spark.read.schema(schema).parquet(
            *(os.path.join(ddir, e["name"]) for e in entries)
        )
        if buckets is not None and any(
            e["buckets"] is None or not set(e["buckets"]) <= set(buckets)
            for e in entries
        ):
            df = df.where(self.bucket_col(F.col("_id")).isin(buckets))
        return df

    # -- writes -----------------------------------------------------------
    def _plan_bytes(self, df: DataFrame) -> int | None:
        """Catalyst's size estimate for the frame — free (driver-side plan
        stats; exact for localCheckpointed inputs, file-stat-derived for
        parquet scans). Unknown → None → callers take the fan-out path."""
        try:
            n = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            return int(min(n, 2**63 - 1))
        except Exception:  # noqa: BLE001 — estimate only, never fail a write
            return None

    def _write_files(
        self, key: str, df: DataFrame, touched: list[int] | None = None,
        force_fanout: bool = False, est_bytes: int | None = None,
        extra_metrics: list | None = None,
    ) -> tuple[list[dict], dict | None]:
        """Write rows bucketed by ``_id``; returns (new manifest file
        entries, the small-path observation row or None). Nothing is
        visible until the manifest commits.

        Small frames (by plan-stats estimate) write ONE file from one task;
        its exact bucket set, row count, and the touched-set contract check
        ride the write via ``observe`` — zero extra jobs; ``extra_metrics``
        lets a caller ride its own validation aggregates on the same job
        (they come back in the returned row). Large frames shuffle once on
        the bucket key (AQE rebalance sizes the tasks) into bucket-exclusive
        files (extra metrics are not computed there — callers needing them
        must pre-materialize instead). With ``touched``, rows outside the
        touched buckets raise BEFORE anything moves into the table
        directory or the manifest mutates."""
        from pyspark.sql import Observation

        est = None
        if not force_fanout:
            est = est_bytes if est_bytes is not None else self._plan_bytes(df)
        staging = os.path.join(self.root, "_staging", uuid.uuid4().hex)
        ddir = os.path.join(self.root, "data", key)
        bucketed = df.withColumn("__bucket", self.bucket_col(F.col("_id")))
        entries: list[dict] = []
        if est is not None and est <= self.small_write_bytes:
            obs = Observation()
            metrics = [
                F.count(F.lit(1)).alias("rows"),
                F.collect_set("__bucket").alias("buckets"),
            ]
            if touched is not None:
                metrics.append(
                    F.max(~F.col("__bucket").isin(touched)).alias("stray")
                )
            if extra_metrics:
                metrics.extend(extra_metrics)
            (
                # coalesce(1), not repartition(1): the narrow merge skips a
                # round-robin Exchange plus its sortBeforeRepartition local
                # sort (~100 ms/write measured at bench scale, guide §2.4 —
                # "remove shuffles outright"). The single task reads every
                # upstream partition; fine by construction, this path is
                # size-gated at small_write_bytes.
                bucketed.observe(obs, *metrics)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(staging)
            )
            got = obs.get
            if touched is not None and got.get("stray"):
                self.fs.rmtree(staging)
                raise ValueError(
                    "replace_buckets: rows outside touched buckets "
                    f"{sorted(set(got['buckets']) - set(touched))}"
                )
            if got["rows"] == 0:
                self.fs.rmtree(staging)
                return [], got
            self.fs.makedirs(ddir)
            for fn in self.fs.listdir(staging):
                if not fn.endswith(".parquet"):
                    continue
                name = f"s-{uuid.uuid4().hex}.parquet"
                src = os.path.join(staging, fn)
                size = self.fs.size(src)
                self.fs.move(src, os.path.join(ddir, name))
                entries.append(
                    {
                        "name": name,
                        "buckets": sorted(got["buckets"]),
                        "rows": got["rows"],
                        "bytes": size,
                    }
                )
            self.fs.rmtree(staging)
            return entries, got
        (
            # REBALANCE (AQE) sizes write tasks by data volume: a skewed
            # bucket may split into several files (fine — entries are a
            # LIST), small buckets coalesce into few tasks
            bucketed.hint("rebalance", "__bucket")
            .write.partitionBy("__bucket")
            .mode("overwrite")
            .parquet(staging)
        )
        dirs = [
            (int(d.split("=", 1)[1]), d)
            for d in self.fs.listdir(staging)
            if d.startswith("__bucket=")
        ]
        if touched is not None:
            stray = {b for b, _ in dirs} - set(touched)
            if stray:
                # rows hashed outside the touched set would corrupt pruning
                # — callers must only pass rows belonging to the touched
                # buckets. Validate BEFORE anything moves or the manifest
                # mutates: a caller that catches this error sees a fully
                # consistent store.
                self.fs.rmtree(staging)
                raise ValueError(
                    f"replace_buckets: rows outside touched buckets {sorted(stray)}"
                )
        self.fs.makedirs(ddir)
        for b, d in dirs:
            for fn in self.fs.listdir(os.path.join(staging, d)):
                if not fn.endswith(".parquet"):
                    continue
                name = f"b{b:05d}-{uuid.uuid4().hex}.parquet"
                src = os.path.join(staging, d, fn)
                size = self.fs.size(src)
                self.fs.move(src, os.path.join(ddir, name))
                entries.append(
                    {"name": name, "buckets": [b], "rows": None, "bytes": size}
                )
        self.fs.rmtree(staging)
        return entries, None

    def append(self, key: str, df: DataFrame) -> None:
        """Add files; existing files untouched. Buckets whose exclusive
        files (or the table's shared files) exceed compact_threshold are
        compacted back into bucket-exclusive files in this commit."""
        new, _ = self._write_files(key, df)
        self.manifest["tables"][key]["files"].extend(new)
        self.maybe_compact(key)

    def append_counted(
        self, key: str, df: DataFrame, est_bytes: int,
        extra_metrics: list | None = None,
    ) -> tuple[list[dict], dict | None] | None:
        """Append with the write job's own observation returned to the
        caller as ``(file entries, observation row)`` — the row holds
        ``rows`` plus any ``extra_metrics`` — so a caller whose
        frame carries fresh nondeterministic ids (uuid()) skip a separate
        freezing checkpoint: the single write IS the materialization.
        ``est_bytes`` must be a caller-measured bound routing the write
        down the small single-file path (the un-checkpointed plan's own
        Catalyst stats are opaque); a bound over ``small_write_bytes``
        returns None without writing — callers fall back to the
        checkpoint-then-append path. The manifest is NOT touched here:
        callers validate their extra metrics first, then publish the
        returned entries via ``publish_append`` — a raise in between
        leaves only orphaned (vacuum-able) files behind."""
        if est_bytes > self.small_write_bytes:
            return None
        new, got = self._write_files(
            key, df, est_bytes=est_bytes, extra_metrics=extra_metrics
        )
        return (new, got)

    def publish_append(self, key: str, entries: list[dict]) -> None:
        """Reference freshly written files in the manifest (the second half
        of ``append_counted``, after caller-side validation)."""
        if entries:
            self.manifest["tables"][key]["files"].extend(entries)
            self.maybe_compact(key)

    def maybe_compact(self, key: str) -> None:
        """Compact when shared or per-bucket file counts exceed the
        threshold (split out of append so every append flavor shares it)."""
        files = self.manifest["tables"][key]["files"]
        shared = [e for e in files if e["buckets"] is None or len(e["buckets"]) != 1]
        if len(shared) > self.compact_threshold:
            self._compact_shared(key)
            files = self.manifest["tables"][key]["files"]
        per_bucket: dict[int, int] = {}
        for e in files:
            if e["buckets"] is not None and len(e["buckets"]) == 1:
                per_bucket[e["buckets"][0]] = per_bucket.get(e["buckets"][0], 0) + 1
        over = [b for b, n in per_bucket.items() if n > self.compact_threshold]
        if over:
            self._compact_buckets(key, over)

    def _compact_shared(self, key: str) -> None:
        """Fold every shared (multi-bucket) file into bucket-exclusive
        files: one scan of the shared files, one fan-out write."""
        t = self.manifest["tables"][key]
        shared = [e for e in t["files"] if e["buckets"] is None or len(e["buckets"]) != 1]
        if not shared:
            return
        ddir = os.path.join(self.root, "data", key)
        df = self.spark.read.schema(self.schema_of(key)).parquet(
            *(os.path.join(ddir, e["name"]) for e in shared)
        )
        new, _ = self._write_files(key, df, force_fanout=True)
        names = {e["name"] for e in shared}
        t["files"] = [e for e in t["files"] if e["name"] not in names] + new

    def _compact_buckets(self, key: str, over: list[int]) -> None:
        """Merge each over-full bucket's exclusive files into one file per
        bucket. Shared files stay untouched (their rows are not duplicated
        here), so this reads exactly the files being replaced."""
        t = self.manifest["tables"][key]
        old = [
            e for e in t["files"]
            if e["buckets"] is not None
            and len(e["buckets"]) == 1
            and e["buckets"][0] in over
        ]
        if not old:
            return
        ddir = os.path.join(self.root, "data", key)
        df = self.spark.read.schema(self.schema_of(key)).parquet(
            *(os.path.join(ddir, e["name"]) for e in old)
        )
        new, _ = self._write_files(key, df, force_fanout=True)
        names = {e["name"] for e in old}
        t["files"] = [e for e in t["files"] if e["name"] not in names] + new

    def replace_buckets(
        self,
        key: str,
        touched: list[int],
        df: DataFrame,
        append_df: DataFrame | None = None,
        append_metrics: list | None = None,
        append_est: int = 0,
        validate=None,
    ) -> dict | None:
        """Make ``df`` the new complete state of the touched buckets.
        Files fully inside the touched set are dropped; files disjoint from
        it stay referenced byte-for-byte; a shared file straddling the
        boundary has its untouched-bucket rows rewritten into a fresh file
        (they are small by construction — shared files only arise from
        small writes). Old files are left for vacuum (time-travel-ish).

        ``append_df`` (r12) rides EXTRA rows — outside the
        replaced-buckets contract — on the same single write: the new file
        is the replacement state for ``touched`` AND an ordinary appended
        file for every other bucket it lands in (the manifest's
        multi-file-per-bucket read model makes that consistent). This is
        the terminal-MERGE upsert fusion: created rows (fresh uuids, so
        their buckets are unknowable pre-write) ship with the ON MATCH
        rewrite in ONE write instead of append + rewrite.
        ``append_metrics`` ride the append branch as an Observation and
        come back in the returned row; ``validate`` (if given) is called
        with that row BEFORE the manifest mutates — a raise aborts the
        commit (written files stay orphaned, vacuum-able). The fused path
        requires the single-file small write: when the size estimate
        exceeds ``small_write_bytes`` (or is unknown) the method returns
        ``False`` WITHOUT writing and the caller must fall back to a
        separate append + replace. Returns the append-branch observation
        row (or None without ``append_df``)."""
        t = self.manifest["tables"][key]
        keep, drop, partial = [], [], []
        for e in t["files"]:
            if not self._overlaps(e, touched):
                keep.append(e)
            elif e["buckets"] is not None and set(e["buckets"]) <= set(touched):
                drop.append(e)
            else:
                partial.append(e)
        touched = sorted(touched)
        caller_obs = None
        if append_df is not None and not partial:
            # the replace branch's rows-within-touched contract must be
            # checked on the BRANCH (the appended rows are exempt), same
            # observation pattern as the partial-file widening below
            from pyspark.sql import Observation

            caller_obs = Observation()
            df = (
                df.withColumn("__cb", self.bucket_col(F.col("_id")))
                .observe(
                    caller_obs,
                    F.max(~F.col("__cb").isin(touched)).alias("stray"),
                )
                .drop("__cb")
            )
        if partial:
            # a shared file straddling the boundary: fold its untouched
            # rows into THIS write by widening the touched set to cover the
            # file — one write replaces everything, instead of a separate
            # remainder file per rewrite (they are small by construction —
            # shared files only arise from small writes). The caller's
            # rows-within-touched contract is still enforced against the
            # ORIGINAL touched set, via an observation pinned to the
            # caller's union branch (computed during the write, no extra
            # job).
            from pyspark.sql import Observation

            caller_obs = Observation()
            df = (
                df.withColumn("__cb", self.bucket_col(F.col("_id")))
                .observe(
                    caller_obs,
                    F.max(~F.col("__cb").isin(touched)).alias("stray"),
                )
                .drop("__cb")
            )
            ddir = os.path.join(self.root, "data", key)
            rem = (
                self.spark.read.schema(self.schema_of(key))
                .parquet(*(os.path.join(ddir, e["name"]) for e in partial))
                .where(~self.bucket_col(F.col("_id")).isin(touched))
            )
            df = df.unionByName(rem)
            widened: set[int] = set(touched)
            for e in partial:
                widened |= (
                    set(range(self.n_buckets))
                    if e["buckets"] is None
                    else set(e["buckets"])
                )
            touched = sorted(widened)
            drop.extend(partial)
            partial = []
        # rewrites replace known data: the replaced files' OWN byte stats
        # estimate the output better than the plan stats of a join-shaped
        # merge frame (which Catalyst can only bound loosely); 1.5× covers
        # added columns/rows. Unknown stats (pre-v2 files) → fan-out path.
        est = None
        if drop and all(e["bytes"] is not None for e in drop):
            est = int(sum(e["bytes"] for e in drop) * 1.5)
        app_obs = None
        if append_df is not None:
            if est is None or est + append_est > self.small_write_bytes:
                # fused upsert needs the single-file small path (branch
                # observations + one mixed-role file); too big or unknown
                # — caller falls back to separate append + replace
                return False
            est += append_est
            from pyspark.sql import Observation

            app_obs = Observation()
            df = df.unionByName(
                append_df.observe(
                    app_obs,
                    F.count(F.lit(1)).alias("__app_n"),
                    *(append_metrics or []),
                )
            )
        # validate-before-mutate: stray rows raise before anything moves;
        # the manifest only changes after every write lands. With an
        # append branch the whole-frame touched check moves to the branch
        # observation above (appended rows are exempt by design).
        new, _ = self._write_files(
            key,
            df,
            touched=None if append_df is not None else touched,
            est_bytes=est,
        )
        app_row = app_obs.get if app_obs is not None else None
        if validate is not None and app_row is not None:
            validate(app_row)  # a raise aborts: manifest untouched
        if caller_obs is not None and caller_obs.get.get("stray"):
            # written files stay orphaned (vacuum-able); manifest untouched
            raise ValueError(
                "replace_buckets: rows outside touched buckets "
                f"(caller rows beyond {touched})"
            )
        t["files"] = keep + new
        return app_row

    def vacuum(self) -> int:
        """Delete data files not referenced by the current manifest."""
        removed = 0
        for key, t in self.manifest["tables"].items():
            ddir = os.path.join(self.root, "data", key)
            if not self.fs.isdir(ddir):
                continue
            live = {e["name"] for e in t["files"]}
            for fn in self.fs.listdir(ddir):
                if fn.endswith(".parquet") and fn not in live:
                    self.fs.remove(os.path.join(ddir, fn))
                    removed += 1
        return removed


class DurableGraph(MutableGraph):
    """MutableGraph with durable, pruned storage under every mutation.

    Opening a path with existing data registers every stored table into the
    catalog — a restart recovers all writes (reference restart semantics:
    SQLite file reopen, src/local.ts:22-45). Tables bulk-registered in the
    catalog (parquet loads) stay read-only views until first mutated, at
    which point they are adopted into the store (one full write — Delta's
    CONVERT TO DELTA) and from then on mutate via pruned commits.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        catalog: GraphCatalog | None = None,
        n_buckets: int = 16,
    ):
        super().__init__(spark, catalog)
        self.tables = DurableTableStore(spark, path, n_buckets=n_buckets)
        self._in_query = False
        self._query_dirty = False
        self._manifest_snapshot: dict | None = None
        self._pending_append: dict | None = None
        m = self.tables.manifest
        for key, t in m["tables"].items():
            df = self.tables.read_table(key)
            if t["kind"] == "node":
                self.catalog.register_node(t["label"], df)
            else:
                self._put_edge(t["type"], t["src"], t["dst"], df)
        if m.get("multi_label_dirty"):
            self.catalog.multi_label_dirty = True

    # -- query-scoped atomicity --------------------------------------------
    # Durable flavor of the MutableGraph contract: all clause mutations of
    # one query publish as ONE manifest version at query end (matching the
    # reference's single transaction per query, src/executor.ts:446-456).
    # Mid-query, data files land on disk but stay unreferenced by the
    # durable CURRENT manifest — a crash or an abort leaves the previous
    # version intact (orphans are vacuum-able), while intra-query reads see
    # every prior clause through the in-memory catalog.
    def begin_query(self) -> None:
        super().begin_query()
        self._manifest_snapshot = json.loads(json.dumps(self.tables.manifest))
        self._in_query = True
        self._query_dirty = False

    def commit_query(self) -> None:
        self.flush_pending_append()  # safety net; the compiler flushes
        self._in_query = False
        self._manifest_snapshot = None
        if self._query_dirty:
            self._query_dirty = False
            self._commit_manifest()
        super().commit_query()

    def abort_query(self) -> None:
        self._pending_append = None  # failed statement: discard staging
        self._in_query = False
        self._query_dirty = False
        if self._manifest_snapshot is not None:
            self.tables.manifest = self._manifest_snapshot
            self._manifest_snapshot = None
        super().abort_query()

    # -- plumbing ---------------------------------------------------------
    def _commit_manifest(self) -> None:
        self.tables.manifest["multi_label_dirty"] = bool(
            self.catalog.multi_label_dirty
        )
        self.tables.commit()

    def _bump(self) -> None:
        self.catalog.touch()
        if self._in_query:
            # staged: one durable manifest version per query, at commit_query
            self._query_dirty = True
            return
        self._commit_manifest()

    def checkpoint(self) -> None:
        """Durability is per-commit; checkpoint() is a no-op kept for API
        parity with MutableGraph."""

    def _put_edge(self, type_: str, src: str, dst: str, df: DataFrame) -> None:
        for i, et in enumerate(self.catalog._edges):
            if (et.type, et.src_label, et.dst_label) == (type_, src, dst):
                self.catalog._edges[i] = EdgeTable(type_, src, dst, df)
                return
        self.catalog.register_edge(type_, src, dst, df)

    def _refresh_node(self, label: str) -> None:
        self.catalog.register_node(
            label, self.tables.read_table(node_key(label))
        )

    def _refresh_edge(self, type_: str, src: str, dst: str) -> None:
        self._put_edge(
            type_, src, dst, self.tables.read_table(edge_key(type_, src, dst))
        )

    @staticmethod
    def _no_void(cols: dict[str, T.DataType]) -> dict[str, T.DataType]:
        """Parquet cannot store void columns; an all-null property (CREATE
        {x: null}) persists as a nullable string column instead."""
        return {
            n: (T.StringType() if isinstance(t, T.NullType) else t)
            for n, t in cols.items()
        }

    def _merged_cols(self, key: str, incoming: DataFrame) -> dict[str, T.DataType]:
        """Stored logical schema ∪ incoming columns (stored type wins)."""
        cols = {f.name: f.dataType for f in self.tables.schema_of(key).fields}
        for f in incoming.schema.fields:
            cols.setdefault(f.name, f.dataType)
        return self._no_void(cols)

    def _adopt_node(self, label: str) -> None:
        """First mutation of a bulk-registered table: import it wholesale
        (one-time, like Delta's CONVERT TO DELTA)."""
        key = node_key(label)
        if self.tables.has_table(key):
            return
        df = self.catalog.node(label).df
        cols = self._no_void({f.name: f.dataType for f in df.schema.fields})
        self.tables.create_table(
            key,
            {"kind": "node", "label": label},
            T.StructType([T.StructField(n, t) for n, t in cols.items()]),
        )
        self.tables.append(key, self._align(df, cols))

    def _adopt_edge(self, i: int) -> str:
        et = self.catalog._edges[i]
        key = edge_key(et.type, et.src_label, et.dst_label)
        if not self.tables.has_table(key):
            cols = self._no_void({f.name: f.dataType for f in et.df.schema.fields})
            self.tables.create_table(
                key,
                {"kind": "edge", "type": et.type, "src": et.src_label,
                 "dst": et.dst_label},
                T.StructType([T.StructField(n, t) for n, t in cols.items()]),
            )
            self.tables.append(key, self._align(et.df, cols))
        return key

    # -- nodes ------------------------------------------------------------
    def ensure_label(self, label: str) -> None:
        if self.catalog.has_label(label):
            self._adopt_node(label)
            return
        key = node_key(label)
        if not self.tables.has_table(key):
            self.tables.create_table(
                key,
                {"kind": "node", "label": label},
                T.StructType([T.StructField("_id", T.StringType())]),
            )
        self._refresh_node(label)

    def append_nodes(self, label: str, rows: DataFrame) -> None:
        self.flush_pending_append()
        self.ensure_label(label)
        key = node_key(label)
        cols = self._merged_cols(key, rows)
        self.tables.set_schema(key, cols)
        self.tables.append(key, self._align(rows, cols))
        self._refresh_node(label)
        self._bump()

    # appends write parquet and re-register from files, so a frame whose
    # plan carries nondeterministic columns (uuid()) is materialized by
    # the append itself — compiler fast paths may skip their freezing
    # checkpoint (the in-memory MutableGraph keeps the LAZY plan in the
    # catalog, where an unfrozen uuid() would re-draw per read: False)
    appends_materialize = True

    # a measured row bound at most this takes the fused single-write path
    # (with the coarse width estimate below it stays far under
    # small_write_bytes for any realistic column count); bigger appends
    # fall back to checkpoint-then-append, which parallelizes
    SMALL_APPEND_ROWS = 100_000

    def append_nodes_counted(
        self,
        label: str,
        rows: DataFrame,
        n_rows_bound: int | None = None,
        null_check_cols: tuple[str, ...] = (),
        err: str = "Cannot merge node using null property value",
        err_pos=None,
    ) -> int:
        """Fused append: the durable write itself freezes the generated
        ids and carries the row count + null-key probe as its own
        Observation — ONE materialization where the base path pays a
        freezing checkpoint AND a write (r12; the write statement's
        dominant fixed cost). Row-gated: only a caller-measured small
        bound may skip the checkpoint, since the un-checkpointed plan's
        Catalyst stats are opaque (fresh uuids over a join); large appends
        keep the parallel checkpoint-then-append shape."""
        from nicefox_graphdb_spark.graph_store import CypherRuntimeError

        self.flush_pending_append()
        if n_rows_bound is None or n_rows_bound > self.SMALL_APPEND_ROWS:
            return super().append_nodes_counted(
                label, rows, n_rows_bound, null_check_cols, err, err_pos
            )
        self.ensure_label(label)
        key = node_key(label)
        cols = self._merged_cols(key, rows)
        extra = []
        if null_check_cols:
            anynull = None
            for k in null_check_cols:
                c = F.col(k).isNull()
                anynull = c if anynull is None else anynull | c
            extra.append(F.max(anynull).alias("__has_null"))
        # coarse per-row width bound: id + bucket + per-column slack
        est = 4096 + n_rows_bound * (48 + 32 * len(cols))
        res = self.tables.append_counted(
            key, self._align(rows, cols), est_bytes=est, extra_metrics=extra
        )
        if res is None:  # bound exceeded small_write_bytes after all
            return super().append_nodes_counted(
                label, rows, n_rows_bound, null_check_cols, err, err_pos
            )
        entries, got = res
        if null_check_cols and got.get("__has_null"):
            # written file stays orphaned (vacuum-able) — the manifest was
            # never touched, so the store stays fully consistent
            raise CypherRuntimeError(err, pos=err_pos)
        if got["rows"]:
            self.tables.set_schema(key, cols)
            self.tables.publish_append(key, entries)
            self._refresh_node(label)
            self._bump()
        return got["rows"]

    def stage_pending_append(
        self,
        label: str,
        rows: DataFrame,
        n_rows_bound: int | None = None,
        null_check_cols: tuple[str, ...] = (),
        err: str = "Cannot merge node using null property value",
        err_pos=None,
    ) -> bool:
        """Defer a small node append so the NEXT ``update_node_props`` on
        the same label folds it into its single rewrite write — the
        terminal-MERGE upsert fusion (r12): created rows + ON MATCH
        updates land in ONE durable write instead of an append whose rows
        the following bucket rewrite immediately re-writes. Row-gated like
        ``append_nodes_counted``; returns False (caller appends normally)
        when the bound is missing or too big. The caller OWNS the window:
        it must call ``flush_pending_append`` once the fusing statement
        finishes (a no-op if the update already consumed it); any other
        mutator defensively flushes first."""
        if n_rows_bound is None or n_rows_bound > self.SMALL_APPEND_ROWS:
            return False
        self._pending_append = {
            "label": label,
            "rows": rows,
            "n": n_rows_bound,
            "null_cols": null_check_cols,
            "err": err,
            "err_pos": err_pos,
        }
        return True

    def flush_pending_append(self) -> int | None:
        """Write a still-pending staged append through the normal fused
        append path (no-op when an update already consumed it)."""
        p = self._pending_append
        if p is None:
            return None
        self._pending_append = None
        return self.append_nodes_counted(
            p["label"], p["rows"], p["n"], p["null_cols"], p["err"], p["err_pos"]
        )

    def _null_metrics(self, null_check_cols) -> list:
        if not null_check_cols:
            return []
        anynull = None
        for k in null_check_cols:
            c = F.col(k).isNull()
            anynull = c if anynull is None else anynull | c
        return [F.max(anynull).alias("__has_null")]

    def update_node_props(
        self, label: str, updates: DataFrame, replace_all: bool = False
    ) -> None:
        pending = self._pending_append
        if pending is not None and pending["label"] != label:
            self.flush_pending_append()  # different table: normal order
            pending = None
        if not self.catalog.has_label(label):
            self.flush_pending_append()
            return
        updates, touched, _n = self.tables.checkpoint_with_buckets(updates)
        if not touched:
            # nothing matched: nothing to rewrite, pending (if any) is a
            # plain append
            self.flush_pending_append()
            self._bump()
            return
        if touched:
            self._adopt_node(label)
            key = node_key(label)
            cols = self._merged_cols(key, updates)
            if pending is not None:
                # stored/update types win; the created rows only add
                # columns the table has never seen (e.g. ON CREATE props)
                for f in pending["rows"].schema.fields:
                    cols.setdefault(f.name, f.dataType)
                cols = self._no_void(cols)
            self.tables.set_schema(key, cols)
            base_sub = self._align(self.tables.read_table(key, touched), cols)
            merged = self._apply_node_updates(base_sub, updates, cols, replace_all)
            if pending is not None:
                from nicefox_graphdb_spark.graph_store import CypherRuntimeError

                self._pending_append = None
                err, err_pos = pending["err"], pending["err_pos"]
                null_cols = pending["null_cols"]

                def _validate(row: dict) -> None:
                    if null_cols and row.get("__has_null"):
                        raise CypherRuntimeError(err, pos=err_pos)

                app_est = 4096 + pending["n"] * (48 + 32 * len(cols))
                got = self.tables.replace_buckets(
                    key,
                    touched,
                    merged,
                    append_df=self._align(pending["rows"], cols),
                    append_metrics=self._null_metrics(null_cols),
                    append_est=app_est,
                    validate=_validate,
                )
                if got is False:
                    # too big for the single-file fused write: fall back
                    # to the separate append + replace shape. The rewrite
                    # frame must be REBUILT over the post-append table —
                    # the pre-append `merged` snapshot would drop any
                    # created rows landing in the touched buckets.
                    self._pending_append = pending
                    self.flush_pending_append()
                    base_sub = self._align(
                        self.tables.read_table(key, touched), cols
                    )
                    merged = self._apply_node_updates(
                        base_sub, updates, cols, replace_all
                    )
                    self.tables.replace_buckets(key, touched, merged)
            else:
                self.tables.replace_buckets(key, touched, merged)
            self._refresh_node(label)
        self._bump()

    def add_label_to_nodes(
        self, from_label: str, ids: DataFrame, new_label: str
    ) -> None:
        self.flush_pending_append()
        super().add_label_to_nodes(from_label, ids, new_label)
        self._bump()  # persist multi_label_dirty past the inner commit

    def remove_label_from_nodes(self, label: str, ids: DataFrame) -> None:
        self.flush_pending_append()
        if not self.catalog.has_label(label):
            return
        idcol = ids.select(F.col(ids.columns[0]).alias("_id"))
        idcol, touched, n_ids = self.tables.checkpoint_with_buckets(idcol)
        if touched:
            self._adopt_node(label)
            key = node_key(label)
            keep = self.tables.read_table(key, touched).join(
                self._gated_keys(idcol, n_ids), on="_id", how="left_anti"
            )
            self.tables.replace_buckets(key, touched, keep)
            self._refresh_node(label)
        self._bump()

    def delete_nodes(self, ids: DataFrame, detach: bool = False) -> None:
        self.flush_pending_append()
        # checkpoint FIRST: the dangling probe, per-label membership
        # probes, anti-joins, and detach scans all reuse the materialized
        # id set instead of re-running its source plan per action
        idcol, touched, n_ids = self.tables.checkpoint_with_buckets(
            ids.select(F.col(ids.columns[0]).alias("_id"))
        )
        if not detach:
            # one shuffle-free broadcast endpoint pass against the frozen
            # ids (r10, VERDICT r9 #5 — see graph_store._validate_no_dangling
            # for why this beats the observe-on-checkpoint fold here),
            # row-gated on the count riding the checkpoint job (r11)
            self._validate_no_dangling(idcol, n_ids)
        # same hash ring for every table → the deleted ids' buckets are the
        # only buckets that can contain them, in every label table
        labels = list(self.catalog._nodes)
        for label in labels:
            if not touched:
                break
            if (
                # with a single label the ids can only live there — skip
                # the membership probe job
                len(labels) > 1
                and self.catalog.node(label).df.select("_id")
                .join(self._gated_keys(idcol, n_ids), on="_id", how="left_semi")
                .isEmpty()
            ):
                continue  # label holds none of the ids: no adopt, no rewrite
            self._adopt_node(label)
            key = node_key(label)
            keep = self.tables.read_table(key, touched).join(
                self._gated_keys(idcol, n_ids), on="_id", how="left_anti"
            )
            self.tables.replace_buckets(key, touched, keep)
            self._refresh_node(label)
        if detach:
            for i in range(len(self.catalog._edges)):
                et = self.catalog._edges[i]
                # edges bucket by edge _id, endpoints are the predicate:
                # one scan finds which buckets hold incident edges
                src_keys = self._gated_keys(
                    idcol.withColumnRenamed("_id", "_src"), n_ids
                )
                dst_keys = self._gated_keys(
                    idcol.withColumnRenamed("_id", "_dst"), n_ids
                )
                incident = et.df.join(
                    src_keys, on="_src", how="left_semi"
                ).unionByName(
                    et.df.join(dst_keys, on="_dst", how="left_semi")
                )
                e_touched = self.tables.touched_buckets(incident)
                if not e_touched:
                    continue
                key = self._adopt_edge(i)
                kept = (
                    self.tables.read_table(key, e_touched)
                    .join(src_keys, on="_src", how="left_anti")
                    .join(dst_keys, on="_dst", how="left_anti")
                )
                self.tables.replace_buckets(key, e_touched, kept)
                self._refresh_edge(et.type, et.src_label, et.dst_label)
        self._bump()

    # -- edges ------------------------------------------------------------
    def append_edges(
        self, type_: str, src_label: str, dst_label: str, rows: DataFrame
    ) -> None:
        self.flush_pending_append()
        slot = self._edge_slot(type_, src_label, dst_label)
        key = self._adopt_edge(slot)
        cols = self._merged_cols(key, rows)
        self.tables.set_schema(key, cols)
        self.tables.append(key, self._align(rows, cols))
        self._refresh_edge(*(
            (self.catalog._edges[slot].type,
             self.catalog._edges[slot].src_label,
             self.catalog._edges[slot].dst_label)
        ))
        self._bump()

    def update_edge_props(
        self, eids: DataFrame, updates: DataFrame, replace_all: bool = False
    ) -> None:
        self.flush_pending_append()
        updates, touched, n_upd = self.tables.checkpoint_with_buckets(updates)
        if touched:
            for i in range(len(self.catalog._edges)):
                et = self.catalog._edges[i]
                if et.df.select("_id").join(
                    self._gated_keys(updates.select("_id"), n_upd),
                    on="_id", how="left_semi",
                ).isEmpty():
                    continue  # no matching edge here: no adopt, no rewrite
                key = self._adopt_edge(i)
                cols = self._merged_cols(key, updates)
                self.tables.set_schema(key, cols)
                base_sub = self._align(self.tables.read_table(key, touched), cols)
                merged = self._apply_edge_updates(
                    base_sub, updates, cols, replace_all
                )
                self.tables.replace_buckets(key, touched, merged)
                self._refresh_edge(et.type, et.src_label, et.dst_label)
        self._bump()

    def delete_edges(self, eids: DataFrame) -> None:
        self.flush_pending_append()
        idcol, touched, n_ids = self.tables.checkpoint_with_buckets(
            eids.select(F.col(eids.columns[0]).alias("_id"))
        )
        if touched:
            for i in range(len(self.catalog._edges)):
                et = self.catalog._edges[i]
                if et.df.select("_id").join(
                    self._gated_keys(idcol, n_ids), on="_id", how="left_semi"
                ).isEmpty():
                    continue
                key = self._adopt_edge(i)
                kept = self.tables.read_table(key, touched).join(
                    self._gated_keys(idcol, n_ids), on="_id", how="left_anti"
                )
                self.tables.replace_buckets(key, touched, kept)
                self._refresh_edge(et.type, et.src_label, et.dst_label)
        self._bump()

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
- **One write call** (``DurableTableStore.write``): ONE Spark write whose
  ``replace`` rows become the complete new state of the touched buckets
  and whose ``append`` rows land wherever they hash. Its checks (rows
  outside the touched buckets, the caller's ``validate`` over the append
  branch's observed row count and metrics) ride the write via
  ``DataFrame.observe`` and run before any file moves or the manifest
  changes.
- **Writes are size-aware** (Delta's optimized write): plan statistics
  or the replaced files' own byte stats decide the physical shape with
  zero extra jobs. Small writes land as ONE parquet file spanning several
  buckets, tagged with the exact bucket set and row count the write
  observed; large writes fan out via an AQE-rebalanced ``partitionBy``
  into bucket-exclusive files. A 1 000-row MERGE therefore costs one
  single-task file write, while a 1 TB bulk load still parallelizes.
- **Keyed MERGE prunes files**: ``SET n.p = v`` on k matched ids computes
  the touched bucket set from the update keys (≤ n_buckets small ints),
  reads and rewrites ONLY the files overlapping those buckets, and commits
  a manifest where untouched files stay referenced byte-for-byte. At
  100 TB with n_buckets=4096, a 10-row MERGE touches ~10 files, not the
  table. A terminal ``MERGE ... ON MATCH SET`` stages its created rows in
  a scoped window (``DurableGraph.staged_append``) so the ON MATCH
  rewrite of the same label carries them as its append branch.
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
from contextlib import contextmanager
from urllib.parse import quote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nicefox_graphdb_spark.catalog import EdgeTable, GraphCatalog
from nicefox_graphdb_spark.commit_plane import LocalCommitPlane
from nicefox_graphdb_spark.graph_store import (
    CypherRuntimeError,
    MutableGraph,
    gated,
    null_metrics,
    observed,
)
from nicefox_graphdb_spark.operators.common import local_frame


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
            return local_frame(self.spark, [], schema)
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
            return local_frame(self.spark, [], schema)
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
        self, key: str, df: DataFrame, est_bytes: int | None = None,
        check=None,
    ) -> list[dict]:
        """Write rows bucketed by ``_id``; returns the new manifest file
        entries. Nothing is visible until the manifest commits.

        Frames estimated at most ``small_write_bytes`` write ONE file from
        one task; its exact bucket set and row count ride the write via
        ``observe`` (zero extra jobs). Larger or unknown frames shuffle
        once on the bucket key (AQE rebalance sizes the tasks) into
        bucket-exclusive files. ``check()`` runs after the Spark write and
        before any file moves into the table directory: a raise leaves
        the table directory and the manifest untouched."""
        from pyspark.sql import Observation

        staging = os.path.join(self.root, "_staging", uuid.uuid4().hex)
        ddir = os.path.join(self.root, "data", key)
        bucketed = df.withColumn("__bucket", self.bucket_col(F.col("_id")))
        small = est_bytes is not None and est_bytes <= self.small_write_bytes
        if small:
            obs = Observation()
            (
                # coalesce(1), not repartition(1): the narrow merge skips a
                # round-robin Exchange plus its sortBeforeRepartition local
                # sort (~100 ms/write measured at bench scale, guide §2.4 —
                # "remove shuffles outright"). The single task reads every
                # upstream partition; fine by construction, this path is
                # size-gated at small_write_bytes.
                bucketed.observe(
                    obs,
                    F.count(F.lit(1)).alias("rows"),
                    F.collect_set("__bucket").alias("buckets"),
                )
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(staging)
            )
        else:
            (
                # REBALANCE (AQE) sizes write tasks by data volume: a skewed
                # bucket may split into several files (fine — entries are a
                # LIST), small buckets coalesce into few tasks
                bucketed.hint("rebalance", "__bucket")
                .write.partitionBy("__bucket")
                .mode("overwrite")
                .parquet(staging)
            )
        if check is not None:
            try:
                check()
            except BaseException:
                self.fs.rmtree(staging)
                raise
        # (staged file, published name, bucket set, exact row count)
        files: list[tuple[str, str, list[int], int | None]] = []
        if small:
            got = observed(obs)
            if got.get("rows"):
                files = [
                    (os.path.join(staging, fn), f"s-{uuid.uuid4().hex}.parquet",
                     sorted(got["buckets"]), got["rows"])
                    for fn in self.fs.listdir(staging)
                    if fn.endswith(".parquet")
                ]
        else:
            for d in self.fs.listdir(staging):
                if not d.startswith("__bucket="):
                    continue
                b = int(d.split("=", 1)[1])
                files.extend(
                    (os.path.join(staging, d, fn),
                     f"b{b:05d}-{uuid.uuid4().hex}.parquet", [b], None)
                    for fn in self.fs.listdir(os.path.join(staging, d))
                    if fn.endswith(".parquet")
                )
        entries: list[dict] = []
        if files:
            self.fs.makedirs(ddir)
        for src, name, buckets, rows in files:
            size = self.fs.size(src)
            self.fs.move(src, os.path.join(ddir, name))
            entries.append(
                {"name": name, "buckets": buckets, "rows": rows, "bytes": size}
            )
        self.fs.rmtree(staging)
        return entries

    def write(
        self,
        key: str,
        *,
        replace: DataFrame | None = None,
        touched=(),
        append: DataFrame | None = None,
        est_bytes: int | None = None,
        metrics=(),
        validate=None,
    ) -> dict:
        """The store's one write: ONE Spark write, then one manifest edit.

        ``replace`` becomes the complete new state of the ``touched``
        buckets: files fully inside them are dropped, files disjoint from
        them stay referenced byte-for-byte, and a shared file straddling
        the boundary folds its untouched-bucket rows into this write (the
        touched set widens to cover it — shared files only arise from
        small writes). ``append`` rows are added wherever they hash; the
        manifest's many-files-per-bucket read model makes one file that is
        both a bucket's replacement and another bucket's append
        consistent. A terminal MERGE uses that to ship created rows (fresh
        uuids, buckets unknowable before the write) with its ON MATCH
        rewrite.

        Observations ride the write, no extra job: the append branch
        counts ``rows`` and evaluates ``metrics``; the replace branch
        checks that no row lies outside ``touched`` (appended rows are
        exempt). After the Spark write and before any file moves, a stray
        row raises ``ValueError`` and ``validate(row)`` may raise; either
        leaves the manifest untouched. ``est_bytes`` bounds the append
        branch's size (default: its Catalyst estimate); the replaced
        files' own byte stats bound the replace branch. Pure appends may
        compact the table afterwards. Returns the observation row:
        ``rows`` (appended rows) plus each metric."""
        from pyspark.sql import Observation

        t = self.manifest["tables"][key]
        parts: list[DataFrame] = []
        est: int | None = 0
        keep, drop = t["files"], []
        stray_obs = app_obs = None
        if replace is not None:
            caller = sorted(touched)
            stray_obs = Observation()
            parts.append(
                replace.withColumn("__cb", self.bucket_col(F.col("_id")))
                .observe(stray_obs, F.max(~F.col("__cb").isin(caller)).alias("stray"))
                .drop("__cb")
            )
            keep = [e for e in t["files"] if not self._overlaps(e, caller)]
            drop = [e for e in t["files"] if self._overlaps(e, caller)]
            partial = [
                e for e in drop
                if e["buckets"] is None or not set(e["buckets"]) <= set(caller)
            ]
            if partial:
                ddir = os.path.join(self.root, "data", key)
                parts.append(
                    self.spark.read.schema(self.schema_of(key))
                    .parquet(*(os.path.join(ddir, e["name"]) for e in partial))
                    .where(~self.bucket_col(F.col("_id")).isin(caller))
                )
            # rewrites replace known data: the replaced files' OWN byte
            # stats estimate the output better than the plan stats of a
            # join-shaped merge frame; 1.5× covers added columns/rows.
            # Unknown stats (pre-v2 files) → fan-out path.
            if drop and all(e["bytes"] is not None for e in drop):
                est = int(sum(e["bytes"] for e in drop) * 1.5)
            else:
                est = None
        if append is not None:
            app_obs = Observation()
            parts.append(
                append.observe(app_obs, F.count(F.lit(1)).alias("rows"), *metrics)
            )
            if est_bytes is None and replace is None:
                est_bytes = self._plan_bytes(append)
            est = None if est is None or est_bytes is None else est + est_bytes
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        row = {"rows": 0}

        def _check() -> None:
            if stray_obs is not None and observed(stray_obs).get("stray"):
                raise ValueError(
                    f"write: rows outside touched buckets {sorted(touched)}"
                )
            if app_obs is not None:
                row.update(observed(app_obs))
            if validate is not None:
                validate(row)

        new = self._write_files(key, df, est_bytes=est, check=_check)
        t["files"] = keep + new
        if replace is None:
            self.maybe_compact(key)
        return row

    def maybe_compact(self, key: str) -> None:
        """Compact when shared or per-bucket file counts exceed the
        threshold; ``write`` runs it after every pure append."""
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
        new = self._write_files(key, df)
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
        new = self._write_files(key, df)
        names = {e["name"] for e in old}
        t["files"] = [e for e in t["files"] if e["name"] not in names] + new

    def vacuum(self) -> int:
        """Delete data files not referenced by the current manifest, and
        any write's leftover staging directory (a write that raised
        mid-way). Returns the number of data files deleted."""
        staging = os.path.join(self.root, "_staging")
        if self.fs.isdir(staging):
            for d in self.fs.listdir(staging):
                self.fs.rmtree(os.path.join(staging, d))
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
        self._staged: dict | None = None
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
        assert self._staged is None, "staged append outlived its window"
        self._in_query = False
        self._manifest_snapshot = None
        if self._query_dirty:
            self._query_dirty = False
            self._commit_manifest()
        super().commit_query()

    def abort_query(self) -> None:
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

    def _append(self, key: str, rows: DataFrame) -> None:
        """Widen the table's schema to ``rows`` and append them."""
        cols = self._merged_cols(key, rows)
        self.tables.set_schema(key, cols)
        self.tables.write(key, append=self._align(rows, cols))

    def _adopt(self, table: str | int, fresh: bool = False) -> str:
        """Store key of a node label (str) or edge slot (int). The first
        mutation of a bulk-registered table imports it wholesale
        (one-time, like Delta's CONVERT TO DELTA). A table with no rows
        yet (a label the catalog lacks, or a ``fresh`` edge slot whose
        frame is the empty stand-in) starts with zero files: no Spark
        write."""
        if isinstance(table, int):
            et = self.catalog._edges[table]
            key = edge_key(et.type, et.src_label, et.dst_label)
            meta = {"kind": "edge", "type": et.type, "src": et.src_label,
                    "dst": et.dst_label}
            df = et.df
        else:
            key = node_key(table)
            meta = {"kind": "node", "label": table}
            df = self.catalog.node(table).df if self.catalog.has_label(table) else None
        if not self.tables.has_table(key):
            cols = self._no_void(
                {f.name: f.dataType for f in df.schema.fields}
                if df is not None else {"_id": T.StringType()}
            )
            self.tables.create_table(
                key, meta,
                T.StructType([T.StructField(n, t) for n, t in cols.items()]),
            )
            if df is not None and not fresh:
                self.tables.write(key, append=self._align(df, cols))
        return key

    def _refresh(self, table: str | int) -> None:
        """Re-register a node label (str) or edge slot (int) from the store."""
        if isinstance(table, int):
            et = self.catalog._edges[table]
            key = edge_key(et.type, et.src_label, et.dst_label)
            self.catalog._edges[table] = EdgeTable(
                et.type, et.src_label, et.dst_label, self.tables.read_table(key)
            )
        else:
            self.catalog.register_node(
                table, self.tables.read_table(node_key(table))
            )

    def _rewrite(self, table: str | int, touched: list[int], transform) -> None:
        """Adopt → read the touched buckets → ``transform(key, rows)``
        (which returns ``write`` arguments, at least ``replace``) → one
        ``write`` → refresh the catalog. Every bucket-rewriting mutator
        (SET, REMOVE label, DELETE) goes through here."""
        key = self._adopt(table)
        rows = self.tables.read_table(key, touched)
        self.tables.write(key, touched=touched, **transform(key, rows))
        self._refresh(table)

    def _tables_holding(self, keys: DataFrame, n_keys: int) -> list[int]:
        """Edge slots holding at least one of the frozen edge ids: one
        membership probe per table, so an id set adopts and rewrites only
        the tables it occupies."""
        return [
            i for i, et in enumerate(self.catalog._edges)
            if not et.df.select("_id").join(
                gated(keys, n_keys), on="_id", how="left_semi"
            ).isEmpty()
        ]

    def _update_transform(self, updates, replace_all, key_cols, staged=None):
        def transform(key: str, rows: DataFrame) -> dict:
            cols = self._merged_cols(key, updates)
            if staged is not None:
                # stored/update types win; the created rows only add
                # columns the table has never seen (e.g. ON CREATE props)
                for f in staged["rows"].schema.fields:
                    cols.setdefault(f.name, f.dataType)
                cols = self._no_void(cols)
            self.tables.set_schema(key, cols)
            out = {"replace": self._apply_updates(
                self._align(rows, cols), updates, cols, replace_all, key_cols
            )}
            if staged is not None:
                out.update(self._counted_append_args(staged, cols))
            return out

        return transform

    # -- nodes ------------------------------------------------------------
    def ensure_label(self, label: str) -> None:
        self._adopt(label)
        if not self.catalog.has_label(label):
            self._refresh(label)

    def append_nodes(self, label: str, rows: DataFrame) -> None:
        self.ensure_label(label)
        self._append(node_key(label), rows)
        self._refresh(label)
        self._bump()

    # appends write parquet and re-register from files, so a frame whose
    # plan carries nondeterministic columns (uuid()) is materialized by
    # the append itself — compiler fast paths may skip their freezing
    # checkpoint (the in-memory MutableGraph keeps the LAZY plan in the
    # catalog, where an unfrozen uuid() would re-draw per read: False)
    appends_materialize = True

    # a measured row bound at most this rides a durable write directly
    # (the write freezes the generated ids); bigger appends take the
    # parallel checkpoint-then-append path
    SMALL_APPEND_ROWS = 100_000

    def _counted_append_args(self, p: dict, cols: dict) -> dict:
        """``write`` arguments appending a counted node set: the rows, a
        coarse size bound (id + bucket + per-column slack per row), the
        null-key probe, and its validation (a raise leaves the table
        directory and the manifest untouched)."""

        def validate(row: dict) -> None:
            if row.get("__has_null"):
                raise CypherRuntimeError(p["err"], pos=p["err_pos"])

        return {
            "append": self._align(p["rows"], cols),
            "est_bytes": 4096 + p["n"] * (48 + 32 * len(cols)),
            "metrics": null_metrics(p["null_cols"]),
            "validate": validate,
        }

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
        freezing checkpoint AND a write. Row-gated: only a caller-measured
        small bound may skip the checkpoint, since the un-checkpointed
        plan's Catalyst stats are opaque (fresh uuids over a join)."""
        if n_rows_bound is None or n_rows_bound > self.SMALL_APPEND_ROWS:
            return super().append_nodes_counted(
                label, rows, n_rows_bound, null_check_cols, err, err_pos
            )
        self.ensure_label(label)
        key = node_key(label)
        cols = self._merged_cols(key, rows)
        self.tables.set_schema(key, cols)
        got = self.tables.write(key, **self._counted_append_args(
            {"rows": rows, "n": n_rows_bound, "null_cols": null_check_cols,
             "err": err, "err_pos": err_pos},
            cols,
        ))
        if got["rows"]:
            self._refresh(label)
            self._bump()
        return got["rows"]

    @contextmanager
    def staged_append(
        self,
        label: str,
        rows: DataFrame,
        n_rows_bound: int | None = None,
        null_check_cols: tuple[str, ...] = (),
        err: str = "Cannot merge node using null property value",
        err_pos=None,
    ):
        """Window in which a small counted node append waits for an
        ``update_node_props`` on the same label to carry it: the created
        rows then ride that bucket rewrite as the append branch of ONE
        write — the terminal-MERGE upsert, whose ON MATCH rewrite would
        otherwise rewrite the buckets the fresh append just landed in.
        Unconsumed rows append when the window closes; an exception
        discards them. Appends too big for one write happen up front."""
        if n_rows_bound is None or n_rows_bound > self.SMALL_APPEND_ROWS:
            with super().staged_append(
                label, rows, n_rows_bound, null_check_cols, err, err_pos
            ):
                yield
            return
        self._staged = {
            "label": label, "rows": rows, "n": n_rows_bound,
            "null_cols": null_check_cols, "err": err, "err_pos": err_pos,
        }
        try:
            yield
        finally:
            p, self._staged = self._staged, None
        if p is not None:
            self.append_nodes_counted(
                p["label"], p["rows"], p["n"], p["null_cols"], p["err"],
                p["err_pos"],
            )

    def update_node_props(
        self, label: str, updates: DataFrame, replace_all: bool = False
    ) -> None:
        if not self.catalog.has_label(label):
            return
        updates, touched, _n = self.tables.checkpoint_with_buckets(updates)
        if touched:
            staged = self._staged
            if staged is not None and staged["label"] == label:
                self._staged = None
            else:
                staged = None
            self._rewrite(label, touched, self._update_transform(
                updates, replace_all, ("_id",), staged
            ))
        self._bump()

    def add_label_to_nodes(
        self, from_label: str, ids: DataFrame, new_label: str
    ) -> None:
        super().add_label_to_nodes(from_label, ids, new_label)
        self._bump()  # persist multi_label_dirty past the inner commit

    def _drop_ids(self, idcol: DataFrame, n_ids: int):
        keys = gated(idcol, n_ids)
        return lambda key, rows: {
            "replace": rows.join(keys, on="_id", how="left_anti")
        }

    def remove_label_from_nodes(self, label: str, ids: DataFrame) -> None:
        if not self.catalog.has_label(label):
            return
        idcol = ids.select(F.col(ids.columns[0]).alias("_id"))
        idcol, touched, n_ids = self.tables.checkpoint_with_buckets(idcol)
        if touched:
            self._rewrite(label, touched, self._drop_ids(idcol, n_ids))
        self._bump()

    def delete_nodes(self, ids: DataFrame, detach: bool = False) -> None:
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
        if not touched:
            self._bump()
            return
        # same hash ring for every table → the deleted ids' buckets are the
        # only buckets that can contain them, in every label table
        labels = list(self.catalog._nodes)
        for label in labels:
            if (
                # with a single label the ids can only live there — skip
                # the membership probe job
                len(labels) > 1
                and self.catalog.node(label).df.select("_id")
                .join(gated(idcol, n_ids), on="_id", how="left_semi")
                .isEmpty()
            ):
                continue  # label holds none of the ids: no adopt, no rewrite
            self._rewrite(label, touched, self._drop_ids(idcol, n_ids))
        if detach:
            # edges bucket by edge _id, endpoints are the predicate: one
            # scan per table finds which buckets hold incident edges
            src_keys = gated(idcol.withColumnRenamed("_id", "_src"), n_ids)
            dst_keys = gated(idcol.withColumnRenamed("_id", "_dst"), n_ids)

            def detached(key: str, rows: DataFrame) -> dict:
                return {"replace": rows.join(src_keys, on="_src", how="left_anti")
                        .join(dst_keys, on="_dst", how="left_anti")}

            for i, et in enumerate(list(self.catalog._edges)):
                incident = et.df.join(
                    src_keys, on="_src", how="left_semi"
                ).unionByName(et.df.join(dst_keys, on="_dst", how="left_semi"))
                e_touched = self.tables.touched_buckets(incident)
                if e_touched:
                    self._rewrite(i, e_touched, detached)
        self._bump()

    # -- edges ------------------------------------------------------------
    def append_edges(
        self, type_: str, src_label: str, dst_label: str, rows: DataFrame
    ) -> None:
        slot, fresh = self._edge_slot(type_, src_label, dst_label)
        self._append(self._adopt(slot, fresh=fresh), rows)
        self._refresh(slot)
        self._bump()

    def update_edge_props(
        self, eids: DataFrame, updates: DataFrame, replace_all: bool = False
    ) -> None:
        updates, touched, n_upd = self.tables.checkpoint_with_buckets(updates)
        if touched:
            for i in self._tables_holding(updates.select("_id"), n_upd):
                self._rewrite(i, touched, self._update_transform(
                    updates, replace_all, ("_id", "_src", "_dst")
                ))
        self._bump()

    def delete_edges(self, eids: DataFrame) -> None:
        idcol, touched, n_ids = self.tables.checkpoint_with_buckets(
            eids.select(F.col(eids.columns[0]).alias("_id"))
        )
        if touched:
            for i in self._tables_holding(idcol, n_ids):
                self._rewrite(i, touched, self._drop_ids(idcol, n_ids))
        self._bump()

"""Versioned graph snapshots — the Spark answer to the reference's backup
sink (reference src/backup.ts: hot SQLite copies named by timestamp, listed
newest-first, pruned to a keep-count; status totals at :170-210).

A snapshot is a parquet export of every node/edge table under a versioned
directory plus a ``manifest.json`` describing the graph shape, so a
snapshot is self-contained and reloadable without the source catalog:

    backup_dir/
        v000001_20260813T101500/
            manifest.json
            nodes/<label>.parquet/
            edges/<type>__<src>__<dst>.parquet/

At cluster scale this is the natural "hot backup": parquet writes are
atomic-per-directory jobs against live DataFrames (no quiescing the
engine), directories land on shared storage, and retention is a cheap
directory delete. Partition layout is preserved by the parquet writer, so
restoring at 100 TB is a metadata operation plus distributed reads.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from nicefox_graphdb_spark.catalog import GraphCatalog
from nicefox_graphdb_spark.sources.footer import read_parquet

_VERSION_RE = re.compile(r"^v(\d{6})_\d{8}T\d{6}$")


def _table_fname(label: str) -> str:
    """Filesystem-safe table name. The unlabeled-node sentinel table has
    label ``""`` — an empty (or ``.``/``_``-prefixed) name would be
    invisible to Spark's file reader, so escape via URL-quoting and map
    empty to a token quote() can never produce (``%`` always escapes to
    ``%25``)."""
    from urllib.parse import quote

    return quote(label, safe="") or "%empty%"


@dataclass
class SnapshotResult:
    """Mirror of the reference's BackupResult (src/backup.ts:12-20)."""

    success: bool
    path: str | None = None
    version: int | None = None
    error: str | None = None
    duration_ms: int | None = None
    tables: int = 0


@dataclass
class SnapshotStatus:
    """Mirror of the reference's BackupStatus (src/backup.ts:22-28)."""

    total_snapshots: int = 0
    versions: list[int] = field(default_factory=list)
    oldest: str | None = None
    newest: str | None = None


def _snapshot_dirs(backup_dir: str) -> list[str]:
    """Snapshot directory names, newest first (reference listBackups
    sorts descending, src/backup.ts:130-141)."""
    if not os.path.isdir(backup_dir):
        return []
    return sorted(
        (d for d in os.listdir(backup_dir) if _VERSION_RE.match(d)),
        reverse=True,
    )


def snapshot_graph(
    catalog: GraphCatalog, backup_dir: str, keep: int | None = None
) -> SnapshotResult:
    """Write one versioned snapshot of every table in the catalog.

    ``keep`` prunes to the N newest snapshots afterwards (reference
    cleanOldBackups, src/backup.ts:147-167).
    """
    t0 = time.time()
    try:
        versions = [
            int(_VERSION_RE.match(d).group(1)) for d in _snapshot_dirs(backup_dir)
        ]
        version = (max(versions) + 1) if versions else 1
        stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
        name = f"v{version:06d}_{stamp}"
        out = os.path.join(backup_dir, name)
        tmp = out + ".inprogress"
        manifest: dict = {"version": version, "nodes": [], "edges": []}
        n_tables = 0
        # raw table keys, NOT catalog.labels — labels excludes the ""
        # sentinel table for unlabeled nodes, which must be backed up too
        for label in sorted(catalog._nodes):
            catalog._nodes[label].df.write.mode("overwrite").parquet(
                os.path.join(tmp, "nodes", f"{_table_fname(label)}.parquet")
            )
            manifest["nodes"].append({"label": label})
            n_tables += 1
        for et in catalog.edge_tables(None):
            fname = (
                f"{_table_fname(et.type)}__{_table_fname(et.src_label)}"
                f"__{_table_fname(et.dst_label)}.parquet"
            )
            et.df.write.mode("overwrite").parquet(
                os.path.join(tmp, "edges", fname)
            )
            manifest["edges"].append(
                {"type": et.type, "src": et.src_label, "dst": et.dst_label}
            )
            n_tables += 1
        manifest["multi_label_dirty"] = catalog.multi_label_dirty
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=2)
        # publish atomically: a crashed snapshot never looks restorable
        os.rename(tmp, out)
        if keep is not None:
            clean_old_snapshots(backup_dir, keep)
        return SnapshotResult(
            success=True,
            path=out,
            version=version,
            duration_ms=int((time.time() - t0) * 1000),
            tables=n_tables,
        )
    except Exception as e:  # noqa: BLE001 — result object, like the reference
        return SnapshotResult(success=False, error=str(e))


def list_snapshots(backup_dir: str) -> list[str]:
    """Snapshot names, newest first."""
    return _snapshot_dirs(backup_dir)


def clean_old_snapshots(backup_dir: str, keep: int) -> int:
    """Delete all but the ``keep`` newest snapshots; returns count deleted."""
    doomed = _snapshot_dirs(backup_dir)[keep:]
    for d in doomed:
        shutil.rmtree(os.path.join(backup_dir, d), ignore_errors=True)
    return len(doomed)


def snapshot_status(backup_dir: str) -> SnapshotStatus:
    dirs = _snapshot_dirs(backup_dir)
    return SnapshotStatus(
        total_snapshots=len(dirs),
        versions=[int(_VERSION_RE.match(d).group(1)) for d in dirs],
        oldest=dirs[-1] if dirs else None,
        newest=dirs[0] if dirs else None,
    )


def load_snapshot(
    spark: SparkSession, backup_dir: str, version: int | None = None
) -> GraphCatalog:
    """Rebuild a GraphCatalog from a snapshot (newest by default).

    Local-filesystem only: this module manages snapshot directories with
    ``os``-level calls (listdir/rename/exists), so ``backup_dir`` must be a
    driver-visible path (local disk or a mounted NFS/FUSE volume), not an
    object-store URI. Cluster deployments snapshot through the durable
    store's manifest versioning instead.
    """
    dirs = _snapshot_dirs(backup_dir)
    if not dirs:
        raise FileNotFoundError(f"no snapshots under {backup_dir}")
    if version is None:
        name = dirs[0]
    else:
        match = [d for d in dirs if int(_VERSION_RE.match(d).group(1)) == version]
        if not match:
            raise FileNotFoundError(f"snapshot v{version} not found")
        name = match[0]
    base = os.path.join(backup_dir, name)
    with open(os.path.join(base, "manifest.json")) as f:
        manifest = json.load(f)
    cat = GraphCatalog(spark)
    for n in manifest["nodes"]:
        path = os.path.join(base, "nodes", f"{_table_fname(n['label'])}.parquet")
        legacy = os.path.join(base, "nodes", f"{n['label']}.parquet")
        if not os.path.exists(path) and os.path.exists(legacy):
            # pre-round-7 snapshots wrote unescaped label names; only fall
            # back when the escaped file is absent AND the legacy one exists
            # (keeps the error message naming the expected escaped path)
            path = legacy
        cat.register_node(n["label"], read_parquet(spark, path))
    for e in manifest["edges"]:
        fname = (
            f"{_table_fname(e['type'])}__{_table_fname(e['src'])}"
            f"__{_table_fname(e['dst'])}.parquet"
        )
        legacy_fname = f"{e['type']}__{e['src']}__{e['dst']}.parquet"
        if not os.path.exists(os.path.join(base, "edges", fname)) and os.path.exists(
            os.path.join(base, "edges", legacy_fname)
        ):
            fname = legacy_fname
        cat.register_edge(
            e["type"],
            e["src"],
            e["dst"],
            read_parquet(spark, os.path.join(base, "edges", fname)),
        )
    cat.multi_label_dirty = bool(manifest.get("multi_label_dirty", False))
    return cat


class SnapshotScheduler:
    """Interval-driven snapshots with retention.

    The Spark answer to running the reference's BackupManager on a timer
    (reference src/backup.ts + `cli.ts backup` invoked periodically): each
    tick writes one versioned snapshot of every registered catalog and
    prunes to ``keep``. ``tick()`` is callable directly so tests (and cron
    environments that bring their own scheduler) stay deterministic;
    ``start()`` runs the same tick on a daemon-thread interval loop.
    """

    def __init__(
        self,
        backup_dir: str,
        keep: int | None = None,
        interval_s: float = 3600.0,
    ):
        self.backup_dir = backup_dir
        self.keep = keep
        self.interval_s = interval_s
        self._catalogs: dict[str, GraphCatalog] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.ticks = 0
        self.last_results: list[SnapshotResult] = []

    def register(self, name: str, catalog: GraphCatalog) -> None:
        self._catalogs[name] = catalog

    def tick(self) -> list[SnapshotResult]:
        """Snapshot every registered catalog once, then prune retention."""
        results = []
        for name, cat in sorted(self._catalogs.items()):
            results.append(
                snapshot_graph(
                    cat, os.path.join(self.backup_dir, name), keep=self.keep
                )
            )
        self.ticks += 1
        self.last_results = results
        return results

    # -- interval loop -----------------------------------------------------
    def start(self) -> None:
        if self._thread is not None:
            return
        self._stop.clear()

        def loop() -> None:
            while not self._stop.wait(self.interval_s):
                self.tick()

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None

"""Process-level plumbing shared by the workloads: the pinned Spark session,
the in-process HTTP server, the op record, and small statistics helpers.

Everything the benchmark writes stays under the checkout's
``perfbench/work`` directory: generated data, durable projects, Spark's
local and temp dirs, and the span files.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import tempfile
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "work")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment() -> None:
    """Must run before the JVM starts: local[nproc] with shuffle
    partitions to match, a small driver heap, and every temp dir inside
    the checkout."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["NICEFOX_SHUFFLE_PARTITIONS"] = str(cores())
    os.environ["NICEFOX_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # -UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp


def start_spark():
    from nicefox_graphdb_spark import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM itself, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


class Server:
    """The package's HTTP server on an ephemeral loopback port, served
    from a background thread until ``close``."""

    def __init__(self, spark, data_dir: str | None = None):
        from nicefox_graphdb_spark.server import create_server

        self.httpd, self.manager = create_server(
            spark, host="127.0.0.1", port=0, data_dir=data_dir
        )
        self.url = f"http://127.0.0.1:{self.httpd.server_address[1]}"
        self._thread = threading.Thread(
            target=self.httpd.serve_forever, name="perfbench-server", daemon=True
        )
        self._thread.start()

    def client(self, project: str):
        from nicefox_graphdb_spark.remote import RemoteEngine

        return RemoteEngine(self.url, project=project, timeout=170.0)

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        self._thread.join(timeout=30)


@dataclass
class Op:
    """One closed-loop operation: ``run`` is timed, ``check`` is not."""

    shape: str
    run: Callable[[], Any]
    check: Callable[[Any], bool]
    meta: dict = field(default_factory=dict)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def gmean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def timed(fn: Callable[[], Any]) -> tuple[float, Any]:
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out

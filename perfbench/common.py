"""Shared plumbing for the benchmark: paths, the Spark session, spans,
executed-plan metrics and process cleanup.

Nothing here imports the package under test at module import time, so
`run.py` can refuse to start cleanly when the package is absent.
"""

from __future__ import annotations

import hashlib
import json
import os
import platform
import signal
import statistics
import tempfile
import time
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "trainable_entity_extractor_spark"


def package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")) and os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    )


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def median(xs):
    return statistics.median(xs)


# --------------------------------------------------------------------- spans


class Tracer:
    """Spans kept in memory: (id, name, parent, start, end). `enabled=False`
    makes `span` a plain pass-through, so untraced passes pay nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self, root_id: int) -> dict[str, float]:
        """Self time per span name under `root_id` (its whole subtree):
        duration minus the time its direct children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}

        def visit(s):
            covered = sum(c["end"] - c["start"] for c in kids.get(s["id"], []))
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
            for c in kids.get(s["id"], []):
                visit(c)

        visit(self.spans[root_id])
        return out

    def dump(self, path: str):
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# ------------------------------------------------------- executed-plan metrics


def plan_metrics(df) -> dict[str, float]:
    """Sum SQL metrics of the frame's executed plan by operator kind. Read
    after the frame has run; walks the AQE final plan and its query
    stages (the UI stays disabled, the metrics live on the plan nodes)."""
    out = {"shuffle_bytes": 0, "python_ms": 0, "python_init_ms": 0, "python_rows": 0}

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            walk(node.plan())
            return
        if cls == "ReusedExchangeExec":
            return  # its bytes are counted at the exchange it reuses
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key, value = kv._1(), kv._2().value()
            if key == "shuffleBytesWritten":
                out["shuffle_bytes"] += value
            elif key == "pythonTotalTime":
                out["python_ms"] += value
            elif key == "pythonInitTime":
                out["python_init_ms"] += value
            elif key == "pythonNumRowsReceived":
                out["python_rows"] += value
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


# ----------------------------------------------------------------- processes


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


# ------------------------------------------------------------------- session


def start_spark(work: str):
    """Session on local[N] (N = usable cores) with the package's own
    settings; only paths are redirected, so every byte the run writes stays
    in its work directory."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for sub in ("tmp", "local", "scratch", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]  # the module caches its first answer
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata from spark-submit's launcher
    from trainable_entity_extractor_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cpus()}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.tee.scratch.dir": os.path.join(work, "scratch"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("FATAL")
    return spark


def stop_spark(spark):
    """Stop the context, then the JVM, then wait for every child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
        deadline = time.time() + 20
        while descendants() and time.time() < deadline:
            time.sleep(0.1)
        for pid in descendants():
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        for pid in descendants():
            try:
                os.waitpid(pid, 0)
            except ChildProcessError:
                pass


def stamp(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": cpus(),
        "loadavg_start": os.getloadavg()[0],
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


# ------------------------------------------------------------------- hashing


def rows_hash(rows) -> str:
    """Order-insensitive content hash of an iterable of row tuples."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def frame_rows(df, cols: list[str]) -> list[tuple]:
    pdf = df.select(*cols).toPandas()
    return list(pdf.itertuples(index=False, name=None))

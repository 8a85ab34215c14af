"""Per-layer counters read from Spark's own status stores and listeners.

Everything here reads the engine from outside: the core status store
(jobs, stages, tasks, RDD storage), the SQL status store (metrics of the
Python plan nodes), a ``StreamingQueryListener`` for micro-batches, and a
walk of the run's scratch directory for files written.

Two rules make the counts exact:

- The listener bus is drained before the store is read. Stage and task
  counts read straight after an action can still be missing the last
  events.
- Jobs are attributed by the range of job ids between two readings of the
  scheduler's job counter, not by job group: some operators run their jobs
  in a job group of their own.
"""

from __future__ import annotations

import json
import os
import re
import threading

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

MB = 1024 * 1024

PY_RUN = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
ROWS_OUT = "number of output rows"

#: Top-level entries of the scratch directory that belong to Spark or the
#: JVM runtime rather than to the engine's own writes: block-manager
#: shuffle files, the context's file server and artifact directories, the
#: JVM's perf-data file and the native codec libraries the JVM unpacks.
_RUNTIME_PREFIXES = ("blockmgr-", "spark-", "artifacts-", "hsperfdata_", "liblz4-java", "snappy-")

_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": MB, "GiB": 1024 * MB, "TiB": 1024 * 1024 * MB}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_sql_metric(text: str, metric_type: str) -> float:
    """Total of one SQL metric as the SQL status store renders it.

    Sum metrics render as ``"100,000"``; size and timing metrics as
    ``"total (min, med, max ...)\\n1.5 MiB (...)"``. Sizes come back in
    bytes, timings in seconds.
    """
    line = text.strip().splitlines()[-1]
    if metric_type == "sum":
        return float(line.replace(",", ""))
    m = re.match(r"\s*([0-9.,]+)\s*(\w+)", line)
    if m is None:
        raise ValueError(f"unparsed {metric_type} metric: {text!r}")
    value = float(m.group(1).replace(",", ""))
    units = _SIZE_UNITS if metric_type == "size" else _TIME_UNITS
    return value * units[m.group(2)]


class BatchCounter(StreamingQueryListener):
    """Counts streaming micro-batches and their trigger time."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.batches = 0
        self.batch_s = 0.0

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self._lock:
            self.batches += 1
            self.batch_s += event.progress.durationMs.get("triggerExecution", 0) / 1000.0

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def read(self) -> tuple[int, float]:
        with self._lock:
            return self.batches, self.batch_s


class SparkCounters:
    """Reads job, stage, task, SQL and storage counters for a job-id range."""

    def __init__(self, spark: SparkSession) -> None:
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(self._jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self._mapper = mapper
        self._max_quantile = sc._gateway.new_array(self._jvm.double, 1)
        self._max_quantile[0] = 1.0
        self._no_status = self._jvm.java.util.ArrayList()
        self.streams = BatchCounter()
        spark.streams.addListener(self.streams)

    def _json(self, obj) -> object:
        return json.loads(self._mapper.writeValueAsString(obj))

    def next_job_id(self) -> int:
        """The id the scheduler will give the next job."""
        # py4j hands the AtomicInteger back as its int value.
        return int(self._jsc.dagScheduler().nextJobId())

    def drain(self) -> None:
        """Block until every posted listener event has been processed."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, lo: int, hi: int) -> list[dict]:
        """Job records with ``lo <= jobId < hi`` (call :meth:`drain` first)."""
        return sorted(
            (j for j in self._json(self._store.jobsList(None)) if lo <= j["jobId"] < hi),
            key=lambda j: j["jobId"],
        )

    def stages(self, jobs: list[dict]) -> list[dict]:
        """Every executed stage attempt of ``jobs``, with a max-task summary.

        Stages a job skipped because their shuffle output already existed
        are not executed and are left out.
        """
        out = []
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            for st in self._json(
                self._store.stageData(sid, False, self._no_status, True, self._max_quantile)
            ):
                if st["status"] in ("COMPLETE", "FAILED"):
                    out.append(st)
        return out

    def python_metrics(self, job_ids: set[int]) -> dict[str, float]:
        """Totals of the Python-node SQL metrics over executions of ``job_ids``."""
        totals = {PY_RUN: 0.0, PY_BOOT: 0.0, PY_SENT: 0.0, PY_RECV: 0.0, ROWS_OUT: 0.0}
        n = self._sql_store.executionsCount()
        # Executions are listed oldest first; the ones of a pass are recent.
        recent = self._json(self._sql_store.executionsList(max(0, n - 400), 400))
        for ex in recent:
            if not job_ids.intersection(int(j) for j in ex["jobs"]):
                continue
            values = ex["metricValues"] or {}
            for node in self._json(self._sql_store.planGraph(ex["executionId"]).allNodes()):
                metrics = node.get("metrics") or []
                if not any(m["name"] == PY_RUN for m in metrics):
                    continue
                for m in metrics:
                    text = values.get(str(m["accumulatorId"]))
                    if m["name"] in totals and text is not None:
                        totals[m["name"]] += parse_sql_metric(text, m["metricType"])
        return totals

    def persisted_mb(self) -> float:
        """Memory plus disk held by persisted RDDs right now."""
        rdds = self._json(self._store.rddList(True))
        return sum(r["memoryUsed"] + r["diskUsed"] for r in rdds) / MB


def scratch_snapshot(root: str) -> dict[str, tuple[int, int]]:
    """``relpath -> (size, mtime_ns)`` of the engine's files under ``root``."""
    snap: dict[str, tuple[int, int]] = {}
    for top in os.listdir(root):
        if top.startswith(_RUNTIME_PREFIXES):
            continue
        base = os.path.join(root, top)
        walker = [(root, [], [top])] if os.path.isfile(base) else os.walk(base)
        for d, _, files in walker:
            for f in files:
                p = os.path.join(d, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                snap[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return snap


def written_since(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) present in ``after`` that are new or changed since ``before``."""
    changed = [v for k, v in after.items() if before.get(k) != v]
    return len(changed), sum(size for size, _ in changed)


def tree_bytes(root: str) -> int:
    if not os.path.isdir(root):
        return os.lstat(root).st_size
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except FileNotFoundError:
                pass
    return total

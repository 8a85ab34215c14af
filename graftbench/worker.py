"""One benchmark session in a fresh process; started by ``run.py``.

The session is built with the engine's ``session.get_spark``. It then runs
the workload's queries once (the cold pass), then an untimed pass that
collects every query's output (the first warm-up pass; ``run.py`` checks
the outputs against their DuckDB oracles after the session has ended),
then the warm passes. Each timed pass runs every query and materializes
it into the ``noop`` sink, so every column is computed and nothing is
collected.

In a traced session, untraced and traced warm passes alternate. A traced
pass records spans and reads the per-layer counters after the pass, and
the counters are checked on probes with known answers before the session
reports. The record is written as JSON to ``--out`` and the collected
outputs are pickled to ``--out`` + ``.outputs.pkl``.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from graftbench import procfs, status  # noqa: E402
from graftbench.spans import Tracer  # noqa: E402
from graftbench.workloads import MIN_PASSES, TRACED_MIN_PASSES, WORKLOADS  # noqa: E402

MB = status.MB


class ProbeError(RuntimeError):
    """A counter missed the answer of its known-answer probe."""


def _first_line(e: Exception) -> str:
    return (str(e).splitlines() or [""])[0][:300]


class Session:
    def __init__(self, spark, names: tuple[str, ...], data_dir: str, scratch: str, traced: bool):
        from os_ex_3_map_reduce_spark.plans import all_queries

        catalog = all_queries()
        self.spark = spark
        self.queries = [(n, catalog[n]) for n in names]
        self.data = data_dir
        self.scratch = scratch
        self.pid = os.getpid()
        self.cores = int(spark.sparkContext.defaultParallelism)
        self.counters = status.SparkCounters(spark) if traced else None
        self.tracer = Tracer() if traced else None
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0

    def _run(self, name, fn, on_built=None):
        """Build and execute one query; returns (t0, t_built, t_done) in epoch s.

        ``on_built`` is called between the query function and the action.
        """
        self.attempted += 1
        t0 = t1 = time.time()
        try:
            df = fn(self.spark, self.data)
            t1 = time.time()
            if on_built is not None:
                on_built()
            df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # a failing query is counted, the pass goes on
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {_first_line(e)}")
        return t0, t1, time.time()

    def plain_pass(self) -> dict:
        cpu0, steal0 = procfs.tree_cpu_s(self.pid), procfs.steal_s()
        t0 = time.perf_counter()
        per_query = {}
        for name, fn in self.queries:
            a, _, c = self._run(name, fn)
            per_query[name] = c - a
        wall = time.perf_counter() - t0
        return {
            "traced": False,
            "wall_s": wall,
            "cpu_s": procfs.tree_cpu_s(self.pid) - cpu0,
            "steal_s": procfs.steal_s() - steal0,
            "rss_mb": procfs.tree_rss_bytes(self.pid) / MB,
            "per_query": per_query,
        }

    def traced_pass(self, label: str) -> dict:
        c, tr = self.counters, self.tracer
        snap0 = status.scratch_snapshot(self.scratch)
        batches0, batch_s0 = c.streams.read()
        cpu0, steal0 = procfs.tree_cpu_s(self.pid), procfs.steal_s()
        t_start, j_start = time.time(), c.next_job_id()
        marks = []
        for name, fn in self.queries:
            # Jobs started by the query function belong to the build, the
            # rest to the action: read the job counter between the two.
            j = [c.next_job_id()]
            t0, t1, t2 = self._run(name, fn, lambda: j.append(c.next_job_id()))
            j += [c.next_job_id()] * (3 - len(j))
            marks.append((name, t0, t1, t2, *j))
        t_end, j_end = time.time(), c.next_job_id()
        cpu, steal = procfs.tree_cpu_s(self.pid) - cpu0, procfs.steal_s() - steal0

        c.drain()
        jobs = c.jobs(j_start, j_end)
        stages = c.stages(jobs)
        wall = t_end - t_start
        root = tr.add(None, "pass", label, t_start, t_end)
        job_parent: dict[int, int] = {}
        build_s, build_jobs = 0.0, 0
        per_query = {}
        for name, t0, t1, t2, j0, j1, j2 in marks:
            q = tr.add(root, "query", name, t0, t2)
            b = tr.add(q, "build", name, t0, t1)
            e = tr.add(q, "execute", name, t1, t2)
            for jid in range(j0, j2):
                job_parent[jid] = b if jid < j1 else e
            build_s += t1 - t0
            build_jobs += j1 - j0
            per_query[name] = t2 - t0
        job_span = {}
        for j in jobs:
            start = j["submissionTime"] / 1e3
            end = (j["completionTime"] or j["submissionTime"]) / 1e3
            job_span[j["jobId"]] = tr.add(job_parent.get(j["jobId"], root), "job",
                                          str(j["jobId"]), start, end)
        # A stage listed by several jobs ran in the first; the others skipped it.
        first_job = {}
        for j in jobs:
            for s in j["stageIds"]:
                first_job.setdefault(s, j["jobId"])
        for st in stages:
            start = (st["submissionTime"] or 0) / 1e3
            end = (st["completionTime"] or st["submissionTime"] or 0) / 1e3
            tr.add(job_span[first_job[st["stageId"]]], "stage",
                   f'{st["stageId"]}.{st["attemptId"]} ({st["numTasks"]} tasks)', start, end)
        py = c.python_metrics({j["jobId"] for j in jobs})
        files, written = status.written_since(snap0, status.scratch_snapshot(self.scratch))
        batches, batch_s = c.streams.read()
        run_s = sum(s["executorRunTime"] for s in stages) / 1e3
        self_time = tr.self_time(root)
        slowest = [
            s["taskMetricsDistributions"]["duration"][0]
            for s in stages
            if s.get("taskMetricsDistributions")
        ]
        return {
            "traced": True,
            "wall_s": wall,
            "cpu_s": cpu,
            "steal_s": steal,
            "per_query": per_query,
            "layers": {
                "plans.build_s": build_s,
                "plans.build_jobs": build_jobs,
                "plans.persisted_mb": c.persisted_mb(),
                "operators.jobs": len(jobs),
                "operators.stages": len(stages),
                "operators.tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
                "operators.run_s": run_s,
                "operators.cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
                "operators.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
                "operators.busy_ratio": run_s / (wall * self.cores),
                "operators.slowest_task_s": max(slowest, default=0.0) / 1e3,
                "operators.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / MB,
                "operators.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / MB,
                "operators.spill_mb": sum(s["diskBytesSpilled"] for s in stages) / MB,
                "operators.py_run_s": py[status.PY_RUN],
                "operators.py_boot_s": py[status.PY_BOOT],
                "operators.py_sent_mb": py[status.PY_SENT] / MB,
                "operators.py_recv_mb": py[status.PY_RECV] / MB,
                "operators.py_rows_out": py[status.ROWS_OUT],
                "sources.scan_mb": sum(s["inputBytes"] for s in stages) / MB,
                "sources.scan_records": sum(s["inputRecords"] for s in stages),
                "sources.write_mb": written / MB,
                "sources.files_written": files,
                "streaming.batches": batches - batches0,
                "streaming.batch_s": batch_s - batch_s0,
                "trace.self_build_s": self_time.get("build", 0.0),
                "trace.self_execute_s": self_time.get("execute", 0.0),
                "trace.self_job_s": self_time.get("job", 0.0),
                "trace.self_stage_s": self_time.get("stage", 0.0),
            },
        }

    def collect_pass(self) -> dict:
        """Untimed: collect each query's output, or None where it raised."""
        outputs = {}
        for name, fn in self.queries:
            self.attempted += 1
            try:
                outputs[name] = fn(self.spark, self.data).toPandas()
            except Exception as e:
                self.failed += 1
                self.errors.append(f"{name}: {type(e).__name__}: {_first_line(e)}")
                outputs[name] = None
        return outputs


def run_probes(sess: Session) -> list[dict]:
    """Check each counter on a probe whose answer is known in advance."""
    import pyarrow.parquet as pq

    spark, c = sess.spark, sess.counters
    out = []

    def expect(name, got, want):
        out.append({"probe": name, "got": got, "want": want})
        if got != want:
            raise ProbeError(f"{name}: counted {got}, expected {want}")

    def counted(action):
        j0 = c.next_job_id()
        action()
        c.drain()
        jobs = c.jobs(j0, c.next_job_id())
        return jobs, c.stages(jobs)

    path = os.path.join(sess.data, "lineitem.parquet")
    _, stages = counted(lambda: spark.read.parquet(path).write.format("noop").mode("overwrite").save())
    expect("sources.scan_records = parquet footer rows",
           sum(s["inputRecords"] for s in stages), pq.ParquetFile(path).metadata.num_rows)

    jobs, stages = counted(
        lambda: spark.range(0, 10_000, 1, 7).write.format("noop").mode("overwrite").save())
    expect("operators.jobs for one action", len(jobs), 1)
    expect("operators.tasks = range partitions", sum(s["numCompleteTasks"] for s in stages), 7)

    snap0 = status.scratch_snapshot(sess.scratch)
    blob_dir = os.path.join(sess.scratch, "probe_write")
    os.makedirs(blob_dir)
    with open(os.path.join(blob_dir, "blob.bin"), "wb") as f:
        f.write(b"\0" * 123_457)
    expect("sources.files_written, bytes for a 123457-byte write",
           status.written_since(snap0, status.scratch_snapshot(sess.scratch)), (1, 123_457))

    stream_dir = os.path.join(sess.scratch, "probe_stream")
    os.makedirs(stream_dir)
    for i in range(3):
        with open(os.path.join(stream_dir, f"part-{i}.json"), "w") as f:
            f.write(json.dumps({"x": i}) + "\n")
    b0, _ = c.streams.read()
    q = (
        spark.readStream.schema("x long").option("maxFilesPerTrigger", 1).json(stream_dir)
        .writeStream.format("noop").trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(sess.scratch, "probe_stream_ckpt")).start()
    )
    q.awaitTermination()
    c.drain()
    expect("streaming.batches for 3 files at 1 file per trigger", c.streams.read()[0] - b0, 3)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spawn-time", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from os_ex_3_map_reduce_spark.session import get_spark

    spark = get_spark()
    setup_s = time.time() - args.spawn_time
    measured, outputs = measure(spark, args)
    record = {"setup_s": setup_s, **measured}
    t_stop = time.perf_counter()
    spark.stop()
    record["stop_s"] = time.perf_counter() - t_stop
    record["scratch_bytes_left"] = {
        top: status.tree_bytes(os.path.join(args.scratch, top)) for top in os.listdir(args.scratch)
    }
    with open(args.out + ".outputs.pkl", "wb") as f:
        pickle.dump(outputs, f)
    with open(args.out, "w") as f:
        json.dump(record, f)
    return 0


def measure(spark, args) -> tuple[dict, dict]:
    traced = bool(args.trace)
    sess = Session(spark, WORKLOADS[args.workload], args.data, args.scratch, traced)
    cold = sess.traced_pass("cold") if traced else sess.plain_pass()
    t_collect = time.perf_counter()
    outputs = sess.collect_pass()
    collect_s = time.perf_counter() - t_collect
    passes = []
    t_end = time.perf_counter() + args.seconds
    # Traced sessions alternate untraced and traced passes, so the trace
    # overhead is read from neighbouring passes of the same session.
    min_passes = TRACED_MIN_PASSES if traced else MIN_PASSES
    while time.perf_counter() < t_end or len(passes) < min_passes:
        if traced and len(passes) % 2 == 1:
            passes.append(sess.traced_pass(f"warm{len(passes)}"))
        else:
            passes.append(sess.plain_pass())
    open(args.out + ".measured", "w").close()
    probes = run_probes(sess) if traced else []
    rec = {
        "cores": sess.cores,
        "queries": [n for n, _ in sess.queries],
        "cold": cold,
        "collect_s": collect_s,
        "warm": passes,
        "probes": probes,
        "attempted": sess.attempted,
        "failed": sess.failed,
        "errors": sess.errors,
    }
    if traced:
        rec["spans"] = sess.tracer.as_dicts()
    return rec, outputs


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark entry point: one workload, one seed, one fresh engine session.

    python3 graftbench/run.py --workload mapreduce --seed 1 --seconds 20 --trace 0

Run from the root of the repository. The run generates the inputs from
the seed into a private work directory under ``.graftbench_work/`` and
runs the measured session in a fresh process (``worker.py``). TMPDIR,
SPARK_LOCAL_DIRS and the JVM's ``java.io.tmpdir`` all point at the run's
scratch directory. Every process the run started has ended, and the work
directory is removed, before the run prints its result.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The full run
record (per-pass and per-query times, host steal, checks, probes and,
when traced, the spans) goes to ``.graftbench_out/``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import pickle
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from graftbench import check, datagen, procfs  # noqa: E402
from graftbench.workloads import TRACED_MEASURED, WORKLOADS  # noqa: E402

ENGINE = "os_ex_3_map_reduce_spark"
#: Wall-clock budget of the measured session.
SESSION_TIMEOUT_S = 135
PR_SET_CHILD_SUBREAPER = 36
MB = 1024 * 1024

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "warm_cpu_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "plans.build_s": "s",
    "plans.cold_build_s": "s",
    "plans.build_jobs": "count",
    "plans.persisted_mb": "MB",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.run_s": "s",
    "operators.cpu_s": "s",
    "operators.gc_s": "s",
    "operators.busy_ratio": "ratio",
    "operators.slowest_task_s": "s",
    "operators.shuffle_write_mb": "MB",
    "operators.shuffle_read_mb": "MB",
    "operators.spill_mb": "MB",
    "operators.py_run_s": "s",
    "operators.py_boot_s": "s",
    "operators.py_sent_mb": "MB",
    "operators.py_recv_mb": "MB",
    "operators.py_rows_out": "count",
    "sources.scan_mb": "MB",
    "sources.scan_records": "count",
    "sources.write_mb": "MB",
    "sources.files_written": "count",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "trace.self_build_s": "s",
    "trace.self_execute_s": "s",
    "trace.self_job_s": "s",
    "trace.self_stage_s": "s",
    "trace.overhead_s": "s",
}


class RssSampler(threading.Thread):
    """Polls the resident memory of this process's descendants.

    Sampling ends when ``done_marker`` appears: the session creates it
    after its last warm pass, so a traced run's probes are not counted.
    """

    def __init__(self, done_marker: str, interval_s: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.done_marker = done_marker
        self.interval_s = interval_s
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval_s) and not os.path.exists(self.done_marker):
            self.peak = max(self.peak, procfs.tree_rss_bytes(os.getpid(), include_root=False))

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak


def engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, ENGINE, "session.py"))


def session_env(scratch: str) -> dict[str, str]:
    env = dict(os.environ)
    env.update(
        {
            # The engine's default is local[32]; size it to this host.
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "TMPDIR": scratch,
            "SPARK_LOCAL_DIRS": scratch,
            "PYSPARK_SUBMIT_ARGS": "--driver-java-options "
            + shlex.quote(f"-Djava.io.tmpdir={scratch}")
            + " pyspark-shell",
        }
    )
    return env


def start_session(args, work: str, out: str) -> dict:
    """Run ``worker.py`` in a fresh process and return its record."""
    scratch = os.path.join(work, "scratch")
    cmd = [
        sys.executable, os.path.join(ROOT, "graftbench", "worker.py"),
        "--workload", args.workload, "--data", os.path.join(work, "data"),
        "--scratch", scratch, "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", out,
    ]
    log_path = out + ".log"
    with open(log_path, "w") as log:
        spawn = time.time()
        proc = subprocess.Popen(cmd + ["--spawn-time", repr(spawn)], cwd=scratch,
                                env=session_env(scratch), stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=SESSION_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        procfs.stop_tree(os.getpid())
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"session {'timed out' if rc is None else f'exited {rc}'}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def measured(passes: list[dict], last: int, traced: bool = False) -> list[dict]:
    """The last ``last`` warm passes of one kind, never the first warm pass."""
    return [p for p in passes[1:] if p["traced"] == traced][-last:]


def end_to_end(rec: dict, peak_rss: int) -> dict[str, float]:
    # Means over every warm pass: run-to-run spread comes from the host,
    # so the steadiest figure is the one that averages the most work.
    warm = rec["warm"]
    return {
        "setup_s": rec["setup_s"],
        "cold_pass_s": rec["cold"]["wall_s"],
        "warm_pass_s": statistics.fmean(p["wall_s"] for p in warm),
        "warm_cpu_s": statistics.fmean(p["cpu_s"] for p in warm),
        "peak_rss_mb": peak_rss / MB,
    }


def per_layer(rec: dict) -> dict[str, float]:
    traced = measured(rec["warm"], TRACED_MEASURED, traced=True)
    plain = measured(rec["warm"], TRACED_MEASURED, traced=False)
    out = {
        name: statistics.median(p["layers"][name] for p in traced)
        for name in traced[0]["layers"]
    }
    out["plans.cold_build_s"] = rec["cold"]["layers"]["plans.build_s"]
    out["trace.overhead_s"] = statistics.median(p["wall_s"] for p in traced) - statistics.median(
        p["wall_s"] for p in plain
    )
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=datagen.DEFAULT_SEED)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not engine_present():
        print(f"graftbench: the engine package {ENGINE}/ is not in {ROOT}", file=sys.stderr)
        return 2
    # Orphaned JVM or Python-worker processes re-parent to this process,
    # so it can see, stop and reap every process the run started.
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)

    work = os.path.join(ROOT, ".graftbench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    out_dir = os.path.join(ROOT, ".graftbench_out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "scratch"))
    t_run = time.perf_counter()
    try:
        datagen.write_tables(os.path.join(work, "data"), args.seed)
        datagen_s = time.perf_counter() - t_run
        out = os.path.join(work, "session.json")
        sampler = RssSampler(out + ".measured")
        sampler.start()
        try:
            rec = start_session(args, work, out)
        finally:
            peak_rss = sampler.stop()
        session_s = time.perf_counter() - t_run - datagen_s
        with open(out + ".outputs.pkl", "rb") as f:
            # A query that raised while collecting has no output; the
            # session already counted it as failed.
            outputs = {n: o for n, o in pickle.load(f).items() if o is not None}
        rec["checks"] = check.check_outputs(outputs, os.path.join(work, "data"))
    finally:
        procfs.stop_tree(os.getpid())
        shutil.rmtree(work, ignore_errors=True)

    for c in rec["checks"]:
        if not c["ok"]:
            rec["failed"] += 1
            rec["errors"].append(f'{c["query"]}: {c["why"]}')
    traced = bool(args.trace)
    metrics = per_layer(rec) if traced else end_to_end(rec, peak_rss)
    units = PER_LAYER_UNITS if traced else END_TO_END
    # A query that raised in a timed pass shortens that pass, so it makes
    # the run incorrect as well as failed.
    correct = (
        rec["failed"] == 0
        and all(c["ok"] for c in rec["checks"])
        and all(p["got"] == p["want"] for p in rec["probes"])
    )
    rec.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        peak_rss_mb=peak_rss / MB, metrics=metrics, datagen_s=datagen_s, session_s=session_s,
        run_s=time.perf_counter() - t_run,
        steal_s_timed=sum(p["steal_s"] for p in rec["warm"]),
    )
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(rec, f)
    for err in rec["errors"]:
        print(f"graftbench: failed: {err}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": rec["attempted"],
                "failed": rec["failed"],
                "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""SparkSession factory and session-level configuration.

Reference parity: the reference's ``multiThreadLevel`` argument
[R:MapReduceFramework.h, SURVEY.md R13] is the only parallelism knob it
has; here it maps onto ``local[N]`` worker threads plus
``spark.sql.shuffle.partitions``. Everything else (AQE, Arrow, UTC
session time zone, nanos-as-long parquet reads) is engine configuration
the reference never needed because it had no storage formats at all.

Scale notes (100 TB): AQE is enabled so skewed shuffle partitions are
split and tiny ones coalesced at runtime; ``shuffle.partitions`` is a
*default* only — AQE re-plans the actual post-shuffle parallelism from
observed sizes, so the same code runs on local[32] and on a
1000-executor cluster without retuning.
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: Session-level (runtime-settable) confs. Applied defensively by every
#: query entry point because the driver may hand us a SparkSession it
#: built itself — see ``ensure_session_confs``.
RUNTIME_CONFS: dict[str, str] = {
    # Deterministic timestamp rendering regardless of host TZ.
    "spark.sql.session.timeZone": "UTC",
    # Post-shuffle parallelism default. Batch plans coalesce via AQE
    # anyway; this matters for STREAMING stateful shuffles, which can't
    # use AQE — the 200-partition default means 200 state-store tasks
    # per micro-batch on any data size. (On a real cluster: set to
    # ~2-3× total cores; state-store partition count is fixed by the
    # first checkpoint, so size it before going to production.)
    "spark.sql.shuffle.partitions": str(DEFAULT_SHUFFLE_PARTITIONS),
    # Harmless on the current timestamp[us] events fixture; kept so a
    # regenerated TIMESTAMP(NANOS) fixture (the original format) reads
    # as int64 nanos instead of throwing [PARQUET_TYPE_ILLEGAL].
    # event_time_expr (sources/tables.py) adapts to either dtype.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Adaptive execution: runtime partition coalescing + skew-join split.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every Python<->JVM hop (pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # spark.sql.ui.explainMode is left at its DEFAULT ("formatted") —
    # deliberately, after measuring both directions (r15):
    # "simple" looked attractive for the AQE plan-update payload
    # (every stage materialization posts an event embedding
    # qe.explainString(conf.uiExplainMode), built synchronously on the
    # query thread even with the UI disabled), and on a 24-way
    # self-union A/B it added ~1.2x on top of the maxPlanStringLength
    # cap below. But on the ITERATIVE graph family it measured ~2x
    # SLOWER than formatted (q_labelprop 100 -> 47 iterations/min,
    # fresh-JVM x3 alternations + in-session order-controlled toggles
    # — many small per-round executions pay whatever simple-mode
    # rendering costs them far more often than any union-shaped plan
    # is ever built). The maxPlanStringLength cap in get_spark keeps
    # ~2x of the pathological union win on its own, so formatted +
    # cap dominates: keep the default here.
}


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Classes sent to executors (MapReduceClient subclasses, pandas UDF
    closures) are pickled *by reference* — the worker re-imports them,
    so the package must be on the worker's path. On a real cluster this
    is ``spark-submit --py-files``; for a session we don't own (the
    driver builds its own), ship a zip via ``addPyFile`` once.
    """
    sc = spark.sparkContext
    if getattr(sc, "_osx3_pkg_shipped", False):
        return
    pkg_dir = Path(__file__).resolve().parent
    zip_path = Path(tempfile.mkdtemp(prefix="osx3_pkg_")) / "os_ex_3_map_reduce_spark.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        for py in sorted(pkg_dir.rglob("*.py")):
            zf.write(py, f"{pkg_dir.name}/{py.relative_to(pkg_dir)}")
    try:
        sc.addPyFile(str(zip_path))
    except Exception:
        pass  # already added (e.g. two sessions over one context)
    sc._osx3_pkg_shipped = True


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally-created session.

    Idempotent and safe to call per-query: all keys in RUNTIME_CONFS are
    session confs (not static SparkConf), so they take effect on a live
    session. Never raises — a locked-down conf is skipped.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            pass
    _ship_package(spark)
    return spark


def driver_memory(host_bytes: int | None = None) -> str:
    """``spark.driver.memory`` for a host with ``host_bytes`` of RAM.

    ``$SPARK_GRAFT_DRIVER_MEM`` wins when set. Otherwise half the host's
    physical memory (``host_bytes``, default read via ``os.sysconf``),
    capped at 24g. The JVM's resident size runs well past ``-Xmx``
    (metaspace, code cache, direct buffers) and the Python workers live
    beside it, so a heap near or above the host's RAM gets the driver
    OOM-killed mid-session.
    """
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    if host_bytes is None:
        host_bytes = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    mb = min(host_bytes // 2 // 2**20, 24 * 1024)
    return f"{mb // 1024}g" if mb % 1024 == 0 else f"{mb}m"


def get_spark(
    app_name: str = "os_ex_3_map_reduce_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32). On a real
    cluster, pass None and submit through spark-submit — every operator
    here is partitioning-agnostic.

    The driver heap is sized to the host (``driver_memory``): half its
    physical memory, capped at 24g, so 8g on a 16 GiB machine and 24g
    from 48 GiB up. ``$SPARK_GRAFT_DRIVER_MEM`` (e.g. ``"12g"``)
    overrides it. Like every static conf it only takes effect when this
    call starts the JVM; a live session is reused as it is.
    """
    if master is None:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", driver_memory())
        # Static conf (must be set before the JVM session exists, so it
        # lives here and not in RUNTIME_CONFS): cap plan-string
        # rendering. Rendering short-circuits once the cap is reached,
        # which bounds the per-AQE-update explainString cost on
        # pathologically large / subtree-reused plans (measured 2×
        # alone, 2.4× with ui.explainMode=simple on a 24-way self-union
        # A/B — tools/plan_string_ab.py). 1 MiB comfortably covers the
        # engine's largest REAL plan string (q_hits' 309-operator
        # formatted explain — a 64 KiB first cut truncated it and broke
        # its plan-shape pin); only runaway renders are cut. Override:
        # SPARK_GRAFT_MAX_PLAN_STR.
        .config(
            "spark.sql.maxPlanStringLength",
            os.environ.get("SPARK_GRAFT_MAX_PLAN_STR", "1048576"),
        )
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_session_confs(spark)

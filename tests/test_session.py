"""Session sizing (driver heap, cores, shuffle partitions), the shipped
package zip's lifetime, and the Python workers' zipimport cache."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pytest

from os_ex_3_map_reduce_spark import session
from os_ex_3_map_reduce_spark.session import driver_memory, engine_cpus

GiB = 2**30
REPO = Path(__file__).resolve().parents[1]


def test_driver_memory_is_half_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert driver_memory(16 * GiB) == "8g"
    # A MemTotal just under 16 GiB (kernel reservations) stays near 8g.
    assert driver_memory(16_456_384 * 1024) == "8035m"


def test_driver_memory_is_capped_at_24g(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert driver_memory(125 * 10**9) == "24g"
    assert driver_memory(48 * GiB) == "24g"


def test_driver_memory_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory(16 * GiB) == "3g"
    assert driver_memory(125 * 10**9) == "3g"


def test_session_driver_heap_matches_helper(spark):
    # The helper honours SPARK_GRAFT_DRIVER_MEM itself, so this holds
    # with or without the override set.
    assert spark.sparkContext.getConf().get("spark.driver.memory") == driver_memory()


def test_engine_cpus_follows_affinity_unless_overridden(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert engine_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert engine_cpus() == 3


_SESSION_SCRIPT = textwrap.dedent(
    """
    import os, tempfile
    from os_ex_3_map_reduce_spark.session import ensure_session_confs, get_spark

    spark = get_spark(master="local[2]", shuffle_partitions=3)
    spark.range(10).count()
    ensure_session_confs(spark)
    print("partitions", spark.conf.get("spark.sql.shuffle.partitions"))
    tmp = tempfile.gettempdir()
    print("pkg_dirs", sum(e.startswith("osx3_pkg_") for e in os.listdir(tmp)))
    spark.stop()
    """
)


@pytest.fixture(scope="module")
def session_run(tmp_path_factory):
    """One engine session in a fresh interpreter with TMPDIR pointed at
    a private directory: started, stopped, exited."""
    tmp = tmp_path_factory.mktemp("session_tmp")
    env = dict(
        os.environ,
        TMPDIR=str(tmp),
        PYTHONPATH=str(REPO),
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", _SESSION_SCRIPT],
        env=env,
        cwd=str(tmp),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = dict(l.split(" ", 1) for l in proc.stdout.splitlines() if " " in l)
    return tmp, lines


def test_get_spark_honours_shuffle_partitions(session_run):
    _, lines = session_run
    # Read back after a query entry point's ensure_session_confs too.
    assert lines["partitions"] == "3"


def test_shipped_package_zip_is_removed_at_exit(session_run):
    tmp, lines = session_run
    assert lines["pkg_dirs"] == "1"  # shipped during the session ...
    assert not [e.name for e in tmp.iterdir() if e.name.startswith("osx3_pkg_")]


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@pytest.fixture
def zip_reads(monkeypatch):
    """Install the engine's ``invalidate_caches`` for one test, over a
    private directory cache, recording every archive whose directory
    ``zipimport`` reads. monkeypatch restores the stdlib's afterwards."""
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(zipimport, "_zip_directory_cache", {})
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        session._stat_checked_invalidate_caches,
    )
    return reads


def _register(monkeypatch, archive: Path) -> None:
    monkeypatch.setitem(
        sys.path_importer_cache, str(archive), zipimport.zipimporter(str(archive))
    )


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch, zip_reads):
    archive = tmp_path / "same.zip"
    _write_zip(archive, {"zc_same_mod": "X = 1\n"})
    _register(monkeypatch, archive)
    importlib.invalidate_caches()
    # One read to construct the importer, one on the first call: no
    # stamp stands behind the directory read at construction.
    assert zip_reads.count(str(archive)) == 2
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert zip_reads.count(str(archive)) == 2


def test_changed_archive_is_reread(tmp_path, monkeypatch, zip_reads):
    archive = tmp_path / "grow.zip"
    _write_zip(archive, {"zc_grow_a": "X = 1\n"})
    _register(monkeypatch, archive)
    monkeypatch.syspath_prepend(str(archive))
    try:
        importlib.import_module("zc_grow_a")
        importlib.invalidate_caches()  # records the stamp
        _write_zip(archive, {"zc_grow_a": "X = 1\n", "zc_grow_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("zc_grow_b").Y == 2
    finally:
        sys.modules.pop("zc_grow_a", None)
        sys.modules.pop("zc_grow_b", None)


def test_workers_run_the_engine_zip_cache_and_the_driver_does_not(spark):
    import pyarrow as pa

    def report(batches):
        import zipimport

        import os_ex_3_map_reduce_spark  # as every engine UDF's unpickle does

        fn = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"fn": [f"{fn.__module__}.{fn.__qualname__}"]})

    rows = spark.range(4, numPartitions=2).mapInArrow(report, "fn string").collect()
    assert {r.fn for r in rows} == {
        "os_ex_3_map_reduce_spark.session._stat_checked_invalidate_caches"
    }
    fn = zipimport.zipimporter.invalidate_caches
    assert (fn.__module__, fn.__qualname__) == (
        "zipimport",
        "zipimporter.invalidate_caches",
    )

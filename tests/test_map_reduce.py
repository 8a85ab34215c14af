"""Generic map_reduce operator + job control parity tests.

Mirrors the reference's test practice (SURVEY.md §5.1): golden output
via the sample client, determinism across the multiThreadLevel analog,
and progress monotonicity from a polling loop.
"""

from __future__ import annotations

import time

import pandas as pd
import pytest

from pyspark.sql import functions as F

from os_ex_3_map_reduce_spark.operators.job import (
    JobState,
    Stage,
    start_map_reduce_job,
)
from os_ex_3_map_reduce_spark.operators.map_reduce import (
    MapReduceClient,
    run_map_reduce,
)
from os_ex_3_map_reduce_spark.plans.mapreduce_queries import WordCountClient
from os_ex_3_map_reduce_spark.sources.tables import load_table

from .conftest import SF_SMOKE


def _wordcount_via_dataframe(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )


def test_wordcount_client_matches_dataframe_plan(spark):
    docs = load_table(spark, SF_SMOKE, "documents").select("text")
    got = sorted(
        (r.w, r.cnt) for r in run_map_reduce(docs, WordCountClient()).collect()
    )
    want = sorted((r.w, r.cnt) for r in _wordcount_via_dataframe(spark).collect())
    assert got == want
    assert len(got) > 0


@pytest.mark.parametrize("parallelism", [1, 2, 8])
def test_determinism_across_parallelism(spark, parallelism):
    """multiThreadLevel sweep analog (SURVEY.md §5.1): identical sorted
    output at every reduce-side parallelism."""
    docs = load_table(spark, SF_SMOKE, "documents").select("text")
    got = sorted(
        tuple(r)
        for r in run_map_reduce(
            docs, WordCountClient(), num_shuffle_partitions=parallelism
        ).collect()
    )
    want = sorted((r.w, r.cnt) for r in _wordcount_via_dataframe(spark).collect())
    assert got == want


class ExplodingClient(MapReduceClient):
    """map emits 0..N (only tokens len>3, twice); reduce emits 0..N
    (nothing for odd counts, two rows for even) — exercises the full
    flatMap/UDTF freedom of emit2/emit3."""

    intermediate_schema = "w string, one long"
    output_schema = "w string, kind string, cnt long"

    def map(self, row):
        out = []
        for w in row.text.split(" "):
            if len(w) > 3:
                out.append((w, 1))
                out.append((w, 1))
        return out

    def reduce(self, key, group: pd.DataFrame):
        n = int(group["one"].sum())
        if n % 2 == 1:
            return []
        return [(key[0], "total", n), (key[0], "half", n // 2)]


def test_zero_to_n_emission(spark):
    docs = load_table(spark, SF_SMOKE, "documents").select("text")
    rows = run_map_reduce(docs, ExplodingClient()).collect()
    assert rows, "expected some even-count tokens"
    by_word: dict[str, dict[str, int]] = {}
    for r in rows:
        by_word.setdefault(r.w, {})[r.kind] = r.cnt
    for w, kinds in by_word.items():
        assert set(kinds) == {"total", "half"}
        assert kinds["total"] == 2 * kinds["half"]
        assert kinds["total"] % 2 == 0
        assert len(w) > 3


def test_job_control_lifecycle(spark):
    """R9–R12: async start, state polling, idempotent wait, close."""
    docs = load_table(spark, SF_SMOKE, "documents").select("text")
    handle = start_map_reduce_job(spark, WordCountClient(), docs)

    states: list[JobState] = []
    deadline = time.time() + 120
    while handle._thread.is_alive() and time.time() < deadline:
        states.append(handle.state())
        time.sleep(0.05)
    handle.wait()
    handle.wait()  # idempotent (reference guards double-join)

    rows = handle.result()
    want = sorted((r.w, r.cnt) for r in _wordcount_via_dataframe(spark).collect())
    assert sorted(tuple(r) for r in rows) == want

    final = handle.state()
    assert final.stage is Stage.REDUCE and final.percentage == 100.0
    # (stage, percentage) advances monotonically: stage only ever moves
    # UNDEFINED → MAP → SHUFFLE → REDUCE, and within a stage the
    # percentage never decreases (the canonical course test's contract).
    order = [Stage.UNDEFINED, Stage.MAP, Stage.SHUFFLE, Stage.REDUCE]
    seen = [(order.index(s.stage), s.percentage) for s in states]
    assert seen == sorted(seen), f"progress regressed: {seen}"
    assert all(0.0 <= p <= 100.0 for _, p in seen)

    handle.close()
    assert handle.state().stage is Stage.UNDEFINED


def test_progress_degrades_without_status_store(spark):
    """statusStore() is a private JVM API (pinned to Spark 4.1.2 in the
    source): if it drifts, SHUFFLE%% must degrade to the quantized 0
    report and skipped-detection to 'not skipped' — never an error
    (round-2 verdict #8)."""
    from os_ex_3_map_reduce_spark.operators.job import start_job

    df = (
        spark.range(0, 10_000, 1, 4)
        .selectExpr("id % 13 as k")
        .groupBy("k")
        .count()
    )
    handle = start_job(spark, df, description="status-store drift probe")
    handle.wait()

    def broken_store():
        raise AttributeError("'JavaSparkContext' object has no attribute 'sc'")

    handle._stage_store = broken_store
    assert handle._shuffle_percentage(0, 1) == 0.0
    assert handle._is_skipped(0) is False
    final = handle.state()  # finished job: served from the result path
    assert final.percentage == 100.0
    handle.close()


def test_shuffle_percentage_is_pairs_moved(spark):
    """SHUFFLE progress = reduce-side records fetched / map-side records
    written (the reference's shuffled-pairs accounting), not a 0/100
    quantization: on a finished shuffle both counters are equal, so the
    helper must report exactly 100 from the real metrics."""
    from os_ex_3_map_reduce_spark.operators.job import start_job

    df = (
        spark.range(0, 200_000, 1, 8)
        .selectExpr("id % 97 as k", "id as v")
        .groupBy("k")
        .count()
    )
    handle = start_job(spark, df, description="shuffle accounting probe")
    handle.wait()
    tracker = spark.sparkContext.statusTracker()
    sids = sorted(
        sid
        for jid in tracker.getJobIdsForGroup(handle._group)
        for sid in tracker.getJobInfo(jid).stageIds
        if not handle._is_skipped(sid)
        and tracker.getStageInfo(sid) is not None
        and tracker.getStageInfo(sid).numTasks > 0
    )
    assert len(sids) >= 2, f"expected a 2-stage shuffle job, got {sids}"
    pct = handle._shuffle_percentage(sids[0], sids[-1])
    assert pct == 100.0, pct
    # and the underlying counters really are record counts, not a flag:
    # map-side partial agg emits one partial per (partition, key), all
    # of which the single reduce stage fetches.
    store = handle._stage_store()
    wrote = store.lastStageAttempt(sids[0]).shuffleWriteRecords()
    read = store.lastStageAttempt(sids[-1]).shuffleReadRecords()
    assert wrote == read >= 97
    handle.close()


def test_key_normalizer_reduce_sees_whole_equivalence_class(spark):
    """SURVEY.md §7.4 contract, asserted directly: with a key_normalizer
    (the K2::operator< partial-comparator analog), reduce must be called
    ONCE per equivalence class, with the NORMALIZED key and a group
    containing every RAW K2 spelling of that class."""
    from os_ex_3_map_reduce_spark.operators.map_reduce import normalized_key

    class ClassAuditClient(MapReduceClient):
        intermediate_schema = "w string, one long"
        output_schema = "k string, n_rows long, raw_keys string"
        key_normalizer = staticmethod(
            lambda c: normalized_key(c, trim=True, fold_case=True, prefix_len=3)
        )

        def map(self, row):
            return [(row.w, 1)]

        def reduce(self, key, group: pd.DataFrame):
            # key must already be normalized; group keeps raw spellings
            # and must NOT contain the internal normalized-key column
            assert list(group.columns) == ["w", "one"]
            raws = sorted(set(group["w"]))
            return [(key[0], int(group["one"].sum()), "|".join(raws))]

    rows = [("Foobar",), ("FOOBAZ ",), (" fooqux",), ("barone",), ("BARTWO",)]
    df = spark.createDataFrame(rows, "w string")
    got = {
        r.k: (r.n_rows, r.raw_keys)
        for r in run_map_reduce(df, ClassAuditClient()).collect()
    }
    assert got == {
        # trim → lower → first 3 chars: one class per prefix
        "foo": (3, "|".join(sorted({"Foobar", "FOOBAZ ", " fooqux"}))),
        "bar": (2, "BARTWO|barone"),
    }


def test_sorted_group_scan_boundary_spanning_groups(spark):
    """Secondary sort's hard case: a group larger than one Arrow batch
    must arrive as SEVERAL step() calls and still fold to the same
    answer. Force 7-row batches (groups of 40 rows span many), run the
    order-gap fold, and compare against the declarative window
    equivalent — also under a different partition count (the fold must
    be partitioning-invariant because each key is wholly in one
    partition)."""
    from pyspark.sql import functions as F

    from os_ex_3_map_reduce_spark.operators.map_reduce import sorted_group_scan
    from os_ex_3_map_reduce_spark.plans.mapreduce_queries import OrderGapFold

    rows = spark.range(0, 200).select(
        (F.col("id") % 5).alias("o_custkey"),
        (F.col("id") * 7 % 365).alias("epoch_day"),
        F.col("id").alias("o_orderkey"),
        F.date_format(
            F.date_add(F.lit("1970-01-01"), (F.col("id") * 7 % 365).cast("int")),
            "yyyy-MM-dd",
        ).alias("date_str"),
    )
    schema = (
        "o_custkey bigint, n_orders bigint, first_date string, "
        "last_date string, max_gap_days bigint"
    )
    want_df = (
        rows.withColumn(
            "gap",
            F.col("epoch_day")
            - F.lag("epoch_day").over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("o_custkey")
                .orderBy("epoch_day", "o_orderkey")
            ),
        )
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("date_str").alias("first_date"),
            F.max("date_str").alias("last_date"),
            F.coalesce(F.max("gap"), F.lit(0)).alias("max_gap_days"),
        )
    )
    want = {tuple(r) for r in want_df.collect()}
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        for nparts in (1, 3):
            got = {
                tuple(r)
                for r in sorted_group_scan(
                    rows,
                    ["o_custkey"],
                    ["epoch_day", "o_orderkey"],
                    OrderGapFold(),
                    schema,
                    num_partitions=nparts,
                ).collect()
            }
            assert got == want, f"nparts={nparts}"
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_sorted_group_scan_multi_emit_and_empty_finish(spark):
    """The fold's finish() may emit 0..N rows (the reference's emit3
    contract): a fold that drops single-row groups and splits others
    into per-row echoes exercises both ends."""
    from os_ex_3_map_reduce_spark.operators.map_reduce import (
        SortedGroupFold,
        sorted_group_scan,
    )

    class EchoFold(SortedGroupFold):
        def init(self, key):
            return []

        def step(self, state, chunk):
            return state + [int(v) for v in chunk["v"]]

        def finish(self, key, state):
            if len(state) <= 1:
                return []
            return [(key[0], v) for v in state]

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 9), ("c", 3), ("c", 4), ("c", 5)],
        "k string, v int",
    )
    got = sorted(
        tuple(r)
        for r in sorted_group_scan(
            df, ["k"], ["v"], EchoFold(), "k string, v int", num_partitions=2
        ).collect()
    )
    assert got == [("a", 1), ("a", 2), ("c", 3), ("c", 4), ("c", 5)]


class _CountFold:
    """Counts each group's rows: ``(key[0], n)``."""

    def init(self, key):
        return 0

    def step(self, state, chunk):
        return state + len(chunk)

    def finish(self, key, state):
        return [(key[0], state)]


@pytest.mark.parametrize(
    "ddl,vals",
    [("bigint", (1, None, None, None, 2)), ("string", ("a", None, None, None, "b"))],
)
def test_sorted_group_scan_null_key_is_one_group(spark, ddl, vals):
    """All null keys form ONE group, as in ``groupBy``. A null bigint
    arrives in pandas as NaN, and NaN != NaN, so a run walker that
    compares key tuples splits it into one group per row."""
    from os_ex_3_map_reduce_spark.operators.map_reduce import sorted_group_scan

    df = spark.createDataFrame([(v,) for v in vals], f"k {ddl}")
    scan = sorted_group_scan(df, ["k"], [], _CountFold(), f"k {ddl}, n bigint")
    got = sorted((tuple(r) for r in scan.collect()), key=repr)
    assert got == sorted([(vals[0], 1), (None, 3), (vals[-1], 1)], key=repr)


class _NullKeyClient(MapReduceClient):
    intermediate_schema = "k string, n bigint"
    output_schema = "k string, n bigint, rows bigint"
    n_key_cols = 2

    def map(self, row):
        return [(row.k, row.n)]

    def reduce(self, key, group: pd.DataFrame):
        return [(key[0], key[1], len(group))]


def test_run_map_reduce_null_keys_group_like_group_by(spark):
    """Composite keys with nulls in either column: each distinct
    (k, n), nulls included, is exactly one reduce call."""
    rows = [("a", 1), ("a", None), ("a", None), ("b", 2)]
    rows += [(None, 1), (None, 1), (None, None), (None, None)]
    df = spark.createDataFrame(rows, "k string, n bigint")
    got = [tuple(r) for r in run_map_reduce(df, _NullKeyClient()).collect()]
    assert len(got) == 5
    assert set(got) == {
        ("a", 1, 1),
        ("a", None, 2),
        ("b", 2, 1),
        (None, 1, 2),
        (None, None, 2),
    }


class _ReduceMustNotRun(MapReduceClient):
    intermediate_schema = "w string, one long"
    output_schema = "w string, cnt long"

    def map(self, row):
        return [(w, 1) for w in row.text.split(" ") if w]

    def reduce(self, key, group: pd.DataFrame):
        raise AssertionError("reduce called on empty input")


def test_empty_input_gives_no_rows_and_no_reduce(spark):
    empty = spark.createDataFrame([], "text string")
    assert run_map_reduce(empty, _ReduceMustNotRun()).collect() == []
    assert run_map_reduce(empty, _ReduceMustNotRun(), 3).collect() == []


class _FailingReduce(MapReduceClient):
    intermediate_schema = "w string, one long"
    output_schema = "w string, cnt long"

    def map(self, row):
        return [(w, 1) for w in row.text.split(" ") if w]

    def reduce(self, key, group: pd.DataFrame):
        raise ValueError(f"client reduce rejected key {key[0]!r}")


def test_reduce_exception_surfaces_as_python_exception(spark):
    """A ``reduce`` that raises fails the query with a
    ``PythonException`` that carries the user's own message."""
    from pyspark.errors import PythonException

    df = spark.createDataFrame([("x y",)], "text string")
    with pytest.raises(PythonException, match="client reduce rejected key"):
        run_map_reduce(df, _FailingReduce()).collect()


def test_map_reduce_reads_a_dataframe_result_by_column_name(spark):
    """The batch-level API: a ``reduce_fn`` that returns a pandas
    DataFrame is read by column name, whatever the column order."""
    from os_ex_3_map_reduce_spark.operators.map_reduce import map_reduce

    def split_words(batches):
        for pdf in batches:
            words = pdf["text"].str.split(" ").explode().reset_index(drop=True)
            yield pd.DataFrame({"w": words, "one": 1})

    def count(key, group: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"cnt": [int(group["one"].sum())], "w": [key[0]]})

    df = spark.createDataFrame([("a b a",), ("b a",)], "text string")
    got = map_reduce(
        df, split_words, "w", count, "w string, one long", "w string, cnt long"
    )
    assert sorted(tuple(r) for r in got.collect()) == [("a", 3), ("b", 2)]


class _ExactIntsClient(MapReduceClient):
    intermediate_schema = "k bigint, v bigint"
    output_schema = "k bigint, v bigint, rows bigint, key_is_int boolean"

    def map(self, row):
        return [(row.k, row.v)]

    def reduce(self, key, group: pd.DataFrame):
        v = group["v"]
        exact = int(v.max()) if v.notna().all() else None
        return [(key[0], exact, len(group), key[0] is None or type(key[0]) is int)]


def test_bigints_stay_exact_beside_null_keys_and_values(spark):
    """One partition, so one Arrow batch holds a null key, a null value
    and bigints above 2**53. A pandas frame per batch would make those
    columns float64 for every group in it: 2**53 and 2**53+1 would
    merge into one key, the values would round and the keys would
    reach reduce as floats. Each group keeps the exact values and
    dtypes of its own rows, as ``applyInPandas`` gave them."""
    big = 2**53
    rows = [(big, 1), (big + 1, big + 1), (None, 5), (7, None), (7, 1)]
    df = spark.createDataFrame(rows, "k bigint, v bigint")
    got = run_map_reduce(df, _ExactIntsClient(), num_shuffle_partitions=1).collect()
    assert sorted((tuple(r) for r in got), key=repr) == sorted(
        [(big, 1, 1, True), (big + 1, big + 1, 1, True), (None, 5, 1, True), (7, None, 2, True)],
        key=repr,
    )


def test_map_reduce_dataframe_results_follow_apply_in_pandas(spark):
    """A ``reduce_fn`` DataFrame result is read as ``applyInPandas``
    read it: an empty ``pd.DataFrame()`` emits nothing, and columns
    without string labels are taken by position."""
    from os_ex_3_map_reduce_spark.operators.map_reduce import map_reduce

    def split_words(batches):
        for pdf in batches:
            words = pdf["text"].str.split(" ").explode().reset_index(drop=True)
            yield pd.DataFrame({"w": words, "one": 1})

    def count(key, group: pd.DataFrame) -> pd.DataFrame:
        if key[0] == "a":
            return pd.DataFrame()
        return pd.DataFrame([[key[0], int(group["one"].sum())]])

    df = spark.createDataFrame([("a b a",), ("b a",)], "text string")
    got = map_reduce(
        df, split_words, "w", count, "w string, one long", "w string, cnt long"
    )
    assert [tuple(r) for r in got.collect()] == [("b", 2)]


def test_sorted_group_scan_keeps_null_and_nan_keys_apart(spark):
    """A double key: null and NaN are two groups, as in ``groupBy``,
    even where the sort puts them next to each other. (The emitted NaN
    key reads back as null, as a NaN in any pandas result does, so the
    groups are told apart by their row counts.)"""
    from os_ex_3_map_reduce_spark.operators.map_reduce import sorted_group_scan

    df = spark.createDataFrame([(None,), (float("nan"),)] * 2, "k double")
    scan = sorted_group_scan(df, ["k"], [], _CountFold(), "k double, n bigint", 1)
    assert sorted(r.n for r in scan.collect()) == [2, 2]

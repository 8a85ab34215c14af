"""Generic map→shuffle→reduce operator: the reference's whole surface.

Reference parity (SURVEY.md §2.1 R1–R8):

- ``map(k1, v1, ctx)`` emitting 0..N pairs via ``emit2``
  [R:MapReduceClient.h] → here the *rows returned* by a user map
  function (a flatMap): no emit callback survives, which is the one
  purely-syntactic shape change (SURVEY.md §3.2).
- per-thread sort + single-threaded merge-shuffle
  [R:MapReduceFramework.cpp] → Spark's sort-based shuffle (parallel,
  spilling, hash-partitioned): ``repartition(key)`` then
  ``sortWithinPartitions(key)``, so every key is one contiguous sorted
  run inside one partition — the reference's sorted pairs, minus its
  single-thread merge bottleneck.
- ``reduce(group, ctx)`` emitting 0..N pairs via ``emit3`` — full
  UDTF-over-group power, NOT just scalar aggregation → one
  ``mapInArrow`` call per partition walks the runs of equal keys
  (:func:`sorted_group_scan`); the rows returned are the output.

One grouped-reduce path. :func:`map_reduce` is :func:`sorted_group_scan`
with a gather fold that collects a group's chunks and calls the user
reduce once with the whole group. One partitioning rule serves both:
``repartition(n, *keys)`` when a partition count is given, otherwise
``repartition(*keys)``, which AQE may coalesce; then
``sortWithinPartitions(*keys, *sort_cols)``. Pinning the count to the
core count was measured and rejected (ROADMAP direction 1): it starts
one Python worker per core, which raised CPU and peak memory per pass
on small inputs.

Two API levels:

- :func:`map_reduce` — batch-level (fast path): user functions see Arrow
  batches (pandas DataFrames), vectorizable.
- :class:`MapReduceClient` + :func:`run_map_reduce` — row-level
  (reference-shaped): ``map(row) -> iterable of tuples``,
  ``reduce(key, group_df) -> iterable of tuples``. Convenience wrapper
  over the same plan; per-row Python is the slow path by design.

Scale notes (100 TB): the mapped relation is hash-partitioned on the
key — same contract as the reference's shuffle. One group must fit in
one executor's memory for :func:`map_reduce` (the gather fold
materializes the group), which is exactly the reference's own
constraint (a group = one in-RAM vector); an online
:class:`SortedGroupFold` needs only its fold state. For known-hot keys,
pre-aggregate in ``map_fn`` (combiner) or salt the key before calling;
AQE skew handling covers the join paths but not grouped reduce, so the
combiner pattern is the documented mitigation.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string


def normalized_key(
    key: Column | str,
    *,
    trim: bool = False,
    fold_case: bool = False,
    prefix_len: int | None = None,
) -> Column:
    """Canonical representative of a comparator-defined key class.

    The reference shuffles with the user's ``K2::operator<`` and groups
    keys that compare EQUIVALENT under it — ``!(a<b) && !(b<a)`` — so a
    comparator that only inspects part of the key merges bytewise-
    distinct K2 values into one reduce group [SURVEY.md §7.4]. Spark's
    ``groupBy`` is exact-equality, so the engine expresses the same
    semantics by grouping on a *normalization*: a function constant on
    each equivalence class. This helper builds the common string-key
    normalizations, applied in the order trim → fold_case → prefix
    (each corresponds to a comparator that ignores padding, case, or
    everything past a prefix). For anything fancier pass your own
    ``Column -> Column`` to ``map_reduce(key_normalizer=...)`` — any
    deterministic JVM expression works, and the grouping stays a single
    hash shuffle on the normalized value.
    """
    c = F.col(key) if isinstance(key, str) else key
    if trim:
        c = F.trim(c)
    if fold_case:
        # ASCII-only by contract: engine-specific unicode case rules
        # (Java's combining-dot 0130, final sigma) would make the
        # normalized key corpus-dependent across engines — see
        # functions/text.py ascii_fold.
        from ..functions.text import ascii_fold

        c = ascii_fold(c)
    if prefix_len is not None:
        c = F.substring(c, 1, prefix_len)
    return c


def map_reduce(
    df: DataFrame,
    map_fn: Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]],
    key_cols: list[str] | str,
    reduce_fn: Callable[[tuple, pd.DataFrame], pd.DataFrame | Iterable[tuple]],
    intermediate_schema: str,
    output_schema: str,
    num_shuffle_partitions: int | None = None,
    key_normalizer: Callable[[Column], Column] | None = None,
) -> DataFrame:
    """Batch-level generic MapReduce over a DataFrame.

    ``map_fn``: ``mapInPandas`` body — iterator of input batches →
    iterator of intermediate batches matching ``intermediate_schema``
    (0..N rows per input row: the emit2 surface).
    ``reduce_fn``: called once per distinct key with all its rows (a
    pandas DataFrame with a fresh ``RangeIndex``, converted from Arrow
    for that group alone, as ``applyInPandas`` did: an integer column
    is float64 only in a group that holds a null in it) and the key as
    a tuple of Python values; returns an iterable of output tuples or
    a pandas DataFrame (0..N rows: the emit3 surface). A DataFrame is
    read as ``applyInPandas`` read it: by column name when any label
    is a string, else by position; an empty ``pd.DataFrame()`` emits
    nothing.
    ``num_shuffle_partitions``: reference's ``multiThreadLevel``
    analog — pins reduce-side parallelism; default leaves it to the
    session/AQE (see :func:`sorted_group_scan`).
    ``key_normalizer``: optional comparator-equivalence hook (see
    :func:`normalized_key`) applied to each key column for grouping.
    When set, ``reduce_fn``'s key argument carries the NORMALIZED
    values while the group DataFrame keeps the original intermediate
    columns — i.e. reduce sees every raw K2 of the equivalence class,
    exactly the reference's contract.
    """
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    mapped = df.mapInPandas(map_fn, schema=intermediate_schema)
    drop = [f"__nk_{c}" for c in key_cols] if key_normalizer else []
    if drop:
        mapped = mapped.select(
            "*", *[key_normalizer(F.col(c)).alias(n) for c, n in zip(key_cols, drop)]
        )
    fold = _GatherFold(reduce_fn, drop, _ddl_field_names(output_schema))
    return sorted_group_scan(
        mapped, drop or key_cols, [], fold, output_schema, num_shuffle_partitions
    )


class MapReduceClient:
    """Row-level client, the reference's ``MapReduceClient`` re-shaped
    [R:MapReduceClient.h].

    Subclass and define:

    - ``intermediate_schema``: DDL string for emitted (K2, V2...) rows;
      the FIRST ``n_key_cols`` fields are the shuffle key.
    - ``output_schema``: DDL string for emitted (K3, V3...) rows.
    - ``map(self, row) -> iterable[tuple]`` — row is a named tuple of
      the input row (K1/V1); yield 0..N intermediate tuples (emit2).
    - ``reduce(self, key, group) -> iterable[tuple]`` — ``key`` is a
      tuple of key values, ``group`` a pandas DataFrame of every
      intermediate row with that key (the post-shuffle
      IntermediateVec); yield 0..N output tuples (emit3).

    The client must be picklable (it ships to executors).
    """

    intermediate_schema: str
    output_schema: str
    n_key_cols: int = 1
    #: Optional comparator-equivalence hook (reference: ``K2::operator<``
    #: may ignore parts of the key, merging bytewise-distinct K2 values
    #: into one reduce group — see :func:`normalized_key`). A staticmethod
    #: ``Column -> Column``; evaluated driver-side when building the
    #: plan, so it never ships to executors and stays JVM-expression fast.
    key_normalizer: Callable[[Column], Column] | None = None

    def map(self, row: Any) -> Iterable[tuple]:  # pragma: no cover - abstract
        raise NotImplementedError

    def reduce(self, key: tuple, group: pd.DataFrame) -> Iterable[tuple]:  # pragma: no cover
        raise NotImplementedError


def _ddl_field_names(ddl: str) -> list[str]:
    """Top-level field names of a DDL schema string.

    Parsed with Spark's own DDL parser — a naive ``split(',')`` yields
    wrong names (and therefore wrong shuffle keys) the moment a client
    schema nests a comma-bearing type like ``k struct<a:int,b:int>``.
    """
    return list(_parse_datatype_string(ddl).fieldNames())


def run_map_reduce(
    df: DataFrame,
    client: MapReduceClient,
    num_shuffle_partitions: int | None = None,
) -> DataFrame:
    """Run a row-level :class:`MapReduceClient` over ``df``.

    Equivalent of ``startMapReduceJob(client, inputVec, outputVec, n)``
    minus the async control plane (see :mod:`.job` for that parity).
    """
    inter_cols = _ddl_field_names(client.intermediate_schema)
    key_cols = inter_cols[: client.n_key_cols]

    def map_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            emitted: list[tuple] = []
            for row in pdf.itertuples(index=False):
                emitted.extend(client.map(row))
            yield pd.DataFrame(emitted, columns=inter_cols)

    return map_reduce(
        df,
        map_batches,
        key_cols,
        client.reduce,
        client.intermediate_schema,
        client.output_schema,
        num_shuffle_partitions,
        key_normalizer=client.key_normalizer,
    )


class SortedGroupFold:
    """User contract for :func:`sorted_group_scan` — an ONLINE fold
    over a group's rows delivered in sort order, possibly in several
    chunks: ``init(key)`` makes the initial state, ``step(state,
    chunk)`` consumes one pandas chunk (rows of THIS group only, in
    order) and returns the new state, ``finish(key, state)`` emits
    0..N output tuples. State is whatever the fold needs — O(1) for
    running aggregates — which is the entire point: unlike
    :func:`map_reduce`'s gather fold, the group is never materialized."""

    def init(self, key: tuple) -> Any:  # pragma: no cover - interface
        raise NotImplementedError

    def step(self, state: Any, chunk: pd.DataFrame) -> Any:  # pragma: no cover
        raise NotImplementedError

    def finish(self, key: tuple, state: Any) -> Iterable[tuple]:  # pragma: no cover
        raise NotImplementedError


class _GatherFold(SortedGroupFold):
    """The fold behind :func:`map_reduce`: collects a group's chunks,
    then calls ``reduce_fn`` once with the whole group, minus the
    ``drop`` columns (the normalized-key helpers). A DataFrame result
    is read by the ``out_names`` column names when any of its labels
    is a string, else by position."""

    def __init__(self, reduce_fn: Callable, drop: list[str], out_names: list[str]):
        self.reduce_fn, self.drop, self.out_names = reduce_fn, drop, out_names

    def init(self, key: tuple) -> list[pd.DataFrame]:
        return []

    def step(self, state: list, chunk: pd.DataFrame) -> list[pd.DataFrame]:
        return [*state, chunk]

    def finish(self, key: tuple, state: list[pd.DataFrame]) -> Iterable[tuple]:
        group = pd.concat(state) if state[1:] else state[0]
        group = group.drop(columns=self.drop) if self.drop else group
        out = self.reduce_fn(key, group.reset_index(drop=True))
        if not isinstance(out, pd.DataFrame):
            return out
        if len(out.columns) == 0:
            return []
        if any(isinstance(c, str) for c in out.columns):
            out = out[self.out_names]
        return out.itertuples(index=False, name=None)


def _key_changes(a: pa.Array, b: pa.Array) -> np.ndarray:
    """Rows where key column ``a`` differs from ``b``, as ``groupBy``
    tells keys apart: null equals null, NaN equals NaN, null differs
    from NaN. Read from Arrow, where a null is not a NaN."""
    same = pc.and_(a.is_null(), b.is_null())
    if pa.types.is_floating(a.type):
        same = pc.or_(same, pc.fill_null(pc.and_(pc.is_nan(a), pc.is_nan(b)), False))
    try:
        eq = pc.equal(a, b)
    except pa.ArrowNotImplementedError:  # struct / list keys
        eq = pa.array([x == y for x, y in zip(a.to_pylist(), b.to_pylist())])
    return ~pc.or_(same, pc.fill_null(eq, False)).to_numpy(zero_copy_only=False)


def _null_sets_dtype(a: pa.Array) -> bool:
    """Whether a null in ``a`` changes its pandas dtype (an integer
    column becomes float64, a boolean one object), or may do so in a
    nested child."""
    t = a.type
    return pa.types.is_nested(t) or (
        a.null_count > 0 and (pa.types.is_integer(t) or pa.types.is_boolean(t))
    )


def _rows_batch(rows: list[tuple], schema: pa.Schema) -> pa.RecordBatch:
    """Output tuples as one Arrow batch of ``schema``. Each column is
    built from its Python values and then cast, so integers stay exact
    (no shared float64 guess across groups); NaN becomes null, as in
    any pandas result."""
    cols = pd.DataFrame(rows, columns=schema.names, dtype=object)
    return pa.RecordBatch.from_arrays(
        [pa.array(cols[f.name].to_numpy(), from_pandas=True).cast(f.type) for f in schema],
        schema=schema,
    )


def sorted_group_scan(
    df: DataFrame,
    key_cols: list[str],
    sort_cols: list[str],
    fold: SortedGroupFold,
    output_schema: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Sorted-run scan: the engine's one grouped-reduce mechanism, and
    with ``sort_cols`` the classic MapReduce secondary sort (partition
    by the natural key, sort the shuffle by (key, value fields), stream
    each group through reduce in value order).

    Partitioning rule: ``repartition(num_partitions, *key_cols)`` when
    ``num_partitions`` is given, else ``repartition(*key_cols)`` (the
    session's shuffle partitions, which AQE may coalesce). Then
    ``sortWithinPartitions(*key_cols, *sort_cols)`` makes every group a
    contiguous SORTED run inside its partition — the ordering work
    rides the shuffle's own sort machinery, costing zero extra passes —
    and one ``mapInArrow`` walks the partition, finding run boundaries
    on the Arrow key columns (as in ``groupBy``, null keys form one
    group, NaN keys another), folding each group's chunks online and
    flushing output once per input batch. Each chunk reaches ``step``
    as a pandas DataFrame whose dtypes depend on that chunk's rows
    alone (pyarrow's ``to_pandas``: timestamps arrive tz-aware in
    UTC), the key as a tuple of Python values; output tuples are built
    into Arrow column by column, so integers stay exact. A group larger than one Arrow batch arrives as several
    ``step`` calls (boundary-spanning groups are the hard part of the
    pattern and are property-tested with tiny batch sizes); memory is
    O(fold state), never O(group) — at 100 TB this is what makes
    billion-row keys reducible where a materialized group would OOM.
    """
    parts = [num_partitions] if num_partitions else []
    df = df.repartition(*parts, *key_cols).sortWithinPartitions(*key_cols, *sort_cols)
    schema = to_arrow_schema(_parse_datatype_string(output_schema))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cur_key: tuple | None = None
        state: Any = None
        last: pa.RecordBatch | None = None  # the previous batch's last row
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            starts = np.zeros(n, dtype=bool)
            for c in key_cols:
                col = batch.column(c)
                prev = (last if last is not None else batch).column(c)[:1]
                starts |= _key_changes(col, pa.concat_arrays([prev, col[:-1]]))
            new_first = last is None or starts[0]  # else row 0 goes on cur_key's group
            starts[0], last = True, batch.slice(n - 1)
            bounds = np.flatnonzero(starts)
            heads = zip(*(batch.column(c).take(bounds).to_pylist() for c in key_cols))
            # one pandas frame per batch, sliced per chunk, unless a null
            # would change a column's dtype for every group in the batch
            whole = None if any(map(_null_sets_dtype, batch.columns)) else batch.to_pandas()
            pending: list[tuple] = []
            for s, e, k in zip(bounds, [*bounds[1:], n], heads):
                if s or new_first:
                    if cur_key is not None:
                        pending.extend(fold.finish(cur_key, state))
                    cur_key, state = k, fold.init(k)
                chunk = whole.iloc[s:e] if whole is not None else batch.slice(s, e - s).to_pandas()
                state = fold.step(state, chunk)
            if pending:
                yield _rows_batch(pending, schema)
        if cur_key is not None:
            yield _rows_batch(list(fold.finish(cur_key, state)), schema)

    return df.mapInArrow(run, output_schema)

"""Pandas-free Arrow plumbing for the engine's ``mapInArrow`` kernels.

Every Python kernel a pipeline run executes (decode/segment/centroid,
tracking, the M4 frame loop, the time-series features and the
segmentation-highlight pixels) is a ``mapInArrow`` over numpy, so a
Python worker that runs only those never loads pandas (≈30–40 MB of
RSS per worker on Spark 4.1.2 / pandas 2.2). pyarrow loads pandas the
first time it converts Python or numpy values itself — ``pa.array``,
``pa.scalar``, ``from_pylist`` and ``to_numpy`` all probe pandas'
null sentinels — so the kernels read their inputs with ``to_pylist``
and build their outputs here, from raw buffers.

- :func:`to_arrow` / :func:`record_batch`: Python values or numpy
  arrays → Arrow arrays / one record batch of a given schema.
- :func:`map_groups_in_arrow`: the grouped-map shape (one kernel call
  per key group, rows in a given order) as one ``mapInArrow``. Spark's
  own ``groupBy().applyInArrow`` loads pandas in the worker on 4.1.2,
  ``mapInArrow`` does not.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

_NUMPY_DTYPES = {
    pa.int8(): np.int8,
    pa.int16(): np.int16,
    pa.int32(): np.int32,
    pa.int64(): np.int64,
    pa.float32(): np.float32,
    pa.float64(): np.float64,
}


def _offsets(lengths: list[int]) -> pa.Buffer:
    out = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=out[1:])
    return pa.py_buffer(out)


def to_arrow(values, type: pa.DataType) -> pa.Array:
    """``values`` as an Arrow array of ``type``, built from buffers.

    ``values`` is a numpy array (fixed-width number types only) or a
    list whose ``None`` entries become nulls; an Arrow array is
    returned as it is. Supported types are the ones the kernels emit:
    fixed-width integers and floats, string, binary, list (entries are
    sequences) and struct (entries are dicts keyed by field name)."""
    if isinstance(values, pa.Array):
        return values
    n = len(values)
    valid = None
    if not isinstance(values, np.ndarray):
        present = [v is not None for v in values]
        if not all(present):
            valid = pa.py_buffer(np.packbits(np.array(present, dtype=bool), bitorder="little"))
    if pa.types.is_string(type) or pa.types.is_binary(type):
        items = [
            b"" if v is None else v.encode() if isinstance(v, str) else bytes(v)
            for v in values
        ]
        return pa.Array.from_buffers(
            type, n, [valid, _offsets([len(b) for b in items]), pa.py_buffer(b"".join(items))]
        )
    if pa.types.is_list(type):
        lists = [() if v is None else v for v in values]
        child = to_arrow([x for v in lists for x in v], type.value_type)
        return pa.Array.from_buffers(
            type, n, [valid, _offsets([len(v) for v in lists])], children=[child]
        )
    if pa.types.is_struct(type):
        children = [
            to_arrow([None if v is None else v[f.name] for v in values], f.type)
            for f in type
        ]
        return pa.Array.from_buffers(type, n, [valid], children=children)
    dtype = _NUMPY_DTYPES[type]
    if valid is not None:
        values = [0 if v is None else v for v in values]
    data = np.ascontiguousarray(np.asarray(values, dtype=dtype).reshape(n))
    return pa.Array.from_buffers(type, n, [valid, pa.py_buffer(data)])


def record_batch(columns: Iterable, schema: pa.Schema) -> pa.RecordBatch:
    """One record batch of ``schema`` from its columns, in field order
    (each a list or numpy array for :func:`to_arrow`)."""
    return pa.RecordBatch.from_arrays(
        [to_arrow(c, f.type) for c, f in zip(columns, schema)], schema=schema
    )


def rows_batch(rows: list[tuple], schema: pa.Schema) -> pa.RecordBatch:
    """One record batch of ``schema`` from row tuples in field order."""
    columns = list(zip(*rows)) if rows else [[] for _ in schema]
    return record_batch([list(c) for c in columns], schema)


def map_groups_in_arrow(
    df: DataFrame,
    key: str,
    order: list[str],
    kernel: Callable[[pa.Table], Iterable[tuple]],
    schema: T.StructType,
) -> DataFrame:
    """Call ``kernel`` once per ``key`` group of ``df`` — a
    ``pyarrow.Table`` of the group's rows sorted by ``order`` — and
    return the row tuples it yields (``schema`` field order) as a
    relation of ``schema``.

    One range shuffle and one ``mapInArrow``: ``df`` is
    range-partitioned on ``key`` into as many partitions as the session
    has cores and sorted within each partition by ``key`` then
    ``order``, so a group is a run of consecutive rows. Each Arrow batch
    yields the groups it completes as one output batch; a group that
    runs past the end of a batch is carried into the next one, so the
    kernel always sees a whole group.

    Why the range shuffle: adaptive execution coalesces shuffle
    partitions by bytes, and the grouped kernels are CPU-bound over
    narrow rows (per-timelapse tracking, per-track wavelets), so a
    hash-partitioned group shuffle collapses to one task and every
    group runs serially (the 726-frame feature stage measured 19 s on
    32 cores, the same as on 1). A ``repartitionByRange(n)`` is a
    REPARTITION_BY_NUM shuffle, which adaptive execution leaves at
    ``n`` partitions."""
    n = max(2, df.sparkSession.sparkContext.defaultParallelism)
    arranged = df.repartitionByRange(n, key).sortWithinPartitions(key, *order)
    out = to_arrow_schema(schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        open_parts: list[pa.RecordBatch] = []  # rows of the unfinished group
        open_key = None
        for batch in batches:
            keys = batch.column(key).to_pylist()
            if not keys:
                continue
            rows: list[tuple] = []
            if open_parts and keys[0] != open_key:
                rows.extend(kernel(pa.Table.from_batches(open_parts)))
                open_parts = []
            starts = [0] + [i for i in range(1, len(keys)) if keys[i] != keys[i - 1]]
            for s, e in zip(starts, starts[1:]):
                open_parts.append(batch.slice(s, e - s))
                rows.extend(kernel(pa.Table.from_batches(open_parts)))
                open_parts = []
            open_parts.append(batch.slice(starts[-1]))
            open_key = keys[-1]
            if rows:
                yield rows_batch(rows, out)
        if open_parts:
            rows = list(kernel(pa.Table.from_batches(open_parts)))
            if rows:
                yield rows_batch(rows, out)

    return arranged.mapInArrow(run, schema)

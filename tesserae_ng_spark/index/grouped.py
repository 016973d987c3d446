"""Grouped-map without per-group Arrow overhead.

``groupBy(keys).applyInPandas(fn)`` pays one Arrow batch + pandas frame +
schema round-trip PER GROUP. With a web-scale dictionary the build has
10k–10M term groups per shard, and that fixed cost dominates the stage
(measured: the sf0.1 merge spent ~25 of 30 s on group plumbing, not work).

``grouped_arrow_sorted`` instead runs a batch function inside
``mapInArrow`` over hash-partitioned, partition-sorted data: one Arrow
batch carries MANY complete groups, group boundaries are found with
numpy, and a group straddling two Arrow batches is carried over
(partition-sorted data guarantees groups are contiguous and never span
partitions).

This is also exactly the SURVEY §2.11 `salted_repartition_sort` shape: the
explicit repartition+sortWithinPartitions IS the physical exchange the
index build is specified to use.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame


def _arrow_key_codes(tbl, keys: list[str]) -> np.ndarray | tuple:
    """Per-key comparable numpy arrays for an Arrow table (strings via
    C-side dictionary-encode, numerics zero-copy)."""
    import pyarrow as pa

    cols = []
    for k in keys:
        arr = tbl.column(k).combine_chunks()
        if pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type):
            cols.append(
                arr.dictionary_encode().indices.to_numpy(zero_copy_only=False)
            )
        else:
            cols.append(arr.to_numpy(zero_copy_only=False))
    return cols


def grouped_arrow_sorted(
    df: DataFrame,
    keys: list[str],
    batch_fn: Callable,
    schema,
    n_parts: int | None = None,
    sort_extra: tuple = (),
    max_rows: int | None = None,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Arrow-native grouped batch map: hash-partition by ``keys``,
    partition-sort by ``keys + sort_extra``, then ``mapInArrow`` where
    ``batch_fn(pa.Table) -> pa.RecordBatch | None`` receives COMPLETE key
    groups (the trailing, possibly batch-straddling group is carried into
    the next batch). Compared to a pandas grouped map this materializes ZERO
    per-row Python objects — binary payload columns stay Arrow buffers
    end-to-end, which is the difference between an encode stage bound by
    object churn and one bound by the actual codec.

    ``max_rows`` re-chunks each complete-groups frame at group boundaries
    before calling batch_fn. Use it when single input rows are WIDE (a
    merge input row carries up to a whole block's postings): a worker's
    one-time heap growth is proportional to the PEAK per-call working
    set, and on VMs with lazily-backed guest memory (memtune.py) the
    first touch of a multi-hundred-MB transient arena costs tens of
    seconds per worker — chunking bounds the peak while leaving
    steady-state reuse intact (a group larger than max_rows still goes
    through whole, correctness over the bound).

    ``partition_cols`` overrides the exchange keys (default: ``keys``).
    Use a COARSER function of the group keys (e.g. the final storage
    bucket, a deterministic function of ``term``) to make this exchange
    double as the sink's partitioning — the caller can then write the
    output without a second shuffle. Every group must map to exactly one
    partition_cols value (a function of a prefix of ``keys``), or groups
    would straddle partitions and be emitted twice."""
    sc = df.sparkSession.sparkContext
    rep = df.repartition(n_parts or sc.defaultParallelism,
                         *(partition_cols or keys))
    rep = rep.sortWithinPartitions(*keys, *sort_extra)
    key_list = list(keys)

    def _call_chunked(t):
        n = t.num_rows
        if max_rows is None or n <= max_rows:
            out = batch_fn(t)
            if out is not None and out.num_rows:
                yield out
            return
        cols = _arrow_key_codes(t, key_list)
        change = np.zeros(n, dtype=bool)
        change[0] = True
        for c in cols:
            change[1:] |= c[1:] != c[:-1]
        gstarts = np.flatnonzero(change)
        pos = 0
        while pos < n:
            # furthest group start ≤ pos + max_rows (always ≥ one group)
            nxt = gstarts[np.searchsorted(gstarts, pos + max_rows, "right") - 1]
            if nxt <= pos:
                nxt_i = np.searchsorted(gstarts, pos, "right")
                nxt = gstarts[nxt_i] if nxt_i < gstarts.size else n
            out = batch_fn(t.slice(pos, nxt - pos))
            if out is not None and out.num_rows:
                yield out
            pos = nxt

    def runner(batches):
        import pyarrow as pa

        carry = None
        for rb in batches:
            t = pa.Table.from_batches([rb])
            if carry is not None:
                t = pa.concat_tables([carry, t])
                carry = None
            n = t.num_rows
            if n == 0:
                continue
            cols = _arrow_key_codes(t, key_list)
            eq_last = np.ones(n, dtype=bool)
            for c in cols:
                eq_last &= c[::-1] == c[-1]
            if eq_last.all():
                carry = t  # whole batch is one group; keep accumulating
                continue
            tail_len = int(eq_last.argmin())
            carry = t.slice(n - tail_len)
            yield from _call_chunked(t.slice(0, n - tail_len))
        if carry is not None and carry.num_rows:
            yield from _call_chunked(carry)

    return rep.mapInArrow(runner, schema)


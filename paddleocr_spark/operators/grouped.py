"""Arrow-native grouped kernels: repartition + sortWithinPartitions +
``mapInArrow`` with batch-boundary carry.

``groupBy().applyInPandas`` pays a per-GROUP toll twice — the JVM slices one
Arrow batch per group, and Python constructs one pandas DataFrame per group
(~300-500 µs/group measured in PERF.md's flagship history). Fine at gate SF;
ruinous when 10^12 docs mean millions of tiny (doc, class) groups. This
module is the flagship's antidote (pipeline.order_and_assemble) extracted
for the NMS/eval family: hash-partition by the group key (explicit
repartition — exempt from AQE byte-based coalescing), sort within
partitions so groups arrive contiguous, then stream WHOLE Arrow batches
into Python where group boundaries are found vectorized and each kernel
call slices numpy VIEWS — zero per-group Arrow round-trips, zero per-group
pandas frames.

The per-group kernels themselves (hard_nms, nms_locality,
det_match_counts) are unchanged — output is bit-identical to the
applyInPandas form (pinned by the committed fixtures + pytest
differentials).
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
from pyspark.sql import DataFrame

from ..batches import carry_groups


def group_starts(*code_arrays: np.ndarray) -> np.ndarray:
    """Start indices of each contiguous group in already-sorted code
    arrays (one per key column). Vectorized; returns array of starts
    (first element 0) for a non-empty input."""
    n = len(code_arrays[0])
    change = np.zeros(n, dtype=bool)
    change[0] = True
    for arr in code_arrays:
        change[1:] |= arr[1:] != arr[:-1]
    return np.flatnonzero(change)


def grouped_map_arrow(df: DataFrame, keys: list[str], sort_cols: list[str],
                      emit: Callable, schema: str,
                      num_partitions: int | None = None) -> DataFrame:
    """Run ``emit(pa.Table) -> pa.RecordBatch`` over whole-group tables.

    Rows are hash-partitioned by ``keys`` and sorted by ``keys +
    sort_cols`` within each partition, so every group is contiguous; the
    trailing (possibly incomplete) group of each Arrow batch is carried
    into the next batch before ``emit`` sees it. ``emit`` receives a table
    containing only complete groups, in deterministic within-partition
    order — output is therefore invariant to partition count and input
    row order (same contract as pipeline._assemble_arrow).
    """
    if num_partitions is None:
        sc = df.sparkSession.sparkContext
        num_partitions = sc.defaultParallelism * 2

    def run(it: Iterator) -> Iterator:
        for out in carry_groups(
                it, keys, lambda t: emit(t.combine_chunks())):
            if out is not None and out.num_rows:
                yield out

    ordered = (df.repartition(num_partitions, *keys)
               .sortWithinPartitions(*keys, *sort_cols))
    return ordered.mapInArrow(run, schema=schema)


def string_codes(col) -> np.ndarray:
    """Dictionary codes for an Arrow string column — group-boundary
    comparisons on int codes instead of Python strings."""
    import pyarrow.compute as pc
    return pc.dictionary_encode(col).combine_chunks().indices.to_numpy(
        zero_copy_only=False)

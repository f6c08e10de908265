"""Streaming sorted Arrow batches as whole groups.

Shared by the flagship ``mapInArrow`` kernel (pipeline._assemble_arrow) and
the grouped-kernel family (operators.grouped). It imports only NumPy at
module level, so a Python worker that loads the flagship does not also
load the operator layer (which pulls in pandas).
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np


def _last_group_start(tbl, keys: list[str]) -> int:
    """Start index of the trailing (possibly batch-spanning) group in a
    sorted Arrow table — the batch-boundary cut point. Vectorized: one
    shifted not-equal per key column instead of a per-row Python scalar
    walk (which cost O(group_size) per batch when one group spanned a
    whole batch). Null keys compare equal to null, like the scalar form."""
    import pyarrow.compute as pc

    n = tbl.num_rows
    if n <= 1:
        return 0
    neq = None
    for k in keys:
        col = tbl.column(k).combine_chunks()
        a, b = col.slice(1), col.slice(0, n - 1)
        d = pc.or_(pc.fill_null(pc.not_equal(a, b), False),
                   pc.xor(pc.is_null(a), pc.is_null(b)))
        neq = d if neq is None else pc.or_(neq, d)
    idx = np.flatnonzero(neq.to_numpy(zero_copy_only=False))
    return int(idx[-1]) + 1 if idx.size else 0


def carry_groups(it: Iterator, keys: list[str],
                 emit: Callable) -> Iterator:
    """Stream sorted Arrow batches as ``emit(table)`` calls over complete
    groups: the trailing (possibly incomplete) group of each batch is
    carried into the next one, and the last carry is emitted at the end."""
    import pyarrow as pa

    carry: pa.Table | None = None
    for rb in it:
        tbl = pa.Table.from_batches([rb])
        if carry is not None:
            tbl = pa.concat_tables([carry, tbl]).combine_chunks()
        if tbl.num_rows == 0:
            continue
        cut = _last_group_start(tbl, keys)
        carry = tbl.slice(cut)
        if cut > 0:
            yield emit(tbl.slice(0, cut))
    if carry is not None and carry.num_rows:
        yield emit(carry)

"""One Python seam for per-group kernels: many groups per Arrow batch.

``groupBy(...).applyInPandas`` hands Python one group per invocation,
so a kernel over a 15-box page pays the full Arrow-group and call
overhead once per page — on small groups that overhead, not the
kernel, is the cost (cf. "Accelerating Python UDFs in Vectorized
Query Execution", CIDR 2022). ``map_groups`` keeps the one shuffle on
the group keys but replaces the grouped exchange with a
partition-local sort and a single ``mapInPandas``: each Arrow batch
carries as many whole groups as fit, and the kernel sees them all at
once together with their boundaries.
"""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T

# fn(frame, starts) -> frame: ``frame`` holds whole groups only, each
# contiguous and sorted by ``order``; ``starts`` are the row offsets
# where the groups begin, followed by len(frame).
GroupsKernel = Callable[[pd.DataFrame, np.ndarray], pd.DataFrame]


def _key_changes(pdf: pd.DataFrame, keys: Sequence[str]) -> np.ndarray:
    """Row offsets (>= 1) where the key tuple differs from the row
    before. Two NULLs count as equal, as in a Spark grouping key."""
    diff = np.zeros(max(len(pdf) - 1, 0), dtype=bool)
    for k in keys:
        v = pdf[k].to_numpy()
        na = pd.isna(v)
        diff |= (v[1:] != v[:-1]) & ~(na[1:] & na[:-1])
    return np.flatnonzero(diff) + 1


def _same_key(a: pd.DataFrame, b: pd.DataFrame, keys: Sequence[str]) -> bool:
    """Whether the last row of ``a`` and the first row of ``b`` share
    their key tuple."""
    for k in keys:
        x, y = a[k].iat[-1], b[k].iat[0]
        if not ((pd.isna(x) and pd.isna(y)) or x == y):
            return False
    return True


def map_groups(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[str | Column],
    fn: GroupsKernel,
    schema: T.StructType,
) -> DataFrame:
    """Apply ``fn`` to every ``keys`` group of ``df``, rows of a group
    sorted by ``order`` (Spark's default null placement: first for
    ascending, last for descending — the same as a window ORDER BY).

    Plan: one ``repartition(keys)`` exchange, a partition-local sort
    on ``(keys, order)``, one ``mapInPandas``. Group boundaries in an
    Arrow batch are numpy change-points over the key columns. A group
    that reaches the end of a batch may continue in the next one, so
    it is carried: its chunks are collected in a list and concatenated
    once when the group closes (linear in the group's size however
    many batches it spans). No group is ever split or reordered.
    Kernel outputs with no rows are not sent back.
    """
    keys = list(keys)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def call(frame: pd.DataFrame, starts: np.ndarray):
            out = fn(frame.reset_index(drop=True), starts)
            if len(out):
                yield out

        def flush(chunks: list[pd.DataFrame]):
            group = chunks[0] if len(chunks) == 1 else pd.concat(
                chunks, ignore_index=True)
            yield from call(group, np.array([0, len(group)]))

        carry: list[pd.DataFrame] = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if carry and not _same_key(carry[-1], pdf, keys):
                yield from flush(carry)
                carry = []
            starts = _key_changes(pdf, keys)
            if len(starts) == 0:  # the whole batch is one group
                carry.append(pdf)
                continue
            lo = 0
            if carry:  # the first group closes the carried one
                carry.append(pdf.iloc[: starts[0]])
                yield from flush(carry)
                lo, starts = starts[0], starts[1:]
            tail = starts[-1] if len(starts) else lo
            if tail > lo:
                body = np.concatenate(([lo], starts[:-1], [tail])) - lo
                yield from call(pdf.iloc[lo:tail], body)
            carry = [pdf.iloc[tail:]]
        if carry:
            yield from flush(carry)

    part = df.repartition(*keys).sortWithinPartitions(*keys, *order)
    return part.mapInPandas(run, schema)

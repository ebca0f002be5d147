"""Stateful streaming fold — the streaming face of DocETL's incremental
reduce-with-scratchpad (docetl/operations/reduce.py:631-699: a group is
processed in ordered batches, carrying ``updated_scratchpad`` forward).

In Structured Streaming the scratchpad becomes per-key state in
``applyInPandasWithState``: each microbatch delivers a key's new rows to
``fold_fn(state, rows)``, which returns the updated scratchpad; the fold
emits one row per key per microbatch with the current folded values
(changelog-style output, suitable for a downstream merge-apply sink).

Rows are sorted by ``order_col`` within each microbatch delivery, so a
non-commutative fold stays deterministic as long as the source delivers
in order per key (a WAL/binlog does). The scratchpad must be a
dict[str, scalar] matching ``state_schema``.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

FoldFn = Callable[[dict, pd.DataFrame], dict]


def stateful_fold(
    changes: DataFrame,
    group_keys: list[str],
    fold_fn: FoldFn,
    state_schema: T.StructType | str,
    order_col: str = "lsn",
    init_state: dict | None = None,
) -> DataFrame:
    """Fold a streaming DataFrame per key with carried scratchpad state:
    the reference's ordered reduce fold with ``updated_scratchpad``
    (reduce.py:631-699), one microbatch at a time.

    Output schema: group keys + the state fields. Works on a streaming
    ``changes`` frame; each trigger emits the post-fold state for every
    key that received rows.
    """
    state_struct = (
        state_schema if isinstance(state_schema, T.StructType) else T.StructType.fromDDL(state_schema)
    )
    key_fields = [changes.schema[k] for k in group_keys]
    out_schema = T.StructType(key_fields + list(state_struct.fields))
    init = dict(init_state or {})
    state_names = [f.name for f in state_struct.fields]

    def fold(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        scratch = dict(zip(state_names, state.get)) if state.exists else dict(init)
        for pdf in pdfs:
            pdf = pdf.sort_values(order_col, kind="mergesort")
            scratch = fold_fn(scratch, pdf)
        state.update(tuple(scratch.get(n) for n in state_names))
        row = {k: v for k, v in zip(group_keys, key)}
        row.update({n: scratch.get(n) for n in state_names})
        yield pd.DataFrame([row])

    return changes.groupBy(*group_keys).applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_struct,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

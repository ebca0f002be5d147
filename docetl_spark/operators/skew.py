"""Explicit skew handling for hot keys (north rule).

Spark's hash aggregation already does map-side partial combine, and AQE
splits skewed JOIN partitions — but two shapes still hot-spot on a
1000-executor cluster:

1. grouped-apply (``applyInPandas``) aggregations, which shuffle *all* rows
   of a group to one task (no partial combine possible for arbitrary
   Python folds);
2. non-associative folds where a single hot repo holds a large fraction of
   the batch.

``salted_agg`` is the two-level treeAggregate shape for ASSOCIATIVE folds:
group by (key, salt) -> partial fold -> group by key -> merge fold. The
salt fan-out bounds any single task at ~|group|/salts rows. This is also
exactly the reference's parallel fold+merge reduce strategy
(docetl/operations/reduce.py:466-629, gated on ``associative: true``).
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SALT_COL = "_salt"


def with_salt(df: DataFrame, salts: int, cols: list[str] | None = None) -> DataFrame:
    """Deterministic salt in [0, salts): hash of all (or given) columns —
    not rand(), so retried tasks re-produce identical salts."""
    cols = cols or df.columns
    return df.withColumn(SALT_COL, F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(salts)).cast("int"))


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    partial_fn: Callable[[pd.DataFrame], pd.DataFrame],
    merge_fn: Callable[[pd.DataFrame], pd.DataFrame],
    output_schema: T.StructType | str,
    salts: int = 32,
) -> DataFrame:
    """Two-level salted grouped aggregation for associative folds.

    ``partial_fn``: one pandas group (key+salt slice) -> one-row pd.DataFrame
    of intermediate state, schema == ``output_schema`` (closed under merge).
    ``merge_fn``: all partials of a key -> one final row, same schema.
    Both receive the group INCLUDING its key columns and must emit them.
    """
    salted = with_salt(df, salts)

    def run_partial(pdf: pd.DataFrame) -> pd.DataFrame:
        return partial_fn(pdf.drop(columns=[SALT_COL]))

    partials = salted.groupBy(*key_cols, SALT_COL).applyInPandas(run_partial, schema=output_schema)
    return partials.groupBy(*key_cols).applyInPandas(lambda pdf: merge_fn(pdf), schema=output_schema)

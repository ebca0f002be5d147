"""``lakefeed`` — the change data feed as a registered Spark data source.

Built on the PySpark 4 Python Data Source API, this makes a lake table a
first-class STREAMING source (the Delta streaming-source analogue):

    from docetl_spark.streaming import register_lakefeed
    register_lakefeed(spark)
    feed = (spark.readStream.format("lakefeed")
            .option("path", table.path)
            .option("startingVersion", 1)   # default: full history
            .load())
    # feed -> watermark/window aggregations, foreachBatch merge_apply, ...

and a batch source for SQL-surface range reads:

    spark.read.format("lakefeed").option("path", p)
         .option("sinceVersion", 3).option("toVersion", 7).load()

Semantics are identical to ``cdc.changes.read_changes`` — both run the
same ``plan_changes`` planner, so MOR delta files serve the feed, CoW
merges need the ``merge_apply(changelog=True)`` sidecar, and
state-preserving rewrites contribute nothing.

Streaming mechanics (exactly-once): the offset IS the table version —
``latestOffset`` re-reads the (one small JSON) current version per
trigger; ``partitions(start, end)`` plans one InputPartition per data
file of the committed range, so a microbatch scales out to one task per
file; ``read`` runs on executors, reading its single parquet file with
pyarrow and aligning it to the query schema (Arrow-native: missing
columns become typed nulls, widened numerics cast, the tombstone flag
becomes ``_change_type``). Offsets live in the streaming checkpoint, and
because snapshots are immutable the same offset range always replans the
same files — a restarted query resumes precisely. The schema is fixed at
query start (restart the stream to pick up in-flight column evolution —
the Delta contract).

The north-rule loop this closes: lake tables are now sources AND sinks
for Structured Streaming, so engines chain —
``readStream(lakefeed) -> transform -> stream_changes(foreachBatch
merge_apply)`` is streaming lake-to-lake replication with both fences.

Deployment note (spark-submit): the STREAMING planner runs in a separate
Python worker that does not inherit ``--py-files`` — ship the package on
``PYTHONPATH`` too (``PYTHONPATH=docetl_spark.zip spark-submit
--py-files docetl_spark.zip job.py``; zipimport handles the rest). The
batch reader and everything else work with ``--py-files`` alone.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceReader, DataSourceStreamReader, InputPartition

from docetl_spark.cdc.changes import (
    CHANGE_TYPE_COL,
    COMMIT_TS_COL,
    COMMIT_VERSION_COL,
    feed_schema,
    plan_changes,
)
from docetl_spark.cdc.merge import DELETED_COL
from docetl_spark.lake.table import LakeTable, stats_may_intersect

FORMAT_NAME = "lakefeed"


@dataclass
class _FilePartition(InputPartition):
    """One parquet file of one committed change slice. Carries everything
    ``read`` needs so executors never touch table metadata. Deliberately
    schema-free: ``read`` aligns each file straight to the QUERY schema
    (missing columns -> typed nulls, numerics cast), so per-slice schemas
    would only bloat the per-partition pickle — at scale that is one
    schema JSON times thousands of files per microbatch."""

    path: str  # absolute file path
    version: int
    timestamp_ms: int


def _read_file_partition(part: _FilePartition, query_schema: T.StructType):
    """Executor-side: one file -> aligned Arrow batches. Stateless.
    Streams ROW GROUPS (never the whole file in memory — delta files can
    be large after compaction-free ingest runs) and builds the constant
    system columns as O(1)-allocation repeats, not Python lists."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(query_schema)
    pf = pq.ParquetFile(part.path)
    has_deleted = DELETED_COL in pf.schema_arrow.names
    # parquet column pruning (ADVICE r5): read only the columns the query
    # schema asks for (plus the tombstone flag that _change_type derives
    # from) — a narrow pushed projection over a wide table now skips the
    # other columns' I/O and decode, not just their memory
    wanted = {f.name for f in target} | {DELETED_COL}
    cols_to_read = [c for c in pf.schema_arrow.names if c in wanted]
    for rb in pf.iter_batches(columns=cols_to_read):
        tbl = pa.Table.from_batches([rb])
        n = tbl.num_rows
        if has_deleted:
            deleted = pc.fill_null(tbl[DELETED_COL].combine_chunks().cast(pa.bool_()), False)
            change_type = pc.if_else(deleted, pa.scalar("delete"), pa.scalar("upsert"))
        else:
            change_type = pa.repeat(pa.scalar("upsert"), n)
        consts = {
            CHANGE_TYPE_COL: change_type,
            COMMIT_VERSION_COL: pa.repeat(pa.scalar(part.version, pa.int64()), n),
            COMMIT_TS_COL: pa.repeat(pa.scalar(part.timestamp_ms, pa.int64()), n),
        }
        cols = []
        for f in target:
            if f.name in consts:
                cols.append(consts[f.name].cast(f.type))
            elif f.name in tbl.column_names:
                cols.append(tbl[f.name].cast(f.type))
            else:
                cols.append(pa.nulls(n, f.type))  # column added after this file
        yield from pa.table(cols, schema=target).to_batches()


def _plan_file_partitions(path: str, since: int, to: int,
                          col_bounds: dict | None = None) -> list[_FilePartition]:
    """``col_bounds`` ({col: (lo, hi)}, either bound None) prunes files
    whose recorded stats cannot intersect (``stats_may_intersect``, the
    single shared skip predicate) — sound here without the MOR
    lower-bound caveat because the feed serves RAW per-commit rows and
    the pushed predicates are re-applied row-level by Spark."""
    table = LakeTable(path)
    parts: list[_FilePartition] = []
    for sl in plan_changes(table, since, to):
        for f in sl.files:
            if col_bounds and not stats_may_intersect(
                sl.file_stats.get(f), col_bounds
            ):
                continue
            parts.append(
                _FilePartition(
                    path=os.path.join(path, f),
                    version=sl.version,
                    timestamp_ms=sl.timestamp_ms,
                )
            )
    return parts


class LakeFeedStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict, schema: T.StructType):
        self._path = options["path"]
        self._starting = int(options.get("startingVersion", 1))
        self._schema = schema

    def initialOffset(self) -> dict:
        return {"version": self._starting}

    def latestOffset(self) -> dict:
        return {"version": LakeTable(self._path).current_version()}

    def partitions(self, start: dict, end: dict):
        if start["version"] >= end["version"]:
            return []
        return _plan_file_partitions(self._path, start["version"], end["version"])

    def read(self, partition: _FilePartition):
        return _read_file_partition(partition, self._schema)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the streaming checkpoint; snapshots are immutable


class LakeFeedBatchReader(DataSourceReader):
    """Batch reader with Catalyst filter pushdown: range/equality
    predicates on ``_commit_version`` narrow the version walk, and
    predicates on stats-tracked columns (e.g. ``lsn``) skip files via the
    snapshot's per-file bounds. EVERY filter is also returned as
    residual, so Spark re-applies it row-level — pruning is purely a scan
    reduction, never a semantics change. Spark refuses a reader that
    implements ``pushFilters`` while
    ``spark.sql.python.filterPushdown.enabled`` is off (error
    ``DATA_SOURCE_PUSHDOWN_DISABLED``, naming the setting); the engine's
    ``get_spark`` turns it on.

    Options come in Spark's case-insensitive dict, so one spelling of
    each name is looked up."""

    def __init__(self, options: dict, schema: T.StructType):
        self._path = options["path"]
        table = LakeTable(self._path)
        self._since = int(options.get("sinceVersion", 1))
        to = options.get("toVersion")
        self._to = int(to) if to is not None else table.current_version()
        self._schema = schema
        self._col_bounds: dict = {}

    def partitions(self):
        since, to = self._since, self._to
        vb = self._col_bounds.get(COMMIT_VERSION_COL)
        if vb:  # pushed version predicates narrow the metadata walk itself
            lo, hi = vb
            if lo is not None:
                since = max(since, int(lo) - 1)
            if hi is not None:
                to = min(to, int(hi))
        if since > to:
            return [InputPartition(None)]
        bounds = {c: b for c, b in self._col_bounds.items() if c != COMMIT_VERSION_COL}
        parts = _plan_file_partitions(self._path, since, to, col_bounds=bounds or None)
        # batch reader contract: at least one partition
        return parts or [InputPartition(None)]

    def read(self, partition):
        if not isinstance(partition, _FilePartition):
            return iter(())  # empty range
        return _read_file_partition(partition, self._schema)

    def pushFilters(self, filters):
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            LessThan,
            LessThanOrEqual,
        )

        def tighten(col, lo=None, hi=None):
            cur_lo, cur_hi = self._col_bounds.get(col, (None, None))
            if lo is not None:
                cur_lo = lo if cur_lo is None else max(cur_lo, lo)
            if hi is not None:
                cur_hi = hi if cur_hi is None else min(cur_hi, hi)
            self._col_bounds[col] = (cur_lo, cur_hi)

        # eager (not a generator): bounds must exist before partitions()
        for f in filters:
            attr = getattr(f, "attribute", None)
            if not attr or len(attr) != 1:
                continue
            col = attr[0]
            # strictness is deliberately relaxed to >=/<= for pruning —
            # keeping a boundary file is sound, Spark filters its rows
            if isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                tighten(col, lo=f.value)
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                tighten(col, hi=f.value)
            elif isinstance(f, EqualTo):
                tighten(col, lo=f.value, hi=f.value)
            elif isinstance(f, In) and f.value:
                try:
                    tighten(col, lo=min(f.value), hi=max(f.value))
                except TypeError:
                    pass  # mixed/unorderable values: no pruning
        return list(filters)  # ALL residual: Spark always re-evaluates


class LakeFeedDataSource(DataSource):
    """See module docstring. Options: ``path`` (table root, required);
    streaming: ``startingVersion`` (default 1 = full history); batch:
    ``sinceVersion`` / ``toVersion`` (read_changes bounds)."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> T.StructType:
        snap = LakeTable(self.options["path"]).snapshot()
        return feed_schema(snap.schema)

    def streamReader(self, schema: T.StructType) -> LakeFeedStreamReader:
        return LakeFeedStreamReader(self.options, schema)

    def reader(self, schema: T.StructType) -> LakeFeedBatchReader:
        return LakeFeedBatchReader(self.options, schema)


def register_lakefeed(spark: SparkSession) -> None:
    """Register the ``lakefeed`` format on this session (idempotent)."""
    spark.dataSource.register(LakeFeedDataSource)

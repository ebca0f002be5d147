"""Change data feed: incremental, row-level reads of a lake table.

``read_changes(table, since_version)`` returns every row-level change
committed after a known snapshot — the Delta CDF / Iceberg
incremental-read analogue, built on this repo's snapshot metadata. It
turns a lake table from a CDC *sink* into a CDC *source*, closing the
medallion loop: downstream tables (replicas, rollups, silver layers) are
maintained from the feed instead of re-scanning the source, and
``replicate`` composes the feed with ``replay_events`` into exactly-once
lake-to-lake replication where the destination's commit fence doubles as
the resume cursor.

How each commit kind contributes changes
-----------------------------------------
* **Append commits** (MOR merges, index appends — no previously-live file
  disappears): the files *added* by the commit ARE the change rows. A
  MOR merge's delta files are exactly the batch's LWW winners with the
  tombstone flag set on deletes, so the feed costs one column-pruned read
  of O(changes) bytes — no diffing, no shuffle.
* **Copy-on-write merges** rewrite whole buckets, mixing carried-forward
  survivors with new winners, so the added files alone cannot yield
  row-level changes. ``merge_apply(..., changelog=True)`` therefore
  persists the winner frame as a per-commit sidecar (O(batch) extra
  write; the sidecar is then *reused* as the winners source for the
  bucket write, so the winner plan still executes once). A CoW commit
  without a sidecar makes ``read_changes`` fail with guidance rather
  than guess.
* **State-preserving rewrites** — compaction, rebucket, the long->double
  widen-rewrite, index prune/reindex — change files but not logical rows:
  skipped, exactly like Iceberg incremental reads skip REPLACE snapshots.

Read shape: the whole range is ONE parquet scan per distinct read schema,
never a union of per-commit scans. Files the parquet reader can upcast
(additive columns, int->long, float->double, ...) all read through the
end schema in one scan; only slices it cannot upcast (long-typed deltas
from before a long->double widen-rewrite, see
``_unsupported_upcast_paths``) get a scan of their own, cast by
``_align``. Each row's ``_commit_version`` / ``_commit_timestamp_ms``
comes from a file -> commit lookup on ``_metadata.file_name``, built
from ``plan_changes``. Driver planning therefore costs a constant number
of py4j round trips however many commits the range spans.

Feed semantics: per-COMMIT deltas, not net-of-range. In MOR mode a
commit's winners may still lose to an already-stored higher LSN at read
time; the feed therefore carries ``lsn`` and consumers resolve LWW
exactly like ``read_state`` does (``dedup_last_writer`` for a net view,
or ``replicate`` / ``replay_events`` which apply the same merge rules).
This is the natural CDC composition — the feed is itself a valid change
stream.

Retention: reading changes after ``since_version`` needs that version's
metadata (and, for MOR commits, the delta files referenced by the range)
to still exist — size ``vacuum(keep_versions=...)`` to the consumer lag,
the same retention contract Delta CDF documents. ``vacuum`` keeps
changelog sidecars of retained snapshots alive.

Reference analogue: the reference engine re-runs pipelines from JSON
checkpoints and has no incremental source face
(docetl/runner.py:546-663); this module is the lake-native replacement.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docetl_spark.cdc.merge import (
    DELETED_COL,
    FENCE_PROP,
    MergeMetrics,
    _align,
    _unsupported_upcast_paths,
)
from docetl_spark.lake.table import LakeTable
from docetl_spark.schema import sql_str

CHANGE_TYPE_COL = "_change_type"  # 'upsert' | 'delete'
COMMIT_VERSION_COL = "_commit_version"
COMMIT_TS_COL = "_commit_timestamp_ms"

# Rewrite operations that reorganize files without changing logical rows.
# (compact folds MOR deltas but the LWW-resolved state is unchanged;
# prune/reindex rebuild derived index tables from their source of truth.)
_STATE_PRESERVING_REWRITES = {"compact", "rebucket", "widen-rewrite", "prune", "reindex"}


@dataclass
class ChangeSlice:
    """One commit's contribution to the feed: which files to read and
    under which (that version's) schema. Produced driver-side from
    metadata only; consumed by ``read_changes`` and the ``lakefeed``
    source's partition planner. ``file_stats`` carries the snapshot's
    per-file column bounds for the slice's files (empty for changelog
    sidecars and stats-less tables) so pushed range predicates can skip
    files at plan time."""

    version: int
    timestamp_ms: int
    schema: T.StructType
    files: list[str]  # paths relative to the table root
    file_stats: dict = field(default_factory=dict)


def plan_changes(table: LakeTable, since_version: int, to_version: int) -> list[ChangeSlice]:
    """Metadata-only planning of the change range (see ``read_changes``
    for the per-commit-kind rules). Raises on an opaque rewrite."""
    if since_version > to_version:
        raise ValueError(f"since_version {since_version} is after to_version {to_version}")
    out: list[ChangeSlice] = []
    prev_files = set(table.snapshot(since_version).all_files)
    for v in range(since_version + 1, to_version + 1):
        snap = table.snapshot(v)
        cur_files = set(snap.all_files)
        added = sorted(cur_files - prev_files)
        removed = prev_files - cur_files
        prev_files = cur_files
        chlog = snap.summary.get("changelog")
        if chlog is not None:
            if not chlog:  # e.g. a CoW batch whose every key lost LWW
                continue
            files = list(chlog)
        elif removed:
            op = snap.summary.get("operation")
            if op in _STATE_PRESERVING_REWRITES:
                continue
            raise ValueError(
                f"version {v} ({op or 'unknown'}) rewrote data files without a "
                "changelog sidecar; copy-on-write merges are change-readable only "
                "when written with merge_apply(..., changelog=True) — or run the "
                "table in MOR mode, whose delta files are the changelog"
            )
        elif not added:
            continue  # fence-only / metadata-only commit
        else:
            files = added
        out.append(ChangeSlice(
            version=v, timestamp_ms=snap.timestamp_ms, schema=snap.schema, files=files,
            file_stats={f: snap.file_stats[f] for f in files if f in snap.file_stats},
        ))
    return out


def feed_schema(table_schema: T.StructType) -> T.StructType:
    """The change feed's schema over a table schema: the table's columns,
    then the three non-null system columns. Both ``read_changes`` and
    the ``lakefeed`` source return it."""
    return T.StructType(
        list(table_schema.fields)
        + [
            T.StructField(CHANGE_TYPE_COL, T.StringType(), False),
            T.StructField(COMMIT_VERSION_COL, T.LongType(), False),
            T.StructField(COMMIT_TS_COL, T.LongType(), False),
        ]
    )


def read_changes(
    spark: SparkSession,
    table: LakeTable,
    since_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level changes committed AFTER ``since_version``, up to and
    including ``to_version`` (default: current version).

    Returns ``feed_schema`` of ``to_version``'s schema: the table columns
    (in-range evolution reads back consistently — columns added later
    come back null for earlier commits) plus three system columns:
    ``_change_type`` ('upsert'/'delete' from the tombstone flag),
    ``_commit_version`` and ``_commit_timestamp_ms``.

    Scale shape: one metadata read per version in the range (driver-side,
    tiny JSON), then ONE parquet scan per distinct read schema over
    exactly the files the range's commits added (or their changelog
    sidecars) — O(changes), never O(table), and nothing shuffles. The
    common case is a single scan through the end schema, which the parquet
    reader upcasts older files through (as ``LakeTable.read`` does); only
    slices the reader cannot upcast (``_unsupported_upcast_paths``, e.g.
    long-typed deltas from before a long->double widen-rewrite) get their
    own scan, cast by ``_align``. Each row's commit columns come from a
    file -> commit lookup on ``_metadata.file_name``, so planning costs a
    constant number of driver round trips whatever the range length.
    Filters on data columns push into the scans; the commit columns are
    per-row lookups, so bound a range by ``since_version`` /
    ``to_version``, not by filtering them.
    """
    end = to_version if to_version is not None else table.current_version()
    end_schema = table.snapshot(end).schema
    out_schema = feed_schema(end_schema)
    groups: dict[str, tuple[T.StructType, list[ChangeSlice]]] = {}
    for sl in plan_changes(table, since_version, end):
        read_schema = sl.schema if _unsupported_upcast_paths(sl.schema, end_schema) else end_schema
        groups.setdefault(read_schema.json(), (read_schema, []))[1].append(sl)
    if not groups:
        return spark.createDataFrame([], out_schema)
    parts = [
        _align(_scan_slices(spark, table, read_schema, slices), out_schema)
        for read_schema, slices in groups.values()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _scan_slices(
    spark: SparkSession, table: LakeTable, read_schema: T.StructType, slices: list[ChangeSlice]
) -> DataFrame:
    """One parquet scan over every file of ``slices`` through
    ``read_schema``, plus the three system columns. The commit columns are
    looked up per row from the file it was read from: parallel literal
    arrays of file basename / version / timestamp, indexed by
    ``array_position`` of ``_metadata.file_name``. The column comes from
    ``metadataColumn`` so a data column named ``_metadata`` cannot shadow
    it. A file missing from the lookup makes ``element_at`` raise on index
    0 instead of returning a wrong commit; under ANSI mode (the Spark 4
    default) that failure contract is also what keeps both columns
    non-null, as ``feed_schema`` declares them."""
    version_of: dict[str, ChangeSlice] = {}
    for sl in slices:
        for f in sl.files:
            prev = version_of.setdefault(os.path.basename(f), sl)
            if prev.version != sl.version:
                raise ValueError(
                    f"change feed: file name {os.path.basename(f)!r} was added by both "
                    f"version {prev.version} and version {sl.version}; the file -> commit "
                    "lookup cannot attribute its rows"
                )
    names = list(version_of)
    scan = table.scan(spark, read_schema, [f for sl in slices for f in sl.files])
    pos = F.array_position(
        F.expr(_sql_array([sql_str(n) for n in names])),
        scan.metadataColumn("_metadata").getField("file_name"),
    ).cast("int")

    def lookup(values: list[int]):
        return F.element_at(F.expr(_sql_array([f"{v}L" for v in values])), pos)

    is_delete = (
        F.coalesce(F.col(DELETED_COL), F.lit(False))
        if DELETED_COL in read_schema.fieldNames()
        else F.lit(False)
    )
    return scan.withColumns({
        CHANGE_TYPE_COL: F.when(is_delete, "delete").otherwise("upsert"),
        COMMIT_VERSION_COL: lookup([version_of[n].version for n in names]),
        COMMIT_TS_COL: lookup([version_of[n].timestamp_ms for n in names]),
    })


def _sql_array(items: list[str]) -> str:
    return f"array({', '.join(items)})"


def changes_as_batch(feed: DataFrame) -> DataFrame:
    """Reshape a change feed into the ``merge_apply``/``replay_events``
    input contract: ``op`` in {U, D} from the change type, ``batch_id``
    from the source commit version (so one source commit replays as one
    fenced destination commit and the destination fence IS the resume
    cursor), ``lsn`` carried through so LWW composes end-to-end."""
    cols = [
        c
        for c in feed.columns
        if c not in (CHANGE_TYPE_COL, COMMIT_VERSION_COL, COMMIT_TS_COL, DELETED_COL, "lsn")
    ]
    return feed.select(
        F.col("lsn"),
        F.col(COMMIT_VERSION_COL).alias("batch_id"),
        F.when(F.col(CHANGE_TYPE_COL) == "delete", "D").otherwise("U").alias("op"),
        *[F.col(c) for c in cols],
    )


def replicate(
    spark: SparkSession,
    source: LakeTable,
    dest: LakeTable,
    to_version: int | None = None,
    mode: str = "cow",
    **replay_kwargs,
) -> list[MergeMetrics]:
    """Exactly-once lake-to-lake replication: apply the source table's
    change feed to ``dest`` via the standard merge path.

    The destination's commit fence stores the last source VERSION applied
    (``changes_as_batch`` maps commit version -> batch_id), so calling
    ``replicate`` again — after a crash, on a schedule, per source commit
    — resumes precisely: already-applied source commits are skipped by
    the fence, never re-read. Because the feed carries LSNs, out-of-order
    or duplicate delivery composes safely with the destination's own LWW.

    O(changes since last call) per invocation; the destination evolves
    its schema in-flight exactly as if it ingested the original stream.
    """
    last = int(dest.snapshot().properties.get(FENCE_PROP, "-1"))
    since = max(last, 1)  # version 1 = source create (empty)
    end = to_version if to_version is not None else source.current_version()
    if since >= end:
        return []
    feed = read_changes(spark, source, since, end)
    from docetl_spark.cdc.replay import replay_events

    return replay_events(
        spark, dest, changes_as_batch(feed), mode=mode, **replay_kwargs
    )

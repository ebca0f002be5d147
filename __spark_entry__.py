"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: replay the sf0.001 events table as a CDC
change stream through the lake-table merge-apply engine and return the
final upserted state.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2 (plus the training-data toolkit), each checked against a
DuckDB oracle on the same parquet tables. Aggregate/computed columns are
aliased identically on both sides; floats are rounded on both sides so the
driver's value-hash comparison is stable across engines.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from docetl_spark.sources.parquet import read_parquet

    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# flagship: CDC merge-apply replay over the events table
# ---------------------------------------------------------------------------

def _events_as_changes(events: DataFrame, batch_size: int = 25_000) -> DataFrame:
    """Shape the events table as a binlog: lsn=event_id, key=user_id,
    op=D when event_type='error' (an 'account wipe'), else upsert."""
    return events.select(
        F.col("event_id").alias("lsn"),
        (F.col("event_id") / batch_size).cast("long").alias("batch_id"),
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        F.col("user_id").cast("string").alias("user_id"),
        F.col("event_type"),
        F.col("value"),
        F.col("props"),
    )


def q_cdc_merge_lww(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docetl_spark.cdc import create_cdc_table, read_state, replay_events

    events = _t(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="cdc_lww_")
    shutil.rmtree(path, ignore_errors=True)
    table = create_cdc_table(path, ["user_id"], num_buckets=16)
    # micro-batch policy: the sf0.1 stream splits into ~48 tiny batches
    # whose per-commit serial floor dominates; coalescing contiguous
    # groups of 4 is the documented knob (LWW is associative across
    # batches, so the oracle-checked final state is identical)
    replay_events(spark, table, _events_as_changes(events), coalesce_batches=4)
    state = read_state(spark, table)
    return state.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("lsn").alias("last_lsn"),
        F.col("event_type").alias("last_event_type"),
        F.round(F.col("value"), 2).alias("last_value"),
        F.col("props").alias("last_props"),
    )


def q_cdc_merge_lww_ungrouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-batch (ungrouped) replay of the same change stream — the
    r1-r3 board configuration, kept so round-over-round replay timings
    stay like-for-like while the headline ``cdc_merge_lww`` runs the
    documented ``coalesce_batches=4`` production knob (ADVICE r4: don't
    conflate engine and configuration changes across rounds). LWW is
    associative across batches, so both commit granularities are checked
    against the SAME oracle."""
    from docetl_spark.cdc import create_cdc_table, read_state, replay_events

    events = _t(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="cdc_lww_ug_")
    shutil.rmtree(path, ignore_errors=True)
    table = create_cdc_table(path, ["user_id"], num_buckets=16)
    replay_events(spark, table, _events_as_changes(events))
    state = read_state(spark, table)
    return state.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("lsn").alias("last_lsn"),
        F.col("event_type").alias("last_event_type"),
        F.round(F.col("value"), 2).alias("last_value"),
        F.col("props").alias("last_props"),
    )


ORACLE_CDC = """
SELECT CAST(user_id AS BIGINT) AS user_id,
       event_id AS last_lsn,
       event_type AS last_event_type,
       round(value, 2) AS last_value,
       props AS last_props
FROM (
  SELECT * FROM events
  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
)
WHERE event_type <> 'error'
"""


def _mor_feed_table(spark: SparkSession, sf_dir: str, prefix: str):
    """The events table replayed MOR into a fresh 16-bucket table, one
    commit per 2000-LSN batch: the table the MOR feed and pruned-read
    queries read."""
    from docetl_spark.cdc import create_cdc_table, replay_events

    path = tempfile.mkdtemp(prefix=prefix)
    shutil.rmtree(path, ignore_errors=True)
    table = create_cdc_table(path, ["user_id"], num_buckets=16)
    events = _t(spark, sf_dir, "events")
    replay_events(spark, table, _events_as_changes(events, batch_size=2000), mode="mor")
    return table


def q_cdc_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed read of a MOR ingest (``cdc/changes.py``): each
    commit's delta files ARE the feed, so incremental consumers read
    O(changes) bytes — never the table. One commit per 2000-LSN batch;
    the feed's per-commit winners are checked row-for-row against the
    per-batch LWW recomputed closed-form in DuckDB."""
    from docetl_spark.cdc import read_changes

    table = _mor_feed_table(spark, sf_dir, "cdc_feed_")
    feed = read_changes(spark, table, since_version=1)
    vmap = [
        (h["version"], int(h["summary"]["batch_id"]))
        for h in table.history()
        if h["operation"] == "merge"
    ]
    vdf = spark.createDataFrame(vmap, "version long, batch_id long")
    return (
        feed.join(F.broadcast(vdf), feed["_commit_version"] == vdf["version"])
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("lsn"),
            F.col("_change_type").alias("change_type"),
            F.col("batch_id"),
            F.col("event_type"),
            F.round(F.col("value"), 2).alias("value_r"),
            F.col("props"),
        )
    )


ORACLE_CDC_FEED = """
SELECT CAST(user_id AS BIGINT) AS user_id,
       event_id AS lsn,
       CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS change_type,
       CAST(floor(event_id / 2000) AS BIGINT) AS batch_id,
       event_type,
       round(value, 2) AS value_r,
       props
FROM events
QUALIFY row_number() OVER (
  PARTITION BY CAST(floor(event_id / 2000) AS BIGINT), user_id
  ORDER BY event_id DESC) = 1
"""


def q_cdc_feed_net_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer-side net view of a feed slice: changes between the commits
    of batch 1 and batch 3, LWW-collapsed per key with deletes still
    visible — the 'what changed while I was away' query a lagging
    downstream runs before applying."""
    from docetl_spark.cdc import dedup_last_writer, read_changes
    from docetl_spark.cdc.changes import CHANGE_TYPE_COL, COMMIT_TS_COL, COMMIT_VERSION_COL

    table = _mor_feed_table(spark, sf_dir, "cdc_feed_slice_")
    v_by_batch = {
        int(h["summary"]["batch_id"]): h["version"]
        for h in table.history()
        if h["operation"] == "merge"
    }
    # Tiny SFs may not reach batch 3 (sf0.001 ends inside batch 0): the
    # sliced window then holds no commits and the net view is empty —
    # exactly what the frozen oracle computes (its BETWEEN 2 AND 3 filter
    # matches no events). At every SF where batches 1 and 3 exist the
    # path below is byte-identical to before.
    lo, hi = v_by_batch.get(1), v_by_batch.get(3, v_by_batch.get(2))
    if lo is None or hi is None:
        return spark.createDataFrame(
            [], "user_id long, lsn long, change_type string, event_type string"
        )
    feed = read_changes(spark, table, since_version=lo, to_version=hi)
    net = dedup_last_writer(
        feed.drop(COMMIT_VERSION_COL, COMMIT_TS_COL, "_deleted"), ["user_id"]
    )
    return net.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("lsn"),
        F.col(CHANGE_TYPE_COL).alias("change_type"),
        F.col("event_type"),
    )


ORACLE_CDC_FEED_SLICE = """
SELECT CAST(user_id AS BIGINT) AS user_id,
       event_id AS lsn,
       CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS change_type,
       event_type
FROM events
WHERE CAST(floor(event_id / 2000) AS BIGINT) BETWEEN 2 AND 3
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
"""


def q_cdc_replica_from_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lake-to-lake replication: a copy-on-write source written with the
    changelog sidecar, followed by a replica maintained ONLY from
    ``read_changes`` (``replicate``). Two hops (bounded, then unbounded)
    exercise the fence-as-cursor resume; the replica's final state must
    equal the source oracle exactly — the end-to-end proof that the feed
    carries every change once."""
    from docetl_spark.cdc import create_cdc_table, read_state, replay_events, replicate

    events = _t(spark, sf_dir, "events")
    src_path = tempfile.mkdtemp(prefix="cdc_repl_src_")
    dst_path = tempfile.mkdtemp(prefix="cdc_repl_dst_")
    shutil.rmtree(src_path, ignore_errors=True)
    shutil.rmtree(dst_path, ignore_errors=True)
    src = create_cdc_table(src_path, ["user_id"], num_buckets=16)
    replay_events(spark, src, _events_as_changes(events, batch_size=2000), changelog=True)

    dst = create_cdc_table(dst_path, ["user_id"], num_buckets=8)
    replicate(spark, src, dst, to_version=min(3, src.current_version()))  # lagging follower...
    replicate(spark, src, dst)  # ...catches up from its fence
    state = read_state(spark, dst)
    return state.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("lsn").alias("last_lsn"),
        F.col("event_type").alias("last_event_type"),
        F.round(F.col("value"), 2).alias("last_value"),
        F.col("props").alias("last_props"),
    )


def q_cdc_state_since_lsn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-skipping state read (``lake/table.py pruned_files``): 'keys
    whose current version has lsn >= X' on a MOR table scans only files
    whose footer-recorded lsn bounds reach X (here the last of five batches) — lower-bounded pruning
    commutes with read-time LWW (see read_state docstring), so the result
    is exact while old delta files are never opened."""
    from docetl_spark.cdc import read_state

    table = _mor_feed_table(spark, sf_dir, "cdc_since_")
    state = read_state(spark, table, lsn_min=9900)
    return state.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("lsn").alias("last_lsn"),
        F.col("event_type").alias("last_event_type"),
        F.round(F.col("value"), 2).alias("last_value"),
    )


ORACLE_CDC_SINCE = """
SELECT CAST(user_id AS BIGINT) AS user_id,
       event_id AS last_lsn,
       event_type AS last_event_type,
       round(value, 2) AS last_value
FROM (
  SELECT * FROM events
  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
)
WHERE event_type <> 'error' AND event_id >= 9900
"""


def q_cdc_feed_source_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The change feed consumed through the REGISTERED data source
    (``spark.read.format("lakefeed")``, streaming/feed_source.py) with
    Catalyst filter pushdown: the lsn predicate prunes old commits' delta
    files via the snapshot's per-file bounds before any task is
    scheduled, and Spark re-applies it row-level (pruning never changes
    semantics). Same per-batch-winner contract as ``cdc_change_feed``."""
    from docetl_spark.streaming import register_lakefeed

    table = _mor_feed_table(spark, sf_dir, "cdc_feed_src_")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register_lakefeed(spark)
    feed = (
        spark.read.format("lakefeed")
        .option("path", table.path)
        .load()
        .filter(F.col("lsn") >= 4000)
    )
    return feed.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("lsn"),
        F.col("_change_type").alias("change_type"),
        F.col("event_type"),
        F.round(F.col("value"), 2).alias("value_r"),
    )


ORACLE_CDC_FEED_PUSHDOWN = """
SELECT CAST(user_id AS BIGINT) AS user_id,
       event_id AS lsn,
       CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS change_type,
       event_type,
       round(value, 2) AS value_r
FROM events
QUALIFY row_number() OVER (
  PARTITION BY CAST(floor(event_id / 2000) AS BIGINT), user_id
  ORDER BY event_id DESC) = 1
"""
ORACLE_CDC_FEED_PUSHDOWN = (
    "SELECT * FROM (" + ORACLE_CDC_FEED_PUSHDOWN + ") WHERE lsn >= 4000"
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_cdc_merge_lww(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# classic analytics (scan / filter / agg / join / window — pushdown checks)
# ---------------------------------------------------------------------------

def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


ORACLE_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_q3_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docetl_spark.operators import topk

    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1995-03-15")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )
    top = topk(rev, 10, method="score", score_col="revenue", tiebreak_cols=["o_orderkey"], name="t")
    return top.select("o_orderkey", "revenue", F.col("_t_rank").alias("rk"))


ORACLE_Q3 = """
SELECT o_orderkey, revenue, CAST(row_number() OVER (ORDER BY revenue DESC, o_orderkey) AS INT) AS rk
FROM (
  SELECT o_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1995-03-15'
        AND l_shipdate > TIMESTAMP '1995-03-15'
  GROUP BY o_orderkey
) ORDER BY revenue DESC, o_orderkey LIMIT 10
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


ORACLE_NATION = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


def q_top_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.col("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", F.round("value", 2).alias("value"), F.col("rn").cast("int").alias("rn"))
    )


ORACLE_TOP_EVENTS = """
SELECT user_id, event_id, round(value, 2) AS value, CAST(rn AS INT) AS rn
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
  FROM events WHERE user_id < 50
) WHERE rn <= 3
"""


# ---------------------------------------------------------------------------
# reduce family: grouped apply, ordered fold, salted associative merge
# ---------------------------------------------------------------------------

def q_code_reduce_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docetl_spark.operators import code_reduce

    ev = _t(spark, sf_dir, "events")
    out = code_reduce(
        ev.select("event_type", "value"),
        "event_type",
        lambda g: {"total_value": round(float(g["value"].sum()), 3), "n_distinct_values": int(g["value"].nunique())},
        {"total_value": "float", "n_distinct_values": "int"},
        name="agg",
    )
    return out.select(
        "event_type", "total_value", "n_distinct_values", F.col("_counts_prereduce_agg").alias("n_rows")
    )


ORACLE_CODE_REDUCE = """
SELECT event_type, round(sum(value), 3) AS total_value,
       count(DISTINCT value) AS n_distinct_values, count(*) AS n_rows
FROM events GROUP BY event_type
"""


def q_reduce_lineage_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reduce ``output.lineage`` (reference reduce.py:359-368,
    tests/basic/test_basic_reduce_resolve.py:148-166): the reduced row
    carries every group member's key projection. Exploded with position
    so the oracle checks content AND the deterministic (key-sorted)
    order."""
    from docetl_spark.operators import code_reduce

    docs = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 5).alias("grp"), "doc_id", "n_chars"
    )
    out = code_reduce(
        docs, "grp",
        lambda g: {"total_chars": int(g["n_chars"].sum())},
        {"total_chars": "long"},
        name="agg",
        lineage_keys=["doc_id"],
    )
    return out.select(
        "grp", "total_chars", F.posexplode("agg_lineage").alias("pos", "m")
    ).select("grp", "total_chars", "pos", F.col("m.doc_id").alias("member_doc_id"))


ORACLE_REDUCE_LINEAGE = """
WITH g AS (SELECT doc_id % 5 AS grp, doc_id, n_chars FROM documents),
r AS (SELECT grp, CAST(sum(n_chars) AS BIGINT) AS total_chars FROM g GROUP BY grp)
SELECT r.grp, r.total_chars,
       CAST(row_number() OVER (PARTITION BY g.grp ORDER BY g.doc_id) - 1 AS INT) AS pos,
       g.doc_id AS member_doc_id
FROM r JOIN g ON r.grp = g.grp
"""


def q_fold_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docetl_spark.operators import reduce_fold

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 40).select("user_id", F.col("event_id").alias("lsn"), "event_type")

    def fold(state, chunk):
        return {"seq": state.get("seq", "") + "".join(chunk["event_type"])}

    return reduce_fold(ev, "user_id", fold, {"seq": "string"}, order_col="lsn", fold_batch_size=7)


ORACLE_FOLD = """
SELECT user_id, string_agg(event_type, '' ORDER BY event_id) AS seq
FROM events WHERE user_id < 40 GROUP BY user_id
"""


def q_reduce_merge_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docetl_spark.operators import reduce_merge

    ev = _t(spark, sf_dir, "events").select("event_type", "value")

    def partial(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame([{"event_type": pdf["event_type"].iloc[0], "total": float(pdf["value"].sum()), "n": len(pdf)}])

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame([{"event_type": pdf["event_type"].iloc[0], "total": float(pdf["total"].sum()), "n": int(pdf["n"].sum())}])

    out = reduce_merge(ev, "event_type", partial, merge, "event_type string, total double, n long", salts=8)
    return out.select("event_type", F.round("total", 3).alias("total"), "n")


ORACLE_MERGE_SALTED = """
SELECT event_type, round(sum(value), 3) AS total, count(*) AS n
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# joins & entity resolution
# ---------------------------------------------------------------------------

_SEM_SIM_QVEC = [1.0, -0.5, 0.25] + [0.0] * 61  # fixed 64-dim probe direction


def q_value_sample_sem_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reduce value_sampling method=sem_sim (reference reduce.py:430-464):
    per group, the reduce sees only the ``sample_size`` vectors most
    cosine-similar to the query direction. The oracle ranks with DuckDB's
    list_cosine_similarity against the same static literal — raw-float
    ordering parity, same contract shape as knn_cosine_top5."""
    from docetl_spark.operators.reduce_ops import value_sample

    emb = _t(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") % 5).alias("grp"), "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    sampled = value_sample(emb, "grp", method="sem_sim", sample_size=3,
                           embedding_col="embedding", query_vec=_SEM_SIM_QVEC,
                           tiebreak_col="vec_id")
    return sampled.select("grp", "vec_id").orderBy("grp", "vec_id")


_QVEC_SQL = "[" + ", ".join(str(x) for x in _SEM_SIM_QVEC) + "]::DOUBLE[]"

ORACLE_VALUE_SAMPLE_SEM = f"""
SELECT grp, vec_id FROM (
  SELECT vec_id % 5 AS grp, vec_id,
         row_number() OVER (
           PARTITION BY vec_id % 5
           ORDER BY list_cosine_similarity(embedding::DOUBLE[], {_QVEC_SQL}) DESC, vec_id
         ) AS rn
  FROM embeddings
) WHERE rn <= 3
"""


def q_equijoin_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docetl_spark.operators import equijoin

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    out = equijoin(
        orders, cust,
        condition=F.col("o_custkey") == F.col("c_custkey"),
        verify=F.col("o_totalprice") > 400000,
        broadcast_right=True,
    )
    return out.select("o_orderkey", "c_custkey", "c_name", F.round("o_totalprice", 2).alias("o_totalprice"))


ORACLE_EQUIJOIN = """
SELECT o_orderkey, c_custkey, c_name, round(o_totalprice, 2) AS o_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_totalprice > 400000
"""


def q_resolve_majority_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docetl_spark.operators import resolve

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_name")
    out = resolve(cust, blocking_keys=["c_mktsegment"], canonical_cols=["c_name"])
    return out.select("c_custkey", "c_mktsegment", F.col("c_name").alias("canon_name"))


ORACLE_RESOLVE = """
SELECT c.c_custkey, c.c_mktsegment, m.canon_name
FROM customer c JOIN (
  SELECT c_mktsegment, c_name AS canon_name FROM (
    SELECT c_mktsegment, c_name, count(*) AS cnt,
           row_number() OVER (PARTITION BY c_mktsegment ORDER BY count(*) DESC, c_name) AS rn
    FROM customer GROUP BY c_mktsegment, c_name
  ) WHERE rn = 1
) m ON c.c_mktsegment = m.c_mktsegment
"""


# ---------------------------------------------------------------------------
# restructuring: split / gather / unnest / extract
# ---------------------------------------------------------------------------

def q_gather_rendered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docetl_spark.operators import gather, split

    docs = _t(spark, sf_dir, "documents")
    # rows are distinct by doc_id: the single-pass split (r5 opt-in) skips
    # the duplicate-probe job — identical chunks, one fewer corpus pass
    chunks = split(docs, "text", method="delimiter", delimiter=" ", num_splits_to_group=40, name="sp",
                   assume_distinct=True)
    out = gather(
        chunks, "text_chunk", "doc_id", "sp_chunk_num",
        peripheral_chunks={"previous": {"tail": {"count": 1}}, "next": {"head": {"count": 1}}},
    )
    return out.select("doc_id", F.col("sp_chunk_num").alias("chunk_num"), F.col("text_chunk_rendered").alias("rendered"))


ORACLE_GATHER = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
chunks AS (
  SELECT doc_id, CAST(gs AS INT) AS chunk_num,
         array_to_string(toks[(gs-1)*40+1 : gs*40], ' ') AS chunk
  FROM (SELECT doc_id, toks, unnest(range(1, CAST(ceil(len(toks)/40.0) AS BIGINT)+1)) AS gs FROM t)
),
w AS (
  SELECT doc_id, chunk_num, chunk,
         lag(chunk)  OVER win AS prev_chunk,
         lead(chunk) OVER win AS next_chunk,
         sum(length(chunk)) OVER (PARTITION BY doc_id ORDER BY chunk_num
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING) AS skip_before,
         sum(length(chunk)) OVER (PARTITION BY doc_id ORDER BY chunk_num
                                  ROWS BETWEEN 2 FOLLOWING AND UNBOUNDED FOLLOWING) AS skip_after
  FROM chunks WINDOW win AS (PARTITION BY doc_id ORDER BY chunk_num)
)
SELECT doc_id, chunk_num, concat_ws(chr(10),
  CASE WHEN prev_chunk IS NOT NULL THEN '--- Previous Context ---' END,
  CASE WHEN skip_before IS NOT NULL THEN '[... ' || skip_before || ' characters skipped ...]' END,
  prev_chunk,
  CASE WHEN prev_chunk IS NOT NULL THEN '--- End Previous Context ---' END,
  '--- Begin Main Chunk ---', chunk, '--- End Main Chunk ---',
  CASE WHEN next_chunk IS NOT NULL THEN '--- Next Context ---' END,
  next_chunk,
  CASE WHEN skip_after IS NOT NULL THEN '[... ' || skip_after || ' characters skipped ...]' END,
  CASE WHEN next_chunk IS NOT NULL THEN '--- End Next Context ---' END
) AS rendered
FROM w
"""


def q_doc_chunking_macro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic doc-chunking macro (reference doc_chunking.py:300-428
    ``DocumentChunkingDirective.apply`` + map_optimizer/optimizer.py:
    240-260): one ``chunked_map`` config expands to
    split -> gather -> map -> reduce, here executed end-to-end through
    the composed plan. The chunk map measures the GATHERED rendering
    (so the oracle proves the full composition, not just split), the
    reduce recombines per source document."""
    from docetl_spark.plans.macros import expand_macros
    from docetl_spark.plans.pipeline import _apply_op

    docs = _t(spark, sf_dir, "documents")
    ops_list = expand_macros([{
        "op": "chunked_map", "name": "kw",
        "split_key": "text", "method": "delimiter",
        "delimiter": " ", "num_splits_to_group": 40,
        "assume_distinct": True,  # doc rows distinct: single-pass split
        "gather_config": {"previous": {"tail": {"count": 1}}, "next": {"head": {"count": 1}}},
        "sub_expr": {
            "rc": "length(text_chunk_rendered)",
            "hits": "size(regexp_extract_all(text_chunk_rendered, 'data', 0))",
        },
        "reduce_aggs": {
            "doc_id": "max(doc_id)",
            "n_chunks": "count(*)",
            "total_hits": "sum(hits)",
            "total_rc": "sum(rc)",
        },
    }])
    df = docs
    for cfg in ops_list:
        df = _apply_op(df, cfg, {}, spark)
    return df.select("doc_id", "n_chunks", "total_hits", "total_rc")


# the chunks/w CTEs replicate ORACLE_GATHER's rendering exactly; on top the
# macro's map+reduce is plain SQL per source document
ORACLE_DOC_CHUNKING = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
chunks AS (
  SELECT doc_id, CAST(gs AS INT) AS chunk_num,
         array_to_string(toks[(gs-1)*40+1 : gs*40], ' ') AS chunk
  FROM (SELECT doc_id, toks, unnest(range(1, CAST(ceil(len(toks)/40.0) AS BIGINT)+1)) AS gs FROM t)
),
w AS (
  SELECT doc_id, chunk_num, chunk,
         lag(chunk)  OVER win AS prev_chunk,
         lead(chunk) OVER win AS next_chunk,
         sum(length(chunk)) OVER (PARTITION BY doc_id ORDER BY chunk_num
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING) AS skip_before,
         sum(length(chunk)) OVER (PARTITION BY doc_id ORDER BY chunk_num
                                  ROWS BETWEEN 2 FOLLOWING AND UNBOUNDED FOLLOWING) AS skip_after
  FROM chunks WINDOW win AS (PARTITION BY doc_id ORDER BY chunk_num)
),
rendered AS (
  SELECT doc_id, concat_ws(chr(10),
    CASE WHEN prev_chunk IS NOT NULL THEN '--- Previous Context ---' END,
    CASE WHEN skip_before IS NOT NULL THEN '[... ' || skip_before || ' characters skipped ...]' END,
    prev_chunk,
    CASE WHEN prev_chunk IS NOT NULL THEN '--- End Previous Context ---' END,
    '--- Begin Main Chunk ---', chunk, '--- End Main Chunk ---',
    CASE WHEN next_chunk IS NOT NULL THEN '--- Next Context ---' END,
    next_chunk,
    CASE WHEN skip_after IS NOT NULL THEN '[... ' || skip_after || ' characters skipped ...]' END,
    CASE WHEN next_chunk IS NOT NULL THEN '--- End Next Context ---' END
  ) AS rendered
  FROM w
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum((length(rendered) - length(replace(rendered, 'data', ''))) // 4) AS BIGINT) AS total_hits,
       CAST(sum(length(rendered)) AS BIGINT) AS total_rc
FROM rendered GROUP BY doc_id
"""


def q_doc_chunking_topk_macro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_chunking_topk macro (reference reasoning_optimizer/directives/
    doc_chunking_topk.py:448-585 ``DocumentChunkingTopKDirective.apply``):
    a Filter over long documents rewrites to
    ``split -> topk(BM25, stratified on the split doc id) -> reduce ->
    code_filter`` — the retrieval-flavored chunking pipeline, executed
    end-to-end through the composed plan. The oracle recomputes the whole
    composition: 40-token chunks, corpus BM25 over ALL chunks (idf with
    the epsilon floor), per-document top-3 rank with the chunk_num
    tiebreak, per-document aggregation, and the boolean filter."""
    from docetl_spark.plans.macros import expand_macros
    from docetl_spark.plans.pipeline import _apply_op

    docs = _t(spark, sf_dir, "documents")
    ops_list = expand_macros([{
        "op": "chunked_topk", "name": "kwt",
        "split_key": "text", "method": "delimiter",
        "delimiter": " ", "num_splits_to_group": 40,
        "assume_distinct": True,  # doc rows distinct: single-pass split
        "topk_config": {
            # 'dup' is the one RARE token in the synthetic vocab (positive
            # idf); 'spark' is in most chunks (negative raw idf -> the
            # epsilon floor, which is itself NEGATIVE on this shared-vocab
            # chunk corpus — faithful BM25Okapi behavior, exercised here)
            "method": "fts", "k": 3, "query": "dup spark",
            "tiebreak_cols": ["doc_id", "split_kwt_chunk_num"],
        },
        "reduce_aggs": {
            "doc_id": "max(doc_id)",
            "n_kept": "count(*)",
            "best_score": "round(max(_topk_kwt_chunks_score), 6)",
            "best_chunk": "max(CASE WHEN _topk_kwt_chunks_rank = 1 THEN split_kwt_chunk_num END)",
        },
        "is_filter": True, "bool_expr": "best_score > 0",
    }])
    df = docs
    for cfg in ops_list:
        df = _apply_op(df, cfg, {}, spark)
    return df.select("doc_id", "n_kept", "best_score", "best_chunk")


# chunk corpus = the split of every document; BM25 stats (N, avgdl, df,
# eps-floored idf) over chunks exactly as ORACLE_TOPK_FTS does over docs;
# per-doc top-3 by (score desc, chunk_num), then the reduce + bool filter
ORACLE_DOC_CHUNKING_TOPK = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
chunks AS (
  SELECT doc_id, CAST(gs AS INT) AS chunk_num,
         array_to_string(toks[(gs-1)*40+1 : gs*40], ' ') AS chunk
  FROM (SELECT doc_id, toks, unnest(range(1, CAST(ceil(len(toks)/40.0) AS BIGINT)+1)) AS gs FROM t)
),
ctok AS (
  SELECT doc_id, chunk_num,
         list_filter(string_split_regex(trim(regexp_replace(lower(chunk), '[^a-z0-9\\s]', ' ', 'g')), '\\s+'), x -> x <> '') AS toks
  FROM chunks
),
corp AS (SELECT count(*) AS n, sum(len(toks)) AS tot FROM ctok),
vocab AS (
  SELECT w, count(*) AS dfw
  FROM (SELECT DISTINCT doc_id, chunk_num, unnest(toks) AS w FROM ctok) GROUP BY w
),
idfs AS (
  SELECT w, ln((SELECT n FROM corp) - dfw + 0.5) - ln(dfw + 0.5) AS idf FROM vocab
),
aidf AS (SELECT avg(idf) AS avg_idf FROM idfs),
qidf AS (
  SELECT w, CASE WHEN idf < 0 THEN 0.25 * (SELECT avg_idf FROM aidf) ELSE idf END AS idf
  FROM idfs WHERE w IN ('dup', 'spark')
),
scored AS (
  SELECT doc_id, chunk_num, coalesce(sum(
           idf * tf * 2.5 / (tf + 1.5 * (1 - 0.75 + 0.75 * dl / ((SELECT tot FROM corp)::DOUBLE / (SELECT n FROM corp))))
         ), 0.0) AS raw
  FROM (
    SELECT c.doc_id, c.chunk_num, len(c.toks)::DOUBLE AS dl, q.idf,
           len(list_filter(c.toks, x -> x = q.w))::DOUBLE AS tf
    FROM ctok c CROSS JOIN qidf q
  ) GROUP BY doc_id, chunk_num
),
ranked AS (
  SELECT doc_id, chunk_num, raw,
         row_number() OVER (PARTITION BY doc_id ORDER BY raw DESC, chunk_num) AS rk
  FROM scored
)
SELECT doc_id, count(*) AS n_kept,
       round(max(raw), 6) AS best_score,
       max(CASE WHEN rk = 1 THEN chunk_num END) AS best_chunk
FROM ranked WHERE rk <= 3
GROUP BY doc_id
HAVING round(max(raw), 6) > 0
"""


def q_cascade_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cascade_filter macro (reference reasoning_optimizer/directives/
    cascade_filtering.py:347-390 ``CascadeFilteringDirective.apply``):
    the expensive filter is preceded by a code pre-filter and two cheap
    pre-filters sorted by predicate length; the final state is IDENTICAL
    to the uncascaded filter by the recall contract — which is exactly
    what the oracle checks (plain WHERE of the final conjunction). The
    per-stage observed-selectivity audit is pytest-verified
    (test_cascade_filter_identical_state_and_selectivity)."""
    from docetl_spark.plans.macros import expand_macros
    from docetl_spark.plans.pipeline import _apply_op

    docs = _t(spark, sf_dir, "documents")
    ops_list = expand_macros([{
        "op": "cascade_filter", "name": "keep_en_data",
        "where": "n_chars >= 400 AND lang = 'en' AND contains(text, 'data')",
        "code_pre_filters": [{"name": "len_gate", "where": "n_chars >= 400"}],
        "llm_pre_filters": [
            {"name": "mentions_data", "where": "contains(text, 'data')"},
            {"name": "is_en", "where": "lang = 'en'"},
        ],
    }])
    df = docs
    for cfg in ops_list:
        df = _apply_op(df, cfg, {}, spark)
    return df.select("doc_id", "lang", "n_chars")


ORACLE_CASCADE_FILTER = """
SELECT doc_id, lang, n_chars FROM documents
WHERE n_chars >= 400 AND lang = 'en' AND contains(text, 'data')
"""


def q_hierarchical_reduce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hierarchical_reduce macro (reference reasoning_optimizer/
    directives/hierarchical_reduce.py:224-289
    ``HierarchicalReduceDirective.apply``): Reduce(user) rewrites to
    Reduce(user, event_type) -> Reduce(user) — the two-level rollup. The
    oracle nests the same two GROUP BYs."""
    from docetl_spark.plans.macros import expand_macros
    from docetl_spark.plans.pipeline import _apply_op

    events = _t(spark, sf_dir, "events")
    # hash-stability (VERDICT r5 #1): double addition is order-dependent,
    # so a nested sum(sum(value)) could ulp-flip under the driver's
    # partitioning. ``value`` is whole cents in this corpus (every exact
    # group sum sits ON the 2-decimal grid, verified maximally far from
    # every rounding midpoint), so CAST to DECIMAL(18,2) is EXACT and the
    # decimal sums are order-independent; the final CAST back to double
    # reproduces the oracle's round(sum(v), 2) bit-for-bit at any
    # parallelism. The macro itself is untouched — this is the contract
    # query choosing an exactly-representable summand.
    ops_list = expand_macros([{
        "op": "hierarchical_reduce", "name": "events_by_user",
        "reduce_key": "user_id", "additional_key": "event_type",
        "aggs_fine": {"n": "count(*)", "v": "sum(CAST(value AS DECIMAL(18,2)))"},
        "aggs_rollup": {
            "n_events": "sum(n)", "n_types": "count(*)",
            "total_v": "CAST(round(sum(v), 2) AS DOUBLE)", "max_type_n": "max(n)",
        },
    }])
    df = events
    for cfg in ops_list:
        df = _apply_op(df, cfg, {}, spark)
    return df.select("user_id", "n_events", "n_types", "total_v", "max_type_n")


ORACLE_HIER_REDUCE = """
WITH fine AS (
  SELECT user_id, event_type, count(*) AS n, sum(value) AS v
  FROM events GROUP BY user_id, event_type
)
SELECT user_id, sum(n) AS n_events, count(*) AS n_types,
       round(sum(v), 2) AS total_v, max(n) AS max_type_n
FROM fine GROUP BY user_id
"""


def q_gather_hierarchy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gather with HIERARCHICAL section headers (reference
    gather.py:262-327): every third chunk carries one {header, level}
    struct with level alternating 2/1, so the accumulated
    ``_Current Section:_`` line appears exactly on level-2 chunks that
    have seen a level-1 ancestor — which the oracle reproduces with a
    running max window. Multi-header chunks and the clearing quirk are
    pytest-verified against a python mirror of the reference loop."""
    from docetl_spark.operators import gather, split

    hdr_t = "array<struct<header:string,level:int>>"
    docs = _t(spark, sf_dir, "documents")
    chunks = split(docs, "text", method="delimiter", delimiter=" ", num_splits_to_group=40, name="sp",
                   assume_distinct=True)
    hdr = (
        F.when(
            F.col("sp_chunk_num") % 3 == 1,
            F.array(F.struct(
                F.concat(F.lit("Sec "), F.col("doc_id").cast("string"), F.lit("."),
                         F.col("sp_chunk_num").cast("string")).alias("header"),
                (F.lit(1) + F.col("sp_chunk_num") % 2).cast("int").alias("level"),
            )).cast(hdr_t),
        ).otherwise(F.array().cast(hdr_t))
    )
    out = gather(
        chunks.withColumn("hdrs", hdr),
        "text_chunk", "doc_id", "sp_chunk_num",
        peripheral_chunks={"previous": {"tail": {"count": 1}}, "next": {"head": {"count": 1}}},
        doc_header_key="hdrs",
    )
    return out.select(
        "doc_id", F.col("sp_chunk_num").alias("chunk_num"),
        F.col("text_chunk_rendered").alias("rendered"),
    )


ORACLE_GATHER_HIER = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
chunks AS (
  SELECT doc_id, CAST(gs AS INT) AS chunk_num,
         array_to_string(toks[(gs-1)*40+1 : gs*40], ' ') AS chunk
  FROM (SELECT doc_id, toks, unnest(range(1, CAST(ceil(len(toks)/40.0) AS BIGINT)+1)) AS gs FROM t)
),
w AS (
  SELECT doc_id, chunk_num, chunk,
         lag(chunk)  OVER win AS prev_chunk,
         lead(chunk) OVER win AS next_chunk,
         sum(length(chunk)) OVER (PARTITION BY doc_id ORDER BY chunk_num
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING) AS skip_before,
         sum(length(chunk)) OVER (PARTITION BY doc_id ORDER BY chunk_num
                                  ROWS BETWEEN 2 FOLLOWING AND UNBOUNDED FOLLOWING) AS skip_after,
         max(CASE WHEN chunk_num % 6 = 4 THEN chunk_num END)
           OVER (PARTITION BY doc_id ORDER BY chunk_num
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_l1
  FROM chunks WINDOW win AS (PARTITION BY doc_id ORDER BY chunk_num)
)
SELECT doc_id, chunk_num, concat_ws(chr(10),
  CASE WHEN prev_chunk IS NOT NULL THEN '--- Previous Context ---' END,
  CASE WHEN skip_before IS NOT NULL THEN '[... ' || skip_before || ' characters skipped ...]' END,
  prev_chunk,
  CASE WHEN prev_chunk IS NOT NULL THEN '--- End Previous Context ---' END,
  CASE WHEN chunk_num % 6 = 1 AND last_l1 IS NOT NULL
       THEN '_Current Section:_ # Sec ' || doc_id || '.' || last_l1 END,
  '--- Begin Main Chunk ---', chunk, '--- End Main Chunk ---',
  CASE WHEN next_chunk IS NOT NULL THEN '--- Next Context ---' END,
  next_chunk,
  CASE WHEN skip_after IS NOT NULL THEN '[... ' || skip_after || ' characters skipped ...]' END,
  CASE WHEN next_chunk IS NOT NULL THEN '--- End Next Context ---' END
) AS rendered
FROM w
"""


def q_unnest_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docetl_spark.operators import unnest

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    arr = docs.select("doc_id", F.split("text", " ").alias("tok"))
    return unnest(arr, "tok")


ORACLE_UNNEST = """
SELECT doc_id, unnest(string_split(text, ' ')) AS tok
FROM documents WHERE doc_id < 20
"""


def q_extract_reformat_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-numbered reformat CERTIFICATE (reference extract.py:66-117):
    greedy word-wrap is fully characterized by three properties, checked
    in-engine per document against a ``SELECT doc_id, true`` oracle —
    (1) stripping prefixes and joining lines with single spaces restores
    the whitespace-normalized text, (2) no content line exceeds the
    width, (3) maximality: pulling the next line's first word up would
    overflow. Plus the ``%4d: `` prefix shape on every line. (Long-word
    chunking can't satisfy (1)/(3); testdata's max word is 8 chars, and
    the long-word path is golden-tested against the reference loop in
    pytest.)"""
    from docetl_spark.operators.extract_ops import (
        _strip_line_number,
        reformat_with_line_numbers,
    )

    width = 60
    docs = _t(spark, sf_dir, "documents")
    d = docs.withColumn("_fmt", reformat_with_line_numbers("text", width))
    lines = F.split(F.col("_fmt"), "\n", -1)
    stripped = F.transform(lines, _strip_line_number)
    # (?U) matches the reformat fold's unicode-whitespace tokenization
    normalized = F.trim(F.regexp_replace(F.coalesce(F.col("text"), F.lit("")), r"(?U)\s+", " "))
    nonempty = normalized != ""
    p_restore = F.array_join(stripped, " ") == normalized
    p_width = F.forall(stripped, lambda s: F.length(s) <= width)
    nxt_first = F.transform(
        F.slice(stripped, 2, F.size(stripped) - 1),
        lambda s: F.element_at(F.split(s, " "), 1),
    )
    p_greedy = F.forall(
        F.zip_with(
            F.slice(stripped, 1, F.size(stripped) - 1), nxt_first,
            lambda cur, w: (F.length(cur) + 1 + F.length(w)) > width,
        ),
        lambda x: x,
    )
    p_prefix = F.forall(
        F.zip_with(
            lines, F.sequence(F.lit(1), F.size(lines)),
            lambda line, i: F.substring(line, 1, 6) == F.format_string("%4d: ", i),
        ),
        lambda x: x,
    )
    ok = F.when(nonempty, p_restore & p_width & p_greedy & p_prefix).otherwise(F.col("_fmt") == "")
    return d.select("doc_id", ok.alias("ok"))


ORACLE_EXTRACT_REFORMAT = """
SELECT doc_id, true AS ok FROM documents
"""


def q_extract_pointer_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full line_number pointer protocol (reference extract.py:119-257):
    reformat -> regex pointer -> range slice -> strip ->
    format_extraction. line_width exceeds every document, so the wrap is
    a single line and the DuckDB oracle reproduces the end-to-end result
    exactly (multi-line slicing + the ''.join fuse quirk are oracled via
    the certificate above and golden pytest)."""
    from docetl_spark.operators.extract_ops import extract_pointer

    docs = _t(spark, sf_dir, "documents")
    out = extract_pointer(docs, ["text"], pointer_pattern="data|merge", line_width=100_000)
    return out.select("doc_id", F.col("text_extracted_extract").alias("extracted"))


ORACLE_EXTRACT_POINTER = """
SELECT doc_id,
       CASE WHEN regexp_matches(regexp_replace(trim(text), '\\s+', ' ', 'g'), 'data|merge')
            THEN regexp_replace(trim(text), '\\s+', ' ', 'g') ELSE '' END AS extracted
FROM documents
"""


def q_parsing_fanout_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parsing-tool 1->N fan-out (reference dataset.py:241-315): every doc
    row fans into one row per overlapping 20-word window (stride 10),
    original columns carried through ``{**item, **res}``."""
    from docetl_spark.sources.parsing import apply_parsing

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50).select("doc_id", "lang", "text")
    out = apply_parsing(
        docs,
        [{"function": "word_windows", "input_key": "text", "output_key": "window",
          "function_kwargs": {"window": 20, "stride": 10}}],
    )
    return out.select("doc_id", "lang", "window")


ORACLE_PARSING = """
WITH t AS (
  SELECT doc_id, lang, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
  FROM documents WHERE doc_id < 50
)
SELECT doc_id, lang, array_to_string(toks[gs + 1 : gs + 20], ' ') AS window
FROM (SELECT doc_id, lang, toks, unnest(range(0, greatest(len(toks), 1), 10)) AS gs FROM t)
"""


# ---------------------------------------------------------------------------
# sampling / topk
# ---------------------------------------------------------------------------

def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sample(uniform, int count, stratify_key): per-stratum quota is
    ceil(samples * n_g / N). WHICH rows win depends on the seeded hash
    order (not SQL-reproducible), so the contract checks the per-stratum
    allocation counts — exactly what stratification guarantees."""
    from docetl_spark.operators import sample

    docs = _t(spark, sf_dir, "documents")
    out = sample(docs, "uniform", samples=50, stratify_key="lang", seed=42)
    return out.groupBy("lang").agg(F.count(F.lit(1)).alias("n_sampled"))


ORACLE_SAMPLE_STRATIFIED = """
SELECT lang, CAST(ceil(50.0 * count(*) / (SELECT count(*) FROM documents)) AS BIGINT) AS n_sampled
FROM documents GROUP BY lang
"""


def q_topk_fts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """topk method=fts — REAL Okapi BM25 since r4 (reference
    sample.py:516-640 via BM25Okapi: corpus idf with the epsilon
    negative-idf floor, k1=1.5 b=0.75). The oracle recomputes the whole
    thing — corpus stats, vocab average idf, per-term idf, per-doc score —
    in closed-form DuckDB SQL. Two-term query keeps float summation
    order-free (IEEE addition is commutative)."""
    from docetl_spark.operators import topk

    docs = _t(spark, sf_dir, "documents")
    out = topk(docs, 15, method="fts", text_col="text", query="spark shuffle", tiebreak_cols=["doc_id"], name="t")
    return out.select("doc_id", F.round(F.col("_t_score"), 6).alias("score"), F.col("_t_rank").alias("rk"))


# BM25Okapi parity oracle: tok = reference preprocess (lower, non-alnum ->
# space, split); idf = ln(N-df+0.5)-ln(df+0.5) with negative idfs floored
# to 0.25*avg(raw idf over the whole vocab); score summed over query terms.
ORACLE_TOPK_FTS = """
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g')), '\\s+'), x -> x <> '') AS toks
  FROM documents
),
corp AS (SELECT count(*) AS n, sum(len(toks)) AS tot FROM tok),
vocab AS (
  SELECT w, count(*) AS dfw
  FROM (SELECT DISTINCT doc_id, unnest(toks) AS w FROM tok) GROUP BY w
),
idfs AS (
  SELECT w, ln((SELECT n FROM corp) - dfw + 0.5) - ln(dfw + 0.5) AS idf FROM vocab
),
aidf AS (SELECT avg(idf) AS avg_idf FROM idfs),
qidf AS (
  SELECT w, CASE WHEN idf < 0 THEN 0.25 * (SELECT avg_idf FROM aidf) ELSE idf END AS idf
  FROM idfs WHERE w IN ('spark', 'shuffle')
),
scored AS (
  SELECT doc_id, coalesce(sum(
           idf * tf * 2.5 / (tf + 1.5 * (1 - 0.75 + 0.75 * dl / ((SELECT tot FROM corp)::DOUBLE / (SELECT n FROM corp))))
         ), 0.0) AS raw_score
  FROM (
    SELECT t.doc_id, len(t.toks)::DOUBLE AS dl, q.idf,
           len(list_filter(t.toks, x -> x = q.w))::DOUBLE AS tf
    FROM tok t CROSS JOIN qidf q
  ) GROUP BY doc_id
)
SELECT doc_id, round(raw_score, 6) AS score, CAST(row_number() OVER (ORDER BY raw_score DESC, doc_id) AS INT) AS rk
FROM scored ORDER BY raw_score DESC, doc_id LIMIT 15
"""


# ---------------------------------------------------------------------------
# dedup & similarity (training-data toolkit)
# ---------------------------------------------------------------------------

def q_dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docetl_spark.functions.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang", "n_chars")
    return exact_dedup(docs, "text").select("doc_id", "lang", "n_chars")


ORACLE_DEDUP_EXACT = """
SELECT doc_id, lang, n_chars FROM (
  SELECT *, row_number() OVER (
    PARTITION BY lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))
    ORDER BY doc_id, text, lang, n_chars) AS rn
  FROM (SELECT doc_id, text, lang, n_chars FROM documents)
) WHERE rn = 1
"""


def q_near_dup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup with exact-jaccard verify — the RECALL
    CONTRACT: LSH banding (32 hashes / 16 bands) only BLOCKS; candidates
    are pre-filtered on the signature estimate (>= 0.4: a true j>=0.8 pair
    has est ~ Binomial(32,0.8)/32, P(est<0.4) ~ 1e-9) and verified with
    exact 3-gram jaccard >= 0.8, so the result must equal the brute-force
    oracle unless LSH drops a true pair (P(band miss) = (1-0.8^2)^16 ~
    8e-8). A hash mismatch here IS a recall failure. Trigram shingles keep
    the near-dup set sparse (unigram jaccard is degenerate on a shared
    vocabulary)."""
    from docetl_spark.functions.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    cands = minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=32, bands=16,
                              shingle_n=3, threshold=0.4)
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", shingle_n=3, threshold=0.8,
                                candidates=cands)
    return pairs.select(F.col("_id1").alias("id1"), F.col("_id2").alias("id2"), "jaccard")


# brute-force exact trigram jaccard >= 0.8 (mirrors functions/dedup.py
# shingles(): lowercased whitespace tokens capped at max_shingles+n = 515
# (dedup.py:50 F.slice), distinct 3-gram joins, at least one shingle even
# for short docs)
ORACLE_MINHASH_LSH = """
WITH t AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - 2, 1) + 1),
           i -> array_to_string(toks[i : i + 2], ' '))) AS sh
  FROM (
    SELECT doc_id, list_transform(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''), x -> lower(x))[1 : 515] AS toks
    FROM documents
  )
)
SELECT a.doc_id AS id1, b.doc_id AS id2,
       round(len(list_intersect(a.sh, b.sh)) * 1.0 / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1), 6) AS jaccard
FROM t a, t b
WHERE a.doc_id < b.doc_id
  AND round(len(list_intersect(a.sh, b.sh)) * 1.0 / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1), 6) >= 0.8
"""


def q_dedup_by_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup REMOVAL end-to-end: trigram-jaccard>=0.8 pairs (LSH
    blocked) -> distributed connected components (iterative min-label
    propagation, resolve_ops.connected_components) -> keep each
    component's min doc_id. The oracle recomputes the same components
    with a recursive CTE, so the distributed CC loop itself is
    value-checked, not just row-counted."""
    from docetl_spark.functions.dedup import dedup_by_pairs, minhash_lsh_pairs, ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    cands = minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=32, bands=16,
                              shingle_n=3, threshold=0.4)
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", shingle_n=3, threshold=0.8,
                                candidates=cands)
    kept = dedup_by_pairs(docs.select("doc_id"), "doc_id", pairs)
    return kept.select("doc_id")


ORACLE_DEDUP_PAIRS = """
WITH RECURSIVE t AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - 2, 1) + 1),
           i -> array_to_string(toks[i : i + 2], ' '))) AS sh
  FROM (
    SELECT doc_id, list_transform(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''), x -> lower(x))[1 : 515] AS toks
    FROM documents
  )
),
p AS (
  SELECT a.doc_id AS x, b.doc_id AS y
  FROM t a, t b
  WHERE a.doc_id <> b.doc_id
    AND round(len(list_intersect(a.sh, b.sh)) * 1.0 / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1), 6) >= 0.8
),
reach(node, comp) AS (
    SELECT doc_id, doc_id FROM documents
  UNION
    SELECT p.y, r.comp FROM reach r JOIN p ON p.x = r.node
)
SELECT node AS doc_id FROM reach GROUP BY node HAVING node = min(comp)
"""


def q_incremental_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once incremental near-dup dedup ingest
    (functions/incr_dedup.py): documents arrive in three fenced id-ordered
    batches; each batch LSH-blocks against the STORED corpus signatures,
    exact-verifies (trigram jaccard >= 0.8) and applies the greedy
    streaming rule — drop a doc iff it near-dups a RETAINED earlier doc.
    The oracle recomputes the same greedy decisions over the brute-force
    pair set with a bounded-round recursive CTE, so the whole incremental
    pipeline (banding parity between stored and fresh signatures, fencing,
    cross/within ordering) is value-checked end to end."""
    from docetl_spark.cdc import create_cdc_table, read_state
    from docetl_spark.functions.incr_dedup import dedup_ingest

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    path = tempfile.mkdtemp(prefix="incr_dedup_")
    shutil.rmtree(path, ignore_errors=True)
    table = create_cdc_table(path, ["doc_id"], num_buckets=8, key_types={"doc_id": "int"})
    hi = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    cuts = [0, hi // 3, 2 * hi // 3, hi]
    for b in range(3):
        batch = docs.filter((F.col("doc_id") >= cuts[b]) & (F.col("doc_id") < cuts[b + 1]))
        dedup_ingest(spark, table, batch, b, "doc_id", "text",
                     num_hashes=32, bands=16, shingle_n=3, threshold=0.8)
    kept = read_state(spark, table).select("doc_id", F.lit(True).alias("_k"))
    return (
        docs.join(kept, "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("_k"), F.lit(False)).alias("kept"))
    )


# greedy (lexicographically-first) streaming-dedup decisions over the
# brute-force trigram-jaccard>=0.8 pair set: bounded-round recursion where
# every round re-emits the accumulated decisions with a bumped counter
# (UNION-dedup would silently drop carried rows from the working set) and
# decides nodes whose smaller neighbors are all decided. 16 rounds bounds
# the longest dependency chain (near-dup components on this corpus are
# tiny; the engine's loop allows 50).
ORACLE_INCR_DEDUP = """
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - 2, 1) + 1),
           i -> array_to_string(toks[i : i + 2], ' '))) AS s
  FROM (
    SELECT doc_id, list_transform(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''), x -> lower(x))[1 : 515] AS toks
    FROM documents
  )
),
p AS (
  SELECT a.doc_id AS s, b.doc_id AS t
  FROM sh a, sh b
  WHERE a.doc_id < b.doc_id
    AND round(len(list_intersect(a.s, b.s)) * 1.0 / greatest(len(list_distinct(list_concat(a.s, b.s))), 1), 6) >= 0.8
),
nodes AS (SELECT DISTINCT x FROM (SELECT s AS x FROM p UNION SELECT t FROM p)),
cnt AS (SELECT t, count(*) c FROM p GROUP BY t),
dec(x, kept, r) AS (
  SELECT x, true, 0 FROM nodes WHERE x NOT IN (SELECT t FROM p)
  UNION ALL
  (WITH cur AS (SELECT x, kept, r FROM dec)
   SELECT x, kept, r + 1 FROM cur WHERE r < 16
   UNION ALL
   SELECT p.t, NOT bool_or(cur.kept), max(cur.r) + 1
   FROM p JOIN cur ON cur.x = p.s
   WHERE p.t NOT IN (SELECT x FROM cur)
   GROUP BY p.t
   HAVING count(DISTINCT p.s) = (SELECT c FROM cnt WHERE t = p.t) AND max(cur.r) < 16)
)
SELECT d.doc_id, coalesce(g.kept, true) AS kept
FROM documents d
LEFT JOIN (SELECT x, bool_or(kept) AS kept FROM dec GROUP BY x) g ON g.x = d.doc_id
"""


def q_incremental_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding face of the incremental dedup ingest
    (functions/incr_dedup.dedup_ingest(method='embedding')): hyperplane-
    LSH banding into the same fenced banded index, exact cosine verify.
    Near-dup structure is derived deterministically — every vec_id % 7
    == 0 vector re-enters later with a fresh id as an EXACT copy, whose
    identical sign pattern collides in every hyperplane table, so LSH
    recall is structural (1.0) and the greedy decisions are value-
    oracle-able against the brute-force cosine pair set."""
    from docetl_spark.cdc import create_cdc_table, read_state
    from docetl_spark.functions.incr_dedup import dedup_ingest

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    mx = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    copies = emb.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + F.lit(mx)).alias("vec_id"), "embedding")
    corpus = emb.unionByName(copies)
    path = tempfile.mkdtemp(prefix="incr_dedup_emb_")
    shutil.rmtree(path, ignore_errors=True)
    table = create_cdc_table(path, ["vec_id"], num_buckets=8, key_types={"vec_id": "long"})
    cuts = [0, (2 * mx) // 3, (4 * mx) // 3, 2 * mx]
    for b in range(3):
        batch = corpus.filter((F.col("vec_id") >= cuts[b]) & (F.col("vec_id") < cuts[b + 1]))
        dedup_ingest(spark, table, batch, b, "vec_id", method="embedding",
                     embedding_col="embedding", threshold=0.9999,
                     planes=10, lsh_tables=2)
    kept = read_state(spark, table).select("vec_id", F.lit(True).alias("_k"))
    return (
        corpus.join(kept, "vec_id", "left")
        .select("vec_id", F.coalesce(F.col("_k"), F.lit(False)).alias("kept"))
    )


# same bounded-round greedy CTE as ORACLE_INCR_DEDUP, pair set = brute
# cosine >= 0.9999 over the copy-augmented corpus
ORACLE_INCR_DEDUP_EMB = """
WITH RECURSIVE corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + (SELECT max(vec_id) + 1 FROM embeddings) AS vec_id, embedding
  FROM embeddings WHERE vec_id % 7 = 0
),
p AS (
  SELECT a.vec_id AS s, b.vec_id AS t
  FROM corpus a, corpus b
  WHERE a.vec_id < b.vec_id
    AND round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.9999
),
nodes AS (SELECT DISTINCT x FROM (SELECT s AS x FROM p UNION SELECT t FROM p)),
cnt AS (SELECT t, count(*) c FROM p GROUP BY t),
dec(x, kept, r) AS (
  SELECT x, true, 0 FROM nodes WHERE x NOT IN (SELECT t FROM p)
  UNION ALL
  (WITH cur AS (SELECT x, kept, r FROM dec)
   SELECT x, kept, r + 1 FROM cur WHERE r < 16
   UNION ALL
   SELECT p.t, NOT bool_or(cur.kept), max(cur.r) + 1
   FROM p JOIN cur ON cur.x = p.s
   WHERE p.t NOT IN (SELECT x FROM cur)
   GROUP BY p.t
   HAVING count(DISTINCT p.s) = (SELECT c FROM cnt WHERE t = p.t) AND max(cur.r) < 16)
)
SELECT c.vec_id, coalesce(g.kept, true) AS kept
FROM corpus c
LEFT JOIN (SELECT x, bool_or(kept) AS kept FROM dec GROUP BY x) g ON g.x = c.vec_id
"""


def q_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures, bit-for-bit oracled: the per-token hash is
    md5[:8] little-endian, which DuckDB reproduces in SQL (unnest tokens ->
    per-bit +1/-1 votes -> sign bits)."""
    from docetl_spark.functions.dedup import simhash

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return docs.select("doc_id", simhash("text").alias("sig"))


_SIMHASH_HEX_LE = " || ".join(f"substr(m, {j}, 2)" for j in (15, 13, 11, 9, 7, 5, 3, 1))

ORACLE_SIMHASH = f"""
WITH tok AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS tk
  FROM documents WHERE doc_id < 100
),
h AS (
  SELECT doc_id, ('0x' || {_SIMHASH_HEX_LE})::UBIGINT AS hv
  FROM (SELECT doc_id, md5(tk) AS m FROM tok)
),
votes AS (
  SELECT doc_id, b.b AS b,
         sum(CASE WHEN (hv >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM h, range(64) b(b) GROUP BY doc_id, b.b
),
sig AS (
  SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END) AS u
  FROM votes GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(CASE WHEN coalesce(s.u, 0) >= 9223372036854775808 THEN coalesce(s.u, 0) - 18446744073709551616
                 ELSE coalesce(s.u, 0) END AS BIGINT) AS sig
FROM (SELECT doc_id FROM documents WHERE doc_id < 100) d LEFT JOIN sig s USING (doc_id)
"""


def q_knn_cosine_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docetl_spark.functions.ann import knn_brute

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    queries = emb.filter(F.col("vec_id") < 5)
    out = knn_brute(emb, queries, "vec_id", "embedding", k=5)
    return out.select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), F.col("rank").cast("int").alias("rank"))


ORACLE_KNN = """
SELECT query_id, neighbor_id, round(raw, 6) AS cosine, CAST(rnk AS INT) AS rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS raw,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC, c.vec_id) AS rnk
  FROM embeddings q, embeddings c
  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
) WHERE rnk <= 5
"""


def q_knn_lsh_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN recall CONTRACT: the approximate top-5 is compared
    in-engine against the exact brute-force top-5; each query must retain
    recall@5 >= 0.6. The oracle enumerates the query ids with
    recall_ok=true, so any query dipping under the bound hash-mismatches.
    (The raw neighbor lists are approximate by design — recall < 1 — so
    they can't be equality-oracled; the bound is the operator's contract.)"""
    from docetl_spark.functions.ann import lsh_recall_at_k

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    queries = emb.filter(F.col("vec_id") < 5)
    dim = len(emb.select("embedding").first()[0])
    # one scored frame serves both sides (ann.lsh_recall_at_k): cosines are
    # computed once and the LSH top-5 is the candidate-restricted ranking
    # of the same scores — exactly what knn_lsh would rank (VERDICT r2 #6:
    # no more double eager materialization of two independent pipelines)
    rec = lsh_recall_at_k(emb, queries, "vec_id", "embedding", dim=dim, k=5,
                          planes=6, tables=6, probe_bits=2)
    return rec.select("query_id", (F.col("recall") >= 0.6).alias("recall_ok"))


ORACLE_KNN_LSH = """
SELECT DISTINCT vec_id AS query_id, true AS recall_ok FROM embeddings WHERE vec_id < 5
"""


def q_knn_ivf_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN recall CONTRACT (same shape as knn_lsh_top5): the
    coarse-quantizer path must retain per-query recall@5 >= 0.6 against
    brute force from one shared scored frame. IVF's assumption is a
    CLUSTERED corpus (on a uniform high-dim sphere coarse cells carry no
    neighbor signal — the documented failure mode; LSH is the right path
    there), so the corpus is a deterministic anchored-cluster transform
    of the embeddings table: each vector is shifted toward one of 8
    one-hot block anchors chosen by vec_id % 8. Measured min recall 1.0
    at every SF with (n_centroids=16, n_probe=2)."""
    from docetl_spark.functions.ann import ivf_recall_at_k

    emb = _t(spark, sf_dir, "embeddings")
    a = (F.col("vec_id") % 8).cast("int")
    vec = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x, i: x + F.when((i >= a * 8) & (i < a * 8 + 8), F.lit(3.0)).otherwise(F.lit(0.0)),
    )
    clustered = emb.select("vec_id", vec.alias("embedding"))
    queries = clustered.filter(F.col("vec_id") < 8)
    rec = ivf_recall_at_k(clustered, queries, "vec_id", "embedding", k=5,
                          n_centroids=16, n_probe=2)
    return rec.select("query_id", (F.col("recall") >= 0.6).alias("recall_ok"))


ORACLE_KNN_IVF = """
SELECT DISTINCT vec_id AS query_id, true AS recall_ok FROM embeddings WHERE vec_id < 8
"""


def q_knn_ivf_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTENT IVF index over a stored lake corpus
    (functions/ann_index.py): the clustered corpus ingests in TWO fenced
    batches — centroids train on batch 0 and pin in the index properties,
    batch 1 reuses the pin — and the recall certificate runs against the
    PERSISTED (cell, id) sidecar, not an in-memory assignment. Certifies
    the full maintenance path: training pin, per-batch MOR appends under
    the shared fence, bucket-pruned index reads. Same anchored-cluster
    corpus and recall@5 >= 0.6 contract as knn_ivf_top5; n_probe=3
    because centroids train on BATCH 0 ONLY (half the corpus) — measured
    min recall 1.0 at sf0.001/sf0.01 with n_probe=3, vs 0.6/0.8 at
    n_probe=2 (the in-memory knn_ivf_top5 trains on the full corpus and
    holds 1.0 at n_probe=2)."""
    from docetl_spark.cdc import create_cdc_table
    from docetl_spark.functions.ann_index import ivf_ingest, ivf_stored_recall_at_k

    emb = _t(spark, sf_dir, "embeddings")
    a = (F.col("vec_id") % 8).cast("int")
    vec = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x, i: x + F.when((i >= a * 8) & (i < a * 8 + 8), F.lit(3.0)).otherwise(F.lit(0.0)),
    )
    clustered = emb.select("vec_id", vec.alias("embedding"))
    mx = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    path = tempfile.mkdtemp(prefix="ivf_stored_")
    shutil.rmtree(path, ignore_errors=True)
    table = create_cdc_table(path, ["vec_id"], num_buckets=8, key_types={"vec_id": "long"})
    for b, (lo, hi) in enumerate([(0, mx // 2), (mx // 2, mx)]):
        batch = clustered.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        ivf_ingest(spark, table, batch, b, "vec_id", "embedding", n_centroids=16)
    queries = clustered.filter(F.col("vec_id") < 8)
    rec = ivf_stored_recall_at_k(spark, table, queries, "vec_id", "embedding",
                                 k=5, n_probe=3)
    return rec.select("query_id", (F.col("recall") >= 0.6).alias("recall_ok"))


ORACLE_KNN_IVF_STORED = """
SELECT DISTINCT vec_id AS query_id, true AS recall_ok FROM embeddings WHERE vec_id < 8
"""


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docetl_spark.functions.text import bpe_ish_token_count, quality_score, token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_pieces"),
        quality_score("text").alias("quality"),
        F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))).alias("fp"),
    )


_Q_TOKS = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"
_Q_HITS = (
    "len(list_filter(" + _Q_TOKS + ", x -> list_contains("
    "['the','and','of','to','is','in','that','it','with','for'], lower(x))))"
)

ORACLE_TEXT_QUALITY = f"""
WITH base AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         len({_Q_TOKS}) AS n_tok,
         len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]', 0)) AS n_pieces,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / (length(text) + 1) AS alpha_ratio,
         {_Q_HITS} * 1.0 / (len({_Q_TOKS}) + 1) AS stop_ratio,
         length(regexp_replace(text, '[^.!?,;:]', '', 'g')) * 1.0 / (length(text) + 1) AS punct_ratio,
         (length(text) - len({_Q_TOKS}) + 1) * 1.0 / (len({_Q_TOKS}) + 1) AS mean_word_len
  FROM documents
)
SELECT doc_id, n_tok AS n_tokens, n_pieces,
       round(
         0.3 * (CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 1.0 ELSE 0.2 END)
       + 0.2 * (CASE WHEN mean_word_len >= 2 AND mean_word_len <= 12 THEN 1.0 ELSE 0.3 END)
       + 0.15 * (CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE 0.5 END)
       + 0.2 * least(alpha_ratio * 1.25, 1.0)
       + 0.15 * least(stop_ratio * 5.0, 1.0), 6) AS quality,
       md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
FROM base
"""


def q_lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docetl_spark.functions.text import lang_id

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id("text").alias("lang_guess"))


def _lang_marker_values() -> str:
    """DuckDB VALUES list generated from the engine's marker table, so the
    oracle can never drift from functions/text.py:_LANG_MARKERS."""
    from docetl_spark.functions.text import _LANG_MARKERS

    return ", ".join(
        "('%s', [%s])" % (lang, ", ".join("'%s'" % w for w in words))
        for lang, words in sorted(_LANG_MARKERS.items())
    )


# argmax of marker-hit counts; ties break to the lexicographically larger
# lang (Spark's array_max over (hits, lang) structs) — the printf key
# '%06d~%s' sorts identically. 'und' when no marker hits at all.
ORACLE_LANG_ID = f"""
WITH t AS (
  SELECT doc_id, list_transform(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''), x -> lower(x)) AS toks
  FROM documents
),
v AS (
  SELECT doc_id, u.l AS l,
         len(list_filter(toks, x -> list_contains(u.words, x))) AS h
  FROM t, (VALUES {_lang_marker_values()}) AS u(l, words)
)
SELECT doc_id,
       coalesce(right(max(printf('%06d~%s', h, l)) FILTER (WHERE h > 0), 2), 'und') AS lang_guess
FROM v GROUP BY doc_id
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode path, oracled end-to-end: each doc gets a real
    8x8 24-bit BMP of constant value (doc_id % 251), encoded and decoded
    DISTRIBUTED through the binary-column plumbing
    (functions/multimodal.py); the extracted features of a constant image
    are exactly SQL-predictable (mean = value, std = 0, n = 8*8*3)."""
    import numpy as np

    from docetl_spark.functions import multimodal as mm

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40).select("doc_id")
    schema = "doc_id long, blob binary"

    def make(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["blob"] = [
                mm.encode_bmp(np.full((8, 8, 3), int(d) % 251, dtype=np.uint8)) for d in pdf["doc_id"]
            ]
            yield pdf

    with_blob = docs.mapInPandas(make, schema).withColumn(
        "meta",
        F.struct(
            F.lit("image").alias("media_type"), F.lit("bmp").alias("format"),
            F.lit(8).alias("width"), F.lit(8).alias("height"),
            F.lit(None).cast("long").alias("duration_ms"), F.lit(None).cast("int").alias("sample_rate"),
        ),
    )
    out = mm.extract_features(with_blob, "blob", "meta")
    return out.select(
        "doc_id",
        F.round("feat_mean", 6).alias("feat_mean"),
        F.round("feat_std", 6).alias("feat_std"),
        F.col("feat_n").alias("n_values"),
    )


ORACLE_MULTIMODAL = """
SELECT doc_id, CAST(doc_id % 251 AS DOUBLE) AS feat_mean, 0.0 AS feat_std,
       CAST(192 AS BIGINT) AS n_values
FROM documents WHERE doc_id < 40
"""


def q_equijoin_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equijoin with embedding-cosine blocking (reference
    docetl/operations/equijoin.py:300-405): two disjoint vector sets,
    pairs kept where cosine >= 0.9."""
    from docetl_spark.operators import equijoin

    emb = _t(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") < 100).select(F.col("vec_id").alias("lid"), F.col("embedding").alias("lv"))
    right = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 300)).select(
        F.col("vec_id").alias("rid"), F.col("embedding").alias("rv")
    )
    out = equijoin(left, right, embedding_blocking=("lv", "rv", 0.409))
    from docetl_spark.functions.vectors import cosine

    return out.select("lid", "rid", F.round(cosine("lv", "rv"), 2).alias("cos"))


# threshold 0.409 sits in a >2e-3 gap of the observed cosine distribution
# and rounding to 2dp keeps engine float-vs-double noise irrelevant
ORACLE_EQUIJOIN_EMB = """
SELECT l.vec_id AS lid, r.vec_id AS rid,
       round(CAST(list_cosine_similarity(l.embedding, r.embedding) AS DOUBLE), 2) AS cos
FROM embeddings l CROSS JOIN embeddings r
WHERE l.vec_id < 100 AND r.vec_id >= 100 AND r.vec_id < 300
  AND list_cosine_similarity(l.embedding, r.embedding) >= 0.409
"""


def q_rank_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank operator (reference docetl/operations/rank.py): staged scoring
    -> total order -> _rank column. Deterministic tie-free score so the
    DuckDB oracle reproduces the exact order."""
    from docetl_spark.operators import rank

    docs = _t(spark, sf_dir, "documents")
    scored = rank(docs, score=F.col("n_chars") + F.col("doc_id") / F.lit(1e9),
                  direction="desc", name="r", k=20)
    return scored.select("doc_id", F.col("_r_rank").alias("rnk"))


ORACLE_RANK = """
SELECT doc_id, rnk FROM (
  SELECT doc_id,
         row_number() OVER (ORDER BY n_chars + doc_id / 1e9 DESC) AS rnk
  FROM documents
) WHERE rnk <= 20
"""


def q_rank_likert_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank likert initial-ordering baseline (reference rank.py:498-668):
    deterministic 1-7 rater (1 + n_chars % 7) runs through the real
    batched rating protocol (batch_size chunks, calibration context,
    neutral-4 fallback); tiebreak on doc_id so the DuckDB oracle
    reproduces the exact order of the tie-heavy 7-value scores."""
    from docetl_spark.operators.rank_ops import rank_likert

    docs = _t(spark, sf_dir, "documents")

    def rater(batch: pd.DataFrame, ctx) -> list[int]:
        return [1 + int(n) % 7 for n in batch["n_chars"]]

    out = rank_likert(docs, rater, direction="desc", name="lk", k=30,
                      batch_size=10, tiebreak_cols=["doc_id"])
    return out.select(
        "doc_id",
        F.col("_lk_score").cast("int").alias("rating"),
        F.col("_lk_rank").cast("int").alias("rnk"),
    )


ORACLE_RANK_LIKERT = """
SELECT doc_id, CAST(rating AS INT) AS rating, CAST(rnk AS INT) AS rnk FROM (
  SELECT doc_id, 1 + n_chars % 7 AS rating,
         row_number() OVER (ORDER BY (1 + n_chars % 7) DESC, doc_id) AS rnk
  FROM documents
) WHERE rnk <= 30
"""


def q_rank_calibrated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank calibrated-embedding baseline (reference rank.py:988-1090):
    the calibration sample is vec_id < 8 in vec_id order (the stand-in
    for the qurk-sorted sample); every vector maps to its most-similar
    anchor and ranks by (anchor asc, sim desc). sim_round=6 on both sides
    so the order is float-portable to the DuckDB oracle."""
    from docetl_spark.operators.rank_ops import rank_calibrated

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    anchors_pdf = emb.filter(F.col("vec_id") < 8).orderBy("vec_id").toPandas()
    anchors = [list(v) for v in anchors_pdf["v"]]
    out = rank_calibrated(emb, "v", anchors, name="cal", k=50,
                          tiebreak_cols=["vec_id"], sim_round=6)
    return out.select(
        "vec_id",
        F.col("_cal_anchor").cast("int").alias("anchor"),
        F.round("_cal_sim", 6).alias("sim"),
        F.col("_cal_rank").cast("int").alias("rnk"),
    )


ORACLE_RANK_CALIBRATED = """
WITH anchors AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS anchor, embedding
  FROM embeddings WHERE vec_id < 8
),
best AS (
  SELECT e.vec_id, a.anchor,
         list_cosine_similarity(e.embedding::DOUBLE[], a.embedding::DOUBLE[]) AS sim
  FROM embeddings e CROSS JOIN anchors a
  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY sim DESC, a.anchor) = 1
)
SELECT vec_id, CAST(anchor AS INT) AS anchor, round(sim, 6) AS sim, CAST(rnk AS INT) AS rnk
FROM (
  SELECT vec_id, anchor, sim,
         row_number() OVER (ORDER BY anchor, round(sim, 6) DESC, vec_id) AS rnk
  FROM best
) WHERE rnk <= 50
"""


def q_cluster_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cluster operator CERTIFICATE (reference docetl/operations/cluster.py):
    a Ward dendrogram isn't SQL, so (like knn_lsh_top5) the query checks
    dendrogram invariants in-engine and emits (doc_id, ok) against a
    ``SELECT doc_id, true`` oracle:

    1. driver path == blocked path: ``cluster()`` and ``cluster_blocked()``
       under one constant block produce byte-identical ancestor-path arrays
       (different leaf orderings; Ward distances are order-independent when
       argmin ties can't occur — a distinct doc_id/1e7 coordinate breaks
       exact ties without moving the geometry);
    2. every leaf has >= 1 ancestor and the root (last path element,
       nearest-ancestor-first convention, cluster.py:275-282) has size n;
    3. subtree sizes strictly increase leaf->root;
    4. merge distances are non-decreasing leaf->root (Ward monotonicity);
    5. node-count consistency: an internal node of size s is the ancestor
       of exactly s leaves, so summing multiplicity/size over distinct
       ancestor strings counts the internal nodes — a full dendrogram has
       exactly n-1. (Distinct-string counting alone would undercount:
       different merges can legitimately share identical {size, distance}
       JSON when equal-feature doc pairs merge at equal distances.)
    """
    from docetl_spark.functions.text import token_count
    from docetl_spark.operators import cluster
    from docetl_spark.operators.cluster_ops import cluster_blocked

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    feat = docs.select(
        "doc_id",
        F.array(
            (F.col("n_chars") / 100.0),
            (token_count("text") / 10.0),
            F.length(F.regexp_replace("text", r"[^.!?]", "")).cast("double"),
            (F.col("doc_id") / 1e7),  # deterministic tie-break coordinate
        ).alias("emb"),
    )
    n = feat.count()
    a = cluster(feat, "emb").select("doc_id", F.col("clusters").alias("_ca"))
    b = (
        cluster_blocked(feat.withColumn("_blk", F.lit(1)), ["_blk"], "emb")
        .select("doc_id", F.col("clusters").alias("_cb"))
    )
    # invariant 5: one bounded scalar — multiplicity/size-weighted node
    # count across all leaf paths must be exactly n-1 (exact in float64:
    # k occurrences of a string covering k nodes of size s sum to k*s/s)
    node_count = (
        a.select(F.explode("_ca").alias("c"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("m"))
        .agg(F.sum(F.col("m") / F.get_json_object("c", "$.size").cast("double")))
        .collect()[0][0]
    )
    sizes = F.transform("_ca", lambda s: F.get_json_object(s, "$.size").cast("long"))
    dists = F.transform("_ca", lambda s: F.get_json_object(s, "$.distance").cast("double"))
    ok = (
        (F.col("_ca") == F.col("_cb"))
        & (F.size("_ca") >= 1)
        & (F.element_at(sizes, -1) == F.lit(int(n)))
        # strictly increasing == already-sorted with no duplicates
        & (sizes == F.array_sort(sizes))
        & (F.size(F.array_distinct(sizes)) == F.size(sizes))
        & (dists == F.array_sort(dists))
        & F.lit(float(node_count) == float(n - 1))
    )
    return a.join(b, "doc_id").select("doc_id", ok.alias("ok"))


ORACLE_CLUSTER = """
SELECT doc_id, true AS ok FROM documents WHERE doc_id < 200
"""


def q_link_resolve_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """link_resolve (reference docetl/operations/link_resolve.py): dangling
    link values re-pointed to the most token-jaccard-similar id."""
    from docetl_spark.operators import link_resolve

    nation = _t(spark, sf_dir, "nation")
    df = nation.select(
        "n_nationkey",
        "n_name",
        F.array(F.concat(F.col("n_name"), F.lit(" land")), F.col("n_name")).alias("related"),
    )
    fixed = link_resolve(df, id_key="n_name", link_key="related", blocking_threshold=0.5)
    return fixed.select(
        "n_nationkey", F.posexplode("related").alias("pos", "resolved")
    ).select("n_nationkey", "pos", "resolved")


ORACLE_LINK_RESOLVE = """
WITH ids AS (SELECT DISTINCT n_name FROM nation),
rows_arr AS (
  SELECT n_nationkey, [n_name || ' land', n_name] AS arr FROM nation
),
exploded AS (
  SELECT n_nationkey, g.idx - 1 AS pos, arr[g.idx] AS v
  FROM rows_arr, (SELECT unnest(generate_series(1, 2)) AS idx) g
),
dangling AS (
  SELECT DISTINCT v FROM exploded
  WHERE v NOT IN (SELECT n_name FROM ids)
),
pairs AS (
  SELECT d.v,
         i.n_name AS id_v,
         len(list_intersect(string_split(lower(d.v), ' '), string_split(lower(i.n_name), ' '))) * 1.0
           / len(list_distinct(list_concat(string_split(lower(d.v), ' '), string_split(lower(i.n_name), ' ')))) AS sim
  FROM dangling d CROSS JOIN ids i
),
best AS (
  SELECT v, id_v FROM pairs
  WHERE sim >= 0.5
  QUALIFY row_number() OVER (PARTITION BY v ORDER BY sim DESC, id_v DESC) = 1
)
SELECT e.n_nationkey, e.pos, coalesce(b.id_v, e.v) AS resolved
FROM exploded e LEFT JOIN best b ON e.v = b.v
"""


def q_cdc_stream_lww(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming face of the merge-apply loop: tail the events
    parquet as a file-drop WAL, foreachBatch -> merge_apply, availableNow.
    Must reach the exact same final state as the batch replay (same
    oracle as cdc_merge_lww)."""
    from docetl_spark.cdc import create_cdc_table, read_state
    from docetl_spark.sources.parquet import read_parquet
    from docetl_spark.streaming import read_change_stream, stream_changes

    events_path = os.path.join(sf_dir, "events.parquet")
    schema = read_parquet(spark, events_path).schema
    # the file stream source tails a DIRECTORY of dropped WAL segments;
    # expose the events file as a single-segment drop dir via symlink
    wal_dir = tempfile.mkdtemp(prefix="wal_")
    os.symlink(events_path, os.path.join(wal_dir, "seg-00000000.parquet"))
    changes = _events_as_changes(
        read_change_stream(spark, wal_dir, schema)
    ).drop("batch_id")

    path = tempfile.mkdtemp(prefix="cdc_stream_")
    shutil.rmtree(path, ignore_errors=True)
    table = create_cdc_table(path, ["user_id"], num_buckets=16)
    q = stream_changes(
        spark, table, changes, checkpoint_dir=tempfile.mkdtemp(prefix="ckpt_")
    )
    q.awaitTermination(300)
    state = read_state(spark, table)
    return state.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("lsn").alias("last_lsn"),
        F.col("event_type").alias("last_event_type"),
        F.round(F.col("value"), 2).alias("last_value"),
        F.col("props").alias("last_props"),
    )


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "cdc_merge_lww": q_cdc_merge_lww,
        "cdc_merge_lww_ungrouped": q_cdc_merge_lww_ungrouped,
        "cdc_change_feed": q_cdc_change_feed,
        "cdc_feed_net_slice": q_cdc_feed_net_slice,
        "cdc_replica_from_feed": q_cdc_replica_from_feed,
        "cdc_state_since_lsn": q_cdc_state_since_lsn,
        "cdc_feed_source_pushdown": q_cdc_feed_source_pushdown,
        "tpch_q1": q_tpch_q1,
        "tpch_q3_top10": q_tpch_q3_top10,
        "revenue_by_nation": q_revenue_by_nation,
        "top_events_per_user": q_top_events_per_user,
        "code_reduce_groups": q_code_reduce_groups,
        "reduce_lineage_docs": q_reduce_lineage_docs,
        "fold_events_per_user": q_fold_events_per_user,
        "reduce_merge_salted": q_reduce_merge_salted,
        "value_sample_sem_sim": q_value_sample_sem_sim,
        "equijoin_verify": q_equijoin_verify,
        "resolve_majority_canon": q_resolve_majority_canon,
        "gather_rendered": q_gather_rendered,
        "doc_chunking_macro": q_doc_chunking_macro,
        "doc_chunking_topk_macro": q_doc_chunking_topk_macro,
        "cascade_filter_docs": q_cascade_filter_docs,
        "hierarchical_reduce_events": q_hierarchical_reduce_events,
        "gather_hierarchy_docs": q_gather_hierarchy_docs,
        "unnest_doc_tokens": q_unnest_doc_tokens,
        "extract_reformat_cert": q_extract_reformat_cert,
        "extract_pointer_docs": q_extract_pointer_docs,
        "parsing_fanout_docs": q_parsing_fanout_docs,
        "sample_stratified": q_sample_stratified,
        "topk_fts_docs": q_topk_fts_docs,
        "dedup_exact_docs": q_dedup_exact_docs,
        "near_dup_minhash_lsh": q_near_dup_minhash_lsh,
        "dedup_by_pairs_docs": q_dedup_by_pairs_docs,
        "incremental_dedup_docs": q_incremental_dedup_docs,
        "incremental_dedup_embedding": q_incremental_dedup_embedding,
        "simhash_docs": q_simhash_docs,
        "knn_cosine_top5": q_knn_cosine_top5,
        "knn_lsh_top5": q_knn_lsh_top5,
        "knn_ivf_top5": q_knn_ivf_top5,
        "knn_ivf_stored": q_knn_ivf_stored,
        "text_quality": q_text_quality,
        "lang_id_docs": q_lang_id_docs,
        "multimodal_features": q_multimodal_features,
        "equijoin_embedding": q_equijoin_embedding,
        "rank_docs": q_rank_docs,
        "rank_likert_docs": q_rank_likert_docs,
        "rank_calibrated_docs": q_rank_calibrated_docs,
        "cluster_docs": q_cluster_docs,
        "link_resolve_repair": q_link_resolve_repair,
        "cdc_stream_lww": q_cdc_stream_lww,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "cdc_merge_lww": ORACLE_CDC,
        "cdc_merge_lww_ungrouped": ORACLE_CDC,
        "cdc_change_feed": ORACLE_CDC_FEED,
        "cdc_feed_net_slice": ORACLE_CDC_FEED_SLICE,
        "cdc_replica_from_feed": ORACLE_CDC,
        "cdc_state_since_lsn": ORACLE_CDC_SINCE,
        "cdc_feed_source_pushdown": ORACLE_CDC_FEED_PUSHDOWN,
        "tpch_q1": ORACLE_Q1,
        "tpch_q3_top10": ORACLE_Q3,
        "revenue_by_nation": ORACLE_NATION,
        "top_events_per_user": ORACLE_TOP_EVENTS,
        "code_reduce_groups": ORACLE_CODE_REDUCE,
        "reduce_lineage_docs": ORACLE_REDUCE_LINEAGE,
        "fold_events_per_user": ORACLE_FOLD,
        "reduce_merge_salted": ORACLE_MERGE_SALTED,
        "value_sample_sem_sim": ORACLE_VALUE_SAMPLE_SEM,
        "equijoin_verify": ORACLE_EQUIJOIN,
        "resolve_majority_canon": ORACLE_RESOLVE,
        "gather_rendered": ORACLE_GATHER,
        "doc_chunking_macro": ORACLE_DOC_CHUNKING,
        "doc_chunking_topk_macro": ORACLE_DOC_CHUNKING_TOPK,
        "cascade_filter_docs": ORACLE_CASCADE_FILTER,
        "hierarchical_reduce_events": ORACLE_HIER_REDUCE,
        "gather_hierarchy_docs": ORACLE_GATHER_HIER,
        "unnest_doc_tokens": ORACLE_UNNEST,
        "extract_reformat_cert": ORACLE_EXTRACT_REFORMAT,
        "extract_pointer_docs": ORACLE_EXTRACT_POINTER,
        "parsing_fanout_docs": ORACLE_PARSING,
        "sample_stratified": ORACLE_SAMPLE_STRATIFIED,
        "topk_fts_docs": ORACLE_TOPK_FTS,
        "dedup_exact_docs": ORACLE_DEDUP_EXACT,
        "near_dup_minhash_lsh": ORACLE_MINHASH_LSH,
        "dedup_by_pairs_docs": ORACLE_DEDUP_PAIRS,
        "incremental_dedup_docs": ORACLE_INCR_DEDUP,
        "incremental_dedup_embedding": ORACLE_INCR_DEDUP_EMB,
        "simhash_docs": ORACLE_SIMHASH,
        "knn_cosine_top5": ORACLE_KNN,
        "knn_lsh_top5": ORACLE_KNN_LSH,
        "knn_ivf_top5": ORACLE_KNN_IVF,
        "knn_ivf_stored": ORACLE_KNN_IVF_STORED,
        "text_quality": ORACLE_TEXT_QUALITY,
        "lang_id_docs": ORACLE_LANG_ID,
        "multimodal_features": ORACLE_MULTIMODAL,
        "equijoin_embedding": ORACLE_EQUIJOIN_EMB,
        "rank_docs": ORACLE_RANK,
        "rank_likert_docs": ORACLE_RANK_LIKERT,
        "rank_calibrated_docs": ORACLE_RANK_CALIBRATED,
        "cluster_docs": ORACLE_CLUSTER,
        "link_resolve_repair": ORACLE_LINK_RESOLVE,
        "cdc_stream_lww": ORACLE_CDC,
    }

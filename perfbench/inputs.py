"""Frozen, seeded inputs of the benchmark.

Everything a workload feeds the engine is defined here, copied rather than
imported, so edits to ``docetl_spark/sources/testgen.py`` or ``bench.py``
cannot move the benchmark:

* ``gen_change_events`` — the binlog generator (a copy of
  ``sources/testgen.py``), and ``final_state_oracle`` / ``change_winners``,
  its max-LSN oracles, in pandas so they share nothing with the engine;
* ``map_stage`` — the DocETL-map winner stage of ``bench.py`` (sha256 +
  token count + pandas-UDF quality score);
* ``BOARD_LEAVES`` — the timed query-board leaves, a subset of ``bench.py``'s
  38-leaf ``HEADLINE`` list, grouped by the layer each one exercises.

The engine receives only the generated binlog (a parquet directory).
"""

from __future__ import annotations

import hashlib
import re

import pandas as pd  # module-level so pandas-UDF type hints resolve
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LANGS = ["python", "java", "go", "rust", "js", "md"]
KEY_COLS = ("repo", "path", "commit")


def gen_change_events(
    spark: SparkSession,
    n_events: int,
    n_keys: int,
    batch_size: int,
    seed: int,
    skew: float = 2.0,
    p_delete: float = 0.05,
    partitions: int | None = None,
) -> DataFrame:
    """Columns: lsn, batch_id, op, repo, path, commit, lang, content.

    ``lsn`` is the event's sequence number (the LWW tiebreaker); each event
    targets one of ``n_keys`` (repo, path, commit) keys drawn power-law
    skewed (hot repos); ``p_delete`` of the events are deletes. Generated
    with JVM column expressions only, so the same (seed, n) always gives
    byte-identical events.
    """
    df = spark.range(0, n_events, numPartitions=partitions)  # id = lsn
    u = F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(1_000_000)) / 1_000_000.0
    key_id = F.floor(F.lit(n_keys) * F.pow(u, F.lit(skew))).cast("long")
    h = F.xxhash64(key_id, F.lit(seed))
    repo_id = F.pmod(h, F.lit(max(1, n_keys // 50)))
    path_id = F.pmod(F.xxhash64(key_id, F.lit(seed + 1)), F.lit(200))
    u_op = F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 2)), F.lit(1_000)) / 1000.0
    content_seed = F.sha2(F.concat_ws("|", key_id.cast("string"), F.col("id").cast("string")), 256)
    reps = (F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 3)), F.lit(8)) + F.lit(1)).cast("int")
    return df.select(
        F.col("id").alias("lsn"),
        (F.col("id") / batch_size).cast("long").alias("batch_id"),
        F.when(u_op < p_delete, "D").when(u_op < 2 * p_delete, "I").otherwise("U").alias("op"),
        F.concat(F.lit("org"), F.pmod(repo_id, F.lit(97)).cast("string"), F.lit("/repo"),
                 repo_id.cast("string")).alias("repo"),
        F.concat(F.lit("src/mod"), F.pmod(path_id, F.lit(20)).cast("string"), F.lit("/file"),
                 path_id.cast("string"), F.lit(".py")).alias("path"),
        F.sha2(F.concat_ws("|", F.lit("commit"), key_id.cast("string")), 256).substr(1, 40).alias("commit"),
        F.element_at(F.array(*[F.lit(x) for x in LANGS]),
                     (F.pmod(h, F.lit(len(LANGS))) + 1).cast("int")).alias("lang"),
        F.when(u_op < p_delete, F.lit(None).cast("string"))
        .otherwise(F.repeat(content_seed, reps)).alias("content"),
    )


STATE_COLS = (*KEY_COLS, "lsn", "lang", "content", "content_sha", "n_tokens", "quality")


def read_binlog(path: str) -> pd.DataFrame:
    """The generated binlog (a small parquet directory), read in the driver."""
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pandas()


def final_state_oracle(events: pd.DataFrame) -> list[tuple]:
    """Reference final state, run through the winner stage: per key the
    max-LSN event wins and deletes drop the key. Computed in the driver with
    pandas, independently of the engine; rows as ``STATE_COLS`` tuples,
    sorted."""
    won = events.sort_values("lsn").drop_duplicates(list(KEY_COLS), keep="last")
    won = won[won["op"] != "D"]
    content = won["content"].fillna("")
    won = won.assign(content_sha=[hashlib.sha256(c.encode()).hexdigest() for c in content],
                     n_tokens=[token_count(c) for c in content],
                     quality=quality_score(content))
    return sorted(won[list(STATE_COLS)].itertuples(index=False, name=None))


def change_winners(events: pd.DataFrame) -> list[tuple]:
    """Per (key, batch) LWW winners as sorted (*key, lsn) tuples: exactly
    the rows a MOR replay commits as deltas, so exactly the rows of the
    change feed over those commits."""
    won = events.groupby([*KEY_COLS, "batch_id"], as_index=False)["lsn"].max()
    return sorted(won[[*KEY_COLS, "lsn"]].itertuples(index=False, name=None))


def collect_rows(df: DataFrame, cols=STATE_COLS) -> list[tuple]:
    """A frame's rows as sorted tuples of ``cols``, for exact comparison."""
    return sorted(tuple(r) for r in df.select(*cols).collect())


def token_count(text: str) -> int:
    """Python twin of the engine's ``token_count`` column function: split on
    ASCII whitespace after trimming spaces; 0 for an empty string."""
    t = text.strip(" ")
    return len(re.split(r"\s+", t, flags=re.ASCII)) if t else 0


def quality_score(content: pd.Series) -> pd.Series:
    """The map stage's quality score, shared by its pandas UDF and the
    oracle."""
    s = content.fillna("")
    n = s.str.len().clip(lower=1)
    alpha = s.str.count(r"[A-Za-z]")
    digit = s.str.count(r"[0-9]")
    ws = s.str.count(r"\s")
    upper = s.str.count(r"[A-Z]")
    punct = s.str.count(r"[^\w\s]")
    hexish = s.str.count(r"[0-9a-f]{8}")
    repeats = s.str.count(r"(.)\1\1")
    words = ws + 1
    return (
        (alpha / n) * 0.35
        + (1.0 - digit / n) * 0.2
        + (ws / n).clip(upper=0.2)
        + (1.0 - upper / alpha.clip(lower=1)) * 0.1
        + (1.0 - punct / words) * 0.1
        + (1.0 - hexish / words).clip(lower=0.0) * 0.03
        + (1.0 - repeats / n) * 0.02
    )


def map_stage():
    """The DocETL-map winner stage: content sha256 and token count as JVM
    expressions, a quality score as an Arrow-vectorized pandas UDF."""
    from pyspark.sql.functions import pandas_udf

    from docetl_spark.functions import text

    @pandas_udf("double")
    def quality(content: pd.Series) -> pd.Series:
        return quality_score(content)

    def stage(df: DataFrame) -> DataFrame:
        c = F.coalesce(F.col("content"), F.lit(""))
        return (
            df.withColumn("content_sha", F.sha2(c, 256))
            .withColumn("n_tokens", text.token_count(c))
            .withColumn("quality", quality(c))
        )

    return stage


def row_hash(df: DataFrame) -> tuple[int, int]:
    """Order-independent (row count, hash) of a frame, computed in the JVM:
    the exact decimal sum of one xxhash64 per row over its JSON rendering
    (JSON so maps, arrays and structs hash too)."""
    h = F.xxhash64(F.to_json(F.struct(*[F.col(c) for c in sorted(df.columns)])))
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.coalesce(F.sum(h.cast("decimal(38,0)")), F.lit(0)).alias("h")).collect()[0]
    return int(r["n"]), int(r["h"])


# Timed board leaves -> the layer rollup each belongs to. A subset of the
# 38 bench.py leaves sized so a run fits the benchmark's time budget; every
# layer the board stands for keeps at least one leaf.
BOARD_LEAVES = {
    "tpch_q1": "tpch",
    "lang_id_docs": "functions.text",
    "simhash_docs": "functions.dedup",
    "gather_hierarchy_docs": "operators",
    "doc_chunking_macro": "plans",
    "cdc_stream_lww": "streaming",
}
# Leaves that ingest the board's events table through the merge engine;
# they make up the board's ingest side, the rest its read side.
BOARD_INGEST_LEAVES = ("cdc_stream_lww",)

"""Raw parquet inputs read with a per-process schema cache.

``spark.read.parquet(path)`` without a schema runs a Spark job to infer
it from the file footers, on every call. On short reads that job is a
large share of the latency (0.20 s for a board file vs 0.04 s with the
schema given), so ``read_parquet`` infers a path's schema once per
process and afterwards reads with ``spark.read.schema(s).parquet(path)``,
which plans without a job. The cache key is ``(abspath, st_size,
st_mtime_ns)``: a rewritten file (or a directory whose entries changed)
is inferred again. Paths the local filesystem cannot stat (object
stores) are read uncached.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Entries kept before the oldest is evicted: a long-lived process that
# reads many short-lived paths (pipeline checkpoints) stays bounded.
_MAX_SCHEMAS = 256
_SCHEMAS: dict[tuple, T.StructType] = {}
_LOCK = threading.Lock()


def _key(path: str) -> tuple | None:
    path = os.path.abspath(path)
    try:
        st = os.stat(path)
    except OSError:
        return None
    return path, st.st_size, st.st_mtime_ns


def _remember(key: tuple, schema: T.StructType) -> None:
    with _LOCK:
        if key not in _SCHEMAS and len(_SCHEMAS) >= _MAX_SCHEMAS:
            del _SCHEMAS[next(iter(_SCHEMAS))]
        _SCHEMAS[key] = schema


def read_parquet(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema at most once
    per file version. A caller that already knows the schema (it just
    wrote the file from a frame) passes it and skips the inference; file
    reads make every field nullable, so the frame's schema reads back
    as the inferred one."""
    key = _key(path)
    if schema is None and key is not None:
        schema = _SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        if key is not None:
            _remember(key, df.schema)
        return df
    if key is not None:
        _remember(key, schema)
    return spark.read.schema(schema).parquet(path)

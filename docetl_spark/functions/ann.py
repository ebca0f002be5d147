"""Approximate-nearest-neighbor search over an embedding column.

* ``knn_brute`` — exact cosine top-k: the bounded query set rides a
  single Arrow kernel's closure (``_mq_scored``), so every corpus vector
  crosses the Python boundary once; per-query rank window on the scored
  pairs. The correctness baseline; O(|Q|·|corpus|) cosines but fully
  distributed, shuffle-light, and bit-identical to the crossJoin form it
  falls back to for unbounded query sets.
* ``knn_lsh`` — the scale path: seeded random-hyperplane buckets with
  multi-probe (flip each single bit), so a query only scans its own and
  adjacent buckets: candidate set shrinks ~2^planes-fold. Falls back to
  exact ranking within candidates.
* ``knn_ivf`` — the coarse-quantizer scale path (IVF-flat): a
  deterministic greedy k-center quantizer partitions the corpus into
  cells; each query probes its ``n_probe`` nearest cells and ranks
  exactly within them. Complements LSH: cells adapt to the data
  distribution (clustered corpora), hyperplanes don't need training.
* ``knn_lsh_candidates`` — just the blocked (query, neighbor) pair set,
  for callers that already hold exact scores or score differently.
* ``lsh_recall_at_k`` / ``ivf_recall_at_k`` — per-query recall@k of the
  approximate path against the brute-force path from ONE shared scored
  frame: the parameter-tuning / certification utility (cosines are
  computed once; both sides rank the same scores, the approximate side
  restricted to its candidate pairs).

All return cosine-ranked (query id, neighbor id, cosine, rank<=k) except
the candidates/recall helpers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from docetl_spark.functions.vectors import cosine, l2_normalize


# Driver-collect bound for the multi-query kernel's query side. Every
# certificate/brute contract runs a bounded query sample by design (the
# crossJoin path already broadcast q); past this bound we keep the
# crossJoin rather than grow the UDF closure.
_MQ_COLLECT_BOUND = 1024


def _collect_queries(q: DataFrame) -> list | None:
    """The bounded query sample for the multi-query kernel, or None when
    it exceeds the bound (one small driver job — O(|Q|) rows)."""
    rows = q.limit(_MQ_COLLECT_BOUND + 1).collect()
    return None if len(rows) > _MQ_COLLECT_BOUND else rows


def _collect_queries_raw(queries: DataFrame, query_id_col: str, vec_col: str) -> list | None:
    """Bounded query sample collected RAW — the collect job is a pure JVM
    scan (no Arrow UDF stage, which measurably dominates this tiny job) —
    then l2-normalized on the driver replicating ``_l2n_udf`` op-for-op:
    float64 promotion, ascending-dim sum-of-squares, ``sqrt(ss) + 1e-12``,
    elementwise divide. The kernel therefore sees bit-identical query
    vectors to the ``l2_normalize`` column path. Returns
    ``[{"_qid": ..., "_qv": ...}]`` or None when over the bound."""
    import numpy as np

    from docetl_spark.functions.vectors import _acc_dot

    rows = (
        queries.select(F.col(query_id_col).alias("_qid"), F.col(vec_col).alias("_qv"))
        .limit(_MQ_COLLECT_BOUND + 1)
        .collect()
    )
    if len(rows) > _MQ_COLLECT_BOUND:
        return None
    out = []
    for r in rows:
        v = r["_qv"]
        if v is None:
            out.append({"_qid": r["_qid"], "_qv": None})
            continue
        m = np.asarray(v, dtype=np.float64).reshape(1, -1)
        n = np.sqrt(_acc_dot(m, m)) + 1e-12
        out.append({"_qid": r["_qid"], "_qv": m[0] / n[0]})
    return out


def _mq_scored(c: DataFrame, q: DataFrame, rows: list | None = None) -> DataFrame | None:
    """(_qid, _nid, cosine) over every (corpus, query) pair WITHOUT the
    crossJoin: the bounded query frame is collected once and its
    normalized matrix rides ONE Arrow kernel's closure, so each corpus
    vector crosses the Python boundary once instead of |Q| times (the
    crossJoin shipped BOTH dim-d double vectors per pair — guide §4.1:
    control how many bytes cross the boundary).

    Numerics replicate the per-pair ``_cosine_udf`` bit-for-bit: the same
    ascending-dim ufunc accumulation per (corpus, query) cell, the same
    ``dot / (norm_c * norm_q + 1e-12)`` scalar order, so ranks, recall
    ratios and emitted cosines are byte-identical to the crossJoin path.
    A NULL corpus vector yields |Q| NULL-cosine rows — exactly the
    crossJoin's row set.

    Returns None (caller keeps the crossJoin) when the query set exceeds
    the collect bound, is empty, or carries NULL query vectors."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.functions import ArrowUDFType, arrow_udf

    from docetl_spark.functions.vectors import _acc_dot, _mat

    if rows is None:
        rows = _collect_queries(q)
    if not rows:
        return None
    if any(r["_qv"] is None for r in rows):
        return None  # NULL query vectors: crossJoin semantics are subtler — keep them there

    Qm = np.asarray([r["_qv"] for r in rows], dtype=np.float64)
    qn = np.sqrt(_acc_dot(Qm, Qm))  # per-query norms, same ascending-dim adds
    nq = Qm.shape[0]

    @arrow_udf(T.ArrayType(T.DoubleType()), ArrowUDFType.SCALAR)
    def _mq(a: pa.Array) -> pa.Array:
        valid, m = _mat(a)
        acc = np.zeros((m.shape[0], nq))
        for d in range(m.shape[1]):  # ascending-dim adds == _cosine_udf's order
            acc += m[:, d][:, None] * Qm[:, d][None, :]
        cn = np.sqrt(_acc_dot(m, m))
        vals = acc / (cn[:, None] * qn[None, :] + 1e-12)
        full = np.zeros((len(valid), nq))
        full[valid] = vals
        mask = np.repeat(~valid, nq)
        values = pa.array(full.ravel(), type=pa.float64(), mask=mask if mask.any() else None)
        offsets = pa.array(
            np.arange(0, (len(valid) + 1) * nq, nq, dtype=np.int64), type=pa.int64()
        )
        return pa.LargeListArray.from_arrays(offsets, values)

    spark = c.sparkSession
    pos_map = spark.createDataFrame(
        [(i, r["_qid"]) for i, r in enumerate(rows)],
        T.StructType([T.StructField("_pos", T.IntegerType(), False), q.schema["_qid"]]),
    )
    return (
        c.select("_nid", F.posexplode(_mq(F.col("_cv"))).alias("_pos", "cosine"))
        .join(F.broadcast(pos_map), "_pos")
        .filter(F.col("_nid") != F.col("_qid"))
        .select("_qid", "_nid", "cosine")
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("_qid").orderBy(F.desc("cosine"), F.col("_nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("_qid").alias("query_id"), F.col("_nid").alias("neighbor_id"), "cosine", "rank")
    )


def knn_brute(
    corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str, k: int = 10,
    query_id_col: str | None = None,
) -> DataFrame:
    query_id_col = query_id_col or id_col
    c = corpus.select(F.col(id_col).alias("_nid"), l2_normalize(vec_col).alias("_cv"))
    q = queries.select(F.col(query_id_col).alias("_qid"), l2_normalize(vec_col).alias("_qv"))
    q_rows = _collect_queries_raw(queries, query_id_col, vec_col)
    scored = _mq_scored(c, q, rows=q_rows) if q_rows is not None else None
    if scored is None:
        scored = (
            c.crossJoin(F.broadcast(q))
            .filter(F.col("_nid") != F.col("_qid"))
            .withColumn("cosine", cosine("_cv", "_qv").cast("double"))
        )
    return _rank_topk(scored, k)


def _lsh_candidate_pairs(
    c: DataFrame, q: DataFrame, dim: int, planes: int, seed: int, tables: int, probe_bits: int,
) -> DataFrame:
    """Blocked candidate (_qid, _nid) pairs from normalized frames
    ``c`` (_nid, _cv) and ``q`` (_qid, _qv).

    ``tables`` independent hyperplane tables (different seeds) union
    their candidates — the standard LSH recall lever: a true neighbor is
    missed only if it separates from the query in EVERY table. Candidate
    id pairs dedup BEFORE scoring so the rank window sees each pair once.

    ``probe_bits`` is the multi-probe depth: 1 visits the query's bucket
    plus every single-bit flip (planes+1 probes/table); 2 adds all 2-bit
    flips (+C(planes,2)) — the second recall lever when a true neighbor
    straddles two hyperplanes. Probes multiply only the QUERY side, which
    is tiny; the corpus carries one row per table either way."""
    from itertools import combinations

    from docetl_spark.functions.dedup import hyperplane_bucket_array

    flips = [0] + [1 << p for p in range(planes)]
    if probe_bits >= 2:
        flips += [(1 << a) | (1 << b) for a, b in combinations(range(planes), 2)]

    seeds = [seed + t for t in range(tables)]
    # ONE single-fold pass computes every table's bucket (array column),
    # materialized BEFORE the probe/table fan-out: inlining the hyperplane
    # fold into every probe struct duplicates its (large) expression tree
    # tables*probes times — Catalyst does not CSE it and codegen compile
    # time explodes (the r2 form still paid `tables` separate folds; the
    # array fold collapses them to one)
    c_ids = (
        c.select("_nid", hyperplane_bucket_array("_cv", dim, planes, seeds).alias("_ba"))
        .select("_nid", F.posexplode("_ba").alias("_t", "_b"))
    )
    q_ids = (
        q.select("_qid", hyperplane_bucket_array("_qv", dim, planes, seeds).alias("_ba"))
        .select(
            "_qid",
            F.explode(F.array(*[
                F.struct(
                    F.lit(t).alias("_t"),
                    F.element_at("_ba", t + 1).bitwiseXOR(F.lit(m)).alias("_b"),
                )
                for t in range(tables)
                for m in flips
            ])).alias("_tb"),
        )
        .select("_qid", "_tb._t", "_tb._b")
    )

    return (
        c_ids.join(q_ids, ["_t", "_b"])
        .filter(F.col("_nid") != F.col("_qid"))
        .select("_qid", "_nid")
        .distinct()
    )


def knn_lsh_candidates(
    corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str, dim: int,
    planes: int = 8, seed: int = 42, query_id_col: str | None = None,
    tables: int = 3, probe_bits: int = 1,
) -> DataFrame:
    """Public face of the blocking stage: (query_id, neighbor_id) pairs."""
    query_id_col = query_id_col or id_col
    c = corpus.select(F.col(id_col).alias("_nid"), l2_normalize(vec_col).alias("_cv"))
    q = queries.select(F.col(query_id_col).alias("_qid"), l2_normalize(vec_col).alias("_qv"))
    return _lsh_candidate_pairs(c, q, dim, planes, seed, tables, probe_bits).select(
        F.col("_qid").alias("query_id"), F.col("_nid").alias("neighbor_id")
    )


def knn_lsh(
    corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str, dim: int,
    k: int = 10, planes: int = 8, seed: int = 42, query_id_col: str | None = None,
    tables: int = 3, probe_bits: int = 1,
) -> DataFrame:
    """LSH-blocked ANN: candidate pairs (see ``_lsh_candidate_pairs``) then
    exact cosine ranking within candidates — vectors join back onto the
    (small) candidate set rather than riding through the bucket joins."""
    query_id_col = query_id_col or id_col
    c = corpus.select(F.col(id_col).alias("_nid"), l2_normalize(vec_col).alias("_cv"))
    q = queries.select(F.col(query_id_col).alias("_qid"), l2_normalize(vec_col).alias("_qv"))
    pairs = _lsh_candidate_pairs(c, q, dim, planes, seed, tables, probe_bits)
    scored = (
        pairs.join(c, "_nid")
        .join(F.broadcast(q), "_qid")
        .withColumn("cosine", cosine("_cv", "_qv").cast("double"))
    )
    return _rank_topk(scored, k)


def _recall_against_brute(
    c: DataFrame, q: DataFrame, k: int, pairs: DataFrame, q_rows: list | None,
) -> DataFrame:
    """Per-query recall@k of a candidate-pair blocking against brute force,
    from ONE scored frame: normalize once, score every (query, corpus)
    pair once, rank the full frame for the brute top-k and the
    candidate-restricted frame for the approximate top-k. Returns
    (query_id, recall double).

    This is the tuning/certification loop for blocking parameters: at
    scale you run it on a sampled query set before committing them,
    paying |Q|x|corpus| once instead of running two independent full
    pipelines (and it is exactly equivalent — the approximate path ranks
    the same exact cosines, restricted to its candidates). Both rankings
    come out of ONE window pass: the brute rank is a plain row_number and
    the candidate rank is the running count of candidate-flagged rows in
    the same (desc cosine, _nid) total order — identical to row_number
    over the candidate-restricted subset, without a second shuffle, a
    persist, or the hits/denominator join tree. ``pairs`` must be
    distinct (qid, nid) rows — every producer here ends in .distinct() —
    or the flag join would duplicate scored rows and corrupt ranks.

    recall@k = hits / |brute top-k|, NOT hits / k: a query with fewer
    than k scored neighbors (tiny corpus, k > corpus-1) must still be
    able to reach recall 1.0.

    ``q_rows`` is the caller's one bounded collect of the query sample
    (``_collect_queries_raw``); None means the set is over
    ``_MQ_COLLECT_BOUND``, so scoring goes straight to the crossJoin
    without collecting again."""
    from pyspark.sql import types as T

    scored = _mq_scored(c, q, rows=q_rows) if q_rows is not None else None
    if scored is None:
        scored = (
            c.crossJoin(F.broadcast(q))
            .filter(F.col("_nid") != F.col("_qid"))
            .withColumn("cosine", cosine("_cv", "_qv").cast("double"))
            .select("_qid", "_nid", "cosine")
        )
    w = Window.partitionBy("_qid").orderBy(F.desc("cosine"), F.col("_nid"))
    ranked = (
        scored.join(pairs.withColumn("_is_cand", F.lit(1)), ["_qid", "_nid"], "left")
        .select(
            "_qid",
            F.coalesce(F.col("_is_cand"), F.lit(0)).alias("_is_cand"),
            F.row_number().over(w).alias("_brk"),
            F.sum(F.coalesce(F.col("_is_cand"), F.lit(0)))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("_cdr"),
        )
    )
    res = (
        ranked.filter(F.col("_brk") <= k)
        .groupBy("_qid")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(((F.col("_is_cand") == 1) & (F.col("_cdr") <= k)).cast("long")).alias("_hits"),
        )
        .select(
            F.col("_qid").alias("query_id"),
            (F.coalesce(F.col("_hits"), F.lit(0)) / F.col("_n")).alias("recall"),
        )
    )
    schema = res.schema
    rows = res.collect()
    out = c.sparkSession.createDataFrame(rows, schema)
    # queries absent from the brute frame (corpus holds no OTHER vector)
    # have no meaningful recall; give them 1.0 so certificates stay green
    if q_rows is not None:
        # q was already collected for the kernel — build the id frame
        # locally so the returned plan is a local join, not a re-scan of
        # the query lineage at every consumer action
        qids = c.sparkSession.createDataFrame(
            [(v,) for v in dict.fromkeys(r["_qid"] for r in q_rows)],
            T.StructType([T.StructField("query_id", q.schema["_qid"].dataType)]),
        )
    else:
        qids = q.select(F.col("_qid").alias("query_id")).distinct()
    # `out` is a |Q|-row local frame (just collected) — broadcast it
    return qids.join(F.broadcast(out), "query_id", "left").select(
        "query_id", F.coalesce(F.col("recall"), F.lit(1.0)).alias("recall")
    )


def lsh_recall_at_k(
    corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str, dim: int,
    k: int = 10, planes: int = 8, seed: int = 42, query_id_col: str | None = None,
    tables: int = 3, probe_bits: int = 1,
) -> DataFrame:
    """Recall@k certificate for ``knn_lsh`` — see ``_recall_against_brute``."""
    query_id_col = query_id_col or id_col
    c = corpus.select(F.col(id_col).alias("_nid"), l2_normalize(vec_col).alias("_cv"))
    q = queries.select(F.col(query_id_col).alias("_qid"), l2_normalize(vec_col).alias("_qv"))
    pairs = _lsh_candidate_pairs(c, q, dim, planes, seed, tables, probe_bits)
    return _recall_against_brute(
        c, q, k, pairs, q_rows=_collect_queries_raw(queries, query_id_col, vec_col)
    )


# ---------------------------------------------------------------------------
# IVF-flat (coarse-quantizer) path
# ---------------------------------------------------------------------------

def ivf_centroids(
    corpus: DataFrame, vec_col: str, n_centroids: int = 16,
    seed: int = 42, sample_size: int = 4096,
) -> list[list[float]]:
    """Deterministic coarse quantizer: greedy farthest-point k-center over
    a seeded-hash-ordered driver sample of NORMALIZED vectors.

    No iterative k-means: the greedy is seedless-reproducible at any
    parallelism (the same property the cluster value-sampler relies on)
    and gives the 2-approximation coverage guarantee the quantizer
    needs. Sample is TakeOrdered-bounded (``sample_size`` rows collect);
    training cost never scales with the corpus."""
    import numpy as np

    rows = (
        corpus.select(l2_normalize(vec_col).alias("_v"))
        .filter(F.col("_v").isNotNull())
        .orderBy(F.xxhash64(F.col("_v"), F.lit(seed)))
        .limit(int(sample_size))
        .collect()
    )
    if not rows:
        raise ValueError("ivf_centroids: no non-null vectors to train on")
    X = np.asarray([r["_v"] for r in rows], dtype=np.float64)
    k = min(int(n_centroids), len(X))
    chosen = [0]  # deterministic start: first row in hash order
    d = np.linalg.norm(X - X[0], axis=1)
    for _ in range(k - 1):
        if d.max() == 0:
            break  # fewer distinct points than centroids
        nxt = int(d.argmax())
        chosen.append(nxt)
        d = np.minimum(d, np.linalg.norm(X - X[nxt], axis=1))
    return [X[i].tolist() for i in chosen]


def _cell_assign_udf(centroids: list[list[float]], n_probe: int):
    """Arrow UDF: normalized vector -> its ``n_probe`` nearest centroid
    indices (array<int>, best first). Zero-copy batch matrix like the
    vectors.py kernels; the dot accumulation is an explicit ascending-dim
    loop (never BLAS) so assignments are bit-stable across runs and
    thread counts — a flipped argmax would silently change the candidate
    set. Ties break toward the lower centroid index (stable argsort)."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.functions import ArrowUDFType, arrow_udf

    from docetl_spark.functions.vectors import _mat

    C = np.asarray(centroids, dtype=np.float64)
    p = int(n_probe)

    @arrow_udf(T.ArrayType(T.IntegerType()), ArrowUDFType.SCALAR)
    def assign(a: pa.Array) -> pa.Array:
        valid, m = _mat(a)
        n = m.shape[0]
        acc = np.zeros((n, len(C)))
        for d in range(m.shape[1]):
            acc += m[:, d][:, None] * C[:, d][None, :]
        order = np.argsort(-acc, axis=1, kind="stable")[:, : min(p, len(C))]
        flat = order.astype(np.int32).ravel()
        width = order.shape[1] if n else 0
        widths = np.where(valid, width, 0)
        offs = np.zeros(len(valid) + 1, dtype=np.int64)
        np.cumsum(widths, out=offs[1:])
        values = pa.array(flat, type=pa.int32())
        offsets = pa.array(offs, type=pa.int64())
        if valid.all():
            return pa.LargeListArray.from_arrays(offsets, values)
        return pa.LargeListArray.from_arrays(offsets, values, mask=pa.array(~valid))

    return assign


def _ivf_candidate_pairs(
    c: DataFrame, q: DataFrame, centroids: list[list[float]], n_probe: int,
) -> DataFrame:
    """Blocked (_qid, _nid) pairs: corpus rows keyed by their single
    nearest cell, queries fan out to their ``n_probe`` nearest cells, and
    a cell equi-join produces candidates. Probes multiply only the query
    side; the corpus carries exactly one row per vector."""
    c_cells = c.select(
        "_nid", F.explode(_cell_assign_udf(centroids, 1)(F.col("_cv"))).alias("_cell")
    )
    q_cells = q.select(
        "_qid", F.explode(_cell_assign_udf(centroids, n_probe)(F.col("_qv"))).alias("_cell")
    )
    return (
        # query side is |Q| * n_probe rows — broadcast so the corpus-cell
        # side never shuffles (AQE can miss this when the UDF hides stats)
        c_cells.join(F.broadcast(q_cells), "_cell")
        .filter(F.col("_nid") != F.col("_qid"))
        .select("_qid", "_nid")
        .distinct()
    )


def knn_ivf(
    corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str,
    k: int = 10, n_centroids: int = 16, n_probe: int = 4, seed: int = 42,
    sample_size: int = 4096, query_id_col: str | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-flat ANN: train (or reuse) the quantizer, assign cells, rank
    exact cosines within the probed cells. Pass ``centroids`` to reuse a
    trained quantizer across calls/batches (the production shape: train
    once on a sample, serve many query sets)."""
    query_id_col = query_id_col or id_col
    if centroids is None:
        centroids = ivf_centroids(corpus, vec_col, n_centroids, seed, sample_size)
    c = corpus.select(F.col(id_col).alias("_nid"), l2_normalize(vec_col).alias("_cv"))
    q = queries.select(F.col(query_id_col).alias("_qid"), l2_normalize(vec_col).alias("_qv"))
    pairs = _ivf_candidate_pairs(c, q, centroids, n_probe)
    scored = (
        pairs.join(c, "_nid")
        .join(F.broadcast(q), "_qid")
        .withColumn("cosine", cosine("_cv", "_qv").cast("double"))
    )
    return _rank_topk(scored, k)


def ivf_recall_at_k(
    corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str,
    k: int = 10, n_centroids: int = 16, n_probe: int = 4, seed: int = 42,
    sample_size: int = 4096, query_id_col: str | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Recall@k certificate for ``knn_ivf`` — see ``_recall_against_brute``."""
    query_id_col = query_id_col or id_col
    if centroids is None:
        centroids = ivf_centroids(corpus, vec_col, n_centroids, seed, sample_size)
    c = corpus.select(F.col(id_col).alias("_nid"), l2_normalize(vec_col).alias("_cv"))
    q = queries.select(F.col(query_id_col).alias("_qid"), l2_normalize(vec_col).alias("_qv"))
    pairs = _ivf_candidate_pairs(c, q, centroids, n_probe)
    return _recall_against_brute(
        c, q, k, pairs, q_rows=_collect_queries_raw(queries, query_id_col, vec_col)
    )

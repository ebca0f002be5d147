"""Rank operator (SURVEY.md §2.6; reference docetl/operations/rank.py).

The reference produces a total LLM-judged ordering in two phases:

1. an initial ordering (``embedding`` / ``likert`` / ``calibrated_embedding``
   — all scoring passes, rank.py:700-737); here the deterministic analogue
   is a vectorized ``score`` expression (pluggable, so an LLM-backed batch
   scorer slots in through the ``operators.middleware`` stack);
2. a budgeted sliding "picky window" refinement (rank.py:744-870): exactly
   ``rerank_call_budget`` windows slide from the bottom of the top-k slice
   upward with ``overlap_fraction`` overlap; each call picks the
   ``num_top_items_per_window`` best docs of its window and swaps them to
   the window's front positions. Driver-side over ≤ k rows by design —
   the expensive part is the per-window call, not the data movement.

Scale note: with ``k`` the candidate slice comes from
TakeOrderedAndProject (per-partition heaps, no global sort). Without
``k`` the full-table ranking avoids the single-task global window via
range repartitioning: sort within range partitions + per-partition count
offsets — the standard distributed zipWithIndex shape.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _picky_window_protocol(
    pdf: pd.DataFrame,
    picker: Callable[[pd.DataFrame, int], list[int]],
    k: int,
    budget: int,
    num_top_items: int,
    overlap_fraction: float,
) -> pd.DataFrame:
    """The reference's sliding-window refinement (rank.py:744-870), exactly:
    window geometry from the call budget, bottom-up slide, picked docs swap
    to the window's front positions, stop once a window touches the top.

    ``picker(window_pdf, n)`` returns window-relative indices of the best
    ``n`` rows, best first (the deterministic stand-in for the LLM's
    ``top_picks`` list)."""
    step_size = max(1, int(k / (budget - 1 or 1)))
    window_size = min(
        k,
        max(num_top_items, int(step_size / (1 - overlap_fraction)))
        if overlap_fraction < 1
        else step_size * 2,
    )
    order = list(range(len(pdf)))  # positions -> original row index
    calls = 0
    for i in range(k - 1, 0, -step_size):
        if calls >= budget:
            break
        end_idx = i
        start_idx = max(0, end_idx - window_size)
        if start_idx == 0:
            end_idx = window_size
        window_positions = list(range(start_idx, min(end_idx, len(order))))
        if len(window_positions) < num_top_items:
            continue
        window = pdf.iloc[[order[p] for p in window_positions]].reset_index(drop=True)
        picks = picker(window, num_top_items)
        calls += 1
        # window-relative picks -> original row indices, deduped, capped
        picked = list(dict.fromkeys(
            order[window_positions[idx]] for idx in picks if 0 <= idx < len(window_positions)
        ))[:num_top_items]
        # swap picked docs to the front positions of the window
        pos_of = {row: pos for pos, row in enumerate(order)}
        for target_off, row in enumerate(picked):
            if target_off >= len(window_positions):
                break
            cur = pos_of[row]
            target = window_positions[target_off]
            if cur == target:
                continue
            other = order[target]
            order[target], order[cur] = row, other
            pos_of[row], pos_of[other] = target, cur
        if start_idx == 0:
            break
    return pdf.iloc[order].reset_index(drop=True)


def _distributed_global_rank(scored: DataFrame, order: list, rank_col: str) -> DataFrame:
    """Global row_number without a single-task window: range-repartition on
    the (total, tie-free) order, sort within partitions, then local rank +
    cumulative offset of earlier partitions. The driver sees one count per
    partition. The partitioned data is localCheckpoint-pinned BEFORE the
    counts job: range boundaries come from sampling seeded by the RDD id,
    so two independent executions could draw different boundaries and the
    offsets would describe the wrong partitioning — the checkpoint makes
    both jobs read the SAME materialized partitions (and the wide rows
    move through the range shuffle exactly once). Ranks are long — int32
    overflows at 10^10 rows."""
    import pyspark.sql.types as T

    npart = max(scored.sparkSession.sparkContext.defaultParallelism, 1)
    parted = (
        scored.repartitionByRange(npart, *order)
        .sortWithinPartitions(*order)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = parted.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n")).collect()
    offsets, acc = {}, 0
    for r in sorted(counts, key=lambda r: r["_pid"]):
        offsets[int(r["_pid"])] = acc
        acc += int(r["_n"])

    schema = T.StructType(list(parted.schema.fields) + [T.StructField(rank_col, T.LongType(), False)])

    def assign(batches):
        seen = 0
        for pdf in batches:  # batches arrive in partition (sorted) order
            if len(pdf):
                base = offsets[int(pdf["_pid"].iloc[0])]
                pdf[rank_col] = range(base + seen + 1, base + seen + 1 + len(pdf))
                seen += len(pdf)
            else:
                pdf[rank_col] = pd.Series([], dtype="int64")
            yield pdf

    return parted.mapInPandas(assign, schema).drop("_pid")


def rank(
    df: DataFrame,
    score: Column | str | None = None,
    direction: str = "desc",
    name: str = "rank",
    k: int | None = None,
    rerank_fn: Callable[[pd.DataFrame], pd.Series] | None = None,
    rerank_window: int = 50,
    picker: Callable[[pd.DataFrame, int], list[int]] | None = None,
    rerank_call_budget: int = 10,
    num_top_items_per_window: int = 3,
    overlap_fraction: float = 0.5,
    score_fn: Callable[[pd.DataFrame], pd.Series] | None = None,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Total ordering by score; adds ``_{name}_rank`` (1-based) and keeps
    ``_{name}_score``.

    Initial ordering: ``score`` (Column expression — the embedding path)
    or ``score_fn`` (Arrow-batched pandas scorer — the plug point for the
    reference's likert / calibrated_embedding raters, rank.py:498,:988: an
    LLM-backed per-doc rating slots in here, composable with
    ``operators.middleware.cached``/``rate_limited``/``validated``).

    With ``k``, only the top-k are returned (TakeOrderedAndProject — no
    global sort). Without ``k``, ranks come from range-partitioned
    sort + partition offsets (distributed; no single-task window).

    Refinement (needs ``k``):

    * ``picker`` — the reference's multi-pass picky-window protocol under
      ``rerank_call_budget`` calls (rank.py:744-870); ``picker(window, n)``
      returns window-relative indices of the best n rows.
    * ``rerank_fn`` — legacy single-pass head-window rescoring.
    """
    if (score is None) == (score_fn is None):
        raise ValueError("rank needs exactly one of score / score_fn")
    if score_fn is not None:
        import pyspark.sql.types as T

        schema = T.StructType(list(df.schema.fields) + [T.StructField(f"_{name}_score", T.DoubleType(), True)])

        def add_score(batches):
            for pdf in batches:
                out = pdf.copy()
                out[f"_{name}_score"] = score_fn(pdf).astype(float).to_numpy()
                yield out

        scored = df.mapInPandas(add_score, schema)
    else:
        sc = F.col(score) if isinstance(score, str) else score
        scored = df.withColumn(f"_{name}_score", sc.cast("double"))
    # default tiebreak: content hash (deterministic at any parallelism);
    # pass tiebreak_cols for an ordering reproducible in external SQL
    # oracles (coarse scores like likert ratings tie constantly)
    if tiebreak_cols:
        tiebreak = [F.col(c) for c in tiebreak_cols]
    else:
        tiebreak = [F.xxhash64(*[F.col(c) for c in df.columns])]
    order = (
        [F.col(f"_{name}_score").desc()] if direction == "desc" else [F.col(f"_{name}_score").asc()]
    ) + tiebreak

    if k is not None:
        top = scored.orderBy(*order).limit(int(k))
        if picker is not None or rerank_fn is not None:
            import pyspark.sql.types as T

            # explicit schema: pandas inference raises on an empty top-k
            # slice and can round-trip typed columns (arrays, decimals)
            # to different types (ADVICE r2 #3)
            out_schema = T.StructType(
                list(top.schema.fields) + [T.StructField(f"_{name}_rank", T.LongType(), False)]
            )
        if picker is not None:
            pdf = top.toPandas()
            pdf = _picky_window_protocol(
                pdf, picker, int(k), rerank_call_budget, num_top_items_per_window, overlap_fraction
            )
            pdf[f"_{name}_rank"] = range(1, len(pdf) + 1)
            return df.sparkSession.createDataFrame(pdf, schema=out_schema)
        if rerank_fn is not None:
            pdf = top.toPandas()
            head = pdf.head(rerank_window).copy()
            head[f"_{name}_score"] = rerank_fn(head).astype(float)
            pdf = pd.concat([head, pdf.iloc[len(head):]])
            pdf = pdf.sort_values(f"_{name}_score", ascending=(direction != "desc"), kind="mergesort")
            pdf[f"_{name}_rank"] = range(1, len(pdf) + 1)
            return df.sparkSession.createDataFrame(pdf, schema=out_schema)
        # window runs over ≤ k rows (post-limit), so the unpartitioned
        # WindowExec warning is moot — the single partition holds at most
        # k rows by construction. (A constant partition key would NOT
        # suppress it: Catalyst constant-folds the literal out of the spec.)
        return top.withColumn(
            f"_{name}_rank", F.row_number().over(Window.orderBy(*order))
        )

    return _distributed_global_rank(scored, order, f"_{name}_rank")


# ---------------------------------------------------------------------------
# batteries-included initial-ordering baselines (reference rank.py:498,:988)
# ---------------------------------------------------------------------------

def likert_score_fn(
    rater: Callable[[pd.DataFrame, "pd.DataFrame | None"], "list[int]"],
    batch_size: int = 10,
    context: "pd.DataFrame | None" = None,
) -> Callable[[pd.DataFrame], pd.Series]:
    """The reference's likert rating protocol (rank.py:498-668) as a
    ``rank(score_fn=...)`` scorer: documents are rated on a 1-7 scale in
    input-order batches of ``batch_size``; out-of-range / missing ratings
    fall back to the neutral 4 (rank.py:646-649). ``rater(batch_pdf,
    context_pdf) -> list[int]`` is the pluggable LLM stand-in — an
    LLM-backed rater slots in through ``operators.middleware.cached`` /
    ``validated`` exactly like any other batch transform. ``context`` is
    the calibration sample the reference renders into every prompt
    (rank.py:524-537).

    Distributed geometry note: the reference batches over the one global
    input list; here batches form within each Arrow batch (per partition)
    — the same batch SIZE the rater sees, group membership differs. A
    per-document rater is unaffected; a context-sensitive rater gets the
    explicit calibration ``context`` instead of cross-batch state.
    """

    import numpy as np

    def score(pdf: pd.DataFrame) -> pd.Series:
        ratings = np.full(len(pdf), 4.0)
        for start in range(0, len(pdf), batch_size):
            chunk = pdf.iloc[start : start + batch_size]
            out = list(rater(chunk, context))[: len(chunk)]
            for j, r in enumerate(out):
                try:
                    r = int(r)
                except (TypeError, ValueError):
                    continue
                if 1 <= r <= 7:
                    ratings[start + j] = float(r)
        return pd.Series(ratings)

    return score


def rank_likert(
    df: DataFrame,
    rater: Callable[[pd.DataFrame, "pd.DataFrame | None"], "list[int]"],
    direction: str = "desc",
    name: str = "rank",
    k: int | None = None,
    batch_size: int = 10,
    num_calibration_docs: int = 10,
    seed: int = 42,
    tiebreak_cols: list[str] | None = None,
    **rank_kwargs,
) -> DataFrame:
    """Likert initial ordering end-to-end: draw the calibration sample
    (seeded hash order — the distributed analogue of the reference's
    ``random.seed(42); random.sample``, rank.py:525-527), rate every doc
    through ``likert_score_fn``, then rank (optionally into the picky
    window via ``picker=...`` in ``rank_kwargs``)."""
    ctx = (
        df.orderBy(F.xxhash64(*[F.col(c) for c in df.columns], F.lit(seed)))
        .limit(int(num_calibration_docs))
        .toPandas()
    )
    return rank(
        df,
        score_fn=likert_score_fn(rater, batch_size=batch_size, context=ctx),
        direction=direction,
        name=name,
        k=k,
        tiebreak_cols=tiebreak_cols,
        **rank_kwargs,
    )


def calibrated_anchor_scores(vec_col, anchors: "list[list[float]]"):
    """struct<anchor:int, sim:double> per row: index of the most
    cosine-similar calibration anchor (first-max-wins — np.argmax, same
    as the reference's rank.py:1056-1060) and that similarity. Anchors
    are a driver-side constant matrix captured by the Arrow UDF; the
    per-row kernel is the same zero-copy ascending-dim accumulation as
    functions.vectors."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.functions import ArrowUDFType, arrow_udf

    a = np.asarray(anchors, dtype=np.float64)  # K x D
    n_anchors, dim = a.shape
    at = a.T.copy()
    anorm = np.sqrt((a * a).sum(axis=1))

    out_type = T.StructType([
        T.StructField("anchor", T.IntegerType(), True),
        T.StructField("sim", T.DoubleType(), True),
    ])

    @arrow_udf(out_type, ArrowUDFType.SCALAR)
    def _scores(v: pa.Array) -> pa.Array:
        if isinstance(v, pa.ChunkedArray):
            v = v.combine_chunks()
        # NULL embeddings yield a NULL struct (flatten() drops null list
        # slots, so reshape must use the valid row count)
        valid = np.asarray(v.is_valid()) if len(v) else np.zeros(0, dtype=bool)
        comp = v.drop_null() if len(v) and not valid.all() else v
        n = len(comp)
        flat = np.asarray(comp.flatten(), dtype=np.float64)
        x = flat.reshape(n, dim) if n else np.zeros((0, dim))
        dots = np.zeros((n, n_anchors))
        xsq = np.zeros(n)
        for d in range(dim):  # ascending-dim adds: deterministic, no BLAS
            dots += x[:, d, None] * at[d]
            xsq += x[:, d] * x[:, d]
        sims = dots / (np.sqrt(xsq)[:, None] * anorm[None, :] + 1e-12)
        idx = sims.argmax(axis=1) if n else np.zeros(0, dtype=np.int64)
        best = sims[np.arange(n), idx] if n else np.zeros(0)
        idx_full = np.zeros(len(v), dtype=np.int64)
        best_full = np.zeros(len(v))
        if n:
            idx_full[np.flatnonzero(valid)] = idx
            best_full[np.flatnonzero(valid)] = best
        kwargs = {} if (len(v) and valid.all()) else {
            "mask": pa.array(~valid) if len(v) else pa.array(np.zeros(0, dtype=bool))
        }
        return pa.StructArray.from_arrays(
            [pa.array(idx_full.astype(np.int32)), pa.array(best_full, type=pa.float64())],
            ["anchor", "sim"],
            **kwargs,
        )

    return _scores(F.col(vec_col) if isinstance(vec_col, str) else vec_col)


def rank_calibrated(
    df: DataFrame,
    embedding_col: str,
    anchors: "list[list[float]]",
    name: str = "rank",
    k: int | None = None,
    tiebreak_cols: list[str] | None = None,
    sim_round: int | None = None,
    **rank_kwargs,
) -> DataFrame:
    """Calibrated-embedding initial ordering (reference rank.py:988-1090):
    ``anchors`` is the pre-SORTED calibration sample's embedding list
    (the reference sorts ~20 sampled docs with its all-pairs comparison
    baseline, then embeds them — here the caller supplies the sorted
    embeddings; an LLM-sorted sample plugs in upstream). Every row maps
    to its most-similar anchor and rows order by (anchor index asc,
    similarity desc) — reference's sort key (rank.py:1066-1069) — here a
    composite score ``anchor*4 + (1 - sim)`` ranked ascending (sim is in
    [-1,1], so consecutive anchors' score ranges never overlap).

    ``sim_round`` rounds similarities before scoring — used by contract
    queries so an external SQL oracle's float cosine can reproduce the
    exact order. Output carries ``_{name}_anchor`` / ``_{name}_sim``.
    """
    df2 = (
        df.withColumn("_cal", calibrated_anchor_scores(embedding_col, anchors))
        .withColumn(f"_{name}_anchor", F.col("_cal.anchor"))
        .withColumn(f"_{name}_sim", F.col("_cal.sim"))
        .drop("_cal")
    )
    sim = F.col(f"_{name}_sim")
    if sim_round is not None:
        sim = F.round(sim, int(sim_round))
    score = F.col(f"_{name}_anchor").cast("double") * 4.0 + (F.lit(1.0) - sim)
    return rank(
        df2, score=score, direction="asc", name=name, k=k,
        tiebreak_cols=tiebreak_cols, **rank_kwargs,
    )


def head_picker(window: pd.DataFrame, n: int) -> list[int]:
    """Identity picker — keeps the window's existing order (exactly the
    reference's fallback when an LLM pick response can't be parsed,
    rank.py:972-986). Useful as the no-op default in configs and tests."""
    return list(range(min(n, len(window))))

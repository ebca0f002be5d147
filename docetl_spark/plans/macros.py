"""Deterministic pipeline-rewrite macros — the mechanical residue of the
reference's agentic optimizer (the full ``docetl build`` directive set):

* ``doc_chunking`` — ``Map => Split -> Gather -> [Sample] -> Map ->
  Reduce`` (doc_chunking.py:300-428)
* ``doc_chunking_topk`` — ``Map/Filter => Split -> TopK -> Reduce
  [-> code_filter]`` (doc_chunking_topk.py:448-585)
* ``cascade_filtering`` — ``Filter => CodeFilter* -> Filter(cheap)* ->
  Filter`` (cascade_filtering.py:347-390)
* ``hierarchical_reduce`` — ``Reduce => [Map ->] Reduce(k+k2) ->
  Reduce(k)`` (hierarchical_reduce.py:224-289)

In the reference an LLM instantiates each directive (synthesizes
sub-prompts, retrieval queries, pre-filter predicates); everything else —
operator names, key wiring, stratification, emission ordering, defaults —
is deterministic config surgery in each directive's ``apply``. This
module implements exactly that deterministic part: the caller supplies
SQL expressions where the reference's agent supplies prompts, and each
macro emits the composed plan with the reference's naming and wiring.

The original (and still most-used) rewrite, doc chunking:

* ``split_{target}`` — split ``split_key`` (token_count by default),
  emitting ``{split}_id`` / ``{split}_chunk_num`` / ``{split_key}_chunk``
* ``gather_{target}`` — peripheral context around each chunk; default
  config ``{"previous": {"tail": {"count": 1}}}`` (doc_chunking.py:352)
* ``sample_{target}_chunks`` — optional, stratified by the split doc id
  (doc_chunking.py:389-419); omit to process every chunk
* ``map_{target}_chunks`` — chunk-level map over
  ``{split_key}_chunk_rendered``
* ``reduce_{target}`` — per-source-document aggregation keyed on
  ``{split}_id`` (order-sensitive aggs express the reference's
  ``associative: False`` via max_by/array_sort over ``chunk_num``)

Scale shape: the whole composed plan is narrow until the final reduce —
split/gather shuffle once on the split id (gather's window partitioning),
and the reduce reuses the same key, so AQE exchange-reuse makes the
aggregation effectively free. No driver loops, no eager jobs.
"""

from __future__ import annotations

from copy import deepcopy


def doc_chunking(
    target: str,
    *,
    split_key: str,
    chunk_size: int = 128,
    method: str = "token_count",
    delimiter: str = "\n\n",
    num_splits_to_group: int = 1,
    sub_expr: dict[str, str],
    reduce_aggs: dict[str, str],
    gather_config: dict | None = None,
    sampling: dict | None = None,
    assume_distinct: bool = False,
) -> list[dict]:
    """Emit the composed op sequence for one chunked map.

    ``sub_expr`` — SQL expressions for the chunk-level map (reference
    sub_prompt analogue); they see ``{split_key}_chunk``,
    ``{split_key}_chunk_rendered``, ``{split}_chunk_num`` and every
    pass-through column. ``reduce_aggs`` — SQL aggregate expressions for
    the per-document combine (reduce_prompt analogue). ``sampling`` —
    ``{"method": ..., "samples": ...}`` or
    ``{"samples_per_group": n}``; always stratified by the split doc id
    exactly like the reference (extra ``stratify_key`` is appended)."""
    split_name = f"split_{target}"
    split_op: dict = {
        "op": "split",
        "name": split_name,
        "split_key": split_key,
        "method": method,
    }
    if assume_distinct:  # single-pass split (skip the duplicate probe)
        split_op["assume_distinct"] = True
    if method == "token_count":
        split_op["num_tokens"] = chunk_size
    else:
        split_op["delimiter"] = delimiter
        split_op["num_splits_to_group"] = num_splits_to_group

    gather_op = {
        "op": "gather",
        "name": f"gather_{target}",
        "content_key": f"{split_key}_chunk",
        "doc_id_key": f"{split_name}_id",
        "order_key": f"{split_name}_chunk_num",
        # reference default when the agent supplies no config
        # (doc_chunking.py:352)
        "peripheral_chunks": deepcopy(gather_config) if gather_config else {"previous": {"tail": {"count": 1}}},
    }

    ops: list[dict] = [split_op, gather_op]
    if sampling:
        stratify = [f"{split_name}_id"]
        if sampling.get("stratify_key"):
            stratify.append(sampling["stratify_key"])
        sample_op = {
            "op": "sample",
            "name": f"sample_{target}_chunks",
            "method": sampling.get("method", "uniform"),
            "samples": sampling.get("samples"),
            "stratify_key": stratify if len(stratify) > 1 else stratify[0],
        }
        if sampling.get("samples_per_group") is not None:
            sample_op["samples_per_group"] = sampling["samples_per_group"]
        if sampling.get("random_state") is not None:
            sample_op["random_state"] = sampling["random_state"]
        ops.append(sample_op)

    ops.append({"op": "map", "name": f"map_{target}_chunks", "expr": dict(sub_expr)})
    ops.append({
        "op": "reduce",
        "name": f"reduce_{target}",
        "reduce_key": f"{split_name}_id",
        "aggs": dict(reduce_aggs),
    })
    return ops


def doc_chunking_topk(
    target: str,
    *,
    split_key: str,
    chunk_size: int = 128,
    method: str = "token_count",
    delimiter: str = "\n\n",
    num_splits_to_group: int = 1,
    topk_config: dict,
    reduce_aggs: dict[str, str],
    is_filter: bool = False,
    bool_expr: str | None = None,
    assume_distinct: bool = False,
) -> list[dict]:
    """Retrieval-flavored chunking rewrite: ``Map/Filter =>
    Split -> TopK -> Reduce (-> code_filter when the target was a
    Filter)`` — the deterministic surgery of the reference's
    ``DocumentChunkingTopKDirective.apply``
    (docetl/reasoning_optimizer/directives/doc_chunking_topk.py:448-585):
    ``split_{target}`` / ``topk_{target}_chunks`` stratified on the split
    doc id (``stratify_key=[f"{split_name}_id"]`` + optional extra,
    :509-517) / ``reduce_{target}`` keyed on the split id; a filter
    target appends ``code_filter_{target}`` returning the boolean
    (:563-578). The LLM parts (reduce_prompt synthesis, query crafting)
    become caller-supplied SQL: ``reduce_aggs`` and ``bool_expr``.

    ``topk_config`` — ``method`` (``fts`` = corpus BM25 over ALL chunks
    then per-document rank, ``fts_simple`` = corpus-independent proxy for
    per-batch/streaming contexts, or ``score`` with a ``score`` expr),
    ``k``, ``query``, optional ``keys`` (first entry is the searched
    column; defaults to ``{split_key}_chunk``), optional extra
    ``stratify_key``, optional ``tiebreak_cols`` for oracle-reproducible
    ordering.

    Scale shape: one BM25 stats fit over the whole chunk corpus (two
    bounded jobs), one window shuffle on the split id for the per-doc
    rank, and the reduce reuses that same key — no per-document corpus
    scans, no driver loops."""
    split_name = f"split_{target}"
    split_op: dict = {
        "op": "split", "name": split_name,
        "split_key": split_key, "method": method,
    }
    if assume_distinct:  # single-pass split (skip the duplicate probe)
        split_op["assume_distinct"] = True
    if method == "token_count":
        split_op["num_tokens"] = chunk_size
    else:
        split_op["delimiter"] = delimiter
        split_op["num_splits_to_group"] = num_splits_to_group

    stratify = [f"{split_name}_id"]
    if topk_config.get("stratify_key"):
        stratify.append(topk_config["stratify_key"])
    keys = topk_config.get("keys") or [f"{split_key}_chunk"]
    topk_name = f"topk_{target}_chunks"
    topk_op: dict = {
        "op": "topk", "name": topk_name,
        "method": topk_config.get("method", "fts"),
        "k": topk_config["k"],
        "stratify_key": stratify if len(stratify) > 1 else stratify[0],
    }
    if topk_op["method"] in ("fts", "fts_simple"):
        topk_op["text_col"] = keys[0]
        topk_op["query"] = topk_config["query"]
    elif topk_op["method"] == "score":
        topk_op["score"] = topk_config["score"]
    else:
        raise ValueError(
            f"doc_chunking_topk supports methods fts/fts_simple/score, "
            f"got {topk_config.get('method')!r} (embedding retrieval needs "
            "a vector column — wire topk method='embedding' directly)"
        )
    if topk_config.get("tiebreak_cols"):
        topk_op["tiebreak_cols"] = list(topk_config["tiebreak_cols"])

    ops: list[dict] = [split_op, topk_op, {
        "op": "reduce", "name": f"reduce_{target}",
        "reduce_key": f"{split_name}_id",
        "aggs": dict(reduce_aggs),
    }]
    if is_filter:
        if not bool_expr:
            raise ValueError("is_filter=True needs bool_expr (the boolean the reduce emits)")
        ops.append({"op": "filter", "name": f"code_filter_{target}", "where": bool_expr})
    return ops


def cascade_filtering(
    target: str,
    *,
    where: str,
    code_pre_filters: list[dict] | None = None,
    llm_pre_filters: list[dict] | None = None,
) -> list[dict]:
    """Cascade-filtering rewrite: ``Filter => CodeFilter* ->
    Filter(cheap)* -> Filter`` — the deterministic surgery of the
    reference's ``CascadeFilteringDirective.apply``
    (docetl/reasoning_optimizer/directives/cascade_filtering.py:347-390):
    code pre-filters first in given order, then the cheap-model filters
    SORTED BY PROMPT LENGTH ascending (:368-371 — here the predicate
    string stands in for the prompt), then the original filter verbatim.
    Pre-filter names suffix the target name (:362, :376).

    The recall contract is the caller's (as it is the agent's in the
    reference): every pre-filter must be a SUPERSET of the final
    predicate (high recall, any precision) — the final filter provides
    the precision, so the cascade's final state is identical to the
    uncascaded filter while the expensive predicate evaluates on a
    fraction of the rows. Each emitted op carries ``observe: true`` so
    the pipeline records per-stage observed selectivity (the audit trail
    for the ordering; reference containers.py:543-545)."""
    ops: list[dict] = []
    for pre in code_pre_filters or []:
        ops.append({
            "op": "filter", "name": f"{pre['name']}_{target}",
            "where": pre["where"], "observe": True,
        })
    for pre in sorted(llm_pre_filters or [], key=lambda p: len(p["where"])):
        ops.append({
            "op": "filter", "name": f"{pre['name']}_{target}",
            "where": pre["where"], "observe": True,
        })
    ops.append({"op": "filter", "name": target, "where": where, "observe": True})
    return ops


def hierarchical_reduce(
    target: str,
    *,
    reduce_key: str | list[str],
    additional_key: str,
    aggs_fine: dict[str, str],
    aggs_rollup: dict[str, str],
    map_expr: dict[str, str] | None = None,
    reduce_1_name: str | None = None,
) -> list[dict]:
    """Hierarchical-reduce rewrite: ``Reduce => (Map ->) Reduce(k+k2) ->
    Reduce(k)`` — the deterministic surgery of the reference's
    ``HierarchicalReduceDirective.apply``
    (docetl/reasoning_optimizer/directives/hierarchical_reduce.py:224-289):
    an optional Map synthesizes the finer key (:256-266), the first
    reduce aggregates at ``reduce_key + [additional_key]`` (:268-278),
    the second rolls up to ``reduce_key`` (:280-284). The two synthesized
    prompts become the two agg dicts; ``aggs_rollup`` sees the fine
    reduce's output columns.

    Scale shape: this is exactly Spark's two-level aggregation — the fine
    reduce takes the big shuffle on the composite key (better skew
    spread), the rollup shuffles only |fine groups| rows. For an
    ALGEBRAIC agg the engine's partial aggregation already does this
    internally; the macro's value is for holistic/order-sensitive aggs
    (collect_list folds, max_by chains) where the intermediate level is
    semantic, not just physical."""
    keys = [reduce_key] if isinstance(reduce_key, str) else list(reduce_key)
    ops: list[dict] = []
    if map_expr:
        ops.append({"op": "map", "name": f"map_{additional_key}_{target}", "expr": dict(map_expr)})
    ops.append({
        "op": "reduce",
        "name": reduce_1_name or f"{target}_by_{additional_key}",
        "reduce_key": keys + [additional_key],
        "aggs": dict(aggs_fine),
    })
    ops.append({
        "op": "reduce", "name": target,
        "reduce_key": reduce_key,
        "aggs": dict(aggs_rollup),
    })
    return ops


_MACRO_FNS = {
    "chunked_map": doc_chunking,
    "chunked_topk": doc_chunking_topk,
    "cascade_filter": cascade_filtering,
    "hierarchical_reduce": hierarchical_reduce,
}


def expand_macros(operations: list[dict]) -> list[dict]:
    """Expand every macro op (``chunked_map`` / ``chunked_topk`` /
    ``cascade_filter`` / ``hierarchical_reduce``) into its composed
    sequence — the config-level form of the reference's ``docetl build``
    directive set, applied deterministically (no LLM instantiation)."""
    out: list[dict] = []
    for cfg in operations:
        fn = _MACRO_FNS.get(cfg.get("op"))
        if fn is None:
            out.append(cfg)
            continue
        kwargs = {k: v for k, v in cfg.items() if k not in ("op", "name")}
        # unnamed chunked_map keeps its pre-r5 default name ("map") so
        # existing configs keep their split_map_id / reduce_map column
        # names; the r5 macros default to "op"
        default = "map" if cfg.get("op") == "chunked_map" else "op"
        out.extend(fn(cfg.get("name", default), **kwargs))
    return out

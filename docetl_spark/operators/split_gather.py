"""Split + gather operators (SURVEY.md §2.5).

Reference: docetl/operations/split.py (token_count / delimiter chunking)
and docetl/operations/gather.py (peripheral-context re-rendering).

* ``split`` chunks with SQL array expressions (no shuffle, no Python per
  row) and explodes with ``posexplode`` — chunk ids are content-derived
  hashes, not uuid4 (split.py:74), so replays are byte-stable.
* ``gather`` renders each chunk with head/middle/tail peripheral
  sections and skipped-character markers (gather.py:113-260 semantics):
  window frames over the document's chunks for the common config, a
  grouped pandas apply for the rest.

Both build their expressions as SQL text (``schema.sql_ident`` /
``schema.sql_str`` quote names and literals): a Python-lambda Column
tree costs one py4j round trip per node, which made plan construction
the bulk of a short leaf.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docetl_spark.schema import sql_ident, sql_str

_TOKEN_RE = re.compile(r"\S+\s*")
_NEWLINE = sql_str("\n")


def _lambda_vars(columns: list[str], *names: str) -> list[str]:
    """Lambda variable names no column of the frame shares: inside a SQL
    lambda a variable shadows a column of the same (case-insensitive)
    name, so a column referenced in the body would bind to the variable."""
    taken = {c.lower() for c in columns}
    out = []
    for n in names:
        while n.lower() in taken:
            n = "_" + n
        out.append(n)
    return out


def _token_chunks(text: str, num_tokens: int) -> list[str]:
    toks = _TOKEN_RE.findall(text or "")
    return ["".join(toks[i : i + num_tokens]) for i in range(0, len(toks), num_tokens)] or [""]


def _delim_chunks(text: str, delimiter: str, group: int) -> list[str]:
    parts = (text or "").split(delimiter)
    return [delimiter.join(parts[i : i + group]) for i in range(0, len(parts), group)]


def split(
    df: DataFrame,
    split_key: str,
    method: str = "token_count",
    num_tokens: int = 100,
    delimiter: str = "\n\n",
    num_splits_to_group: int = 1,
    name: str = "split",
    assume_distinct: bool = False,
) -> DataFrame:
    """One row per chunk; adds ``{split_key}_chunk``, ``{name}_id`` (stable
    per source document), ``{name}_chunk_num`` (1-based).

    Execution contract (NOT a pure transformation): duplicate-row salting
    runs a narrow hash-count probe job at call time, and when duplicates
    exist the input plan executes up to 3x (probe + anti + semi). The
    input plan MUST therefore be deterministic — a non-deterministic
    upstream (unseeded sample, ``F.rand`` filter) can disagree between the
    probe and the anti/semi passes and drop or duplicate chunks. Checkpoint
    (``df.localCheckpoint()``) non-deterministic or expensive upstreams
    before calling ``split``.

    ``assume_distinct=True`` skips the probe entirely: no eager job, one
    single-pass lazy plan — for hot pipelines whose rows are KNOWN
    distinct (e.g. carrying a unique id). The caller owns the claim: with
    exact-duplicate rows present, duplicate ``({name}_id, chunk_num)``
    pairs reach downstream and gather would interleave them."""
    # Chunking is pure SQL expressions (split/regexp_extract_all +
    # sequence + slice/array_join): stays in codegen, no Python per row.
    # The _token_chunks/_delim_chunks python forms above are the executable
    # spec these expressions replicate (and what tests golden-check). The
    # plan is built as SQL text: a Column tree costs one py4j round trip
    # per node, and on short reads plan construction sets the latency.
    cols = df.columns
    (i,) = _lambda_vars(cols, "i")
    c = f"coalesce({sql_ident(split_key)}, '')"
    if method == "token_count":
        toks = f"regexp_extract_all({c}, {sql_str(_TOKEN_RE.pattern)}, 0)"
        group, joiner = int(num_tokens), ""
    elif method == "delimiter":
        toks = f"split({c}, {sql_str(re.escape(delimiter))}, -1)"
        group, joiner = int(num_splits_to_group), delimiter
    else:
        raise ValueError(f"unknown split method {method!r}")
    chunk_expr = (
        f"CASE WHEN size({toks}) = 0 THEN array('') ELSE transform("
        f"sequence(0, CAST(floor((size({toks}) - 1) / {group}) AS INT)), "
        f"{i} -> array_join(slice({toks}, {i} * {group} + 1, {group}), {sql_str(joiner)})) END"
    )

    # id over ALL columns, not just the split text: two different source
    # rows with identical text must stay separate documents downstream
    # (reference split.py:74 uses a per-row uuid4; the full-row hash is the
    # deterministic, replay-stable analogue — same convention as add_uuid).
    # EXACT-duplicate rows would share the hash, giving duplicate
    # (doc_id, chunk_num) pairs that gather would interleave — so duplicates
    # get a per-duplicate rank salt appended to the id. The salt needs row
    # multiplicities, which only a shuffle or extra pass can know; rather
    # than shuffling every wide row (forbidden — see cdc/merge.py design
    # notes), only the duplicate rows (detected via a narrow hash-count agg,
    # usually none) go through a window; unique rows keep the exact
    # unsalted id and never shuffle. Cost: the input plan executes three
    # times (count agg + anti + semi) — checkpoint expensive upstreams
    # first. The multi-pass split (and every content-derived id in this
    # repo) requires a DETERMINISTIC input plan: a non-deterministic
    # upstream (unseeded sample, F.rand filter) can disagree between the
    # probe and the anti/semi passes — checkpoint such inputs first.
    quoted = [sql_ident(c) for c in cols]
    base_json = f"to_json(struct({', '.join(quoted)}))"
    doc_id = f"sha2({base_json}, 256)"
    if not assume_distinct:
        with_h = df.selectExpr("*", f"xxhash64({', '.join(quoted)}) AS `_h`")
        dup_keys = (
            with_h.groupBy("_h").agg(F.count(F.lit(1)).alias("_c")).filter(F.col("_c") > 1).select("_h")
        )
        if dup_keys.isEmpty():
            # common case: all rows distinct — the probe job above is the
            # only extra cost, and the split plan stays the original single
            # pass
            df = with_h
        else:
            from pyspark.sql import Window

            clean = with_h.join(F.broadcast(dup_keys), "_h", "left_anti").withColumn("_salt", F.lit(1))
            dups = with_h.join(F.broadcast(dup_keys), "_h", "left_semi").withColumn(
                "_salt", F.row_number().over(Window.partitionBy("_h").orderBy("_h"))
            )
            df = clean.unionByName(dups)
            doc_id = (
                f"CASE WHEN `_salt` = 1 THEN {doc_id} "
                f"ELSE sha2(concat({base_json}, '#', CAST(`_salt` AS STRING)), 256) END"
            )
    id_col, chunk_col = sql_ident(f"{name}_id"), sql_ident(f"{split_key}_chunk")
    return (
        df.selectExpr("*", f"{doc_id} AS {id_col}", f"{chunk_expr} AS `_chunks`")
        .selectExpr(*quoted, id_col, f"posexplode(`_chunks`) AS (`_pos`, {chunk_col})")
        .selectExpr(*quoted, id_col, chunk_col, f"CAST(`_pos` + 1 AS INT) AS {sql_ident(f'{name}_chunk_num')}")
    )


def _lvl(x):
    """Header level as int or None (pandas delivers struct ints holding
    NULLs as float NaN)."""
    if x is None or (isinstance(x, float) and x != x):
        return None
    return int(x)


def _hierarchy_fold(header_lists: list) -> list:
    """Reference gather.py:306-320 hierarchy accumulation, exactly —
    including the clearing quirk: a level-l header nulls levels in
    ``range(l+1, len(hierarchy)+1)`` where len COUNTS already-cleared
    entries, so with sparse level sets a deep stale header can survive.
    Returns [(level, header_or_None)] in insertion order."""
    hierarchy: dict = {}
    for headers in header_lists:
        for h in headers or []:
            header, level = h["header"], _lvl(h["level"])
            if not isinstance(header, str):
                header = None  # None / NaN through pandas
            if header and level:
                hierarchy[level] = header
                for lower in range(level + 1, len(hierarchy) + 1):
                    if lower in hierarchy:
                        hierarchy[lower] = None
    return list(hierarchy.items())


def _render_hierarchy_headers(current_headers: list, header_lists: list) -> str:
    """Reference gather.py:262-327: the ``_Current Section:_`` line for
    the current chunk — ancestor headers strictly above the chunk's own
    highest header level, each rendered ``'#' * level + ' ' + header`` and
    joined with `` > ``; empty string when the chunk has no headers or no
    ancestors survive the filter."""
    if not current_headers:
        return ""
    levels = [_lvl(h["level"]) for h in current_headers if _lvl(h["level"]) is not None]
    highest = min(levels) if levels else None
    rendered = [
        f"{'#' * level} {header}"
        for level, header in sorted(_hierarchy_fold(header_lists))
        if header is not None and (highest is None or level < highest)
    ]
    joined = " > ".join(rendered)
    return f"_Current Section:_ {joined}" if joined else ""


def _hierarchy_header_expr(cur: str, w: str, columns: list[str]) -> str:
    """SQL form of ``_render_hierarchy_headers`` over a running window
    ``w``: one aggregate fold per chunk over the flattened prior header
    structs (``cur`` is the chunk's array<struct<header,level>>). Header
    counts are tiny, so the interpreted fold is cheap; the document's
    chunks already shuffle once for the gather window — no extra
    exchange."""
    acc, h, e, o, x = _lambda_vars(columns, "acc", "h", "e", "o", "x")
    prior = f"flatten(collect_list({cur}) OVER ({w} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"
    empty_state = "CAST(array() AS array<struct<level:int,header:string>>)"

    def entry(level: str, header: str) -> str:
        return f"named_struct('level', CAST({level} AS INT), 'header', CAST({header} AS STRING))"

    valid = (f"{h}.header IS NOT NULL AND {h}.header != '' "
             f"AND {h}.level IS NOT NULL AND {h}.level != 0")
    exists = f"exists({acc}, {o} -> {o}.level = {h}.level)"
    sz_after = f"size({acc}) + CASE WHEN {exists} THEN 0 ELSE 1 END"
    updated = (
        f"transform({acc}, {e} -> CASE WHEN {e}.level = {h}.level THEN {entry(f'{e}.level', f'{h}.header')} "
        f"WHEN {e}.level > {h}.level AND {e}.level <= {sz_after} THEN {entry(f'{e}.level', 'NULL')} "
        f"ELSE {e} END)"
    )
    appended = (f"CASE WHEN {exists} THEN {updated} "
                f"ELSE array_append({updated}, {entry(f'{h}.level', f'{h}.header')}) END")
    state = f"aggregate({prior}, {empty_state}, ({acc}, {h}) -> CASE WHEN {valid} THEN {appended} ELSE {acc} END)"
    highest = f"array_min(filter(transform({cur}, {h} -> {h}.level), {x} -> {x} IS NOT NULL))"
    entries = (f"array_sort(filter({state}, {e} -> {e}.header IS NOT NULL "
               f"AND ({highest} IS NULL OR {e}.level < {highest})))")
    # every rendered entry holds at least a space, so the join is empty
    # exactly when no entry survives: nullif drops the line then, and the
    # fold runs once per chunk instead of once for a size test and once
    # for the line
    joined = (f"array_join(transform({entries}, {e} -> "
              f"concat(array_join(array_repeat('#', {e}.level), ''), ' ', {e}.header)), ' > ')")
    return f"CASE WHEN size({cur}) > 0 THEN concat('_Current Section:_ ', nullif({joined}, '')) END"


def _render_side(chunks: list[tuple[int, str]], cfg: dict, label: str) -> list[str]:
    """Head/middle/tail rendering with a skipped-characters marker
    (gather.py peripheral_chunks semantics)."""
    if not chunks:
        return []
    head_n = int(cfg.get("head", {}).get("count", 0))
    tail_n = int(cfg.get("tail", {}).get("count", 0))
    head = chunks[:head_n] if head_n else []
    tail = chunks[len(head) :][-tail_n:] if tail_n else []
    middle = chunks[len(head) : len(chunks) - len(tail)]
    lines = [f"--- {label} Context ---"]
    for _, c in head:
        lines.append(c)
    if middle:
        skipped = sum(len(c) for _, c in middle)
        lines.append(f"[... {skipped} characters skipped ...]")
    for _, c in tail:
        lines.append(c)
    lines.append(f"--- End {label} Context ---")
    return lines


def gather(
    df: DataFrame,
    content_key: str,
    doc_id_key: str,
    order_key: str,
    peripheral_chunks: dict | None = None,
    doc_header_key: str | None = None,
    main_chunk_start: str = "--- Begin Main Chunk ---",
    main_chunk_end: str = "--- End Main Chunk ---",
) -> DataFrame:
    """Re-attach surrounding context to each chunk; adds
    ``{content_key}_rendered``.

    The common config — previous.tail.count + next.head.count — renders
    entirely with window functions (lag-style collect_list frames +
    running length sums + concat_ws), one shuffle, zero Python: the
    grouped-pandas renderer costs ~2ms of DataFrame-construction overhead
    PER DOCUMENT, which dominates at millions of documents. Exotic
    configs (head+tail on one side, middle summaries) fall back to the
    exact pandas renderer; both produce identical strings (oracle-checked).
    """
    peripheral = peripheral_chunks or {"previous": {"tail": {"count": 1}}, "next": {"head": {"count": 1}}}
    out_field = f"{content_key}_rendered"

    # doc_header_key dispatch: a string column is the flat legacy header
    # (prepended whole); an array<struct<header,level>> column is the
    # reference's hierarchical form (gather.py:262-327) — the accumulated
    # "_Current Section:_" line renders between the previous context and
    # the main chunk, exactly where render_chunk_with_context puts it.
    hierarchical = False
    if doc_header_key:
        hdr_type = df.schema[doc_header_key].dataType
        hierarchical = isinstance(hdr_type, T.ArrayType) and isinstance(
            hdr_type.elementType, T.StructType
        )

    prev_cfg, next_cfg = peripheral.get("previous"), peripheral.get("next")
    simple = (
        set(peripheral) <= {"previous", "next"}
        and (prev_cfg is None or (set(prev_cfg) == {"tail"} and set(prev_cfg["tail"]) <= {"count"}))
        and (next_cfg is None or (set(next_cfg) == {"head"} and set(next_cfg["head"]) <= {"count"}))
    )
    if simple:
        # built as SQL text: one parse instead of a py4j round trip per
        # Column node (see split)
        doc = sql_ident(doc_id_key)
        w = f"PARTITION BY {doc} ORDER BY {sql_ident(order_key)}"
        c = f"coalesce({sql_ident(content_key)}, '')"
        parts: list[str] = []
        if doc_header_key and not hierarchical:
            hdr = sql_ident(doc_header_key)
            parts.append(f"CASE WHEN {hdr} IS NOT NULL THEN CAST({hdr} AS STRING) END")
        if prev_cfg:
            p = int(prev_cfg["tail"].get("count", 0))
            prev_cnt = f"(row_number() OVER ({w}) - 1)"
            tail_arr = (f"collect_list({c}) OVER ({w} ROWS BETWEEN {max(p, 1)} PRECEDING AND 1 PRECEDING)"
                        if p else "array()")
            skipped = f"sum(length({c})) OVER ({w} ROWS BETWEEN UNBOUNDED PRECEDING AND {p + 1} PRECEDING)"
            parts += [
                f"CASE WHEN {prev_cnt} > 0 THEN '--- Previous Context ---' END",
                f"CASE WHEN {prev_cnt} > {p} THEN "
                f"concat('[... ', CAST({skipped} AS STRING), ' characters skipped ...]') END",
                f"CASE WHEN {prev_cnt} > 0 AND {str(p > 0).lower()} THEN array_join({tail_arr}, {_NEWLINE}) END",
                f"CASE WHEN {prev_cnt} > 0 THEN '--- End Previous Context ---' END",
            ]
        if hierarchical:
            cur = f"coalesce({sql_ident(doc_header_key)}, CAST(array() AS {hdr_type.simpleString()}))"
            parts.append(_hierarchy_header_expr(cur, w, df.columns))
        parts += [sql_str(main_chunk_start), c, sql_str(main_chunk_end)]
        if next_cfg:
            n = int(next_cfg["head"].get("count", 0))
            next_cnt = f"(count(1) OVER (PARTITION BY {doc}) - row_number() OVER ({w}))"
            head_arr = (f"collect_list({c}) OVER ({w} ROWS BETWEEN 1 FOLLOWING AND {max(n, 1)} FOLLOWING)"
                        if n else "array()")
            nskip = f"sum(length({c})) OVER ({w} ROWS BETWEEN {n + 1} FOLLOWING AND UNBOUNDED FOLLOWING)"
            parts += [
                f"CASE WHEN {next_cnt} > 0 THEN '--- Next Context ---' END",
                f"CASE WHEN {next_cnt} > 0 AND {str(n > 0).lower()} THEN array_join({head_arr}, {_NEWLINE}) END",
                f"CASE WHEN {next_cnt} > {n} THEN "
                f"concat('[... ', CAST({nskip} AS STRING), ' characters skipped ...]') END",
                f"CASE WHEN {next_cnt} > 0 THEN '--- End Next Context ---' END",
            ]
        return df.withColumn(out_field, F.expr(f"concat_ws({_NEWLINE}, {', '.join(parts)})"))
    schema = T.StructType(list(df.schema.fields) + [T.StructField(out_field, T.StringType(), True)])
    cols = [f.name for f in schema.fields]

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_key, kind="mergesort").reset_index(drop=True)
        texts = pdf[content_key].fillna("").tolist()
        if hierarchical:
            header_lists = [
                [h if isinstance(h, dict) else dict(h) for h in hl]
                if hl is not None and len(hl)
                else []
                for hl in pdf[doc_header_key]
            ]
        rendered = []
        for i in range(len(pdf)):
            parts: list[str] = []
            if doc_header_key and not hierarchical and doc_header_key in pdf.columns and pd.notna(pdf[doc_header_key].iloc[i]):
                parts.append(str(pdf[doc_header_key].iloc[i]))
            prev = list(enumerate(texts[:i]))
            nxt = list(enumerate(texts[i + 1 :], start=i + 1))
            if "previous" in peripheral:
                parts += _render_side(prev, peripheral["previous"], "Previous")
            if hierarchical:
                line = _render_hierarchy_headers(header_lists[i], header_lists[: i + 1])
                if line:
                    parts.append(line)
            parts += [main_chunk_start, texts[i], main_chunk_end]
            if "next" in peripheral:
                parts += _render_side(nxt, peripheral["next"], "Next")
            rendered.append("\n".join(parts))
        pdf[out_field] = rendered
        return pdf[cols]

    return df.groupBy(doc_id_key).applyInPandas(run, schema=schema)

"""Plan construction of the board leaves: raw parquet reads
through the schema-caching reader (no inference job once a file's
schema is known), ``split`` / ``gather`` expression trees built as SQL
text (a bounded number of py4j round trips), and parity of those SQL
forms with the executable specs on awkward names and literals."""

import pandas as pd
import pytest

import __spark_entry__ as entry
from docetl_spark.operators.split_gather import (
    _delim_chunks,
    _render_hierarchy_headers,
    _render_side,
    _token_chunks,
    gather,
    split,
)
from docetl_spark.plans.pipeline import Pipeline
from docetl_spark.sources.parquet import read_parquet
from tools.explain_audit import build_cost


def _jobs(spark, fn):
    """(result of fn(), Spark jobs it ran)."""
    out, _, jobs = build_cost(spark, fn)
    return out, jobs


# -- reader cache ----------------------------------------------------------

def test_cached_reader_skips_inference_and_sees_rewrites(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pd.DataFrame({"a": [1, 2, 3]}).to_parquet(path)
    first, _ = _jobs(spark, lambda: read_parquet(spark, path))
    again, jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert jobs == 0
    assert again.schema == first.schema
    assert sorted(r["a"] for r in again.collect()) == [1, 2, 3]

    pd.DataFrame({"a": [4], "b": ["x"]}).to_parquet(path)
    rewritten = read_parquet(spark, path)
    assert rewritten.columns == ["a", "b"]
    assert [tuple(r) for r in rewritten.collect()] == [(4, "x")]


def test_pipeline_checkpoint_reread_runs_no_inference_job(spark, tmp_path):
    src = str(tmp_path / "docs.parquet")
    pd.DataFrame({"id": [1, 2, 3, 4], "text": ["a b", "c", "d e f", ""]}).to_parquet(src)
    cfg = {
        "datasets": {"docs": {"path": src}},
        "steps": [
            {"name": "m", "input": "docs", "operations": [
                {"op": "map", "expr": {"n": "size(split(text, ' '))"}}]},
            {"name": "f", "input": "m", "operations": [{"op": "filter", "where": "n > 1"}]},
        ],
    }
    plain = Pipeline(cfg).run(spark)
    want = sorted(tuple(r) for r in plain.collect())

    ckpt_dir = str(tmp_path / "ckpt")
    built, jobs = _jobs(spark, lambda: Pipeline(cfg, intermediate_dir=ckpt_dir).run(spark))
    # one write job per checkpointed step; the re-reads infer nothing
    assert jobs == 2
    assert built.schema == plain.schema
    assert sorted(tuple(r) for r in built.collect()) == want

    # a checkpoint hit reads through the cached reader: no job at all
    hit, jobs = _jobs(spark, lambda: Pipeline(cfg, intermediate_dir=ckpt_dir).run(spark))
    assert jobs == 0
    assert sorted(tuple(r) for r in hit.collect()) == want


# -- build budgets -----------------------------------------------------------

@pytest.mark.parametrize("leaf,budget", [
    ("gather_hierarchy_docs", 760),
    ("doc_chunking_macro", 380),
])
def test_gather_leaf_builds_within_budget_and_runs_no_job(spark, sf_dir, leaf, budget):
    q = entry.queries()[leaf]
    q(spark, sf_dir)  # warm: the input schema is cached, classes resolved
    _, calls, jobs = build_cost(spark, lambda: q(spark, sf_dir))
    assert jobs == 0
    assert calls <= budget, (leaf, calls)


# -- split / gather parity on awkward names and literals ---------------------

@pytest.mark.parametrize("key", ["bo`dy x", "i"])
def test_split_sql_text_matches_specs_on_awkward_names(spark, key):
    # "i" is the chunking lambda's own variable name: the column must not
    # be shadowed by it
    texts = ["p1 it's\\n\n\nq\\ 'r'\n\n\n\ns", "", "solo", "a\n\nb\n\nc\n\nd\n\ne"]
    df = spark.createDataFrame([(n, t) for n, t in enumerate(texts)], f"`doc id` int, `{key.replace('`', '``')}` string")
    for delim, group in [("\n\n", 1), ("\n\n", 2), ("'\\", 1), ("\\n", 3)]:
        out = split(df, key, method="delimiter", delimiter=delim, num_splits_to_group=group,
                    name="sp`x", assume_distinct=True)
        assert out.columns == ["doc id", key, "sp`x_id", f"{key}_chunk", "sp`x_chunk_num"]
        got = {}
        for r in out.collect():
            got.setdefault(r["doc id"], []).append((r["sp`x_chunk_num"], r[f"{key}_chunk"]))
        for n, t in enumerate(texts):
            assert [c for _, c in sorted(got[n])] == _delim_chunks(t, delim, group), (delim, group, t)
    for num_tokens in (1, 2, 5):
        out = split(df, key, method="token_count", num_tokens=num_tokens)
        got = {}
        for r in out.collect():
            got.setdefault(r["doc id"], []).append((r["split_chunk_num"], r[f"{key}_chunk"]))
        for n, t in enumerate(texts):
            assert [c for _, c in sorted(got[n])] == _token_chunks(t, num_tokens), (num_tokens, t)


def test_gather_sql_text_matches_specs_on_awkward_names(spark):
    def H(header, level):
        return {"header": header, "level": level}

    start, end = "--- it's \\ start\n", "end '\\n' \\"
    chunks = [
        (1, "it's\nfirst \\", [H("Intro 'q'", 1)]),
        (2, None, [H("B\\g", 2), H("D\nx", 3)]),
        (3, "third", []),
        (4, "fourth '", [H("M", 1), H("S", 2)]),
        (5, "fifth\\n", [H("Deep", 3)]),
    ]
    # "e" is a lambda variable of the hierarchy fold, and the header
    # column is referenced inside that lambda
    df = spark.createDataFrame(
        [("d`1 x", n, body, hdrs) for n, body, hdrs in chunks],
        "`doc id` string, `n``um` int, `ch unk` string, e array<struct<header:string, level:int>>",
    )
    out = gather(df, "ch unk", "doc id", "n`um", doc_header_key="e",
                 main_chunk_start=start, main_chunk_end=end)
    got = {r["n`um"]: r["ch unk_rendered"] for r in out.collect()}

    texts = [c[1] or "" for c in chunks]
    header_lists = [c[2] for c in chunks]
    for i, (n, _, cur) in enumerate(chunks):
        parts = _render_side(list(enumerate(texts[:i])), {"tail": {"count": 1}}, "Previous")
        line = _render_hierarchy_headers(cur, header_lists[: i + 1])
        parts += [line] if line else []
        parts += [start, texts[i], end]
        parts += _render_side(list(enumerate(texts[i + 1:], start=i + 1)), {"head": {"count": 1}}, "Next")
        assert got[n] == "\n".join(parts), (n, got[n])


def test_entry_tables_read_through_the_cached_reader(spark, sf_dir):
    entry._t(spark, sf_dir, "lineitem")
    _, jobs = _jobs(spark, lambda: entry._t(spark, sf_dir, "lineitem"))
    assert jobs == 0

"""Operator library tests mirroring the reference's deterministic suite
(SURVEY.md §5 cat.2: exact golden asserts, zero LLM cost), on FIXTURES.md
F3 fixtures."""

import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docetl_spark.operators import (
    add_uuid,
    code_filter,
    code_map,
    code_reduce,
    drop_keys,
    equijoin,
    extract_regex,
    gather,
    parallel_map,
    rank,
    reduce_fold,
    reduce_merge,
    resolve,
    sample,
    split,
    topk,
    unnest,
)


@pytest.fixture(scope="module")
def groups_values(spark):
    # FIXTURES F3: tests/basic/test_basic_reduce_resolve.py:20-28
    return spark.createDataFrame(
        [("A", 10), ("B", 20), ("A", 15), ("C", 30), ("B", 25)], "group string, value long"
    )


def test_code_map_exprs_and_pandas(spark):
    df = spark.createDataFrame([("hello world. bye.",), ("one. two. three.",)], "text string")
    out = code_map(df, exprs={"n_chars": F.length("text")})
    assert [r["n_chars"] for r in out.orderBy("text").collect()] == [17, 16]

    out2 = code_map(
        df,
        fn=lambda pdf: pd.DataFrame({"n_sentences": pdf["text"].str.count(r"\.")}),
        output_schema={"n_sentences": "int"},
    )
    got = {r["text"]: r["n_sentences"] for r in out2.collect()}
    assert got == {"hello world. bye.": 2, "one. two. three.": 3}


def test_parallel_map_disjoint_branches(spark):
    df = spark.createDataFrame([(1, "ab"), (2, "cde")], "id long, s string")
    out = parallel_map(df, [{"double_id": F.col("id") * 2}, {"slen": F.length("s")}])
    rows = {r["id"]: (r["double_id"], r["slen"]) for r in out.collect()}
    assert rows == {1: (2, 2), 2: (4, 3)}
    with pytest.raises(ValueError):
        parallel_map(df, [{"x": F.lit(1)}, {"x": F.lit(2)}])


def test_code_filter_and_drop_keys(spark):
    df = spark.createDataFrame([(1, "keep"), (2, "drop")], "id long, s string")
    assert code_filter(df, F.col("s") == "keep").count() == 1
    assert code_filter(df, lambda pdf: pdf["s"] == "keep").count() == 1
    assert drop_keys(df, ["s"]).columns == ["id"]


def test_add_uuid_deterministic(spark):
    df = spark.createDataFrame([("x",), ("y",)], "v string")
    a = sorted(r["doc_id"] for r in add_uuid(df).collect())
    b = sorted(r["doc_id"] for r in add_uuid(df).collect())
    assert a == b and len(set(a)) == 2


def test_code_reduce_three_groups(spark, groups_values):
    out = code_reduce(
        groups_values, "group", lambda g: {"total": int(g["value"].sum())}, {"total": "int"}, name="r"
    )
    rows = {r["group"]: (r["total"], r["_counts_prereduce_r"]) for r in out.collect()}
    assert rows == {"A": (25, 2), "B": (45, 2), "C": (30, 1)}


def test_code_reduce_all(spark, groups_values):
    out = code_reduce(groups_values, "_all", lambda g: {"total": int(g["value"].sum())}, {"total": "int"})
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["total"] == 100


def test_code_reduce_list_valued_keys_normalize(spark):
    # reference: list keys -> order-insensitive sorted tuples (reduce.py:267-270)
    df = spark.createDataFrame(
        [Row(content="a", tags=["x", "y"]), Row(content="b", tags=["y", "x"]), Row(content="c", tags=["z"])]
    )
    out = code_reduce(df, ["tags"], lambda g: {"n": len(g)}, {"n": "int"})
    rows = sorted((tuple(r["tags"]), r["n"]) for r in out.collect())
    assert rows == [(("x", "y"), 2), (("z",), 1)]


def test_code_reduce_pass_through(spark, groups_values):
    out = code_reduce(
        groups_values, "group", lambda g: {"total": int(g["value"].sum())}, {"total": "int"}, pass_through=True
    )
    assert "value" in out.columns  # first row's value carried through


def test_reduce_fold_ordered_scratchpad(spark):
    # non-commutative fold: string concat in lsn order must be identical
    # at any parallelism (SURVEY §7.3 risk 1/3)
    df = spark.createDataFrame(
        [("g", i, chr(ord("a") + i)) for i in range(10)], "g string, lsn long, ch string"
    ).repartition(8)

    def fold(state, chunk):
        return {"seq": state.get("seq", "") + "".join(chunk["ch"])}

    out = reduce_fold(df, "g", fold, {"seq": "string"}, order_col="lsn", fold_batch_size=3)
    assert out.collect()[0]["seq"] == "abcdefghij"


def test_reduce_merge_salted_associative(spark, groups_values):
    def partial(pdf):
        return pd.DataFrame([{"group": pdf["group"].iloc[0], "total": int(pdf["value"].sum())}])

    def merge(pdf):
        return pd.DataFrame([{"group": pdf["group"].iloc[0], "total": int(pdf["total"].sum())}])

    out = reduce_merge(groups_values, "group", partial, merge, "group string, total long", salts=4)
    rows = {r["group"]: r["total"] for r in out.collect()}
    assert rows == {"A": 25, "B": 45, "C": 30}


def test_unnest_list_and_struct(spark):
    df = spark.createDataFrame(
        [Row(id=1, tags=["a", "b"]), Row(id=2, tags=[])],
        "id long, tags array<string>",
    )
    assert unnest(df, "tags").count() == 2
    out = unnest(df, "tags", keep_empty=True)
    rows = sorted((r["id"], r["tags"]) for r in out.collect())
    assert rows == [(1, "a"), (1, "b"), (2, None)]

    df2 = spark.createDataFrame(
        [Row(id=1, user=Row(name="n1", age=3))],
        "id long, user struct<name: string, age: long>",
    )
    out2 = unnest(df2, "user", expand_fields=["name"])
    assert out2.columns == ["id", "user", "name"]
    assert out2.collect()[0]["name"] == "n1"


def test_split_token_and_delimiter_roundtrip(spark):
    text = " ".join(f"w{i}" for i in range(25))
    df = spark.createDataFrame([(text,)], "body string")
    out = split(df, "body", method="token_count", num_tokens=10, name="sp").orderBy("sp_chunk_num")
    chunks = [r["body_chunk"] for r in out.collect()]
    assert len(chunks) == 3
    assert "".join(chunks).strip() == text
    assert [r["sp_chunk_num"] for r in out.collect()] == [1, 2, 3]

    df2 = spark.createDataFrame([("a\n\nb\n\nc\n\nd",)], "body string")
    out2 = split(df2, "body", method="delimiter", delimiter="\n\n", num_splits_to_group=2)
    assert [r["body_chunk"] for r in out2.orderBy("split_chunk_num").collect()] == ["a\n\nb", "c\n\nd"]


def test_split_assume_distinct_single_pass(spark):
    """assume_distinct=True skips the duplicate probe: building the plan
    runs ZERO eager jobs, and on distinct input the output (ids included)
    is byte-identical to the default salted path's."""
    df = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(25))) for i in range(6)],
        "id long, body string",
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("split_nd", "assume_distinct plan build")
    fast = split(df, "body", method="token_count", num_tokens=10, name="sp",
                 assume_distinct=True)
    assert len(tracker.getJobIdsForGroup("split_nd")) == 0  # fully lazy
    sc.setJobGroup(None, None)
    slow = split(df, "body", method="token_count", num_tokens=10, name="sp")
    key = ["id", "sp_id", "sp_chunk_num", "body_chunk"]
    assert sorted(tuple(r) for r in fast.select(*key).collect()) == \
        sorted(tuple(r) for r in slow.select(*key).collect())


def test_sample_missing_samples_config_error(spark):
    df = spark.createDataFrame([(i,) for i in range(5)], "id long")
    with pytest.raises(ValueError, match="needs samples"):
        sample(df, method="uniform")
    with pytest.raises(ValueError, match="needs samples"):
        sample(df, method="first")
    # samples_per_group alone is a valid uniform config
    assert sample(df.withColumn("g", F.col("id") % 2), method="uniform",
                  stratify_key="g", samples_per_group=1).count() == 2


def test_gather_renders_context(spark):
    df = spark.createDataFrame(
        [("d", i, f"chunk{i}") for i in range(4)], "doc string, num long, body string"
    )
    out = gather(df, "body", "doc", "num",
                 peripheral_chunks={"previous": {"head": {"count": 1}, "tail": {"count": 1}}, "next": {"head": {"count": 1}}})
    r = {row["num"]: row["body_rendered"] for row in out.collect()}
    assert "--- Begin Main Chunk ---\nchunk2" in r[2]
    assert "chunk1" in r[2] and "chunk3" in r[2]  # tail-prev + head-next
    assert "characters skipped" in r[3]  # head=chunk0, middle=chunk1 skipped, tail=chunk2


def test_sample_methods(spark):
    df = spark.createDataFrame([(i, "g" + str(i % 2)) for i in range(100)], "id long, g string")
    assert sample(df, "uniform", samples=10, seed=1).count() == 10
    assert sample(df, "uniform", samples=10, seed=1).collect() == sample(df, "uniform", samples=10, seed=1).collect()
    assert sample(df, "first", samples=5).count() == 5
    # a key with no matching row selects nothing
    custom = sample(df, "custom", samples=[{"id": 3}, {"id": 7}, {"id": 400}])
    assert sorted(r["id"] for r in custom.collect()) == [3, 7]
    per_group = sample(df, "uniform", stratify_key="g", samples_per_group=4)
    assert per_group.groupBy("g").count().collect()[0]["count"] == 4


def test_sample_outliers(spark):
    rows = [(i, [0.0, 0.0]) for i in range(20)] + [(99, [100.0, 100.0])]
    df = spark.createDataFrame(rows, "id long, emb array<double>")
    out = sample(df, "outliers", embedding_col="emb", std=1.0, keep="outside")
    assert [r["id"] for r in out.collect()] == [99]

    # distances 2, 1, 0, 1, 2 from the centroid: mean 1.2, population
    # stddev 0.748, sample stddev 0.837. The cutoff is mean + 1 population
    # stddev (1.948), so the two points at distance 2 fall outside it; a
    # sample-stddev cutoff (2.037) would keep them.
    line = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in (-2, -1, 0, 1, 2)], "id long, emb array<double>"
    )
    inside = sample(line, "outliers", embedding_col="emb", std=1.0, keep="inside")
    assert sorted(r["id"] for r in inside.collect()) == [-1, 0, 1]


def test_topk_score_embedding_fts(spark):
    df = spark.createDataFrame([(i, float(i), [float(i), 0.0], f"word{i} common") for i in range(10)],
                               "id long, s double, emb array<double>, text string")
    top = topk(df, 3, method="score", score_col="s")
    assert sorted(r["id"] for r in top.collect()) == [7, 8, 9]
    assert [r["_topk_rank"] for r in top.orderBy("_topk_rank").collect()] == [1, 2, 3]

    eq = topk(df, 1, method="embedding", embedding_col="emb", query_vec=[1.0, 0.0])
    assert eq.count() == 1

    ft = topk(df, 2, method="fts", text_col="text", query="word3")
    assert ft.orderBy("_topk_rank").collect()[0]["id"] == 3

    # stratified + fractional
    strat = topk(df.withColumn("g", F.col("id") % 2), 0.5, method="score", score_col="s", stratify_key="g")
    assert strat.count() == 6  # ceil(0.5*5)=3 per stratum


def test_rank_total_order(spark):
    df = spark.createDataFrame([(i, float(100 - i)) for i in range(10)], "id long, s double")
    out = rank(df, "s", direction="desc", name="r")
    rows = out.orderBy("_r_rank").collect()
    assert [r["id"] for r in rows][:3] == [0, 1, 2]
    assert rows[0]["_r_rank"] == 1


def test_equijoin_limits_and_suffixes(spark):
    left = spark.createDataFrame([(1, "l1"), (2, "l2")], "id long, name string")
    right = spark.createDataFrame([(1, "r1"), (1, "r1b"), (3, "r3")], "user_id long, name string")
    out = equijoin(left, right, condition=F.col("id") == F.col("user_id"))
    assert {"name_left", "name_right"} <= set(out.columns)
    assert out.count() == 2
    lim = equijoin(left, right, condition=F.col("id") == F.col("user_id"), limit_left=1)
    assert lim.count() == 1
    ver = equijoin(left, right, condition=F.col("id") == F.col("user_id"),
                   verify=F.col("name_right") == "r1b")
    assert ver.count() == 1


def test_resolve_majority_vote(spark):
    # FIXTURES people_dupes: same email blocks, majority name wins
    df = spark.createDataFrame(
        [("John Doe", "j@x.com"), ("John Doe", "j@x.com"), ("John D.", "j@x.com"), ("Jane", "jane@x.com")],
        "name string, email string",
    )
    out = resolve(df, blocking_keys=["email"], canonical_cols=["name"])
    got = out.select("name", "email", "_cluster_id").collect()
    names = {r["email"]: r["name"] for r in got}
    assert names["j@x.com"] == "John Doe"  # majority among 3
    assert out.count() == 4  # all rows kept, canonicalized
    assert out.select("_cluster_id").distinct().count() == 2
    assert out.select("name").distinct().count() == 2  # fewer distinct than input (ref assert)


def test_resolve_with_compare_predicate(spark):
    df = spark.createDataFrame(
        [("apple iphone", "e1"), ("apple iphone x", "e1"), ("banana", "e1")],
        "title string, block string",
    )
    comp = F.substring(F.col("title_1"), 1, 5) == F.substring(F.col("title_2"), 1, 5)
    out = resolve(df, blocking_keys=["block"], compare=comp, canonical_cols=["title"])
    assert out.select("_cluster_id").distinct().count() == 2


def test_extract_regex(spark):
    df = spark.createDataFrame([("call 555-1234 or 555-9876",)], "text string")
    out = extract_regex(df, ["text"], r"\d{3}-\d{4}", name="phones")
    assert out.collect()[0]["text_extracted_phones"] == "555-1234\n555-9876"


def test_extract_lines(spark):
    from docetl_spark.operators import extract_lines

    df = spark.createDataFrame(
        [("l1\nl2\nl3\nl4\nl5", [{"start": 2, "end": 3}, {"start": 5, "end": 5}])],
        "text string, spans array<struct<start:int, end:int>>",
    )
    out = extract_lines(df, "text", "spans", name="sel")
    assert out.collect()[0]["text_extracted_sel"] == "l2\nl3\n\nl5"


def test_equijoin_embedding_blocking_exact_and_lsh(spark):
    import math

    def ring(i, n=16):
        a = 2 * math.pi * i / n
        return [math.cos(a), math.sin(a)]

    left = spark.createDataFrame(
        [(i, ring(i)) for i in range(16)], "lid int, v array<double>"
    )
    right = spark.createDataFrame(
        [(j + 100, ring(j)) for j in range(16)], "rid int, w array<double>"
    )
    # cos threshold 0.9 => only angular distance <= ~25.8deg => j in {i-1,i,i+1}
    exact = equijoin(left, right, embedding_blocking=("v", "w", 0.9))
    got = {(r["lid"], r["rid"]) for r in exact.collect()}
    want = {(i, ((i + d) % 16) + 100) for i in range(16) for d in (-1, 0, 1)}
    assert got == want

    # LSH path: recall may drop pairs (bucket boundaries), never adds any,
    # and always keeps the exact self-match (identical vectors)
    lsh = equijoin(left, right, embedding_blocking=("v", "w", 0.9),
                   embedding_dim=2, lsh_planes=4)
    got_lsh = {(r["lid"], r["rid"]) for r in lsh.collect()}
    assert got_lsh <= got
    assert {(i, i + 100) for i in range(16)} <= got_lsh

    # composes with per-side limits
    lim = equijoin(left, right, embedding_blocking=("v", "w", 0.9), limit_left=1)
    assert lim.groupBy("lid").count().agg({"count": "max"}).collect()[0][0] == 1


# -- round-2 regression tests -------------------------------------------------


def test_split_identical_text_docs_stay_separate(spark):
    # two DIFFERENT source rows with identical text must get distinct split
    # ids, so gather never merges their chunk sequences (VERDICT r1 #2)
    text = " ".join(f"w{i}" for i in range(20))
    df = spark.createDataFrame([(1, text), (2, text)], "src long, body string")
    chunks = split(df, "body", method="token_count", num_tokens=5, name="sp")
    assert chunks.select("sp_id").distinct().count() == 2
    g = gather(chunks, "body_chunk", "sp_id", "sp_chunk_num",
               peripheral_chunks={"previous": {"tail": {"count": 1}}, "next": {"head": {"count": 1}}})
    # per-document chunk counts survive: 4 chunks per source row
    counts = {r["src"]: r["count"] for r in g.groupBy("src").count().collect()}
    assert counts == {1: 4, 2: 4}


def test_sample_stratified_int_counts(spark):
    # int count + stratify_key takes ceil(samples * n_g / N) per stratum
    # (was: silently ignored stratification, VERDICT r1 #4)
    rows = [(i, "a") for i in range(60)] + [(i, "b") for i in range(60, 100)]
    df = spark.createDataFrame(rows, "id long, g string")
    out = sample(df, "uniform", samples=10, stratify_key="g", seed=7)
    got = {r["g"]: r["count"] for r in out.groupBy("g").count().collect()}
    assert got == {"a": 6, "b": 4}
    # deterministic across runs
    assert sorted(r["id"] for r in out.collect()) == sorted(
        r["id"] for r in sample(df, "uniform", samples=10, stratify_key="g", seed=7).collect()
    )


def test_rank_no_k_distributed_matches_global_order(spark):
    # no-k path must produce the exact global ranking without a
    # single-task window (VERDICT r1 what's-wrong #3)
    df = spark.createDataFrame([(i, float(i % 97)) for i in range(500)], "id long, s double")
    out = rank(df, "s", direction="desc", name="r")
    rows = out.orderBy("_r_rank").collect()
    assert [r["_r_rank"] for r in rows] == list(range(1, 501))
    scores = [r["s"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # no WindowExec without partitioning in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_rank_picky_window_protocol(spark):
    # deterministic picker = true-quality argsort; the budgeted sliding
    # windows must bubble the true top items to the front even when the
    # initial score ordering is adversarially wrong (rank.py:744-870)
    n, k = 40, 40
    df = spark.createDataFrame(
        [(i, float(i), float(n - i)) for i in range(n)], "id long, bad double, good double"
    )

    calls = []

    def picker(window: pd.DataFrame, top_n: int) -> list:
        calls.append(len(window))
        return list(window["good"].to_numpy().argsort()[::-1][:top_n])

    out = rank(df, "bad", direction="desc", name="r", k=k, picker=picker,
               rerank_call_budget=12, num_top_items_per_window=3, overlap_fraction=0.5)
    rows = out.orderBy("_r_rank").collect()
    assert 0 < len(calls) <= 12
    # ids 1,2,3 bubble from the bottom to the top 3 positions. id 0 starts
    # at the LAST position, which the reference's window loop never visits
    # (windows are [i-ws, i) with i from k-1: position k-1 is excluded —
    # rank.py:783,799) — faithful quirk, so the winner set is {1,2,3}.
    assert sorted(r["id"] for r in rows[:3]) == [1, 2, 3]
    assert len(rows) == k and len({r["id"] for r in rows}) == k


def test_resolve_null_blocking_keys_are_singletons(spark):
    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, None), (4, None)], "id long, key string"
    )
    out = resolve(df, blocking_keys=["key"], canonical_cols=["key"])
    clusters = {r["id"]: r["_cluster_id"] for r in out.collect()}
    assert clusters[1] == clusters[2]
    assert clusters[3] != clusters[4]  # null-keyed rows never pair


def test_merge_lww_tie_dedup(spark, tmp_path):
    # two events tying on (key, lsn) in one batch must not write duplicate
    # key versions (ADVICE r1: auto-detect ties, dedup winner set)
    from docetl_spark.cdc import create_cdc_table, merge_apply, read_state

    table = create_cdc_table(str(tmp_path / "t"), ["k"], num_buckets=4)
    batch = spark.createDataFrame(
        [(1, 0, "U", "a", "v1"), (1, 1, "U", "a", "v2"), (1, 1, "U", "a", "v3"),
         (2, 2, "U", "b", "w1")],
        "lsn long, batch_id long, op string, k string, payload string",
    ).drop("batch_id")
    merge_apply(spark, table, batch, batch_id=0)
    state = read_state(spark, table)
    assert state.count() == 2
    row = {r["k"]: r["payload"] for r in state.collect()}
    assert row["a"] == "v3"  # deterministic struct-max tiebreak on the payload
    assert row["b"] == "w1"


def test_value_sample_cluster_diverse_representatives(spark):
    from docetl_spark.operators.reduce_ops import value_sample

    # two groups; group "a" has 3 tight clusters of 10 points each —
    # greedy k-center with sample_size=3 must pick one point from EACH
    # cluster (diversity), never two from the same cluster
    rows = []
    for c, center in enumerate([0.0, 100.0, 200.0]):
        for j in range(10):
            rows.append(("a", c * 10 + j, [center + j * 0.1, 0.0]))
    for j in range(2):
        rows.append(("b", 100 + j, [float(j), 0.0]))
    df = spark.createDataFrame(rows, "g string, id long, emb array<double>")
    out = value_sample(df, "g", method="cluster", sample_size=3, embedding_col="emb")
    a = [r["id"] for r in out.filter("g = 'a'").collect()]
    assert len(a) == 3
    assert sorted(i // 10 for i in a) == [0, 1, 2]  # one per tight cluster
    # small group passes through untouched
    assert out.filter("g = 'b'").count() == 2
    # deterministic
    b = [r["id"] for r in value_sample(df, "g", method="cluster", sample_size=3, embedding_col="emb").filter("g='a'").collect()]
    assert sorted(a) == sorted(b)


def test_equijoin_limit_comparisons_budget(spark):
    left = spark.createDataFrame(
        [(i, "k", "x" * (i + 1)) for i in range(10)], "lid long, k string, ltext string"
    )
    right = spark.createDataFrame(
        [(j, "k", "y" * (5 * j + 1)) for j in range(10)], "rid long, k string, rtext string"
    )
    full = equijoin(left, right, condition=F.col("k_left") == F.col("k_right"))
    assert full.count() == 100
    capped = equijoin(left, right, condition=F.col("k_left") == F.col("k_right"),
                      limit_comparisons=20, comparison_length_cols=("ltext", "rtext"))
    assert capped.count() == 20
    # right side is longer on average -> strata = right rows, priority =
    # LONGEST left matches first: every right row keeps its 2 longest lids
    per = capped.groupBy("rid").agg(F.count(F.lit(1)).alias("n"), F.max(F.length("ltext")).alias("mx"))
    assert all(r["n"] == 2 and r["mx"] == 10 for r in per.collect())
    # deterministic
    c2 = equijoin(left, right, condition=F.col("k_left") == F.col("k_right"),
                  limit_comparisons=20, comparison_length_cols=("ltext", "rtext"))
    assert sorted((r["lid"], r["rid"]) for r in capped.collect()) == sorted((r["lid"], r["rid"]) for r in c2.collect())
    # under budget: untouched
    assert equijoin(left, right, condition=F.col("k_left") == F.col("k_right"),
                    limit_comparisons=1000).count() == 100
    # capped WITHOUT length cols (regression: the hash-only priority used a
    # literal-int sort key, which Dataset.sort resolved as an ORDER BY
    # ordinal and failed analysis)
    nolen = equijoin(left, right, condition=F.col("k_left") == F.col("k_right"),
                     limit_comparisons=20)
    assert nolen.count() == 20
    n2 = equijoin(left, right, condition=F.col("k_left") == F.col("k_right"),
                  limit_comparisons=20)
    assert sorted((r["lid"], r["rid"]) for r in nolen.collect()) == sorted(
        (r["lid"], r["rid"]) for r in n2.collect())


def test_rank_score_fn_batch_scorer(spark):
    # pluggable Arrow-batch scorer = the likert/calibrated_embedding plug
    # point (rank.py:498/:988): deterministic rater, same result as the
    # equivalent column expression
    df = spark.createDataFrame([(i, float(i % 7)) for i in range(50)], "id long, s double")
    by_fn = rank(df, score_fn=lambda pdf: pdf["s"] * 2 + 1, name="r", k=10)
    by_col = rank(df, score=F.col("s") * 2 + 1, name="r", k=10)
    assert [r["id"] for r in by_fn.orderBy("_r_rank").collect()] == [
        r["id"] for r in by_col.orderBy("_r_rank").collect()
    ]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="exactly one"):
        rank(df)


def test_value_sample_first_n(spark):
    from docetl_spark.operators.reduce_ops import value_sample

    # rows arrive out of lsn order; each group keeps its sample_size
    # smallest lsns, and a group smaller than sample_size passes through
    lsns = {"a": [7, 2, 9, 4, 1, 8], "b": [5]}
    rows = [(g, lsn, float(lsn) / 2) for g, ls in lsns.items() for lsn in ls]
    df = spark.createDataFrame(rows, "g string, lsn long, value double")
    out = value_sample(df, "g", method="first_n", sample_size=3, order_col="lsn")
    assert sorted((r["g"], r["lsn"], r["value"]) for r in out.collect()) == [
        ("a", 1, 0.5), ("a", 2, 1.0), ("a", 4, 2.0), ("b", 5, 2.5),
    ]


def test_value_sample_cluster_degenerate_group_no_duplicates(spark):
    # all points identical and group larger than sample_size: the sampler
    # must not fabricate duplicate rows (review finding r2)
    from docetl_spark.operators.reduce_ops import value_sample

    rows = [("g", i, [1.0, 1.0]) for i in range(10)]
    df = spark.createDataFrame(rows, "g string, id long, emb array<double>")
    out = value_sample(df, "g", method="cluster", sample_size=3, embedding_col="emb").collect()
    ids = [r["id"] for r in out]
    assert len(ids) == len(set(ids))  # no duplicates
    assert 1 <= len(ids) <= 3


def test_sample_stratified_null_stratum_kept(spark):
    # NULL is a stratum: its rows were counted in the total, so they must
    # join their quota null-safely instead of silently dropping while
    # deflating every other stratum's share (ADVICE r2 #1)
    rows = [(i, "a") for i in range(60)] + [(i, None) for i in range(60, 100)]
    df = spark.createDataFrame(rows, "id long, g string")
    out = sample(df, "uniform", samples=10, stratify_key="g", seed=7)
    got = {r["g"]: r["count"] for r in out.groupBy("g").count().collect()}
    assert got == {"a": 6, None: 4}


def test_split_exact_duplicate_rows_stay_separate(spark):
    # byte-identical duplicate rows get per-duplicate salted ids (reference
    # split.py uuid4 keeps duplicates separate); unique rows keep the plain
    # content hash (ADVICE r2 #2)
    text = " ".join(f"w{i}" for i in range(20))
    df = spark.createDataFrame([(1, text), (1, text), (2, text)], "src long, body string")
    chunks = split(df, "body", method="token_count", num_tokens=5, name="sp")
    assert chunks.select("sp_id").distinct().count() == 3
    # every (sp_id, chunk_num) pair unique -> gather can never interleave
    assert chunks.groupBy("sp_id", "sp_chunk_num").count().filter(F.col("count") > 1).count() == 0
    # each of the three documents still has its 4 chunks
    assert chunks.count() == 12
    # the unique row's id is the unsalted hash: identical to a fresh
    # single-row split of the same content
    solo = split(
        spark.createDataFrame([(2, text)], "src long, body string"),
        "body", method="token_count", num_tokens=5, name="sp",
    )
    dup_ids = {r["sp_id"] for r in chunks.filter(F.col("src") == 2).select("sp_id").collect()}
    assert dup_ids == {r["sp_id"] for r in solo.select("sp_id").collect()}


def test_rank_likert_protocol(spark):
    # reference rank.py:498-668 semantics: batched 1-7 ratings, out-of-range
    # and missing ratings fall back to neutral 4, sort by rating
    from docetl_spark.operators.rank_ops import rank_likert

    seen_batches = []

    def rater(batch, ctx):
        seen_batches.append(len(batch))
        out = []
        for v in batch["id"]:
            if v % 10 == 0:
                out.append(99)  # out of range -> neutral 4
            else:
                out.append(1 + v % 7)
        return out

    df = spark.createDataFrame([(i,) for i in range(25)], "id long").coalesce(1)
    out = rank_likert(df, rater, direction="desc", name="lk", k=25,
                      batch_size=10, tiebreak_cols=["id"])
    rows = out.orderBy("_lk_rank").collect()
    # expected: rating = 4 if id%10==0 else 1+id%7, sorted desc then id asc
    expected = sorted(range(25), key=lambda i: (-(4 if i % 10 == 0 else 1 + i % 7), i))
    assert [r["id"] for r in rows] == expected
    assert all(b <= 10 for b in seen_batches)  # reference batch geometry


def test_rank_likert_short_ratings_default_neutral(spark):
    from docetl_spark.operators.rank_ops import rank_likert

    # rater returns fewer ratings than docs: unrated docs stay at 4
    def rater(batch, ctx):
        return [7]  # only the first doc of each batch is rated

    df = spark.createDataFrame([(i,) for i in range(6)], "id long").coalesce(1)
    out = rank_likert(df, rater, name="lk", k=6, batch_size=3, tiebreak_cols=["id"])
    got = {r["id"]: r["_lk_score"] for r in out.collect()}
    assert got == {0: 7.0, 3: 7.0, 1: 4.0, 2: 4.0, 4: 4.0, 5: 4.0}


def test_rank_calibrated_matches_reference_sort(spark):
    # reference rank.py:1056-1069: map to argmax-similar anchor
    # (first-max-wins), order by (anchor asc, sim desc)
    import numpy as np

    from docetl_spark.operators.rank_ops import rank_calibrated

    rng = np.random.RandomState(3)
    vecs = [[float(x) for x in rng.randn(8)] for _ in range(40)]
    anchors = [[float(x) for x in rng.randn(8)] for _ in range(4)]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vecs)], "id long, v array<double>")
    out = rank_calibrated(df, "v", anchors, name="cal", tiebreak_cols=["id"])
    rows = out.orderBy("_cal_rank").collect()

    def ref_key(i):
        x = np.array(vecs[i])
        sims = [float(x @ np.array(a) / (np.linalg.norm(x) * np.linalg.norm(np.array(a)))) for a in anchors]
        best = int(np.argmax(sims))
        return (best, -max(sims), i)

    expected = sorted(range(40), key=ref_key)
    assert [r["id"] for r in rows] == expected
    assert [r["_cal_anchor"] for r in rows] == [ref_key(i)[0] for i in expected]


def test_rank_picker_empty_input_keeps_schema(spark):
    # ADVICE r2 #3: picker path on an empty slice must not die in pandas
    # schema inference, and typed columns round-trip
    df = spark.createDataFrame([], "id long, v array<double>, s double")
    out = rank(df, score="s", name="r", k=5, picker=lambda w, n: list(range(n)))
    assert out.count() == 0
    assert dict(out.dtypes)["v"] == "array<double>"
    assert dict(out.dtypes)["_r_rank"] == "bigint"


def test_gather_hierarchical_headers_jvm_matches_reference_fold(spark):
    # reference gather.py:262-327 hierarchy headers: the JVM window+fold
    # path must byte-match the python mirror of the reference loop
    # (including the len-counting clearing quirk) on multi-header chunks
    from docetl_spark.operators.split_gather import (
        _render_hierarchy_headers,
        gather,
    )

    def H(header, level):
        return {"header": header, "level": level}

    chunks = [
        (1, "d", 1, [H("Intro", 1)]),
        (2, "d", 2, [H("Background", 2), H("Details", 3)]),
        (3, "d", 3, []),
        (4, "d", 4, [H("Methods", 1), H("Setup", 2)]),
        (5, "d", 5, [H("", 2), H("Results", 2)]),   # empty header skipped
        (6, "d", 6, [H("Deep", 3)]),
        (7, "d", 7, [H(None, None)]),               # null header/level
    ]
    df = spark.createDataFrame(
        chunks,
        "id long, doc string, num int, hdrs array<struct<header:string, level:int>>",
    )
    out = gather(
        df, "doc", "doc", "num",
        peripheral_chunks={"previous": {"tail": {"count": 1}}, "next": {"head": {"count": 1}}},
        doc_header_key="hdrs",
    )
    got = {r["num"]: r["doc_rendered"] for r in out.collect()}

    header_lists = [c[3] for c in chunks]
    for i, (_, _, num, cur) in enumerate(chunks):
        expected_line = _render_hierarchy_headers(cur, header_lists[: i + 1])
        body = got[num]
        if expected_line:
            assert f"\n{expected_line}\n--- Begin Main Chunk ---" in body, (num, body)
        else:
            assert "_Current Section:_" not in body.split("--- Begin Main Chunk ---")[0].split("--- End Previous Context ---")[-1], (num, body)

    # exotic config forces the pandas path; hierarchy lines must match
    out2 = gather(
        df, "doc", "doc", "num",
        peripheral_chunks={"previous": {"head": {"count": 1}, "tail": {"count": 1}}},
        doc_header_key="hdrs",
    )
    got2 = {r["num"]: r["doc_rendered"] for r in out2.collect()}
    for i, (_, _, num, cur) in enumerate(chunks):
        expected_line = _render_hierarchy_headers(cur, header_lists[: i + 1])
        if expected_line:
            assert expected_line in got2[num], (num, got2[num])


def test_code_reduce_lineage(spark, groups_values):
    # reference reduce.py:359-368 output.lineage: key-projected group
    # members ride along on the reduced row (sorted by key tuple —
    # deterministic where the reference's arrival order is not)
    out = code_reduce(
        groups_values, "group",
        lambda g: {"total": int(g["value"].sum())},
        {"total": "int"},
        name="r",
        lineage_keys=["value"],
    )
    got = {r["group"]: [m["value"] for m in r["r_lineage"]] for r in out.collect()}
    assert got == {"A": [10, 15], "B": [20, 25], "C": [30]}


def test_reduce_fold_persist_intermediates(spark):
    # reference reduce.py:391,:540: per-iteration fold states recorded
    import json

    from docetl_spark.operators import reduce_fold

    df = spark.createDataFrame(
        [("u", i, float(i)) for i in range(1, 7)], "user string, lsn long, v double"
    )

    def fold(state, chunk):
        return {"total": state.get("total", 0.0) + float(chunk["v"].sum())}

    out = reduce_fold(
        df, "user", fold, {"total": "double"},
        order_col="lsn", fold_batch_size=2,
        persist_intermediates=True, name="f",
    ).collect()
    assert len(out) == 1
    assert out[0]["total"] == 21.0
    inters = [json.loads(s) for s in out[0]["_f_intermediates"]]
    assert [x["iter"] for x in inters] == [0, 1, 2]
    assert [x["intermediate"]["total"] for x in inters] == [3.0, 10.0, 21.0]


def test_extract_pointer_protocol_golden(spark):
    # reference extract.py:66-117 reformat + :216-250 slice/strip semantics,
    # golden-checked against the verbatim python mirror — including
    # long-word chunking and the ''.join fuse quirk
    from docetl_spark.operators.extract_ops import (
        _reformat_python,
        extract_pointer,
        reformat_with_line_numbers,
    )

    texts = [
        "",
        "one tiny line",
        "alpha beta gamma delta " * 20,
        "head " + "Z" * 95 + " tail tail2",
        "padpad match-me pad " * 6,
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    fmt = {r["id"]: r["f"] for r in df.select("id", reformat_with_line_numbers("text", 30).alias("f")).collect()}
    for i, t in enumerate(texts):
        assert fmt[i] == _reformat_python(t, 30), i

    out = extract_pointer(df, ["text"], pointer_pattern="match-me|gamma", line_width=30)
    got = {r["id"]: r["text_extracted_extract"] for r in out.collect()}

    # python mirror of point->slice->format over the same formatted text
    def mirror(t):
        formatted = _reformat_python(t, 30)
        lines = formatted.split("\n")
        import re
        hits = [i + 1 for i, line in enumerate(lines)
                if re.search("match-me|gamma", line.split(": ", 1)[1] if ": " in line else line)]
        ranges, start = [], None
        for h in hits:
            if start is None:
                start = prev = h
            elif h == prev + 1:
                prev = h
            else:
                ranges.append((start, prev)); start = prev = h
        if start is not None:
            ranges.append((start, prev))
        texts_out = []
        for s, e in ranges:
            content = [line.split(": ", 1)[1] if ": " in line else line for line in lines[s - 1 : e]]
            texts_out.append("".join(content))
        deduped = []
        for x in texts_out:
            if x and x not in deduped:
                deduped.append(x)
        return "\n\n".join(deduped)

    for i, t in enumerate(texts):
        assert got[i] == mirror(t), (i, got[i], mirror(t))


def test_extract_by_line_ranges_validation(spark):
    # invalid ranges skip (default) or clamp (skip_on_error=False),
    # reference extract.py:227-238
    from pyspark.sql import functions as F

    from docetl_spark.operators.extract_ops import (
        extract_by_line_ranges,
        reformat_with_line_numbers,
    )

    df = spark.createDataFrame([("aaa bbb ccc ddd eee",)], "text string")
    d = df.withColumn("f", reformat_with_line_numbers("text", 7))
    ranges = F.expr(
        "array(named_struct('start_line', 0, 'end_line', 1),"
        "      named_struct('start_line', 2, 'end_line', 9),"
        "      named_struct('start_line', 1, 'end_line', 2))"
    )
    skipped = d.select(extract_by_line_ranges("f", ranges).alias("x")).first()["x"]
    assert skipped == ["aaa bbbccc ddd"]  # only the valid range survives
    clamped = d.select(extract_by_line_ranges("f", ranges, skip_on_error=False).alias("x")).first()["x"]
    # (0,1)->(1,1); (2,9)->(2,3); (1,2) valid
    assert clamped == ["aaa bbb", "ccc dddeee", "aaa bbbccc ddd"]


def test_topk_llm_compare_facade(spark):
    # reference topk.py:182-235: llm_compare delegates to rank with the
    # query criteria as initial ordering, picky-window refinement, head-k;
    # fractional k = int(k * len)
    from docetl_spark.operators.rank_ops import head_picker, rank

    df = spark.createDataFrame([(i, float(i % 13)) for i in range(60)], "id long, s double")
    via_topk = topk(df, k=10, method="llm_compare", score_col="s", name="t",
                    picker=head_picker, tiebreak_cols=["id"])
    via_rank = rank(df, score=F.col("s"), direction="desc", name="t", k=10,
                    picker=head_picker, rerank_call_budget=100, tiebreak_cols=["id"])
    assert [r["id"] for r in via_topk.orderBy("_t_rank").collect()] == [
        r["id"] for r in via_rank.orderBy("_t_rank").collect()
    ]
    # fractional k: int(0.25 * 60) = 15 rows
    frac = topk(df, k=0.25, method="llm_compare", score_col="s", name="t",
                picker=head_picker, tiebreak_cols=["id"])
    assert frac.count() == 15
    with pytest.raises(ValueError, match="stratify_key"):
        topk(df, k=5, method="llm_compare", score_col="s", stratify_key="id", picker=head_picker)


def test_pipeline_topk_llm_compare_yaml(spark, tmp_path):
    import os

    import yaml

    from docetl_spark.plans.pipeline import Pipeline

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
    cfg = {
        "datasets": {"docs": {"path": os.path.join(sf_dir, "documents.parquet")}},
        "steps": [{
            "name": "s1", "input": "docs", "operations": [
                {"op": "topk", "method": "llm_compare", "k": 5,
                 "score": "n_chars", "name": "t",
                 "picker": "docetl_spark.operators.rank_ops:head_picker",
                 "rerank_call_budget": 4},
            ],
        }],
    }
    p = str(tmp_path / "p.yaml")
    with open(p, "w") as f:
        yaml.safe_dump(cfg, f)
    out = Pipeline.from_yaml(p).run(spark)
    rows = out.orderBy("_t_rank").collect()
    assert len(rows) == 5
    chars = [r["n_chars"] for r in rows]
    assert chars == sorted(chars, reverse=True)


def test_resolve_limit_comparisons_prioritizes_blocked_pairs(spark):
    # reference resolve.py:413-440: budget cap keeps key-blocked ("code")
    # pairs ahead of candidate (embedding) pairs, deterministically
    from docetl_spark.operators.resolve_ops import resolve, row_id

    rows = [(i, "k%d" % (i % 3), "v%d" % i) for i in range(12)]
    df = spark.createDataFrame(rows, "id long, k string, v string")
    ids = df.select(row_id(df).alias("_r"), "id").collect()
    rid = {r["id"]: r["_r"] for r in ids}
    # candidate pairs linking across blocks (tier 1)
    cand = spark.createDataFrame(
        [(min(rid[0], rid[1]), max(rid[0], rid[1])), (min(rid[2], rid[3]), max(rid[2], rid[3]))],
        "_id1 long, _id2 long",
    )
    out_full = resolve(df, blocking_keys=["k"], compare=F.lit(True), pair_candidates=cand)
    out_capped = resolve(df, blocking_keys=["k"], compare=F.lit(True), pair_candidates=cand,
                         limit_comparisons=18)  # exactly the 3 blocks' C(4,2)*3 pairs
    # capped run keeps every key-blocked pair -> same clusters as blocking-only
    blocked_only = resolve(df, blocking_keys=["k"], compare=F.lit(True))
    def clusters(o):
        return sorted(tuple(sorted(r["id"] for r in g)) for _, g in
                      __import__("itertools").groupby(
                          sorted(o.select("id", "_cluster_id").collect(), key=lambda r: r["_cluster_id"]),
                          key=lambda r: r["_cluster_id"]))
    assert clusters(out_capped) == clusters(blocked_only)
    # uncapped includes the cross-block candidate links -> fewer clusters
    assert len(clusters(out_full)) < len(clusters(blocked_only))
    # deterministic across runs
    assert clusters(out_capped) == clusters(
        resolve(df, blocking_keys=["k"], compare=F.lit(True), pair_candidates=cand, limit_comparisons=18))


def test_sample_samples_per_group_requires_stratify_key(spark):
    from docetl_spark.operators.sample_ops import sample

    df = spark.range(10).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="requires stratify_key"):
        sample(df, method="uniform", samples_per_group=2)

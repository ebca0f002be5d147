"""Property tests for the Arrow-kernel rewrites (vectors, shingles,
minhash, reformat): each kernel must byte/bit-match its pure-python
executable spec on adversarial inputs — including nulls, empties, and
whitespace oddities — in ONE Spark job per property (hypothesis drives
the batch content, not per-example Spark runs)."""

import math

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

TEXTS = st.lists(
    st.text(alphabet=" \t\n\x0b\x0c\u00a0\u2028abcdeXYZ.!?0123456789", max_size=120) | st.none(),
    min_size=1, max_size=25,
)


@settings(max_examples=8, deadline=None)
@given(texts=TEXTS, width=st.sampled_from([5, 13, 80]))
def test_reformat_matches_reference_loop(spark, texts, width):
    from docetl_spark.operators.extract_ops import _reformat_python, reformat_with_line_numbers

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    got = {r["id"]: r["f"] for r in df.select("id", reformat_with_line_numbers("text", width).alias("f")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == _reformat_python(t or "", width), (i, t)


@settings(max_examples=8, deadline=None)
@given(texts=TEXTS, n=st.sampled_from([1, 2, 3]))
def test_shingles_match_python_mirror(spark, texts, n):
    from docetl_spark.functions.dedup import _py_shingles, shingles

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    got = {r["id"]: list(r["s"]) for r in df.select("id", shingles("text", n).alias("s")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == _py_shingles(t or "", n), (i, t)


def test_minhash_signature_shape_and_set_invariance(spark):
    # same shingle set (different surface whitespace) -> identical signature;
    # different text -> different signature (w.h.p.)
    from docetl_spark.functions.dedup import minhash_signature

    rows = [(0, "a b c d e f g"), (1, "  a  b\tc d\n e f g "), (2, "x y z q r s t")]
    df = spark.createDataFrame(rows, "id long, text string")
    sigs = {r["id"]: tuple(r["s"]) for r in df.select("id", minhash_signature("text", 16, 2).alias("s")).collect()}
    assert len(sigs[0]) == 16
    assert sigs[0] == sigs[1]
    assert sigs[0] != sigs[2]


VECS = st.lists(
    st.lists(st.floats(min_value=-5, max_value=5, allow_nan=False), min_size=4, max_size=4) | st.none(),
    min_size=1, max_size=20,
)


@settings(max_examples=8, deadline=None)
@given(vecs=VECS)
def test_vector_kernels_match_numpy_mirror(spark, vecs):
    from docetl_spark.functions.vectors import cosine, dot, l2_normalize, norm

    rows = [(i, v, list(reversed(v)) if v is not None else None) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    out = {
        r["id"]: r
        for r in df.select(
            "id", dot("a", "b").alias("d"), norm("a").alias("n"),
            cosine("a", "b").alias("c"), l2_normalize("a").alias("l"),
        ).collect()
    }
    for i, v in enumerate(vecs):
        r = out[i]
        if v is None:
            assert r["d"] is None and r["n"] is None and r["c"] is None and r["l"] is None
            continue
        a = np.array(v); b = a[::-1]
        # ascending-dim accumulation == numpy sum here (4 elements, exact per-op)
        ed = 0.0
        for x, y in zip(a, b):
            ed += x * y
        sa = 0.0
        for x in a:
            sa += x * x
        # b's squared norm accumulates in B'S element order — reversed-
        # order addition rounds differently, so sb != sa in general even
        # though |reversed(a)| == |a| mathematically
        sb = 0.0
        for y in b:
            sb += y * y
        assert r["d"] == ed
        assert r["n"] == math.sqrt(sa)
        assert r["c"] == ed / (math.sqrt(sa) * math.sqrt(sb) + 1e-12)
        nl = [x / (math.sqrt(sa) + 1e-12) for x in a]
        assert list(r["l"]) == nl


def test_vector_kernels_empty_frame_and_all_null(spark):
    from docetl_spark.functions.vectors import cosine, l2_normalize

    empty = spark.createDataFrame([], "a array<double>, b array<double>")
    assert empty.select(cosine("a", "b").alias("c")).count() == 0
    nulls = spark.createDataFrame([(None, None)] * 3, "a array<double>, b array<double>")
    rows = nulls.select(cosine("a", "b").alias("c"), l2_normalize("a").alias("l")).collect()
    assert all(r["c"] is None and r["l"] is None for r in rows)


def test_hyperplane_bucket_array_null_free_contract(spark):
    # buckets are computed over normalized non-null vectors by every call
    # site; the kernel itself must stay deterministic across partitionings
    from docetl_spark.functions.dedup import hyperplane_bucket_array

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(40)]
    df1 = spark.createDataFrame(rows, "id long, v array<double>").repartition(1)
    df8 = spark.createDataFrame(rows, "id long, v array<double>").repartition(8)
    b1 = {r["id"]: list(r["b"]) for r in df1.select("id", hyperplane_bucket_array("v", 8, 5, [1, 2]).alias("b")).collect()}
    b8 = {r["id"]: list(r["b"]) for r in df8.select("id", hyperplane_bucket_array("v", 8, 5, [1, 2]).alias("b")).collect()}
    assert b1 == b8


def test_shingles_preserve_v1_column_expression_semantics(spark):
    # the Arrow kernel must keep the ORIGINAL Java-\s+ (ASCII) tokenization
    # — including on Unicode whitespace, which python str.split() would
    # additionally break on
    from pyspark.sql import functions as F

    from docetl_spark.functions.dedup import shingles

    def v1_shingles(text_col, n, max_shingles=512):
        toks = F.transform(
            F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""),
            lambda t: F.lower(t),
        )
        toks = F.slice(toks, 1, max_shingles + n)
        idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - n + 1, F.lit(1)))
        return F.array_distinct(F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " ")))

    texts = [
        "plain ascii words here",
        "nbsp stays one token",
        "line sep also glued",
        " \t mixed ws  and ascii\nbreaks ",
        "",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    for n in (1, 3):
        got = {r["id"]: list(r["a"]) for r in df.select("id", shingles("text", n).alias("a")).collect()}
        want = {r["id"]: list(r["b"]) for r in df.select("id", v1_shingles("text", n).alias("b")).collect()}
        assert got == want, (n, got, want)


def test_null_vectors_survive_lsh_and_calibrated_paths(spark):
    # a NULL embedding must degrade gracefully (null bucket / null struct /
    # no pairs), never crash the kernel reshape (review finding r3)
    import numpy as np
    from pyspark.sql import functions as F

    from docetl_spark.functions.dedup import (
        embedding_dup_pairs,
        embedding_pairs_brute,
        hyperplane_bucket_array,
    )
    from docetl_spark.operators.rank_ops import calibrated_anchor_scores

    rng = np.random.RandomState(5)
    rows = [(i, [float(x) for x in rng.randn(4)]) for i in range(6)] + [(6, None), (7, None)]
    df = spark.createDataFrame(rows, "id long, v array<double>")

    b = {r["id"]: r["b"] for r in df.select("id", hyperplane_bucket_array("v", 4, 3, [1, 2]).alias("b")).collect()}
    assert b[6] is None and b[7] is None
    assert all(b[i] is not None and len(b[i]) == 2 for i in range(6))

    pairs = embedding_dup_pairs(df, "id", "v", dim=4, threshold=-2.0, planes=2)
    assert pairs.filter((F.col("_id1").isin(6, 7)) | (F.col("_id2").isin(6, 7))).count() == 0

    brute = embedding_pairs_brute(df, "id", "v", threshold=-2.0)
    ids_in_pairs = {r["_id1"] for r in brute.collect()} | {r["_id2"] for r in brute.collect()}
    assert 6 not in ids_in_pairs and 7 not in ids_in_pairs
    assert brute.count() == 15  # C(6,2) — every non-null pair at threshold -2

    cal = df.select("id", calibrated_anchor_scores("v", [rows[0][1], rows[1][1]]).alias("c")).collect()
    got = {r["id"]: r["c"] for r in cal}
    assert got[6] is None and got[7] is None
    assert got[0]["anchor"] == 0


def test_lsh_recall_small_corpus_uses_per_query_denominator(spark):
    # k larger than the corpus: recall of a perfect LSH run must be 1.0,
    # not neighbors/k (review finding r3)
    import numpy as np

    from docetl_spark.functions.ann import lsh_recall_at_k

    rng = np.random.RandomState(9)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(5)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    rec = lsh_recall_at_k(df, df.filter("id < 2"), "id", "v", dim=8, k=10,
                          planes=2, tables=4, probe_bits=2)
    got = {r["query_id"]: r["recall"] for r in rec.collect()}
    assert got[0] == 1.0 and got[1] == 1.0


def test_mq_scored_bit_identical_to_crossjoin_cosine(spark):
    # the multi-query kernel must reproduce the crossJoin+_cosine_udf
    # scored frame byte-for-byte, including |Q| NULL-cosine rows for a
    # NULL corpus vector (same row set, same bit patterns -> same ranks)
    import numpy as np

    from docetl_spark.functions.ann import _mq_scored
    from docetl_spark.functions.vectors import cosine, l2_normalize

    rng = np.random.RandomState(13)
    rows = [(i, [float(x) for x in rng.randn(16)]) for i in range(40)]
    rows.append((40, None))
    df = spark.createDataFrame(rows, "id long, v array<double>")
    c = df.select(F.col("id").alias("_nid"), l2_normalize("v").alias("_cv"))
    q = df.filter("id < 3").select(F.col("id").alias("_qid"), l2_normalize("v").alias("_qv"))

    kernel = {(r["_qid"], r["_nid"]): r["cosine"] for r in _mq_scored(c, q).collect()}
    cross = {(r["_qid"], r["_nid"]): r["cosine"] for r in (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("_nid") != F.col("_qid"))
        .withColumn("cosine", cosine("_cv", "_qv").cast("double"))
        .select("_qid", "_nid", "cosine")
    ).collect()}

    assert set(kernel) == set(cross)
    assert (3, 40) not in kernel and (0, 40) in kernel  # null corpus row kept, per-query
    for key, want in cross.items():
        got = kernel[key]
        if want is None:
            assert got is None, key
        else:
            assert got.hex() == want.hex(), key

    # the raw-collect path (pure-JVM collect + driver-side l2 normalize)
    # must reproduce the _l2n_udf vectors AND the scored frame bit-for-bit
    from docetl_spark.functions.ann import _collect_queries_raw

    raw = _collect_queries_raw(df.filter("id < 3"), "id", "v")
    udf_q = {r["_qid"]: r["_qv"] for r in q.collect()}
    for r in raw:
        want_vec = udf_q[r["_qid"]]
        assert [x.hex() for x in r["_qv"]] == [x.hex() for x in want_vec], r["_qid"]
    kernel_raw = {(r["_qid"], r["_nid"]): r["cosine"]
                  for r in _mq_scored(c, q, rows=raw).collect()}
    assert kernel_raw.keys() == cross.keys()
    for key, want in cross.items():
        got = kernel_raw[key]
        assert (got is None and want is None) or got.hex() == want.hex(), key


def test_recall_over_collect_bound_collects_queries_once(spark, monkeypatch):
    # over the collect bound the certificate scores through the crossJoin
    # after ONE bounded query collect, and its recalls equal the kernel path's
    from docetl_spark.functions import ann

    rng = np.random.RandomState(21)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(30)]
    df = spark.createDataFrame(rows, "id long, v array<double>")

    def recalls():
        rec = ann.lsh_recall_at_k(df, df.filter("id < 6"), "id", "v", dim=8, k=5, planes=4, tables=2)
        return sorted(tuple(r) for r in rec.collect())

    want = recalls()  # 6 queries: under the default bound, kernel path
    calls = []

    def counted(name):
        real = getattr(ann, name)

        def wrapper(*args):
            calls.append(name)
            return real(*args)
        return wrapper

    for name in ("_collect_queries", "_collect_queries_raw"):
        monkeypatch.setattr(ann, name, counted(name))
    monkeypatch.setattr(ann, "_MQ_COLLECT_BOUND", 4)
    assert recalls() == want
    assert calls == ["_collect_queries_raw"]

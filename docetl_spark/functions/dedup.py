"""Deduplication suite for web-scale training-data pipelines.

Five strategies, all shuffle-lean and expressible as Spark plans:

* ``exact_dedup``        — fingerprint groupBy (one shuffle, map-side combine)
* ``minhash_signature``  + ``minhash_lsh_pairs`` — shingle -> minhash ->
  banded LSH bucket join -> signature-similarity verify (the standard
  MinHashLSH pipeline; shingling + signatures are zero-copy Arrow numpy
  kernels — the Column-expression forms are interpreted HOFs, see
  functions/vectors.py for the measurement)
* ``simhash``            — 64-bit simhash via a vectorized numpy pandas UDF
  (bit-vote matrix math; built-ins can't express per-bit votes cleanly)
* ``ngram_jaccard_pairs``— exact Jaccard over shingle sets for candidate
  pairs (array_intersect/array_union)
* ``embedding_dup_pairs``— cosine near-duplicates via seeded random-
  hyperplane LSH buckets + exact cosine verify
* ``embedding_pairs_brute`` — broadcast-matrix exact all-pairs baseline
  (recall-contract oracle side; guarded to broadcastable sizes)

Near-dup *removal* composes any pair generator with
``resolve_ops.connected_components`` and keeps each component's min id —
see ``dedup_by_pairs``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docetl_spark.functions.text import fingerprint, tokens
from docetl_spark.functions.vectors import cosine, l2_normalize


# -- exact ------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str, normalize: bool = True) -> DataFrame:
    """Keep one row per exact (normalized) text: struct-min per fingerprint
    (single shuffle with partial combine — no window, no sort)."""
    fp = fingerprint(text_col, normalize=normalize)
    packed = F.struct(*[F.col(c) for c in df.columns])
    won = df.groupBy(fp.alias("_fp")).agg(F.min(packed).alias("_w"))
    return won.select(*[F.col(f"_w.{c}").alias(c) for c in df.columns])


# -- shingles / minhash -------------------------------------------------------

def shingles(text: Column | str, n: int = 3, max_shingles: int = 512) -> Column:
    """Word n-gram shingles (lowercased), capped for bounded signatures;
    first-occurrence order, exactly the v1 Column-expression semantics
    (tokens -> slice cap -> n-gram joins -> distinct-keep-first).

    Arrow UDF: the Column form (transform/slice/array_join/array_distinct
    under a sequence) is all higher-order functions — CodegenFallback,
    interpreted per shingle — and measured ~6s alone over 5k docs at
    sf0.1 where the python-per-doc kernel takes well under 1s."""
    import pyarrow as pa
    from pyspark.sql.functions import ArrowUDFType, arrow_udf

    @arrow_udf(T.ArrayType(T.StringType()), ArrowUDFType.SCALAR)
    def _sh(texts: pa.Array) -> pa.Array:
        if isinstance(texts, pa.ChunkedArray):
            texts = texts.combine_chunks()
        values: list[str] = []
        offs = np.empty(len(texts) + 1, dtype=np.int64)
        offs[0] = 0
        for i in range(len(texts)):
            t = texts[i].as_py()
            sh = _py_shingles(t if t is not None else "", n, max_shingles)
            values.extend(sh)
            offs[i + 1] = len(values)
        return pa.LargeListArray.from_arrays(
            pa.array(offs), pa.array(values, type=pa.string())
        )

    return _sh(F.col(text) if isinstance(text, str) else text)


_MAX_SHINGLES = 512


_ASCII_WS = __import__("re").compile(r"[ \t\n\r\f\x0b]+")


def _py_shingles(text: str, n: int, max_shingles: int = _MAX_SHINGLES) -> list:
    """The shingle kernel shared by ``shingles`` and ``minhash_signature``
    (lowercased whitespace tokens, cap at max_shingles+n, n-gram joins,
    distinct keeping first occurrence — byte-equal to the original
    Column-expression semantics, including its Java ``\\s`` ASCII-only
    whitespace class: python ``str.split()`` would additionally break on
    Unicode whitespace and silently change shingle sets)."""
    toks = [t.lower() for t in _ASCII_WS.split(text or "") if t][: max_shingles + n]
    m = max(len(toks) - n + 1, 1)
    return list(dict.fromkeys(" ".join(toks[i : i + n]) for i in range(m)))


def minhash_signature(text: Column | str, num_hashes: int = 32, shingle_n: int = 3) -> Column:
    """Array of ``num_hashes`` min-hashes over the word-shingle set.

    Arrow UDF kernel: one md5 per shingle (deterministic across
    processes, same primitive as simhash) expanded into ``num_hashes``
    seeded splitmix64 mixes vectorized in numpy, elementwise-min per doc.
    History: the v1 per-hash ``array_min(transform(...))`` columns were a
    num_hashes× expression blowup; the v2 single-pass zip_with fold fixed
    that but Spark higher-order functions are CodegenFallback —
    ~shingles×num_hashes interpreted lambda evals per doc dominated the
    LSH pipeline (see functions/vectors.py for the same finding). The
    signature family only feeds banding + signature-agreement estimates;
    the near-dup CONTRACT verifies candidates with exact n-gram jaccard,
    so the family swap cannot change verified results — only recall,
    which the recall contract pins."""
    import hashlib

    import pyarrow as pa
    from pyspark.sql.functions import ArrowUDFType, arrow_udf

    # fixed seed constants; splitmix64 gives 64 well-mixed independent bits
    seeds = (np.arange(1, num_hashes + 1, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15))

    def _mix(x: np.ndarray) -> np.ndarray:
        x = (x + np.uint64(0x9E3779B97F4A7C15))
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))

    @arrow_udf(T.ArrayType(T.LongType()), ArrowUDFType.SCALAR)
    def _sig(texts: pa.Array) -> pa.Array:
        if isinstance(texts, pa.ChunkedArray):
            texts = texts.combine_chunks()
        n_rows = len(texts)
        out = np.empty((n_rows, num_hashes), dtype=np.uint64)
        for i in range(n_rows):
            t = texts[i].as_py()
            sh = _py_shingles(t if t is not None else "", shingle_n)
            bases = np.fromiter(
                (int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "little") for s in sh),
                dtype=np.uint64, count=len(sh),
            )
            out[i] = _mix(bases[:, None] ^ seeds[None, :]).min(axis=0)
        flat = out.view(np.int64).ravel()
        offsets = pa.array(np.arange(0, (n_rows + 1) * num_hashes, num_hashes, dtype=np.int64))
        return pa.LargeListArray.from_arrays(offsets, pa.array(flat, type=pa.int64()))

    return _sig(F.col(text) if isinstance(text, str) else text)


def band_buckets(sig_col: Column | str, num_hashes: int, bands: int) -> Column:
    """Banded LSH bucket ids (array of ``bands`` hashes) from a minhash
    signature column — rows agreeing on ANY band land in one bucket.
    Shared by the one-shot pair generator and the incremental dedup index
    (both sides must band identically for cross joins to block)."""
    s = F.col(sig_col) if isinstance(sig_col, str) else sig_col
    rows_per_band = num_hashes // bands
    return F.array(*[
        F.xxhash64(
            F.concat_ws(",", *[
                F.element_at(s, b * rows_per_band + r + 1).cast("string")
                for r in range(rows_per_band)
            ]),
            F.lit(b),
        )
        for b in range(bands)
    ])


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Candidate near-dup pairs (_id1,_id2,match_score) via banded MinHash
    LSH: rows agreeing on ANY band's row-slice land in a bucket; bucket
    self-join yields candidates; estimated Jaccard = fraction of equal
    signature positions, filtered at ``threshold``.

    Scale: the only wide ops are the bucket groupBy-join (keys are
    band hashes — uniform) and the verify join on (id, signature).
    """
    sig = df.select(F.col(id_col).alias("_id"), minhash_signature(F.col(text_col), num_hashes, shingle_n).alias("_sig"))
    sig = sig.persist()
    banded = sig.select("_id", F.explode(band_buckets("_sig", num_hashes, bands)).alias("_bucket"))
    cands = (
        banded.alias("a")
        .join(banded.alias("b"), on="_bucket")
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("_id1"), F.col("b._id").alias("_id2"))
        .distinct()
    )
    s1 = sig.select(F.col("_id").alias("_id1"), F.col("_sig").alias("_sig1"))
    s2 = sig.select(F.col("_id").alias("_id2"), F.col("_sig").alias("_sig2"))
    est = F.aggregate(
        F.zip_with("_sig1", "_sig2", lambda x, y: (x == y).cast("int")), F.lit(0), lambda a, x: a + x
    ) / F.lit(num_hashes)
    return (
        cands.join(s1, "_id1").join(s2, "_id2")
        .withColumn("match_score", est.cast("double"))
        .filter(F.col("match_score") >= threshold)
        .select("_id1", "_id2", "match_score")
    )


# -- simhash ------------------------------------------------------------------

@F.pandas_udf(T.LongType())
def _simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash: per-token 64-bit hash, per-bit +1/-1 votes, sign ->
    bit. Vectorized numpy over the Arrow batch (the documented slow-path
    exception: per-bit votes are not expressible as builtins)."""
    import hashlib

    def h64(tok: str) -> int:
        # md5, NOT builtin hash(): python str hash is per-process salted;
        # md5 is also available in external SQL engines, which lets the
        # driver's DuckDB oracle reproduce signatures bit-for-bit
        return int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "little")

    out = np.zeros(len(texts), dtype=np.uint64)
    for i, t in enumerate(texts.fillna("")):
        toks = t.lower().split()
        if not toks:
            continue
        hs = np.array([h64(tok) for tok in toks], dtype=np.uint64)
        bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(np.int32)
        votes = (2 * bits - 1).sum(axis=0)
        out[i] = np.packbits((votes > 0).astype(np.uint8), bitorder="little").view(np.uint64)[0]
    return pd.Series(out.astype(np.int64))


def simhash(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return _simhash64(c)


# -- exact jaccard over candidate pairs --------------------------------------

# Candidate pairs up to which ngram_jaccard_pairs broadcasts the candidate-id
# set (at most twice as many ids — a few MB of longs). Larger sets would
# ship an unbounded hash table to every executor.
NGRAM_BROADCAST_MAX_PAIRS = 250_000


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3, threshold: float = 0.5,
    candidates: DataFrame | None = None, num_hashes: int = 32, bands: int = 16,
) -> DataFrame:
    """Exact n-gram Jaccard (array_intersect/array_union) over candidate
    pairs (from MinHash LSH unless given).

    Default banding is (b=16, r=2): the LSH S-curve midpoint is
    j* ~ (1/b)^(1/r) = 0.25, the right blocking operating point for
    verify thresholds >= 0.5 (the old (8,4) default had j* ~ 0.59 — a
    true j=0.67 pair missed ALL bands with ~17% probability)."""
    if candidates is None:
        candidates = minhash_lsh_pairs(df, id_col, text_col, num_hashes=num_hashes, bands=bands,
                                       shingle_n=shingle_n, threshold=0.0)
    # Guide §3.2: the verify side only needs shingles for rows that occur
    # in a candidate pair — a sparse set by LSH design — so semi-join the
    # corpus down BEFORE the shingle kernel instead of shingling every
    # row twice and probing a hash table. The candidate frame feeds three
    # consumers (the id set and both verify joins); persist it so the
    # banded self-join runs once (same lifetime convention as the
    # signature persist in minhash_lsh_pairs).
    candidates = candidates.select("_id1", "_id2").persist()
    wanted = candidates.select(F.col("_id1").alias(id_col)).union(
        candidates.select(F.col("_id2").alias(id_col))
    )
    # the count fills the persist the three consumers read anyway; past the
    # bound the planner picks the join strategy from the runtime size
    if candidates.count() <= NGRAM_BROADCAST_MAX_PAIRS:
        wanted = F.broadcast(wanted)
    pruned = df.join(wanted, id_col, "left_semi")
    sh = pruned.select(F.col(id_col).alias("_id"), shingles(text_col, shingle_n).alias("_sh"))
    s1 = sh.select(F.col("_id").alias("_id1"), F.col("_sh").alias("_sh1"))
    s2 = sh.select(F.col("_id").alias("_id2"), F.col("_sh").alias("_sh2"))
    # rounded BEFORE the threshold: the 6dp contract makes the kept pair
    # set identical across engines (float noise near the cut can't flip
    # membership between Spark and an external SQL oracle)
    jac = F.round(
        F.size(F.array_intersect("_sh1", "_sh2")) / F.greatest(F.size(F.array_union("_sh1", "_sh2")), F.lit(1)), 6
    )
    return (
        candidates.select("_id1", "_id2").join(s1, "_id1").join(s2, "_id2")
        .withColumn("jaccard", jac.cast("double"))
        .filter(F.col("jaccard") >= threshold)
        .select("_id1", "_id2", "jaccard")
    )


# -- embedding near-dups -------------------------------------------------------

def hyperplane_bucket(vec_col: Column | str, dim: int, planes: int = 12, seed: int = 42) -> Column:
    """Sign-bit LSH bucket id from ``planes`` seeded pseudo-random
    hyperplanes (deterministic: plane coefficients derive from xxhash of
    (seed, plane, dim) on the driver)."""
    return F.element_at(hyperplane_bucket_array(vec_col, dim, planes, [seed]), 1)


def hyperplane_bucket_array(
    vec_col: Column | str, dim: int, planes: int, seeds: list[int]
) -> Column:
    """Bucket ids for several independent tables as one array column —
    element t is the bucket for ``seeds[t]``.

    Vectorized numpy pandas UDF — the justified-UDF case (like simhash):
    len(seeds)*planes dot products per row are a dense numeric kernel.
    The Column-expression forms both lose: a zip_with/aggregate fold per
    plane is CodegenFallback (interpreted — tables*planes*dim lambda
    evals per row), and fully unrolling the arithmetic overflows janino's
    64KB method limit (measured: 11s resp. 88s for what numpy does in
    milliseconds). Accumulation is an explicit ascending-dim ufunc loop,
    NOT BLAS matmul: deterministic under any thread count and
    BIT-identical to the original sequential fold (same add order), so
    every recorded bucket value is preserved."""
    import pyarrow as pa
    from pyspark.sql.functions import ArrowUDFType, arrow_udf

    mats = [np.random.RandomState(s).randn(planes, dim) for s in seeds]
    m = np.concatenate(mats, axis=0).T.copy()  # dim x (tables*planes)
    n_tables = len(seeds)
    pows = (2 ** np.arange(planes)[::-1]).astype(np.int64)

    @arrow_udf(T.ArrayType(T.LongType()), ArrowUDFType.SCALAR)
    def _buckets(s: pa.Array) -> pa.Array:
        if isinstance(s, pa.ChunkedArray):
            s = s.combine_chunks()
        # NULL vectors yield NULL bucket arrays (the fold semantics —
        # flatten() silently DROPS null list slots, so reshaping by total
        # row count would crash or misalign)
        valid = np.asarray(s.is_valid())
        comp = s.drop_null() if not valid.all() else s
        flat = np.asarray(comp.flatten(), dtype=np.float64)  # zero-copy buffer
        n = len(comp)
        x = flat.reshape(n, dim) if n else np.zeros((0, dim))
        dots = np.zeros((n, m.shape[1]))
        for d in range(dim):  # ascending-dim adds == the fold order
            dots += x[:, d, None] * m[d]
        bits = (dots > 0).reshape(n, n_tables, planes)
        vals = (bits * pows).sum(-1).astype(np.int64).ravel()
        widths = np.where(valid, n_tables, 0)
        offs = np.zeros(len(valid) + 1, dtype=np.int64)
        np.cumsum(widths, out=offs[1:])
        values = pa.array(vals, type=pa.int64())
        if valid.all():
            return pa.LargeListArray.from_arrays(pa.array(offs), values)
        return pa.LargeListArray.from_arrays(pa.array(offs), values, mask=pa.array(~valid))

    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return _buckets(v)


def embedding_dup_pairs(
    df: DataFrame, id_col: str, vec_col: str, dim: int, threshold: float = 0.95,
    planes: int = 12, seed: int = 42,
) -> DataFrame:
    """Cosine near-duplicate pairs: hyperplane-LSH bucket join + exact
    cosine verify. Near-identical vectors collide on all sign bits with
    high probability; bucket join replaces the O(n²) similarity matrix."""
    vecs = df.select(
        F.col(id_col).alias("_id"),
        l2_normalize(vec_col).alias("_v"),
    ).withColumn("_bucket", hyperplane_bucket("_v", dim, planes, seed))
    a = vecs.select(F.col("_id").alias("_id1"), F.col("_v").alias("_v1"), "_bucket")
    b = vecs.select(F.col("_id").alias("_id2"), F.col("_v").alias("_v2"), "_bucket")
    cos = cosine(F.col("_v1"), F.col("_v2"))
    return (
        a.join(b, "_bucket")
        .filter(F.col("_id1") < F.col("_id2"))
        .withColumn("cosine", cos.cast("double"))
        .filter(F.col("cosine") >= threshold)
        .select("_id1", "_id2", "cosine")
        .distinct()
    )


# -- pair-based dedup ----------------------------------------------------------

def dedup_by_pairs(df: DataFrame, id_col: str, pairs: DataFrame) -> DataFrame:
    """Drop all but the min-id member of each near-dup component
    (pairs -> connected components -> anti-join losers)."""
    from docetl_spark.operators.resolve_ops import connected_components

    comp = connected_components(pairs.select("_id1", "_id2"))
    losers = comp.filter(F.col("node") != F.col("comp")).select(F.col("node").alias(id_col))
    return df.join(losers, on=id_col, how="left_anti")


def embedding_pairs_brute(
    df: DataFrame, id_col: str, vec_col: str, threshold: float,
    max_broadcast_rows: int = 100_000,
) -> DataFrame:
    """Exact all-pairs cosine >= ``threshold`` (id1 < id2) via a
    driver-collected broadcast matrix: the corpus streams through ONE
    Arrow kernel scoring each batch against the constant matrix, so
    vectors cross the JVM->Python boundary once. (The crossJoin pair
    explosion ships BOTH sides' vectors per pair — measured ~4GB of Arrow
    traffic / ~15s for a 2000-vector table; this form moves ~1MB.)

    The brute-force baseline for recall contracts and small reference
    sets; guarded at ``max_broadcast_rows`` — beyond that use
    ``embedding_dup_pairs`` (hyperplane LSH + exact verify), which is the
    scale path. Cosine numerics are bit-identical to
    ``functions.vectors.cosine`` (ascending-dim accumulation, +1e-12
    denominator). ``id_col`` must be integral (ids ride through numpy).
    """
    import pyarrow as pa
    from pyspark.sql.functions import ArrowUDFType, arrow_udf

    n = df.count()
    if n > max_broadcast_rows:
        raise ValueError(
            f"embedding_pairs_brute: {n} rows exceeds max_broadcast_rows="
            f"{max_broadcast_rows}; use embedding_dup_pairs (LSH) at this scale"
        )
    pdf = df.select(F.col(id_col).cast("long").alias("_id"), F.col(vec_col).alias("_v")).toPandas()
    pdf = pdf[pdf["_v"].notna()]  # NULL vectors can never clear the threshold
    if not len(pdf):
        # empty / all-null corpus: no pairs, with the output schema intact
        return df.sparkSession.createDataFrame(
            [], "_id1 long, _id2 long, cosine double"
        )
    ids = pdf["_id"].to_numpy(dtype=np.int64)
    mat = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
    mt = mat.T.copy()
    dim = mat.shape[1]
    msq = np.zeros(len(mat))
    for d in range(dim):  # ascending-dim adds == the cosine fold order
        msq += mat[:, d] * mat[:, d]
    mnorm = np.sqrt(msq)
    pre_cut = threshold - 1e-6  # final exact filter happens on the column

    out_type = T.ArrayType(T.StructType([
        T.StructField("id2", T.LongType(), True),
        T.StructField("cos", T.DoubleType(), True),
    ]))

    @arrow_udf(out_type, ArrowUDFType.SCALAR)
    def _pairs(id1: pa.Array, v: pa.Array) -> pa.Array:
        if isinstance(id1, pa.ChunkedArray):
            id1 = id1.combine_chunks()
        if isinstance(v, pa.ChunkedArray):
            v = v.combine_chunks()
        # NULL vectors emit no pairs (a NULL cosine never clears the
        # threshold); flatten() drops null slots so reshape must use the
        # valid row count
        valid = np.asarray(v.is_valid()) if len(v) else np.zeros(0, dtype=bool)
        comp = v.drop_null() if len(v) and not valid.all() else v
        nv = len(comp)
        x = np.asarray(comp.flatten(), dtype=np.float64).reshape(nv, dim) if nv else np.zeros((0, dim))
        i1_all = np.asarray(id1, dtype=np.int64)
        i1 = i1_all[valid] if len(v) else i1_all
        dots = np.zeros((len(x), len(ids)))
        xsq = np.zeros(len(x))
        for d in range(dim):
            dots += x[:, d, None] * mt[d]
            xsq += x[:, d] * x[:, d]
        sims = dots / (np.sqrt(xsq)[:, None] * mnorm[None, :] + 1e-12)
        keep_valid = (sims >= pre_cut) & (ids[None, :] > i1[:, None])
        # scatter back to one row per INPUT row (empty lists for nulls)
        keep = np.zeros((len(v), len(ids)), dtype=bool)
        if nv:
            keep[np.flatnonzero(valid)] = keep_valid
        sims_full = np.zeros((len(v), len(ids)))
        if nv:
            sims_full[np.flatnonzero(valid)] = sims
        sims = sims_full
        out_ids, out_cos, offs = [], [], np.empty(len(v) + 1, dtype=np.int64)
        offs[0] = 0
        for r in range(len(v)):
            sel = np.flatnonzero(keep[r])
            out_ids.append(ids[sel])
            out_cos.append(sims[r, sel])
            offs[r + 1] = offs[r] + len(sel)
        structs = pa.StructArray.from_arrays(
            [pa.array(np.concatenate(out_ids) if out_ids else np.zeros(0, np.int64), type=pa.int64()),
             pa.array(np.concatenate(out_cos) if out_cos else np.zeros(0), type=pa.float64())],
            ["id2", "cos"],
        )
        return pa.LargeListArray.from_arrays(pa.array(offs), structs)

    return (
        df.select(F.col(id_col).cast("long").alias("_id1"), _pairs(F.col(id_col).cast("long"), F.col(vec_col)).alias("_ps"))
        .select("_id1", F.explode("_ps").alias("_p"))
        .select(F.col("_id1"), F.col("_p.id2").alias("_id2"), F.col("_p.cos").alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )

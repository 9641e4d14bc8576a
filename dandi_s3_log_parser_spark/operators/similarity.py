"""Approximate-nearest-neighbor search over embedding columns.

Two tiers (training-data pipeline requirement):

* ``cosine_topk``        — exact brute force, built from native array
                           expressions (``zip_with`` + ``aggregate``);
                           the correctness baseline and fine when the
                           query set is small (broadcasted).
* ``lsh_bucketed_topk``  — random-hyperplane (SimHash-for-vectors) LSH:
                           sign-bit signatures computed in a vectorized
                           pandas UDF (one matmul per Arrow batch),
                           bucket join on signature prefix, exact rerank
                           within buckets.  The 100 TB path: candidate
                           generation is an equi-join on bucket ids.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dot(a: Column, b: Column) -> Column:
    # cast BEFORE multiplying: float*float loses bits vs the all-double
    # math a SQL oracle does
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _probe_dim(emb: DataFrame, vec_col: str) -> int | None:
    """Vector length from one row (None on empty input) — a 1-row
    driver lookup used to pick the unrolled codegen kernels; the
    kernels themselves stay correct for any row via their size
    guards."""
    r = emb.select(F.size(F.col(vec_col)).alias("_d")).head(1)
    return int(r[0]["_d"]) if r and r[0]["_d"] is not None else None


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v)
    )


def _centroid_dist_arrow(cents: dict[int, list[float]]):
    """Arrow-vectorized squared-L2 distance array to ``k`` literal
    centroids, value-identical to the unrolled SQL form
    ``_vv - 2.0D*dot(v, c_i) + cc_i`` (UNROUNDED — the caller rounds in
    the JVM with the same ``round`` expression as before, so boundary
    and tie behavior is untouched).

    Why not the literal-array SQL fold: with k*dim literal terms the
    generated wrapper code is a C2-compiler tarpit — HotSpot sometimes
    stalls for minutes compiling it (or never compiles it), leaving the
    whole stage in bytecode interpretation; measured 17 vs 1033
    executor-CPU-seconds between IDENTICAL trials at k=32, dim=64.  The
    numpy kernel runs each fold column-by-column (``s += X[:, i] *
    c[i]``), i.e. the exact left-to-right float64 operation order of
    the ``aggregate``/``zip_with`` fold, so every distance is
    bit-identical; ``cc_i`` is the same driver-side Python sum as
    before.  Null or wrong-length vectors yield a NULL array (the SQL
    form yields an array of NULL distances; both argmin to NULL
    cluster/dist downstream).  One divergence: a NaN *element* inside
    an input vector surfaces as NULL distances rather than the fold's
    NaN — NaN list values become nulls when the kernel's pandas output
    is converted to Arrow.  Downstream the two differ: the kernel's NULL
    distances argmin to a NULL cluster, while the fold's all-NaN
    distances get a real cluster index (Spark treats NaN as equal to
    NaN, so ``array_position(d, array_min(d))`` finds the first one).
    No corpus or fixture contains NaN embeddings.
    """
    order = sorted(cents)
    C = np.array([cents[i] for i in order], dtype=np.float64)
    ccs = [sum(x * x for x in cents[i]) for i in order]
    k, d = C.shape

    @F.pandas_udf("array<double>")
    def _dists(v: pd.Series) -> pd.Series:
        A = v.to_numpy(dtype=object)
        n = len(A)
        ok = np.fromiter(
            (x is not None and len(x) == d for x in A), bool, count=n
        )
        out: list = [None] * n
        if ok.any():
            X = np.vstack(A[ok]).astype(np.float64)
            m = len(X)
            vv = np.zeros(m, dtype=np.float64)
            for i in range(d):
                vv += X[:, i] * X[:, i]
            D = np.empty((m, k), dtype=np.float64)
            for ci in range(k):
                c = C[ci]
                s = np.zeros(m, dtype=np.float64)
                for i in range(d):
                    s += X[:, i] * c[i]
                D[:, ci] = (vv - 2.0 * s) + ccs[ci]
            for r, row in zip(np.nonzero(ok)[0], D):
                out[r] = row
        return pd.Series(out)

    return _dists


def _pair_dot_arrow(dim: int):
    """Arrow-vectorized pair dot product, value-identical to ``dot``.

    The unrolled codegen chain (64 nested Adds) that previously ran the
    pair stage hit a JIT pathology: the generated method is large enough
    that HotSpot sometimes never compiles it, leaving whole trials in
    bytecode interpretation — measured 46 vs 1670 executor-CPU-seconds
    for IDENTICAL work on consecutive trials at 10x scale.  A numpy
    kernel has no compile state at all (guide §4.2): elements are cast
    to float64 BEFORE multiplying and accumulated strictly left-to-right
    (``s += a[:, i] * b[:, i]`` column by column), i.e. the exact
    operation order of the ``aggregate``/``zip_with`` fold, so the
    IEEE-754 result is bit-identical.  Null/ragged rows reproduce the
    fold's semantics: any null side or length mismatch yields NULL
    (``zip_with`` pads with null, nulling the fold), equal non-``dim``
    lengths run the same left fold over that length.  One divergence: a
    NULL *element* inside a vector reaches numpy as NaN, so the kernel
    returns NaN where the fold returns NULL.  The fold norm of that
    vector is NULL, so its cosine is NULL either way and a
    ``cos >= threshold`` filter drops the pair.
    """

    @F.pandas_udf("double")
    def _dot(va: pd.Series, vb: pd.Series) -> pd.Series:
        n = len(va)
        A = va.to_numpy(dtype=object)
        B = vb.to_numpy(dtype=object)
        la = np.fromiter(
            (len(x) if x is not None else -1 for x in A), np.int64, count=n
        )
        lb = np.fromiter(
            (len(x) if x is not None else -1 for x in B), np.int64, count=n
        )
        fast = (la == dim) & (lb == dim)
        out = np.zeros(n, dtype=np.float64)
        if fast.any():
            Ma = np.vstack(A[fast]).astype(np.float64)
            Mb = np.vstack(B[fast]).astype(np.float64)
            s = np.zeros(int(fast.sum()), dtype=np.float64)
            for i in range(dim):
                s += Ma[:, i] * Mb[:, i]
            out[fast] = s
        null = (la < 0) | (lb < 0) | (la != lb)
        for j in np.nonzero(~fast & ~null)[0]:
            s = 0.0
            for x, y in zip(A[j], B[j]):
                s += float(x) * float(y)
            out[j] = s
        # Float64 masked array built from explicit data+mask: a plain
        # float64 Series maps NaN -> NULL at the Arrow boundary (and
        # pd.array(..., 'Float64') converts NaN to NA at construction),
        # but the fold propagates NaN as a VALUE — the FloatingArray
        # keeps NaN in the data buffer and expresses NULL only through
        # the mask
        return pd.Series(pd.arrays.FloatingArray(out, null))

    # nondeterministic marking stops the optimizer from copying the
    # kernel below the cos>=threshold filter (guide §4.4: the pushed
    # filter otherwise duplicates the ArrowEvalPython node and every
    # pair pays the Python boundary twice)
    return _dot.asNondeterministic()


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine: corpus x broadcast(queries) -> window rank.

    Ties broken by neighbor id for full determinism; similarity rounded
    to 6 dp in the output.
    """
    # norms once PER ROW on each side: the per-pair cosine is then a
    # single dot-product fold; the rounded value is bit-identical to
    # the inline form (same fold on the same vector)
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col("embedding").alias("q_vec"),
            norm(F.col("embedding")).alias("_qn"),
        )
    )
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        norm(F.col("embedding")).alias("_cn"),
    )
    scored = c.crossJoin(q).select(
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("c_vec"), F.col("q_vec"))
            / (F.col("_cn") * F.col("_qn")),
            6,
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 1234) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((n_planes, dim)).astype(np.float64)


def make_signature_udf(dim: int, n_planes: int = 16, seed: int = 1234):
    """Vectorized sign-bit signature: one (batch x dim) @ (dim x planes)
    matmul per Arrow batch — zero per-row Python."""
    planes = _hyperplanes(dim, n_planes, seed)

    @F.pandas_udf(T.LongType())
    def signature(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        mat = np.vstack(vecs.to_numpy())
        bits = (mat @ planes.T) > 0
        weights = 1 << np.arange(bits.shape[1], dtype=np.int64)
        return pd.Series(bits @ weights)

    return signature


def _probe_masks(n_planes: int, multiprobe: int) -> list[int]:
    """All XOR masks with popcount <= multiprobe over n_planes bits."""
    from itertools import combinations

    masks = [0]
    for r in range(1, multiprobe + 1):
        for bits in combinations(range(n_planes), r):
            m = 0
            for b in bits:
                m |= 1 << b
            masks.append(m)
    return masks


def lsh_bucketed_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    dim: int,
    n_planes: int = 16,
    multiprobe: int = 0,
    query_id_col: str = "query_id",
) -> DataFrame:
    """ANN: equal-signature bucket join then exact rerank inside buckets.

    Recall is tunable two ways: ``n_planes`` (fewer planes = bigger
    buckets = higher recall, more rerank work) and ``multiprobe`` (also
    probe every bucket within hamming distance ``multiprobe`` of the
    query's own signature — the standard multi-probe LSH trick).
    Probing expands ONLY the broadcast query side (x sum_{r<=m} C(n,r)
    rows); the corpus keeps one bucket per row and the candidate step
    stays an equi-join, so the 100 TB shape is unchanged.
    """
    sig = make_signature_udf(dim, n_planes)
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        norm(F.col("embedding")).alias("_cn"),
        sig(F.col("embedding")).alias("bucket"),
    )
    masks = _probe_masks(n_planes, multiprobe)
    # signature and norm computed ONCE per query row, then fanned out
    # across the probe masks (queries are small/broadcast by contract)
    qs = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col("embedding").alias("q_vec"),
        norm(F.col("embedding")).alias("_qn"),
        sig(F.col("embedding")).alias("_sig"),
    )
    q = F.broadcast(
        qs.select(
            "query_id",
            "q_vec",
            "_qn",
            F.explode(
                F.array(
                    *[
                        F.col("_sig").bitwiseXOR(F.lit(m).cast("long"))
                        for m in masks
                    ]
                )
            ).alias("bucket"),
        )
    )
    scored = c.join(q, "bucket").select(
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("c_vec"), F.col("q_vec"))
            / (F.col("_cn") * F.col("_qn")),
            6,
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def train_ivf_centroids(
    embeddings: DataFrame,
    *,
    dim: int,
    n_centroids: int = 16,
    seed: int = 1234,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Deterministic Lloyd's k-means on a bounded driver-side sample.

    IVF training is constant-cost by design (faiss trains on a sample
    too): the sample is capped at 20,000 rows regardless of corpus
    size, so the only cluster-scale work is the assignment pass.
    Vectors are L2-normalized so nearest-centroid-by-dot == cosine cell.

    The sample is the 20,000 lowest values of ``xxhash64(id)``
    — an order-by-hash take: unbiased (hash order is independent of any
    corpus sort order; a bare ``.limit()`` would train on whatever
    partitions list first) AND stable across partition layouts / Spark
    versions (``.sample(fraction, seed)`` is not), executed as a
    per-partition top-k + driver merge, never a full sort.
    """
    pdf = (
        embeddings.select(vec_col, F.xxhash64(F.col(id_col)).alias("_h"))
        .orderBy("_h")
        .limit(20_000)
        .select(vec_col)
        .toPandas()
    )
    mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cents = mat[rng.choice(len(mat), size=min(n_centroids, len(mat)), replace=False)]
    for _ in range(5):
        assign = np.argmax(mat @ cents.T, axis=1)
        for c in range(len(cents)):
            members = mat[assign == c]
            if len(members):
                v = members.mean(axis=0)
                cents[c] = v / max(np.linalg.norm(v), 1e-12)
    return cents


def make_ivf_cell_udf(centroids: np.ndarray, nprobe: int = 1):
    """Vectorized cell assignment: top-``nprobe`` centroid ids per vector
    (one matmul + argpartition per Arrow batch; zero per-row Python)."""
    cents = centroids.astype(np.float64)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def cells(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.vstack(vecs.to_numpy()).astype(np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat @ cents.T
        top = np.argsort(-sims, axis=1)[:, :nprobe]
        return pd.Series([row.astype("int32").tolist() for row in top])

    return cells


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    dim: int,
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 1234,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF ANN: corpus rows live in ONE cell, queries probe ``nprobe``
    cells; exact cosine rerank inside probed cells.

    The scale path: the corpus assignment is a single vectorized pass
    (and at Iceberg scale the cell id becomes a partition/bucket column,
    so a query probes only nprobe partitions); the query side is
    exploded x nprobe and broadcast.
    """
    cents = train_ivf_centroids(
        embeddings, dim=dim, n_centroids=n_centroids, seed=seed,
        vec_col=vec_col, id_col=id_col,
    )
    corpus_cell = make_ivf_cell_udf(cents, nprobe=1)
    query_cells = make_ivf_cell_udf(cents, nprobe=nprobe)
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("_cn"),
        F.element_at(corpus_cell(F.col(vec_col)), 1).alias("cell"),
    )
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            norm(F.col(vec_col)).alias("_qn"),
            F.explode(query_cells(F.col(vec_col))).alias("cell"),
        )
    )
    scored = c.join(q, "cell").select(
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("c_vec"), F.col("q_vec"))
            / (F.col("_cn") * F.col("_qn")),
            6,
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def embedding_lsh_near_dup_pairs(
    embeddings: DataFrame,
    *,
    threshold: float = 0.95,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs at scale: multi-table
    hyperplane-LSH candidates + exact cosine verify.

    The 100 TB shape (the all-pairs :func:`embedding_near_dup_pairs` is
    a guarded baseline): each of ``n_tables`` independent hyperplane
    families buckets the corpus by sign signature; candidate pairs form
    inside (table, bucket) groups only — an equi-join-shaped expansion,
    never a cross join — and only candidates pay the exact cosine.
    Recall for a pair at cosine c is 1-(1-p^k)^L with p = 1-acos(c)/pi,
    k=n_planes, L=n_tables: ~0.9989 per pair at c=0.99 with the 8x4
    default, and higher as c -> 1 (the regime near-dup dedup cares
    about).  Buckets larger than 256 ids are dropped before
    pair expansion (the same degenerate-bucket guard as MinHash-LSH —
    an all-similar degenerate bucket would otherwise emit m^2/2 pairs).
    """
    from pyspark.sql import Window

    sigs = [
        make_signature_udf(dim, n_planes, 1234 + 7919 * t) for t in range(n_tables)
    ]
    c = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        # norm once per row (carried through the bucket structs) so the
        # per-pair cosine below is a single dot-product fold
        norm(F.col(vec_col)).alias("nrm"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("tbl"), sigs[t](F.col(vec_col)).alias("bucket"))
                    for t in range(n_tables)
                ]
            )
        ).alias("tb"),
    ).select("id", "v", "nrm", "tb.tbl", "tb.bucket")
    w = Window.partitionBy("tbl", "bucket")
    small = c.withColumn("_n", F.count(F.lit(1)).over(w)).filter(
        (F.col("_n") >= 2) & (F.col("_n") <= 256)
    )
    grouped = small.groupBy("tbl", "bucket").agg(
        F.array_sort(F.collect_list(F.struct("id", "v", "nrm"))).alias(
            "members"
        )
    )
    n = F.size(F.col("members"))
    pair_array = F.flatten(
        F.transform(
            F.col("members"),
            lambda x, i: F.transform(
                F.slice(F.col("members"), i + 2, n),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    F.round(
                        dot(x["v"], y["v"]) / (x["nrm"] * y["nrm"]), 6
                    ).alias("cosine_sim"),
                ),
            ),
        )
    )
    return (
        grouped.select(F.explode(pair_array).alias("p"))
        .select("p.id_a", "p.id_b", "p.cosine_sim")
        .filter(F.col("cosine_sim") >= threshold)
        .distinct()
        .orderBy("id_a", "id_b")
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    *,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = 1000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (guarded all-pairs baseline)."""
    # norms once PER ROW (same fold on the same vector — the divided
    # double is bit-identical to the inline cosine), pair dots through
    # the Arrow kernel: the all-pairs stage is exactly the
    # millions-of-interpreted-fold-steps shape the kernel exists for
    dim = _probe_dim(embeddings, vec_col)
    docs = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("_n"),
    ).limit(max_rows)
    a = docs.select(
        F.col("id").alias("id_a"), F.col("v").alias("v_a"),
        F.col("_n").alias("_na"),
    )
    b = docs.select(
        F.col("id").alias("id_b"), F.col("v").alias("v_b"),
        F.col("_n").alias("_nb"),
    )
    pair_dot = (
        _pair_dot_arrow(dim)(F.col("v_a"), F.col("v_b"))
        if dim
        else dot(F.col("v_a"), F.col("v_b"))
    )
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                pair_dot / (F.col("_na") * F.col("_nb")), 6
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Deterministic k-means clustering (SemDeDup / cluster-then-curate)
# ---------------------------------------------------------------------------


def kmeans_assign(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    *,
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd's k-means over an embedding column, returning
    the final ``(id, cluster, dist)`` assignment — the clustering step
    of SemDeDup-style curation (cluster, then dedup/select within
    cells; Abbas et al. 2023, public knowledge).

    Everything is reproducible bit-for-bit across runs, partitionings,
    and engines:

    - init: the ``k`` smallest-id vectors (no RNG);
    - assignment: squared L2 via three sequential-fold dot products
      (``||v||^2 - 2 v.c + ||c||^2``), ROUNDED to 6 decimals before the
      argmin, ties broken by lowest cluster index
      (``array_position(array_min)`` = first minimum);
    - update: per-dimension means via EXACT ``decimal(25,10)`` sums —
      decimal addition is associative, so the result cannot depend on
      partition order the way double summation does — then one double
      division by the member count; an emptied cluster keeps its
      previous centroid.

    Scale shape (10^9 vectors): per iteration one narrow shuffle
    (cluster,dim)-keyed with map-side partial aggregation; centroids
    (k x dim doubles) ride the driver, exactly MLlib's treeAggregate
    pattern — the two driver collects per iteration are k*dim-sized,
    never fact-sized.  Assignment is a broadcast-literal projection.
    """
    centroids = train_kmeans_centroids(emb, k, iters, vec_col=vec_col)
    # set-semantics output, deliberately UNSORTED: a terminal global
    # sort would run the plan twice (range-partitioner sampling pass +
    # the sort itself); callers that need order sort the tiny result
    return assign_to_centroids(emb, centroids, vec_col=vec_col).select(
        "vec_id", "cluster", F.col("dist").alias("dist")
    )


def assign_to_centroids(
    emb: DataFrame,
    cents: dict[int, list[float]],
    *,
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid projection: ``(id, _v, cluster, dist)`` with
    kmeans_assign's exact arithmetic contract (rounded squared-L2
    argmin, lowest-index tie-break).

    ||v||^2 is cluster-independent: fold it ONCE as a column instead
    of k inlined copies, and ||c||^2 is a pure constant: sum it on the
    driver (Python's left-to-right double sum is bit-identical to the
    engines' sequential fold).  Together this shrinks the generated
    code ~3x — with k distance expressions over dim-length literal
    arrays, plan size is the fixed cost every action (and the JIT)
    pays.
    """
    base = emb.select(F.col("vec_id"), F.col(vec_col).alias("_v"))
    # raw distances from the Arrow kernel (exact fold arithmetic, no
    # k*dim literal expression tree — see _centroid_dist_arrow), then
    # the SAME round() applied per element in the JVM.  The rounded
    # array is materialized in its OWN projection: the argmin needs it
    # twice (array_position + array_min)
    darr = base.select(
        F.col("vec_id"),
        F.col("_v"),
        F.transform(
            _centroid_dist_arrow(cents)(F.col("_v")),
            lambda x: F.round(x, 6),
        ).alias("_darr"),
    )
    return darr.select(
        F.col("vec_id"),
        F.col("_v"),
        (F.array_position(F.col("_darr"), F.array_min(F.col("_darr"))) - 1)
        .cast("long")
        .alias("cluster"),
        F.array_min(F.col("_darr")).alias("dist"),
    )


def train_kmeans_centroids(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    *,
    vec_col: str = "embedding",
) -> dict[int, list[float]]:
    """Deterministic Lloyd's trainer backing kmeans_assign (and the
    per-subspace PQ codebooks): k smallest-id init, decimal-exact
    centroid means, empty-cluster carry-forward.  Returns the trained
    ``{cluster: centroid}`` dict (k x dim doubles, driver-sized)."""
    if k < 1 or iters < 0:
        raise ValueError(f"need k >= 1, iters >= 0; got k={k}, iters={iters}")
    init = emb.orderBy("vec_id").limit(k).select("vec_id", vec_col).collect()
    if len(init) < k:
        raise ValueError(f"k={k} exceeds corpus size {len(init)}")
    centroids: dict[int, list[float]] = {
        i: [float(x) for x in r[vec_col]] for i, r in enumerate(init)
    }
    for _ in range(iters):
        stats = (
            assign_to_centroids(emb, centroids, vec_col=vec_col)
            .select("cluster", F.posexplode("_v").alias("dim", "_val"))
            .groupBy("cluster", "dim")
            .agg(
                F.sum(
                    F.col("_val").cast("double").cast("decimal(25,10)")
                ).alias("_s"),
                F.count(F.lit(1)).alias("_n"),
            )
            .collect()
        )  # k*dim rows: driver-sized by construction
        new: dict[int, list[float]] = {}
        for r in stats:
            new.setdefault(r["cluster"], [0.0] * len(centroids[0]))[
                r["dim"]
            ] = float(r["_s"]) / r["_n"]
        centroids = {
            i: new.get(i, centroids[i]) for i in centroids
        }  # empty cluster keeps previous centroid
    return centroids


def semdedup_pairs(
    emb: DataFrame,
    threshold: float,
    *,
    k: int = 8,
    iters: int = 2,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate pairs =
    cosine >= ``threshold`` computed ONLY within k-means cells — the
    clustering bounds the quadratic blow-up to per-cell size, which is
    the whole point of the method.  Returns ``(id_a, id_b, cos)`` with
    id_a < id_b, cosine ROUNDED to 6 decimals before the threshold (so
    engines agree at the boundary).

    Scale shape (10^9 vectors): one cluster-keyed equi-join; per-cell
    work is (n/k)^2, so ``k`` must grow with the corpus (SemDeDup used
    ~50k cells for LAION) — pair volume is the method's documented
    trade, not a plan accident.  Recall is bounded by the clustering:
    a near-dup pair split across cells is missed, exactly as in the
    paper.
    """
    # materialize the (id, cluster) assignment before the self-join:
    # the unrolled Lloyd's subtree is the expensive part of the plan,
    # and the a/b self-join (plus the CC rounds in semdedup_keep)
    # would otherwise re-evaluate it once per reference.  The
    # checkpointed table is two narrow columns — at 10^9 vectors a few
    # GB spread over executors; the cluster-scale analog is writing
    # assignments to a scratch table, which the paper's own pipeline
    # does anyway.
    asg = (
        kmeans_assign(emb, k=k, iters=iters)
        .select("vec_id", "cluster")
        .localCheckpoint()
    )
    # norm once PER ROW, not per pair: the cosine then needs one
    # array fold (the dot product) per pair instead of three — the
    # per-row norm fold is the same expression evaluated on the same
    # vector, so the rounded cosine is bit-identical to the inline
    # form (measured ~2x on the pair stage; 64-dim folds are HOF
    # lambda steps, the dominant per-pair cost).  The dot itself runs
    # the unrolled known-dim codegen kernel (bit-identical to the
    # fold, guide §4) — the per-pair HOF fold was this operator's
    # actual bottleneck, not the pair count.
    # per-row norm via the plain interpreted fold: 64 steps x corpus
    # rows is trivial, and the unrolled 64-term codegen chain this used
    # to be is a C2-compiler tarpit — HotSpot compile threads stall for
    # tens of seconds on the generated method, starving every OTHER
    # stage's codegen so whole trials run interpreted (measured 25x
    # executor-CPU swings between identical trials)
    dim = _probe_dim(emb, "embedding")
    j = asg.join(
        emb.select("vec_id", "embedding", norm(F.col("embedding")).alias("_nrm")),
        "vec_id",
    )
    # SALT the cluster-keyed self-join (guide §2.5): the join key has
    # only k distinct values and its INPUT is tiny, so AQE coalesces
    # the exchange to a handful of tasks while the OUTPUT explodes to
    # sum(cell^2)/2 pair-cosines — measured 5 tasks carrying ~42
    # executor-CPU-seconds at sf1.0.  The probe side gets a
    # deterministic id-hash salt, the build side is replicated
    # s_buckets ways (vectors are replicated — the documented salting
    # trade), and both sides are EXPLICITLY repartitioned on
    # (cluster, salt): user-specified exchanges are exempt from AQE
    # coalescing, so the pair work spreads over the full executor
    # pool.  Each unordered pair still matches exactly once (the one
    # build replica whose salt equals the probe row's).
    spark = emb.sparkSession
    n_part = spark.sparkContext.defaultParallelism
    s_buckets = max(1, (4 * n_part + k - 1) // k)
    a = (
        j.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(s_buckets))
        )
        .repartition(n_part, "cluster", "_salt")
        .alias("a")
    )
    b = (
        j.withColumn(
            "_salt",
            F.explode(F.sequence(F.lit(0).cast("long"), F.lit(s_buckets - 1))),
        )
        .repartition(n_part, "cluster", "_salt")
        .alias("b")
    )
    # per-pair dot in an Arrow numpy kernel (value-identical fold, no
    # codegen/JIT state — see _pair_dot_arrow); division and rounding
    # stay in the JVM so boundary behavior is exactly F.round's
    pair_dot = (
        _pair_dot_arrow(dim)(F.col("a.embedding"), F.col("b.embedding"))
        if dim
        else dot(F.col("a.embedding"), F.col("b.embedding"))
    )
    cos = F.round(pair_dot / (F.col("a._nrm") * F.col("b._nrm")), 6)
    return (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a._salt") == F.col("b._salt"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cos.alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        # unsorted on purpose: the terminal sort's range-sampling pass
        # would re-execute the self-join (measured ~2x end-to-end)
    )


def semdedup_keep(
    emb: DataFrame,
    threshold: float,
    *,
    k: int = 8,
    iters: int = 2,
) -> DataFrame:
    """The complete SemDeDup decision: within-cell cosine pairs ->
    connected components (pairs are not transitive) -> keep the lowest
    id per semantic component.  Returns every input id with its
    component representative and the keep flag — the curation join key
    for dropping semantic duplicates.

    Composition of :func:`semdedup_pairs` and
    :func:`~..operators.dedup.dedup_clusters` (pointer-jumping CC);
    vectors without any near-dup pair are their own singleton
    component and are always kept.
    """
    from .dedup import dedup_clusters

    pairs = semdedup_pairs(emb, threshold, k=k, iters=iters)
    comp = dedup_clusters(pairs).select(
        F.col("doc_id").alias("vec_id"), F.col("cluster_id").alias("rep_id")
    )
    return (
        emb.select("vec_id")
        .join(comp, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("rep_id", F.col("vec_id")).alias("rep_id"),
            (
                F.coalesce("rep_id", F.col("vec_id")) == F.col("vec_id")
            ).alias("keep"),
        )
    )


def _pq_staged(emb, m: int, dsub: int, id_col: str, vec_col: str):
    """(id, _s0.._s{m-1}, _vv0.._vv{m-1}): the sliced subspaces plus
    their self-dot norms, computed ONCE per row — the shared input of
    both PQ training and code assignment."""
    # (the per-subspace _vv self-dots previously staged here moved into
    # the Arrow distance kernel, which computes them with the same fold
    # order — see _centroid_dist_arrow)
    return emb.select(
        F.col(id_col),
        *[
            F.slice(F.col(vec_col), j * dsub + 1, dsub).alias(f"_s{j}")
            for j in range(m)
        ],
    )


def _pq_dist_arrays(books, m: int, ndp: int):
    """Per-subspace k-entry rounded-distance ARRAY columns
    ``_darr0.._darr{m-1}`` over a ``_pq_staged`` frame —
    kmeans_assign's exact arithmetic contract (rounded squared-L2,
    index order) per subspace.  Kept as array columns in their own
    projection so the argmin's double reference (array_position +
    array_min) never duplicates the k unrolled distance trees — see
    the CollapseProject note in ``assign_to_centroids``."""
    return [
        F.transform(
            _centroid_dist_arrow(books[j])(F.col(f"_s{j}")),
            lambda x: F.round(x, ndp),
        ).alias(f"_darr{j}")
        for j in range(m)
    ]


def _pq_code_col(j: int):
    """Nearest-entry index over the ``_darr{j}`` attribute (lowest-index
    tie-break via array_position-of-min)."""
    return (
        (
            F.array_position(
                F.col(f"_darr{j}"), F.array_min(F.col(f"_darr{j}"))
            )
            - 1
        )
        .cast("int")
        .alias(f"_c{j}")
    )


def _pq_dist_col(j: int):
    return F.array_min(F.col(f"_darr{j}")).alias(f"_d{j}")


def _train_pq_codebooks(
    emb: DataFrame,
    m: int,
    k: int,
    iters: int,
) -> list[dict[int, list[float]]]:
    """All ``m`` subspace codebooks trained with ONE corpus scan per
    Lloyd iteration (plus one for init), instead of a per-subspace
    training loop: each iteration computes every subspace's rounded
    argmin in a single projection, explodes to (subspace, cluster,
    dim, val) and runs ONE decimal-exact (sub, cluster, dim) sum/count
    shuffle whose result is m*k*dsub rows — driver-sized.

    Arithmetic is ``train_kmeans_centroids``'s contract verbatim per
    subspace (k smallest-id init, rounded squared-L2 argmin with
    lowest-index tie-break, decimal(25,10) sums, empty-cluster
    carry-forward), so the books are bit-identical to training each
    subspace independently — the subspaces never interact; fusing only
    changes how many times the corpus is read (m*(iters+1) passes down
    to iters+1).  At 10^9 vectors that is the difference between 12
    and 3 full scans for the default m=4, iters=2.
    """
    if k < 1 or iters < 0:
        raise ValueError(f"need k >= 1, iters >= 0; got k={k}, iters={iters}")
    init = emb.orderBy("vec_id").limit(k).select("vec_id", "embedding").collect()
    if not init:
        raise ValueError("empty embedding input")
    dim = len(init[0]["embedding"])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    if len(init) < k:
        raise ValueError(f"k={k} exceeds corpus size {len(init)}")
    dsub = dim // m
    books: list[dict[int, list[float]]] = [
        {
            i: [float(x) for x in r["embedding"]][j * dsub : (j + 1) * dsub]
            for i, r in enumerate(init)
        }
        for j in range(m)
    ]
    for _ in range(iters):
        staged = _pq_staged(emb, m, dsub, "vec_id", "embedding")
        darr = staged.select(
            *[F.col(f"_s{j}") for j in range(m)],
            *_pq_dist_arrays(books, m, 6),
        )
        assigned = darr.select(
            *[F.col(f"_s{j}") for j in range(m)],
            *[_pq_code_col(j) for j in range(m)],
        )
        entries = F.expr(
            "flatten(array("
            + ",".join(
                f"transform(_s{j},(v,i)->named_struct("
                f"'sub',{j},'cluster',_c{j},"
                "'dim',cast(i as int),'val',v))"
                for j in range(m)
            )
            + "))"
        )
        stats = (
            assigned.select(F.explode(entries).alias("e"))
            .select("e.sub", "e.cluster", "e.dim", "e.val")
            .groupBy("sub", "cluster", "dim")
            .agg(
                F.sum(
                    F.col("val").cast("double").cast("decimal(25,10)")
                ).alias("_s"),
                F.count(F.lit(1)).alias("_n"),
            )
            .collect()
        )  # m*k*dsub rows: driver-sized by construction
        new: list[dict[int, list[float]]] = [{} for _ in range(m)]
        for r in stats:
            new[r["sub"]].setdefault(int(r["cluster"]), [0.0] * dsub)[
                r["dim"]
            ] = float(r["_s"]) / r["_n"]
        books = [
            {i: new[j].get(i, books[j][i]) for i in books[j]}
            for j in range(m)
        ]  # empty cluster keeps previous centroid
    return books


def pq_assign(emb: DataFrame, *, m: int = 4, k: int = 8, iters: int = 2) -> DataFrame:
    """Product quantization codebook assignment (Jégou et al. 2011,
    public knowledge) — the compression step of IVF-PQ, the index
    layout every billion-vector ANN deployment actually ships: split
    each vector into ``m`` contiguous subspaces, train an independent
    ``k``-centroid codebook per subspace, and store each vector as its
    ``m`` nearest-centroid codes (``m * log2(k)`` bits instead of
    ``dim * 64``).

    Training and assignment keep ``kmeans_assign``'s arithmetic
    contract verbatim per subspace (same no-RNG init on the k smallest
    ids, same decimal-exact centroid means, same rounded-distance
    argmin), so the whole construction is bit-reproducible across
    runs, partitionings, and engines.

    Returns one row per vector: ``(vec_id, code_0 .. code_{m-1},
    qerr)`` — flat code columns (not an array) so downstream
    group-bys/joins on individual subspace codes stay native, and
    ``qerr`` is the summed per-subspace squared quantization error
    (the number PQ tuning sweeps over when choosing m and k).

    Scale shape (10^9 vectors): training reads the corpus once per
    Lloyd iteration for ALL subspaces together (fused (sub, cluster,
    dim) decimal shuffle, driver-sized result — see
    ``_train_pq_codebooks``), and assignment emits every subspace's
    code from ONE broadcast-literal projection — no per-subspace
    passes, no id-keyed re-join of code tables, vector payloads never
    shuffled.
    """
    books = _train_pq_codebooks(emb, m, k, iters)
    dsub = len(books[0][0])
    staged = _pq_staged(emb, m, dsub, "vec_id", "embedding")
    darr = staged.select(F.col("vec_id"), *_pq_dist_arrays(books, m, 6))
    assigned = darr.select(
        F.col("vec_id"),
        *[_pq_code_col(j) for j in range(m)],
        *[_pq_dist_col(j) for j in range(m)],
    )
    err = None
    for j in range(m):
        term = F.col(f"_d{j}")
        err = term if err is None else err + term
    return assigned.select(
        "vec_id",
        *[F.col(f"_c{j}").cast("long").alias(f"code_{j}") for j in range(m)],
        F.round(err, 6).alias("qerr"),
    )


def pq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    topk: int = 10,
) -> DataFrame:
    """PQ asymmetric-distance top-k (the search half of IVF-PQ, Jégou
    et al. 2011): corpus vectors are represented ONLY by their ``m``
    subspace codes; a query precomputes one k-entry distance table per
    subspace against the trained codebooks, and a corpus row's
    approximate squared-L2 distance is ``m`` table lookups summed —
    never a full-dimension dot product per candidate.

    Codebooks come from the fused one-scan-per-iteration trainer
    shared with ``pq_assign`` (``_train_pq_codebooks``; the codes
    computed here are bitwise-identical to its).  Codes are assigned
    in a SINGLE projection (the slice/argmin expressions inline — no
    per-subspace joins), and per-query tables are unrounded driver
    doubles (Python's left-to-right fold is bit-identical to the
    engines' sequential fold), so the summed distance rounds the same
    everywhere and the oracle recomputes the whole query exactly.

    Returns ``(query_id, neighbor_id, adc_dist, rank)`` — rank by
    (adc_dist asc, neighbor_id asc), top ``topk`` per query.

    Scale shape (10^9 corpus vectors): training and table-building
    touch the driver with k*dim-sized data only; the corpus pass reads
    each vector once, emits (id, m codes) — the compressed index a
    real deployment PERSISTS and re-serves — and scoring is a
    literal-table projection + per-query TakeOrdered-shaped window.
    Queries ride the driver as literals (the few-queries ANN batch
    convention shared with lsh/ivf_topk); a large query batch would
    broadcast-join a table of tables instead.
    """
    books = _train_pq_codebooks(embeddings, m, k, iters)
    dsub = len(books[0][0])
    staged = _pq_staged(embeddings, m, dsub, "vec_id", "embedding")
    darr = staged.select(
        F.col("vec_id"), *_pq_dist_arrays(books, m, 6)
    )
    codes = darr.select(
        F.col("vec_id"),
        *[_pq_code_col(j).alias(f"code_{j}") for j in range(m)],
    )

    # bounded driver collect: queries ride the driver as literal
    # tables, so the batch size is capped loudly instead of letting an
    # accidental corpus-sized "queries" frame OOM the driver (the
    # lsh/ivf broadcast-join formulation is the right tool past this)
    max_queries = 256
    q_rows = queries.select(
        F.col("query_id").alias("_qid"), F.col("embedding").alias("_qv")
    ).limit(max_queries + 1).collect()
    if not q_rows:
        raise ValueError("empty query input")
    if len(q_rows) > max_queries:
        raise ValueError(
            f"pq_adc_topk takes at most {max_queries} queries per call "
            "(driver-literal distance tables); broadcast-join a table "
            "of tables for large batches"
        )

    def dot_py(a, b):
        return sum(x * y for x, y in zip(a, b))

    per_query = []
    for qr in q_rows:
        qv = [float(x) for x in qr["_qv"]]
        adc = None
        for j in range(m):
            qsub = qv[j * dsub : (j + 1) * dsub]
            qq = sum(x * x for x in qsub)
            table = [
                qq
                - 2 * dot_py(qsub, books[j][i])
                + sum(x * x for x in books[j][i])
                for i in sorted(books[j])
            ]
            term = F.element_at(
                F.array(*[F.lit(t) for t in table]),
                F.col(f"code_{j}") + 1,
            )
            adc = term if adc is None else adc + term
        per_query.append(
            codes.select(
                F.lit(qr["_qid"]).alias("query_id"),
                F.col("vec_id").alias("neighbor_id"),
                F.round(adc, 6).alias("adc_dist"),
            )
        )
    scored = per_query[0]
    for p in per_query[1:]:
        scored = scored.unionByName(p)
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .orderBy("query_id", "rank")
    )

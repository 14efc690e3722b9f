"""Vector similarity search over embedding columns (``array<float>``).

- ``cosine``                — pure column expression (zip_with + fold in
                              DOUBLE; JVM-side, no Python);
- ``brute_force_topk``      — exact top-k: query×corpus equi-free join with
                              a per-query window cut. The correctness
                              baseline; O(|Q|·|C|·d).
- ``signlsh_topk``          — random-hyperplane-style LSH using sign bits of
                              fixed dimensions as the bucket key; queries
                              only scan their bucket. The scale path: the
                              join becomes an equi-join on the bucket key
                              (hash-partitioned, no cross product).
- ``embedding_near_dup_pairs`` — near-dup detection blocked by a coarse
                              partition key (label/IVF cell): quadratic only
                              within a block.

At 100 TB the corpus side is the big table: both LSH bucketing and label
blocking turn the O(n²) pair space into per-bucket work distributed by the
shuffle, and the query side is broadcast when small.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

# numpy/pandas are imported at MODULE level (not inside the UDF builders):
# under `from __future__ import annotations` the type-hint-style pandas UDF
# signatures below are strings that `typing.get_type_hints` resolves against
# this module's globals — `pd`/`np` must live there for inference to work.


def indexable(vec: Column) -> Column:
    """The "indexable vector" contract, extended from NULL-drop to
    FINITE-drop (float-audit finding, round 5): a vector containing NaN or
    +/-Inf poisons every similarity score it touches (NaN cosine ranks
    first under DESC in both engines, Inf saturates norms), and FAISS
    itself requires finite floats. Any vector that is NULL or has a
    non-finite element is dropped at every ANN entry point; oracles apply
    the identical filter via len(list_filter(e, x -> NOT isfinite(x))) = 0.
    """
    finite = F.forall(
        vec, lambda x: ~F.isnan(x) & (F.abs(x) != F.lit(float("inf")))
    )
    return vec.isNotNull() & finite


def as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product in DOUBLE (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def _cosine_from_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with per-row precomputed norms: ``dot(a,b)/(na*nb)`` is the
    same expression tree double-for-double as :func:`cosine`, but the two
    self-dot folds run once per ROW (below the join) instead of once per
    PAIR — the interpreted-HOF work per pair drops 3×."""
    return dot(a, b) / (na * nb)


def _cosine_pandas_udf():
    """Arrow-vectorized cosine: numpy over stacked batches. Faster than the
    interpreted array-fold for big pair counts, but its SIMD/pairwise
    summation isn't bit-identical to a sequential fold — use it on paths
    whose results aren't value-hashed against a sequential oracle."""

    @F.pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = np.stack(a.to_numpy())
        mb = np.stack(b.to_numpy())
        num = np.einsum("ij,ij->i", ma, mb)
        den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
        return pd.Series(num / den)

    return cos


def cosine_vectorized(a: Column, b: Column) -> Column:
    return _cosine_pandas_udf()(a, b)


def sign_bucket(vec: Column, n_bits: int = 8) -> Column:
    """LSH bucket key: sign bits of the first ``n_bits`` dimensions
    (axis-aligned random-hyperplane LSH — portable and deterministic)."""
    return F.concat(
        *[
            F.when(F.element_at(vec, i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(n_bits)
        ]
    )


def rademacher_planes(n_bits: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 random hyperplanes: plane ``b``'s component for
    dimension ``i`` is +1 iff the first hex nibble of ``md5(f"{b}:{i}")``
    is < '8' (a fair coin per component). Returns one ±1 sign vector per
    plane — md5-derived, so any engine reconstructs the identical
    hyperplanes (unlike Gaussian projections, which need an
    engine-private RNG).

    Proper Rademacher projections mix ALL dimensions into every bit,
    fixing the recall-vs-geometry caveat of axis-aligned
    :func:`sign_bucket` (a sign bit of one raw dimension carries no
    information when that dimension's sign is near-constant across the
    corpus)."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"{b}:{i}".encode()).hexdigest()[0] < "8" else -1
            for i in range(dim)
        ]
        for b in range(n_bits)
    ]


def rademacher_bucket(vec: Column, planes: list[list[int]]) -> Column:
    """LSH bucket key from ±1 hyperplanes: bit ``b`` = sign of
    ``v · r_b``, computed as a sequential zip_with/fold against the
    literal sign array — deterministic left-to-right order, and a compact
    expression tree (an unrolled 64-term-per-bit addition chain overflows
    Janino's generated-code limits and forces interpreted fallback for
    the WHOLE stage; the HOF fold keeps the rest of the projection in
    codegen). ±1 multiplies and ordered double adds are IEEE-exact, so an
    oracle engine replaying the same chain gets identical bucket strings.
    At 100 TB the per-row cost is L·b·d fused multiply-adds — for very
    wide signatures batch it through a pandas-UDF matmul instead."""
    v = as_double(vec)
    bits = []
    for signs in planes:
        sarr = F.array(*[F.lit(float(s)) for s in signs])
        proj = F.aggregate(
            F.zip_with(v, sarr, lambda x, s: x * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def rademacher_bucket_sql(col: str, planes: list[list[int]]) -> str:
    """The DuckDB rendering of :func:`rademacher_bucket` — same planes,
    same left-assoc add order (``0 + t1 + t2 + …`` ≡ ``(t1 + t2) + …``
    bit-for-bit in IEEE), 1-based indexing, ±1 applied as exact
    negation."""
    cases = []
    for signs in planes:
        terms = [
            f"{col}[{i + 1}]::DOUBLE" if s > 0 else f"(-({col}[{i + 1}]::DOUBLE))"
            for i, s in enumerate(signs)
        ]
        cases.append(
            f"CASE WHEN ({' + '.join(terms)}) >= 0 THEN '1' ELSE '0' END"
        )
    return " || ".join(cases)


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    exclude_self: bool = False,
) -> DataFrame:
    """Exact cosine top-k for each query over the corpus.

    Queries are broadcast (they're the small side); the corpus streams
    through one pass; the window cut keeps k rows per query.
    Returns (query_id, neighbor_id, rank, cos).

    NULL or non-finite vectors are dropped at entry on BOTH sides (the
    FAISS "not indexable" contract — see :func:`indexable`); a NULL
    query would otherwise emit k rows of NULL cosine (null-audit
    finding) and a NaN element would rank its garbage cosine FIRST
    under DESC in both engines (float-audit finding).
    """
    queries = queries.filter(indexable(F.col(vec_col)))
    corpus = corpus.filter(indexable(F.col(vec_col)))
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    ).withColumn("__nq", norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    ).withColumn("__nc", norm(F.col("cv")))
    scored = F.broadcast(q).crossJoin(c)
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = scored.select(
        "query_id",
        "neighbor_id",
        _cosine_from_norms(F.col("qv"), F.col("cv"), F.col("__nq"), F.col("__nc")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def signlsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_bits: int = 8,
    exclude_self: bool = False,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign-LSH
    bucket — the cross join becomes an equi-join on the bucket key.

    .. note:: TEACHING VARIANT — prefer :func:`rademacher_topk`. The
       bucket bits here are axis-aligned (sign of the first ``n_bits``
       raw dimensions), so recall degrades when those dimensions are
       sign-skewed; rademacher buckets mix ALL dimensions per bit, track
       angular similarity properly, and support multi-table recall
       boosting at the same one-scan/one-equi-join plan shape. This
       variant stays because its bucket expression is trivially
       SQL-expressible (the DuckDB oracle re-derives it verbatim) and it
       isolates the bucketing idea from the hyperplane math."""
    return _bucketed_topk(
        queries, corpus, sign_bucket(F.col(vec_col), n_bits),
        id_col=id_col, vec_col=vec_col, k=k, exclude_self=exclude_self,
    )


def rademacher_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_bits: int = 8,
    dim: int = 64,
    n_tables: int = 1,
    exclude_self: bool = False,
) -> DataFrame:
    """Approximate top-k with proper random-hyperplane LSH
    (:func:`rademacher_planes`): every bucket bit mixes all ``dim``
    dimensions, so collision probability tracks angular similarity
    regardless of per-dimension sign skew (the axis-aligned
    :func:`sign_bucket` caveat).

    ``n_tables`` independent hash tables trade compute for recall the
    classic LSH way — a pair is a candidate if it collides in ANY table
    (recall 1-(1-p^b)^L instead of p^b). The plan stays a single corpus
    scan: all L bucket keys are computed in one projection and
    ``posexplode``d into (table, bucket) rows, so the candidate join is
    ONE equi-join on (table, bucket) — L tables never mean L scans, and
    never a cross product. Pairs colliding in several tables are deduped
    by a (query, neighbor) groupBy before the per-query window cut."""
    queries = queries.filter(indexable(F.col(vec_col)))
    corpus = corpus.filter(indexable(F.col(vec_col)))
    all_planes = rademacher_planes(n_bits * n_tables, dim)
    tables = [all_planes[t * n_bits:(t + 1) * n_bits] for t in range(n_tables)]
    buckets = F.array(*[rademacher_bucket(F.col(vec_col), p) for p in tables])

    def _explode(df: DataFrame, out_id: str, out_vec: str, out_norm: str) -> DataFrame:
        base = df.select(
            F.col(id_col).alias(out_id),
            as_double(F.col(vec_col)).alias(out_vec),
            buckets.alias("__bk"),
        ).withColumn(out_norm, norm(F.col(out_vec)))
        return base.select(
            out_id, out_vec, out_norm, F.posexplode("__bk").alias("tbl", "bucket")
        )

    q = _explode(queries, "query_id", "qv", "__nq")
    c = _explode(corpus, "neighbor_id", "cv", "__nc")
    scored = q.join(c, ["tbl", "bucket"])
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    pair = (
        scored.select(
            "query_id",
            "neighbor_id",
            _cosine_from_norms(
                F.col("qv"), F.col("cv"), F.col("__nq"), F.col("__nc")
            ).alias("cos"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cos").alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        pair.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def _bucketed_topk(
    queries: DataFrame,
    corpus: DataFrame,
    bucket: Column,
    id_col: str,
    vec_col: str,
    k: int,
    exclude_self: bool,
) -> DataFrame:
    """Shared LSH shape: bucket equi-join, per-pair cosine from per-row
    precomputed norms, per-query window cut to k. NULL vectors are
    dropped at entry on both sides (FAISS contract, as in the IVF and
    brute-force paths)."""
    queries = queries.filter(indexable(F.col(vec_col)))
    corpus = corpus.filter(indexable(F.col(vec_col)))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("qv"),
        bucket.alias("bucket"),
    ).withColumn("__nq", norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("cv"),
        bucket.alias("bucket"),
    ).withColumn("__nc", norm(F.col("cv")))
    scored = q.join(c, "bucket")
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = scored.select(
        "query_id",
        "neighbor_id",
        _cosine_from_norms(F.col("qv"), F.col("cv"), F.col("__nq"), F.col("__nc")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    block_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.35,
    vectorized: bool = False,
) -> DataFrame:
    """Near-duplicate pairs by cosine, blocked on ``block_col`` (a label,
    cluster id, or IVF cell): the pair space is quadratic only within a
    block, and blocks distribute across the cluster via the equi-join.

    Norms are precomputed per row below the join (see
    :func:`_cosine_from_norms`) — bit-identical scores, 3× less
    interpreted fold work per pair.

    ``vectorized=True`` additionally prefilters the block pairs with the
    Arrow/numpy cosine at a margin (1e-9) far wider than the
    numpy-vs-sequential-fold divergence (~1e-14), then recomputes the
    published score with the deterministic fold on survivors only —
    output stays bit-identical. MEASURED SLOWER at d=64 on local[32]
    (Arrow-shipping two vectors per pair ≈ 2× the fold cost), which is
    why it defaults off; the trade flips for high-dim vectors where the
    fold's per-element interpretation dominates the fixed Arrow cost.

    Non-indexable vectors are dropped at entry (FAISS contract, as in every other
    ANN entry point) — the default fold path only survives them by
    accident (NULL cos fails the threshold) and the vectorized path's
    np.stack crashes on a None in the Arrow batch."""
    df = df.filter(indexable(F.col(vec_col)))
    a = df.select(
        F.col(block_col).alias("block"),
        F.col(id_col).alias("id_a"),
        as_double(F.col(vec_col)).alias("va"),
    ).withColumn("__na", norm(F.col("va")))
    b = df.select(
        F.col(block_col).alias("block"),
        F.col(id_col).alias("id_b"),
        as_double(F.col(vec_col)).alias("vb"),
    ).withColumn("__nb", norm(F.col("vb")))
    pairs = a.join(b, "block").filter(F.col("id_a") < F.col("id_b"))
    if vectorized:
        pairs = pairs.filter(
            cosine_vectorized(F.col("va"), F.col("vb")) >= F.lit(min_cosine - 1e-9)
        )
    return pairs.select(
        "block",
        "id_a",
        "id_b",
        _cosine_from_norms(
            F.col("va"), F.col("vb"), F.col("__na"), F.col("__nb")
        ).alias("cos"),
    ).filter(F.col("cos") >= min_cosine)


class IvfIndex:
    """A built inverted-file index: tiny ``centroids`` (cell, centroid) for
    broadcast, and the cell-assigned ``assigned`` corpus (neighbor_id, cv,
    cell), persisted so repeated queries reuse it without re-clustering.

    At 100 TB the build is a periodic offline job (like any ANN index);
    queries are then a broadcast of centroids + one equi-join on cell —
    no training cost on the query path.
    """

    def __init__(self, centroids: DataFrame, assigned: DataFrame):
        self.centroids = centroids
        self.assigned = assigned

    def unpersist(self) -> None:
        self.assigned.unpersist()


def _assign_cell_udf(centroids):
    """Arrow-vectorized nearest-centroid assignment: numpy over stacked
    batches against the (tiny, task-serialized) centroid matrix."""
    mat = np.asarray(centroids, dtype=np.float64)  # (k, d)

    @F.pandas_udf("int")
    def assign(cv: pd.Series) -> pd.Series:
        m = np.stack(cv.to_numpy())  # (n, d)
        # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2 ; ||x||^2 constant per row
        d2 = (mat * mat).sum(axis=1)[None, :] - 2.0 * m @ mat.T
        return pd.Series(d2.argmin(axis=1).astype("int32"))

    return assign


def build_ivf_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
    max_iter: int = 10,
    train_sample: int = 65536,
    materialize: bool = True,
) -> IvfIndex:
    """Build the IVF coarse quantizer and persist the cell assignment.

    The standard large-scale recipe (what FAISS does for IVF training):
    k-means runs on a bounded, hash-deterministic sample of the corpus —
    ``train_sample`` vectors collected to the driver (≤ 64Ki×d doubles,
    ~32 MB at d=64) and Lloyd-iterated in numpy, which is exact, seedable,
    and free of per-iteration cluster jobs. The full corpus is touched by
    exactly ONE distributed pass: the Arrow-vectorized cell assignment.
    Quantizer quality from a 64Ki sample is indistinguishable for IVF
    purposes — recall is governed by (n_cells, n_probe).
    """
    import numpy as np

    # NULL/non-finite embeddings are not indexable: drop them here (documented
    # contract — a 100 TB corpus always has rows whose embedding failed
    # upstream; k-means would crash on a ragged sample otherwise).
    c = corpus.filter(indexable(F.col(vec_col))).select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    ).persist()

    # Deterministic training sample: first train_sample vectors in seeded
    # md5 hash order (a distributed TakeOrdered — no full sort at scale).
    sample_rows = (
        c.orderBy(F.md5(F.concat(F.lit(str(seed)), F.col("neighbor_id").cast("string"))))
        .limit(train_sample)
        .select("cv")
        .collect()
    )
    X = np.asarray([r["cv"] for r in sample_rows], dtype=np.float64)  # (n, d)
    k = min(n_cells, len(X))
    if k == 0:
        # empty corpus (or an all-empty partition range at scale): a valid
        # zero-cell index — queries probe nothing and return no rows,
        # instead of k-means crashing on a 0×d sample.
        spark = corpus.sparkSession
        centroids = spark.createDataFrame([], "cell int, centroid array<double>")
        assigned = c.select(
            "neighbor_id", "cv", F.lit(None).cast("int").alias("cell")
        ).limit(0)
        c.unpersist()
        return IvfIndex(centroids, assigned)
    C = X[:k].copy()  # init = first k hash-ordered vectors (deterministic)
    for _ in range(max_iter):
        d2 = (C * C).sum(axis=1)[None, :] - 2.0 * X @ C.T  # (n, k) + const
        labels = d2.argmin(axis=1)
        newC = C.copy()
        for i in range(k):
            members = X[labels == i]
            if len(members):  # empty cell keeps its centroid
                newC[i] = members.mean(axis=0)
        if np.allclose(newC, C):
            break
        C = newC
    centroids_py = [[float(x) for x in row] for row in C]

    assign = _assign_cell_udf(centroids_py)
    assigned = c.select("neighbor_id", "cv", assign(F.col("cv")).alias("cell"))
    if materialize:
        # Materialize so repeated queries never re-run the assignment pass.
        # One-shot callers (ivf_topk building a throwaway index consumed by
        # exactly one query) skip this: the assignment then fuses into the
        # query job instead of paying a separate count() job.
        assigned = assigned.persist()
        assigned.count()
    c.unpersist()

    spark = corpus.sparkSession
    centroids = spark.createDataFrame(
        list(enumerate(centroids_py)),
        "cell int, centroid array<double>",
    )
    return IvfIndex(centroids, assigned)


def sqdist(a: Column, b: Column) -> Column:
    """Squared L2 distance as a sequential left-fold in DOUBLE: the exact
    expression ``0.0 + (a1-b1)² + (a2-b2)² + …`` — deterministic order, so
    an oracle engine replaying the same left-associated addition chain gets
    bit-identical doubles (squares are ≥ 0, and IEEE ``0.0 + x == x`` for
    x ≥ 0, so the seed term drops out exactly)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def build_codebook_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    seed: int = 42,
    materialize: bool = False,
) -> IvfIndex:
    """SQL-REPLAYABLE IVF codebook (VERDICT r04 #1): centroids are the
    ``n_cells`` corpus vectors with the smallest ``md5(f"{seed}:{id}")``
    digest (ties by id), cell = rank in that hash order — the same KIND
    of seeded hash-ordered pick :func:`build_ivf_index` uses to draw its
    Lloyd training sample (that one hashes ``md5(f"{seed}{id}")`` with no
    tiebreak, so the two selections are not the same vectors), minus the
    Lloyd refinement (whose numpy pairwise-summation means no SQL engine
    can replay bit-exactly). Every derived quantity is therefore
    reproducible by a DuckDB oracle: the codebook is ORDER BY md5 LIMIT k,
    and cell assignment is the argmin of :func:`sqdist` sequential folds,
    replayed as explicit left-associated addition chains (the same
    IEEE-exact replay :func:`rademacher_bucket_sql` uses). Recall behaves
    like Lloyd-IVF's at the same (n_cells, n_probe) up to quantizer
    quality; the Lloyd path's recall curve is separately verified by
    ``ann_ivf_recall``.

    Plan shape at 100 TB: the codebook pick is one distributed TakeOrdered
    (no full sort); the ≤ ``n_cells`` centroid rows are collected (bounded
    driver collect, precedent: the 64Ki k-means sample) and embedded as
    LITERAL arrays so assignment is a single scan-side projection —
    argmin via ``array_min`` over (dist, cell) structs, NO join and NO
    window shuffle on the corpus (cheaper than the cross-join + window
    shape, and exactly what you want on a 1000-executor scan)."""
    # Drop non-indexable embeddings (FAISS contract shared with
    # build_ivf_index) AND NULL ids: a NULL id hashes to a NULL digest,
    # which Spark's ASC ordering puts FIRST while DuckDB's puts LAST —
    # the codebooks would silently diverge (r05 review finding; the
    # oracle filters vec_id IS NOT NULL identically).
    c = corpus.filter(
        indexable(F.col(vec_col)) & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )
    cb_rows = (
        c.withColumn(
            "__h",
            F.md5(F.concat(F.lit(f"{seed}:"), F.col("neighbor_id").cast("string"))),
        )
        .orderBy("__h", "neighbor_id")
        .limit(n_cells)
        .select("cv")
        .collect()
    )
    cents = [[float(x) for x in r["cv"]] for r in cb_rows]
    spark = corpus.sparkSession
    if not cents:
        centroids = spark.createDataFrame([], "cell int, centroid array<double>")
        assigned = c.select(
            "neighbor_id", "cv", F.lit(None).cast("int").alias("cell")
        ).limit(0)
        return IvfIndex(centroids, assigned)

    dist_structs = F.array(
        *[
            F.struct(
                sqdist(
                    F.col("cv"), F.array(*[F.lit(v) for v in cent])
                ).alias("d"),
                F.lit(i).cast("int").alias("cell"),
            )
            for i, cent in enumerate(cents)
        ]
    )
    # array_min on struct<d,cell> is lexicographic — argmin by (dist, cell),
    # the same (distance, cell) tiebreak the oracle's row_number replays.
    assigned = c.withColumn("cell", F.array_min(dist_structs)["cell"])
    if materialize:
        assigned = assigned.persist()
        assigned.count()
    centroids = spark.createDataFrame(
        list(enumerate(cents)), "cell int, centroid array<double>"
    )
    return IvfIndex(centroids, assigned)


def ivf_assign_frozen(
    index: IvfIndex,
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_dist: bool = False,
) -> DataFrame:
    """Assign vectors against a FROZEN codebook: the index's ≤ n_cells
    centroid rows are collected (bounded driver collect — the codebook
    IS small, that's the point of IVF) and embedded as plan literals, so
    assignment is a single scan-side projection over ``df`` — the
    zero-shuffle literal-centroid plan ``kmeans_lloyd``'s final
    assignment pins (no join, no window, no exchange). The building
    block of incremental index maintenance (VERDICT r10 ask #3): new
    vectors are assigned WITHOUT touching the standing corpus.

    Returns ``(neighbor_id, cv, cell)`` — schema-compatible with
    ``IvfIndex.assigned`` — plus ``dist_fp`` when ``with_dist`` (the
    argmin squared distance in 2^-20 fixed point: ``floor(d · 2^20)``
    as bigint; the scale factor is a power of two so the double
    multiply is exact and any SQL engine replaying the same sqdist
    chain floors to the identical integer)."""
    cents = [
        [float(x) for x in r["centroid"]]
        for r in index.centroids.orderBy("cell").collect()
    ]
    c = df.filter(
        indexable(F.col(vec_col)) & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )
    if not cents:
        out = c.withColumn("cell", F.lit(None).cast("int")).limit(0)
        if with_dist:
            out = out.withColumn("dist_fp", F.lit(None).cast("bigint"))
        return out
    best = F.array_min(_argmin_cell_structs(cents, F.col("cv")))
    out = c.withColumn("__best", best).select(
        "neighbor_id", "cv", F.col("__best")["cell"].alias("cell"),
        *(
            [
                F.floor(F.col("__best")["d"] * F.lit(float(1 << 20)))
                .cast("bigint")
                .alias("dist_fp")
            ]
            if with_dist
            else []
        ),
    )
    return out


def ivf_add_vectors(
    index: IvfIndex,
    new: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IvfIndex:
    """INCREMENTAL INDEX MAINTENANCE (VERDICT r10 ask #3): extend a
    standing IVF index with newly-arrived vectors WITHOUT rebuilding —
    assign the increment against the frozen codebook (one scan-side
    projection over the new vectors only; see :func:`ivf_assign_frozen`)
    and append to the assignment relation. Returns a new ``IvfIndex``
    sharing the same centroid table.

    For a frozen codebook this is EXACT, not approximate:
    add-then-query ≡ assign-everything-from-scratch-then-query, row for
    row (cell assignment is per-vector, independent of every other
    vector) — pinned by tests/test_standing_state.py. What degrades as
    the corpus drifts is the QUANTIZER (the codebook no longer matches
    the data distribution) — that's a refresh-job decision, flagged by
    :func:`fn_rq_report_etl_dev_spark.state.ivf_staleness`, not a
    correctness property of the add path."""
    added = ivf_assign_frozen(index, new, id_col, vec_col)
    return IvfIndex(index.centroids, index.assigned.unionByName(added))


def ivf_query(
    index: IvfIndex,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_probe: int = 2,
    exclude_self: bool = False,
) -> DataFrame:
    """Query half of IVF: rank cells per query by centroid distance
    (broadcast — centroids are tiny), probe the best ``n_probe`` cells via
    an equi-join on cell id, exact cosine re-rank within candidates.
    NULL-embedding queries have no meaningful neighbors and are dropped
    (same contract as the index build)."""
    centroids, assigned = index.centroids, index.assigned
    q = queries.filter(indexable(F.col(vec_col))).select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    ).withColumn("__nq", norm(F.col("qv")))
    assigned = assigned.withColumn("__nc", norm(F.col("cv")))
    # Rank cells per query by centroid distance; probe the best n_probe.
    qcells = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn(
            "cdist",
            F.aggregate(
                F.zip_with(F.col("qv"), F.col("centroid"), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        .withColumn(
            "crank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.col("cdist"), F.col("cell"))
            ),
        )
        .filter(F.col("crank") <= n_probe)
        .select("query_id", "qv", "__nq", "cell")
    )
    scored = qcells.join(assigned, "cell")
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    # Sequential-fold cosine, NOT the numpy pandas UDF: ann_ivf_topk
    # value-hashes this output against a DuckDB oracle, and the rank is
    # computed on the UNROUNDED score — a numpy-vs-oracle near-tie
    # (~1e-15) could rank-swap two neighbors even though the published
    # round-6 cos matches (r05 review finding; _cosine_pandas_udf's own
    # contract says don't use it on hashed paths). Per-row norms are
    # precomputed BELOW the join (__nq/__nc) so the per-pair fold work is
    # one dot, not three — bit-identical scores, the same
    # _cosine_from_norms discipline every other top-k path uses.
    scored = scored.select(
        "query_id", "neighbor_id",
        _cosine_from_norms(
            F.col("qv"), F.col("cv"), F.col("__nq"), F.col("__nc")
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 2,
    seed: int = 42,
    exclude_self: bool = False,
    index: IvfIndex | None = None,
) -> DataFrame:
    """One-shot convenience: build (or reuse ``index``) then query.
    Production callers with repeated queries should hold the ``IvfIndex``
    from ``build_ivf_index`` and call ``ivf_query`` directly."""
    if index is None:
        index = build_ivf_index(
            corpus,
            id_col=id_col,
            vec_col=vec_col,
            n_cells=n_cells,
            seed=seed,
            materialize=False,  # consumed by exactly one query below
        )
    return ivf_query(
        index,
        queries,
        id_col=id_col,
        vec_col=vec_col,
        k=k,
        n_probe=n_probe,
        exclude_self=exclude_self,
    )


# ---------------------------------------------------------------------------
# Int8-quantized candidate generation + exact rerank
# ---------------------------------------------------------------------------


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding",
    qvec_col: str = "qvec", qscale_col: str = "qscale",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: ``scale = max|x| / 127``,
    ``q = clip(round(x / scale), -127, 127)``, packed into a BINARY column
    (one byte per dimension — 8× smaller than the double array).

    This is the storage/bandwidth scale play for 100 TB embedding tables:
    the candidate-generation scan streams 1/8th the bytes, and the int8
    dot product is exact integer arithmetic (deterministic, SIMD-friendly
    in numpy). Arrow-batched pandas UDF, no per-row Python.
    """
    # ONE pandas UDF returning a struct: the vector column crosses the
    # JVM→Python Arrow boundary once and max|x| is computed once per row
    # (two separate pack/scale UDFs would double the quantization pass —
    # in the operator whose whole point is scan-byte economy).
    @F.pandas_udf("qvec binary, qscale double")
    def packed(vs: pd.Series) -> pd.DataFrame:
        qv, sc = [], []
        for v in vs:
            a = np.asarray(v, dtype=np.float64)
            s = np.abs(a).max() / 127.0 if a.size else 1.0
            if s == 0.0:
                s = 1.0
            qv.append(np.clip(np.rint(a / s), -127, 127).astype(np.int8).tobytes())
            sc.append(s)
        return pd.DataFrame({"qvec": qv, "qscale": sc})

    v = as_double(F.col(vec_col))
    tmp = "__quantize_packed"
    return (
        df.withColumn(tmp, packed(v))
        .withColumn(qvec_col, F.col(f"{tmp}.qvec"))
        .withColumn(qscale_col, F.col(f"{tmp}.qscale"))
        .drop(tmp)
    )


def _int8_score_udf():
    """Approximate cosine from packed int8 vectors:
    ``(qa·qb) * sa * sb / (na * nb)`` — the integer dot is exact, the
    scales/norms are per-row doubles, so the score is deterministic."""
    @F.pandas_udf("double")
    def score(
        qa: pd.Series, qb: pd.Series, sa: pd.Series,
        sb: pd.Series, na: pd.Series, nb: pd.Series,
    ) -> pd.Series:
        # one frombuffer over the concatenated batch (all vectors share a
        # dim), not a per-row frombuffer+stack python loop — ~10x on big
        # batches. The reshape is only valid for a uniform dim — assert it,
        # because a ragged batch whose total bytes happen to divide evenly
        # would otherwise score misaligned slices SILENTLY (the old
        # per-row np.stack raised on the same input).
        dims_a = {len(x) for x in qa}
        dims_b = {len(x) for x in qb}
        if len(dims_a) > 1 or len(dims_b) > 1 or dims_a != dims_b:
            raise ValueError(
                f"mixed vector dimensions in int8 score batch: {dims_a} vs {dims_b}"
            )
        ma = np.frombuffer(b"".join(qa), dtype=np.int8).reshape(len(qa), -1).astype(np.int32)
        mb = np.frombuffer(b"".join(qb), dtype=np.int8).reshape(len(qb), -1).astype(np.int32)
        d = np.einsum("ij,ij->i", ma, mb).astype(np.float64)
        return pd.Series(
            d * sa.to_numpy() * sb.to_numpy() / (na.to_numpy() * nb.to_numpy())
        )

    return score


def quantized_corpus(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """OFFLINE prep for :func:`quantized_rerank_topk`: the corpus with
    packed int8 vectors, scales, and precomputed norms — write this to a
    table once (like the IVF index build) so every query run reads only
    the packed columns and never re-runs the quantization pass. Schema:
    ``(neighbor_id, cv, c_qvec, c_scale, c_norm)``. NULL or non-finite
    embeddings are not indexable and are dropped (see :func:`indexable`)."""
    return quantize_int8(
        corpus.filter(indexable(F.col(vec_col))).select(
            F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
        ),
        "cv", "c_qvec", "c_scale",
    ).withColumn("c_norm", norm(F.col("cv")))


def quantized_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 32,
    exclude_self: bool = False,
    corpus_packed: DataFrame | None = None,
) -> DataFrame:
    """Two-stage exact-by-rerank ANN (the production quantized-index
    pattern, cf. FAISS IndexScalarQuantizer + refine):

    stage 1 (candidate gen): score int8-quantized vectors — the corpus
      pass reads packed BINARY (8× fewer bytes than double arrays) and an
      Arrow-batched numpy integer dot; keep the top ``m`` per query.
    stage 2 (rerank): join the m candidate ids back to the full-precision
      vectors (|Q|·m rows, tiny) and compute the EXACT sequential-fold
      double cosine; keep the top ``k``.

    With ``m`` comfortably above ``k`` (default 32 vs 5) the output equals
    exact brute force whenever quantization error doesn't demote a true
    top-k neighbor below rank m — int8 on unit-ish vectors keeps relative
    dot error ~1e-2, far inside the top-32 margin (asserted exactly vs
    ``brute_force_topk`` in tests and by the driver's SQL oracle).
    Returns (query_id, neighbor_id, rank, cos) like ``brute_force_topk``.

    Pass ``corpus_packed`` (a persisted/stored :func:`quantized_corpus`)
    to skip the inline quantization pass — at scale the packing is an
    offline job exactly like the IVF index build (measured: inline
    quantization dominates the query cost at 1M×64, SCALING.md §ann).
    """
    q = quantize_int8(
        queries.filter(indexable(F.col(vec_col))).select(
            F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
        ),
        "qv", "q_qvec", "q_scale",
    ).withColumn("q_norm", norm(F.col("qv")))
    c = (
        corpus_packed
        if corpus_packed is not None
        else quantized_corpus(corpus, id_col, vec_col)
    )

    # stage 1 streams ONLY the packed columns — the double arrays never
    # enter the cross product.
    cand = F.broadcast(q.drop("qv")).crossJoin(c.drop("cv"))
    if exclude_self:
        cand = cand.filter(F.col("neighbor_id") != F.col("query_id"))
    cand = cand.select(
        "query_id",
        "neighbor_id",
        _int8_score_udf()(
            F.col("q_qvec"), F.col("c_qvec"),
            F.col("q_scale"), F.col("c_scale"),
            F.col("q_norm"), F.col("c_norm"),
        ).alias("qcos"),
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("qcos").desc(), F.col("neighbor_id")
    )
    shortlist = (
        cand.withColumn("__r", F.row_number().over(w1))
        .filter(F.col("__r") <= m)
        .select("query_id", "neighbor_id")
    )

    # stage 2: exact rerank on |Q|·m rows (full vectors come from the
    # packed corpus relation, which carries cv alongside the int8 form).
    cv = c.select("neighbor_id", "cv")
    qv = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    rer = (
        shortlist.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select("query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("cos"))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        rer.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def _argmin_cell_structs(cents: list[list[float]], vec: Column) -> Column:
    """``array<struct<d,cell>>`` of squared distances to LITERAL centroids —
    ``array_min`` over it is the (distance, cell) argmin, a pure scan-side
    projection (no join, no window shuffle). Shared by the Lloyd rounds;
    :func:`build_codebook_index` inlines the same shape."""
    return F.array(
        *[
            F.struct(
                sqdist(vec, F.array(*[F.lit(v) for v in cent])).alias("d"),
                F.lit(i).cast("int").alias("cell"),
            )
            for i, cent in enumerate(cents)
        ]
    )


def kmeans_lloyd(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    rounds: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Distributed Lloyd k-means over an embedding column, SQL-REPLAYABLE —
    the full clustering loop the engine's existing pieces only covered in
    halves (`build_codebook_index` = the seeded init + one assignment;
    `embedding_centroid_by_label` = one update step given labels).

    Exactness design (every round replayable bit-for-bit by a DuckDB
    oracle):
    - init: centroids = the ``k`` corpus vectors with the smallest
      ``md5(f"{seed}:{id}")`` digest (ties by id) — the
      `build_codebook_index` pick, ORDER BY md5 LIMIT k in SQL;
    - assignment: argmin over (:func:`sqdist` left-fold, cell) — the
      left-associated addition chain is bit-identical across engines
      (proven by `ann_ivf_topk`'s oracle at three scales);
    - update: per (cell, dim), member components quantize to 2⁻²⁰ fixed
      point and sum as BIGINT (order-insensitive — the
      `embedding_centroid_by_label` discipline), and the new component is
      ``(float(s) / 1048576.0) / float(n) + 0.0`` — an exact power-of-two
      scale then ONE correctly-rounded IEEE division, identical in Python,
      Spark and DuckDB. Cells that lose every member keep their previous
      centroid (both engines COALESCE). Bound: the BIGINT partial sum is
      exact as an integer, but both engines round it through float64
      before the division (Python ``float(s)``, SQL ``CAST AS DOUBLE``),
      so "bit-exact" holds for |s| < 2⁵³ — at 2⁻²⁰ quantization and
      |component| ≤ 1 that is ~2³³ ≈ 8.6e9 members per cell. Past it the
      two engines still agree (identical round-to-nearest on the same
      integer) but the mean is no longer the exact fixed-point mean.

    Plan shape at 100 TB: per round, ONE corpus pass — assignment is a
    literal-centroid scan projection (zero shuffle), and the update's
    posexplode + groupBy(cell, dim) collapses map-side to ≤ k·d rows per
    task before its single bounded exchange. The driver collects k·d
    partial-sum rows per round (k=4, d=64 ⇒ 256 — the bounded-collect
    precedent of the greedy-coverage argmax and the 64Ki codebook sample)
    and re-broadcasts centroids as literals. No iteration-growing lineage:
    each round's plan roots at the persisted base relation.

    Returns the FINAL assignment: (vec_id, cell, dist) where ``dist`` is
    the squared distance to the final centroid (bit-identical chain, so
    oracles may hash it raw).
    """
    c = corpus.filter(
        indexable(F.col(vec_col)) & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("cv")
    )
    c = c.persist()
    try:
        cb_rows = (
            c.withColumn(
                "__h",
                F.md5(F.concat(F.lit(f"{seed}:"), F.col("vec_id").cast("string"))),
            )
            .orderBy("__h", "vec_id")
            .limit(k)
            .select("cv")
            .collect()
        )
        cents = [[float(x) for x in r["cv"]] for r in cb_rows]
        spark = corpus.sparkSession
        if not cents:
            return spark.createDataFrame(
                [], "vec_id bigint, cell int, dist double"
            )
        for _ in range(rounds):
            assigned = c.withColumn(
                "cell", F.array_min(_argmin_cell_structs(cents, F.col("cv")))["cell"]
            )
            rows = (
                assigned.select("cell", F.posexplode("cv").alias("dim", "v"))
                .groupBy("cell", "dim")
                .agg(
                    F.sum(
                        F.floor(F.col("v") * 1048576.0).cast("bigint")
                    ).alias("s"),
                    F.count(F.lit(1)).alias("n"),
                )
                .collect()
            )  # ≤ k·d rows — bounded by cluster/dim cardinality, not data
            upd: dict[int, list[float]] = {}
            for r in rows:
                upd.setdefault(r["cell"], [0.0] * len(cents[0]))[r["dim"]] = (
                    float(r["s"]) / 1048576.0
                ) / float(r["n"]) + 0.0
            cents = [upd.get(i, cents[i]) for i in range(len(cents))]
        structs = _argmin_cell_structs(cents, F.col("cv"))
        best = F.array_min(structs)
        return c.select(
            "vec_id",
            best["cell"].alias("cell"),
            best["d"].alias("dist"),
        )
    finally:
        # Cached rounds are done; the returned plan recomputes the (tiny
        # relative to the corpus scan) base projection lazily if re-run.
        c.unpersist()


DEFAULT_MAX_CELL = 1024  # sub-cell target size for the hot-cell salt split


def hot_cell_salt(id_col: str, csz_col: str, max_cell: int) -> Column:
    """The hot-cell sub-cell salt, ``md5int(id) % ceil(csz/max_cell)``,
    as one shared expression — :func:`semantic_dedup` executes it and the
    DuckDB oracle replays the same integer arithmetic."""
    return (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % (F.expr(f"(({csz_col} - 1) div {int(max_cell)})") + F.lit(1))
    ).cast("int")


def semantic_dedup(
    index: IvfIndex,
    min_cosine: float = 0.30,
    max_cell: int = DEFAULT_MAX_CELL,
    exemplar_bridge: bool = True,
) -> DataFrame:
    """SemDeDup-style cluster-scoped embedding dedup (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): compare embeddings ONLY within their k-means cell,
    mark near-duplicate pairs (cosine ≥ threshold), and within each pair
    keep the member MORE CENTRAL to the cell (smaller squared distance to
    the cell centroid, id tiebreak) — the paper keeps one exemplar per
    semantic-duplicate group; centrality is its "keep the representative"
    policy made deterministic.

    Hot-cell guard (VERDICT r08): the within-cell pair space is Σ cell²,
    and a quantizer-imbalanced cell (a boilerplate-duplicate cluster —
    exactly what dedup targets) makes one join task quadratic. Cells
    larger than ``max_cell`` are therefore SALT-SPLIT: each member gets a
    deterministic sub-cell ``salt = md5int(vec_id) % ceil(size/max_cell)``
    and pairs are compared within (cell, salt) only. Cells at or under
    ``max_cell`` have one sub-cell (salt 0) — their semantics are exactly
    the uncapped join. For oversized cells this is the SAME approximation
    SemDeDup already makes at cell granularity, applied recursively: the
    expected sub-cell size is ≤ ``max_cell``, so the pair space per cell
    drops from size² to ~size·max_cell (LINEAR in cell size) and no task
    exceeds ~max_cell² comparisons; the price is that duplicates split
    across sub-cells of one hot cell go undetected — bounded recall loss
    on pathological skew instead of an unbounded straggler. The salt is
    pure integer arithmetic on md5(vec_id), so a SQL oracle replays the
    split (and hence the exact output) bit-for-bit at every scale. The
    per-cell size table is ≤ k rows — always broadcast.

    Exemplar bridge (VERDICT r10): a second pass recovers the bounded
    core of the cross-sub-cell loss — each sub-cell's most-central
    member (provably kept by phase 1) is compared against the other
    exemplars of its cell, so a duplicate GROUP spanning sub-cells
    collapses to one representative instead of ceil(size/max_cell).
    The bridge adds ceil(size/max_cell) rows per hot cell and its own
    second-level salt re-applies the task cap; residual loss remains
    only for non-exemplar members whose duplicates sit entirely in
    other sub-cells — and, beyond max_cell² members per cell, between
    second-level exemplar groups (the same trade, one level deeper).

    Choosing ``max_cell``: the default (1024) is MACHINE-centric — it
    bounds any single task at ~1M cosine comparisons regardless of
    quantizer quality, while leaving typically-sized cells exact. To
    also hold the AGGREGATE pair count to ~linear growth under heavy
    Lloyd skew, set it relative to the target mean cell size (corpus/k):
    the SCALING.md experiment measured 7.23× pair growth at 4× data
    uncapped, 5.43× at cap ≈ 2.5× mean, and 4.06× (the data ratio
    itself) at cap ≈ 1.3× mean.

    Why this shape at 100 TB: the quadratic pair space is bounded PER
    SUB-CELL, the pair join is an equi-join on (cell id, salt), and
    centrality reuses the assignment's centroid distances — no extra
    corpus pass. Contrast `embedding_near_dup_pairs`, which blocks on a
    PRE-EXISTING label; here the blocking key is learned from the
    vectors themselves.

    Returns one verdict row per indexable vector: (vec_id, cell, kept).
    """
    if max_cell < 1:
        raise ValueError(f"max_cell must be >= 1: {max_cell}")
    m = (
        index.assigned.join(F.broadcast(index.centroids), "cell")
        .select(
            F.col("neighbor_id").alias("vec_id"),
            "cell",
            "cv",
            sqdist(F.col("cv"), F.col("centroid")).alias("cd"),
            norm(F.col("cv")).alias("nv"),
        )
    )
    # Cell sizes come from the (persisted) assignment directly — the
    # centroid join and norm/sqdist projections in `m` are irrelevant to
    # a count and every assigned row survives the inner centroid join.
    sizes = index.assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("__csz")
    )
    # Persisted (r11): ms feeds BOTH pair-join sides and the exemplar
    # bridge (plus the verdict join-back) — unpersisted, each consumer
    # re-ran the sizes aggregate, the centroid broadcast join and the
    # norm/sqdist projections over the whole assignment. Cached rows are
    # (id, cell, vector, 3 scalars) — the same order as the assignment
    # itself. Released by session.release_intermediates like every
    # fan-out persist in this package.
    ms = m.join(F.broadcast(sizes), "cell").withColumn(
        "salt", hot_cell_salt("vec_id", "__csz", max_cell)
    ).persist()
    x = ms.select(
        F.col("cell"),
        F.col("salt"),
        F.col("vec_id").alias("id_a"),
        F.col("cv").alias("va"),
        F.col("nv").alias("na"),
        F.col("cd").alias("cda"),
    )
    y = ms.select(
        F.col("cell").alias("cell_b"),
        F.col("salt").alias("salt_b"),
        F.col("vec_id").alias("id_b"),
        F.col("cv").alias("vb"),
        F.col("nv").alias("nb"),
        F.col("cd").alias("cdb"),
    )
    pairs = x.join(
        y,
        (F.col("cell") == F.col("cell_b"))
        & (F.col("salt") == F.col("salt_b"))
        & (F.col("id_a") < F.col("id_b")),
    ).filter(
        _cosine_from_norms(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
        >= F.lit(min_cosine)
    )
    # id_a < id_b always, so a centroid-distance TIE keeps the smaller id:
    # loser = b when cda <= cdb, else a.
    removed = pairs.select(
        F.when(F.col("cda") <= F.col("cdb"), F.col("id_b"))
        .otherwise(F.col("id_a"))
        .alias("vec_id")
    )
    if not exemplar_bridge:
        # Phase-1-only variant: exists so the scaling experiment can
        # measure exactly what the bridge recovers (kept-count delta) on
        # the same index — never the production default.
        removed_all = removed.distinct()
        return (
            m.join(removed_all.withColumn("__rm", F.lit(1)), "vec_id", "left")
            .select(
                "vec_id",
                "cell",
                F.col("__rm").isNull().cast("bigint").alias("kept"),
            )
        )

    # --- exemplar bridge (VERDICT r10 ask #4): the salt split drops
    # duplicate pairs straddling sub-cells of one hot cell. Recover the
    # bounded core of that loss by comparing each sub-cell's EXEMPLAR —
    # its most-central member, min (cd, vec_id), which phase 1 provably
    # keeps (nobody in its own sub-cell is more central) — against the
    # other exemplars of the same cell. Per cell that is
    # ceil(size/max_cell) rows, and a second-level salt keyed by the
    # sub-cell count re-applies the cap, so no bridge task exceeds
    # ~max_cell² comparisons even for cells beyond max_cell² members
    # (where the residual loss is between second-level groups — the
    # same trade, one level deeper). min_by on the (cd, vec_id) struct
    # is deterministic: vec_id makes the ordering total.
    order = F.struct(F.col("cd"), F.col("vec_id"))
    ex = (
        ms.filter(F.col("__csz") > max_cell)
        .groupBy("cell", "salt")
        .agg(
            F.min_by(F.col("vec_id"), order).alias("vec_id"),
            F.min_by(F.col("cv"), order).alias("cv"),
            F.min_by(F.col("nv"), order).alias("nv"),
            F.min(order).getField("cd").alias("cd"),
            F.first(
                F.expr(f"CAST((__csz - 1) div {int(max_cell)} AS INT) + 1")
            ).alias("__nsalt"),
        )
        .withColumn("salt2", hot_cell_salt("vec_id", "__nsalt", max_cell))
    )
    bx = ex.select(
        "cell",
        "salt2",
        F.col("vec_id").alias("id_a"),
        F.col("cv").alias("va"),
        F.col("nv").alias("na"),
        F.col("cd").alias("cda"),
    )
    by = ex.select(
        F.col("cell").alias("cell_b"),
        F.col("salt2").alias("salt2_b"),
        F.col("vec_id").alias("id_b"),
        F.col("cv").alias("vb"),
        F.col("nv").alias("nb"),
        F.col("cd").alias("cdb"),
    )
    bridge_removed = (
        bx.join(
            by,
            (F.col("cell") == F.col("cell_b"))
            & (F.col("salt2") == F.col("salt2_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .filter(
            _cosine_from_norms(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            )
            >= F.lit(min_cosine)
        )
        .select(
            F.when(F.col("cda") <= F.col("cdb"), F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("vec_id")
        )
    )
    removed_all = removed.union(bridge_removed).distinct()
    return (
        m.join(removed_all.withColumn("__rm", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.col("__rm").isNull().cast("bigint").alias("kept"),
        )
    )

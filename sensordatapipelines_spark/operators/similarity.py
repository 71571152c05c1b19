"""Similarity search over embedding columns (``array<float>``).

Charter extension (SURVEY.md §2.7): brute-force cosine top-k as the exact
baseline, and a seeded random-hyperplane LSH variant as the scale path
(bucketed equi-join instead of a full cross product). All vector math
folds left to right in double precision, either JVM-side (``zip_with`` +
``aggregate``) or in Arrow-batched numpy kernels that accumulate in the
same order, so both forms are bit-identical; at 100 TB the query side
broadcasts and the corpus scan stays columnar.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sensordatapipelines_spark.registry import register


def dot_expr(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision via zip_with + left-fold aggregate."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


@register("vector_sumsq_arrow")
def vector_sumsq_arrow(
    df: DataFrame,
    id_col: str = "emb_id",
    vec_col: str = "vec",
) -> DataFrame:
    """Per-vector exact energy profile → ``(id, n_dims, sumsq_e12)``
    computed with ``mapInArrow`` — the PySpark 4 Arrow-native map (the
    batch arrives as a ``pyarrow.RecordBatch``, zero pandas
    materialization; the right escape hatch when the kernel is pure
    columnar math and even a pandas Series wrapper is overhead).

    Determinism: each component quantizes FLOOR(x·1e6) first (floor has
    no rounding-mode to disagree on; the product is the identical IEEE
    double in every engine), then Σ of squared BIGINTs is exact integer
    math — the oracle replays it with ``list_transform`` + ``list_sum``.
    Map-only, no shuffle; at 100 TB this is a pure scan-side pass."""
    import pyarrow as pa

    def kernel(batches):
        import numpy as np

        for batch in batches:
            tbl = batch.to_pydict()
            ids = tbl[id_col]
            out_n, out_s = [], []
            for vec in tbl[vec_col]:
                arr = np.asarray(vec, dtype=np.float64)
                q = np.floor(arr * 1e6).astype(np.int64)
                out_n.append(int(q.size))
                out_s.append(int((q * q).sum()))
            yield pa.RecordBatch.from_pydict(
                {
                    id_col: pa.array(ids, type=pa.int64()),
                    "n_dims": pa.array(out_n, type=pa.int64()),
                    "sumsq_e12": pa.array(out_s, type=pa.int64()),
                }
            )

    return df.select(
        F.col(id_col).cast("long").alias(id_col), F.col(vec_col)
    ).mapInArrow(kernel, schema=f"{id_col} long, n_dims long, sumsq_e12 long")


@register("cosine_topk")
def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k → ``(query_id, vec_id, cos_sim, rank)``.

    Query side broadcasts (small); corpus scans once; per-query ranking via
    ``row_number`` over (similarity desc, id) — deterministic ties. Self-pairs
    (same id) are excluded."""
    q = queries.select(
        F.col(query_id_col).alias("__qid"),
        F.col(query_vec_col).alias("__qv"),
        norm_expr(F.col(query_vec_col)).alias("__qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("__cid"),
        F.col(vec_col).alias("__cv"),
        norm_expr(F.col(vec_col)).alias("__cn"),
    )
    pairs = F.broadcast(q).join(c, on=F.col("__qid") != F.col("__cid"))
    # Rank on the unrounded similarity (ties broken by id), round only the
    # reported value — keeps ranking identical to an oracle that does the
    # same. Norms precompute once per row; the per-pair dot runs in the
    # fold-exact Arrow kernel (bit-identical to cosine_expr's fold).
    sim = _pair_dot_udf()(F.col("__qv"), F.col("__cv")) / (
        F.col("__qn") * F.col("__cn")
    )
    w = Window.partitionBy("__qid").orderBy(F.desc("__sim"), F.asc_nulls_last(F.col("__cid")))
    return (
        pairs.withColumn("__sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias("query_id"),
            F.col("__cid").alias(id_col),
            (F.round((F.col("__sim")) * F.lit(1e6)) / F.lit(1e6)).alias("cos_sim"),
            "rank",
        )
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_signature_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: bit i = sign(vec · plane_i), packed into a
    BIGINT. Same-signature vectors land in the same bucket."""
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        d = dot_expr(vec, F.array(*[F.lit(float(x)) for x in plane]))
        sig = sig + F.when(d > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return sig


def lsh_table_seed(seed: int, table: int) -> int:
    """Seed for hash table ``t`` (table 0 == the single-table seed, so
    ``n_tables=1`` is bit-identical to the original operator). Shared by
    the Spark side and the DuckDB oracle builder."""
    return seed + 101 * table


def _multi_table_sig_udf(planes_tables: list[list[list[float]]]):
    """Arrow-batched signature kernel for multi-table LSH: all tables'
    packed sign signatures per row as ``array<long>``. Accumulates the
    dot products sequentially over dimensions (vectorized over rows), so
    every partial sum — and therefore every sign bit at the 0 boundary —
    matches the left-fold expression/SQL semantics bit-for-bit."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    tabs = [np.asarray(p, dtype="float64") for p in planes_tables]

    @pandas_udf("array<long>")
    def _sigs(v):
        mat = np.vstack([np.asarray(x, dtype="float64") for x in v]) if len(v) else np.zeros((0, 1))
        out = np.zeros((len(v), len(tabs)), dtype="int64")
        for t, planes in enumerate(tabs):
            for i in range(planes.shape[0]):
                acc = np.zeros(len(v), dtype="float64")
                for j in range(planes.shape[1]):
                    acc = acc + mat[:, j] * planes[i, j]
                out[:, t] += (acc > 0).astype("int64") << i
        return pd.Series(list(out))

    return _sigs


@register("ann_lsh_topk")
def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 1,
) -> DataFrame:
    """Approximate NN: random-hyperplane LSH buckets → exact cosine re-rank
    within bucket → ``(query_id, vec_id, cos_sim, rank)``.

    The scale path: candidate generation is an equi-join on the bucket
    signature (shuffle by key), so the cross product never materializes.
    Recall tunes on two axes: ``n_planes`` (fewer planes → bigger buckets,
    AND-amplification) and ``n_tables`` (independent hash tables whose
    candidates UNION, OR-amplification — the standard fix when one table's
    recall is low, e.g. near-orthogonal corpora where true neighbours
    rarely share all sign bits). Cost is linear in ``n_tables``: the
    corpus emits one (table, signature) row per table and shuffles by
    that composite key; candidates dedupe on (query, id) before the exact
    re-rank so multi-table hits are scored once.

    Kernel choice: single-table signatures stay a JVM expression; the
    multi-table batch (``n_tables × n_planes`` dot-product folds per row)
    would run INTERPRETED as Catalyst higher-order functions (the measured
    trap from SCALE.md's minhash note), so it computes in one
    Arrow-batched numpy kernel instead — vectorized over rows, SEQUENTIAL
    over dimensions, so the accumulation order (and therefore every sign
    bit) is IEEE-identical to the expression fold and the DuckDB oracle."""
    # Signatures always compute in the Arrow kernel (bit-identical to the
    # lsh_signature_expr fold — table 0 IS the single-table signature);
    # the n_planes dot folds per row run interpreted as Catalyst HOFs
    # otherwise and their literal plane arrays bloat plan analysis
    # (SCALE.md literal-centroid note).
    sig_udf = _multi_table_sig_udf(
        [_hyperplanes(dim, n_planes, lsh_table_seed(seed, t)) for t in range(n_tables)]
    )
    sides = [
        df_side.select(
            F.col(id_col).alias(f"__{role}id"),
            F.posexplode(sig_udf(F.col(vec_col))).alias("tbl", "sig"),
        )
        for role, df_side in (("q", queries), ("c", corpus))
    ]
    qs, cs = sides
    cand = (
        F.broadcast(qs)
        .join(cs, on=["tbl", "sig"])
        .filter(F.col("__qid") != F.col("__cid"))
        .select("__qid", "__cid")
    )
    if n_tables > 1:
        cand = cand.distinct()
    qv = queries.select(
        F.col(id_col).alias("__qid"),
        F.col(vec_col).alias("__qv"),
        norm_expr(F.col(vec_col)).alias("__qn"),
    )
    cv = corpus.select(
        F.col(id_col).alias("__cid"),
        F.col(vec_col).alias("__cv"),
        norm_expr(F.col(vec_col)).alias("__cn"),
    )
    pairs = cand.join(F.broadcast(qv), "__qid").join(cv, "__cid")
    sim = _pair_dot_udf()(F.col("__qv"), F.col("__cv")) / (
        F.col("__qn") * F.col("__cn")
    )
    w = Window.partitionBy("__qid").orderBy(F.desc("__sim"), F.asc_nulls_last(F.col("__cid")))
    return (
        pairs.withColumn("__sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias("query_id"),
            F.col("__cid").alias(id_col),
            (F.round((F.col("__sim")) * F.lit(1e6)) / F.lit(1e6)).alias("cos_sim"),
            "rank",
        )
    )


def _ivf_centroids(dim: int, n_cells: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed + 1)  # distinct stream from hyperplanes
    return rng.standard_normal((n_cells, dim)).tolist()


def ivf_dists_expr(vec: Column, centroids: list[list[float]]) -> Column:
    """Array of squared distances to every centroid — pure array arithmetic,
    identical fold order in any engine, so assignments are deterministic
    and oracle-able."""
    dists = []
    for c in centroids:
        c_lit = F.array(*[F.lit(float(x)) for x in c])
        diff2 = F.zip_with(
            vec, c_lit, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
        )
        dists.append(F.aggregate(diff2, F.lit(0.0), lambda acc, v: acc + v))
    return F.array(*dists)


@register("ann_ivf_topk")
def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Approximate NN, IVF flavor: coarse-quantize every vector to its
    nearest of ``n_cells`` seeded centroids, then exact cosine re-rank within
    the query's ``nprobe`` nearest cells → ``(query_id, vec_id, cos_sim,
    rank)``.

    The scale path twin of ``ann_lsh_topk``: candidate generation is an
    equi-join on the cell id, so the corpus shuffles by cell and the cross
    product never materializes. Recall tunes via ``n_cells`` and ``nprobe``
    (each query probes its ``nprobe`` closest cells — the candidate set
    grows ~linearly in nprobe, and a corpus vector lives in exactly one
    cell so probes never produce duplicate pairs).

    The corpus-side cell assignment runs in the Arrow argmin kernel
    (``_cell_assign_udf``, bit-identical to the first-minimum argmin over
    ``ivf_dists_expr`` — see the SCALE.md literal-centroid note); per-pair
    cosine precomputes norms per row and evaluates one fold per pair."""
    cents = _ivf_centroids(dim, n_cells, seed)
    c = corpus.select(
        F.col(id_col).alias("__cid"),
        F.col(vec_col).alias("__cv"),
        _cell_assign_udf(cents)(F.col(vec_col)).alias("__cell"),
    )
    if nprobe <= 1:
        q = queries.select(
            F.col(id_col).alias("__qid"),
            F.col(vec_col).alias("__qv"),
            _cell_assign_udf(cents)(F.col(vec_col)).alias("__cell"),
        )
    else:
        # Rank cells per query by (distance, index) and keep the nprobe
        # nearest. The query side is the small/broadcast side, so the
        # explode+window runs over |queries|×n_cells rows only.
        exploded = queries.select(
            F.col(id_col).alias("__qid"),
            F.col(vec_col).alias("__qv"),
            F.posexplode(ivf_dists_expr(F.col(vec_col), cents)).alias("__pos", "__d"),
        )
        wq = Window.partitionBy("__qid").orderBy(F.asc_nulls_last("__d"), F.asc_nulls_last("__pos"))
        q = (
            exploded.withColumn("__rn", F.row_number().over(wq))
            .filter(F.col("__rn") <= nprobe)
            .select("__qid", "__qv", (F.col("__pos") + 1).alias("__cell"))
        )
    q = q.withColumn("__qn", norm_expr(F.col("__qv")))
    c = c.withColumn("__cn", norm_expr(F.col("__cv")))
    pairs = F.broadcast(q).join(c, on="__cell").filter(F.col("__qid") != F.col("__cid"))
    sim = _pair_dot_udf()(F.col("__qv"), F.col("__cv")) / (
        F.col("__qn") * F.col("__cn")
    )
    w = Window.partitionBy("__qid").orderBy(F.desc("__sim"), F.asc_nulls_last(F.col("__cid")))
    return (
        pairs.withColumn("__sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias("query_id"),
            F.col("__cid").alias(id_col),
            (F.round((F.col("__sim")) * F.lit(1e6)) / F.lit(1e6)).alias("cos_sim"),
            "rank",
        )
    )


@register("embedding_neardup")
def embedding_neardup(
    df: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs → ``(id_a, id_b, cos_sim)``:
    LSH-bucketed self-join (equi-join on signature), exact cosine filter at
    ``threshold`` within buckets. Signatures and the per-pair dot run in
    the fold-exact Arrow kernels; norms precompute once per row."""
    sig_udf = _multi_table_sig_udf([_hyperplanes(dim, n_planes, seed)])
    sig = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        norm_expr(F.col(vec_col)).alias("__n"),
        sig_udf(F.col(vec_col))[0].alias("__sig"),
    )
    a, b = sig.alias("a"), sig.alias("b")
    pairs = a.join(
        b,
        on=(F.col("a.__sig") == F.col("b.__sig")) & (F.col("a.__id") < F.col("b.__id")),
    )
    sim = (F.round((_pair_dot_udf()(F.col("a.__v"), F.col("b.__v"))
        / (F.col("a.__n") * F.col("b.__n"))) * F.lit(1e6)) / F.lit(1e6))
    return (
        pairs.withColumn("cos_sim", sim)
        .filter(F.col("cos_sim") >= threshold)
        .select(
            F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"), "cos_sim"
        )
    )


@register("quantize_embeddings")
def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "q",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Symmetric int8 quantization for embedding storage: per-vector
    max-abs scale, components rounded to [-127, 127] — a 4× footprint cut
    (float32→int8) that preserves cosine ranking to ~1e-2. Map-side array
    arithmetic (zero shuffle); the zero vector gets scale 0 and zeros.
    Store ``(q tinyint array, q_scale float)``; ``dequantize_embeddings``
    inverts (lossy — per-component error ≤ scale/2)."""
    v = F.col(vec_col)
    amax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    q = F.when(
        amax > 0,
        F.transform(v, lambda x: F.round(x.cast("double") / (amax / 127.0)).cast("tinyint")),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("tinyint")))
    return df.withColumns({scale_col: amax / F.lit(127.0), out_col: q})


@register("dequantize_embeddings")
def dequantize_embeddings(
    df: DataFrame,
    q_col: str = "q",
    scale_col: str = "q_scale",
    out_col: str = "embedding_dq",
) -> DataFrame:
    """Inverse of ``quantize_embeddings``: component × per-vector scale."""
    return df.withColumn(
        out_col,
        F.transform(F.col(q_col), lambda x: x.cast("double") * F.col(scale_col)),
    )


@register("kmeans_assign")
def kmeans_assign(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    out_col: str = "cluster",
) -> DataFrame:
    """Lloyd's k-means with fully deterministic init: the initial centroids
    are the vectors of the ``k`` LOWEST ids (no RNG — reproducible across
    engines, which makes the iterative algorithm oracle-able, unlike seeded
    samples whose RNG differs per engine).

    Scale shape: each round, centroids are k × dim doubles — control-plane
    size — collected to the driver; assignment is map-side with zero
    shuffle, through the Arrow-batched numpy argmin (``_cell_assign_udf``)
    — bit-identical to the ``ivf_dists_expr`` fold and free of its k×dim
    literal expression tree, whose Catalyst ANALYSIS cost dominates at
    small k (measured: the expression form spent its seconds planning,
    not executing). The centroid update is one ``groupBy(cluster)`` with
    per-dimension ``avg`` — k output rows, full map-side partial
    aggregation; driver state is O(k·dim), never O(rows) (same
    driver-iteration pattern as ``dedup.duplicate_components``).

    An empty cluster keeps its previous centroid. Returns ``df`` plus the
    1-based final ``cluster`` column."""
    cents = kmeans_fit(df, k=k, iters=iters, id_col=id_col, vec_col=vec_col, dim=dim)
    return df.withColumn(out_col, _cell_assign_udf(cents)(F.col(vec_col)))


def _cell_dist_udf(cents: list[list[float]]):
    """Arrow kernel returning ``struct(cell, d2)`` — nearest centroid
    (first-minimum tiebreak) AND its squared distance, the pair
    ``cluster_coverage_sample`` ranks on. Same dimension-sequential
    accumulation as ``_cell_assign_udf``, so both values are
    bit-identical to the ``ivf_dists_expr`` folds."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(cents, dtype="float64")

    @pandas_udf("struct<cell: long, d2: double>")
    def _cd(v):
        if not len(v):
            return pd.DataFrame({"cell": [], "d2": []})
        M = np.vstack([np.asarray(x, dtype="float64") for x in v])
        d = np.zeros((len(v), C.shape[0]), dtype="float64")
        for ci in range(C.shape[0]):
            acc = np.zeros(len(v), dtype="float64")
            for j in range(C.shape[1]):
                diff = M[:, j] - C[ci, j]
                acc = acc + diff * diff
            d[:, ci] = acc
        idx = np.argmin(d, axis=1)
        return pd.DataFrame(
            {"cell": (idx + 1).astype("int64"), "d2": d[np.arange(len(v)), idx]}
        )

    return _cd


def _cell_assign_udf(cents: list[list[float]]):
    """Arrow-batched nearest-centroid kernel: vectorized over rows,
    sequential over dimensions per centroid, first-minimum tiebreak — the
    IEEE-identical twin of the first-minimum argmin over the
    ``ivf_dists_expr`` fold (tests/test_similarity.py), without the k×dim
    literal expression tree (whose Catalyst analysis time, not its
    execution, dominates small-k assignment — same lesson as the UTM
    expression bomb in SCALE.md)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(cents, dtype="float64")

    @pandas_udf("long")
    def _cell(v):
        if not len(v):
            return pd.Series([], dtype="int64")
        M = np.vstack([np.asarray(x, dtype="float64") for x in v])
        d = np.zeros((len(v), C.shape[0]), dtype="float64")
        for ci in range(C.shape[0]):
            acc = np.zeros(len(v), dtype="float64")
            for j in range(C.shape[1]):
                diff = M[:, j] - C[ci, j]
                acc = acc + diff * diff
            d[:, ci] = acc
        return pd.Series((np.argmin(d, axis=1) + 1).astype("int64"))

    return _cell


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> list[list[float]]:
    """The driver-side Lloyd loop behind ``kmeans_assign``: returns the
    final k × dim centroid matrix (control-plane size) so composing
    operators (coverage sampling, semantic dedup) can build their own
    literal-centroid expressions without re-fitting."""
    init = (
        df.select(id_col, vec_col)
        .orderBy(F.asc_nulls_last(id_col))
        .limit(k)
        .collect()
    )
    cents: list[list[float]] = [
        [float(x) for x in r[vec_col]] for r in init
    ]
    v = F.col(vec_col)
    for _ in range(iters):
        assigned = df.select(
            _cell_assign_udf(cents)(v).alias("__c"),
            *[v[i].cast("double").alias(f"__d{i}") for i in range(dim)],
        )
        rows = (
            assigned.groupBy("__c")
            .agg(*[F.avg(f"__d{i}").alias(f"__m{i}") for i in range(dim)])
            .collect()
        )
        new_cents = list(cents)  # empty cluster -> previous centroid
        for r in rows:
            new_cents[r["__c"] - 1] = [float(r[f"__m{i}"]) for i in range(dim)]
        cents = new_cents
    return cents


def _pair_dot_udf():
    """Arrow-batched dot-product kernel for candidate pairs: vectorized
    over rows, SEQUENTIAL over dimensions, so every partial sum is
    IEEE-identical to the ``dot_expr`` left-fold (and to a SQL
    ``list_reduce``) — the same fold-exactness contract as
    ``_multi_table_sig_udf``."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _dot(va, vb):
        if not len(va):
            return pd.Series([], dtype="float64")
        A = np.vstack([np.asarray(x, dtype="float64") for x in va])
        B = np.vstack([np.asarray(x, dtype="float64") for x in vb])
        acc = np.zeros(len(va), dtype="float64")
        for j in range(A.shape[1]):
            acc = acc + A[:, j] * B[:, j]
        return pd.Series(acc)

    return _dot


@register("semantic_dedup")
def semantic_dedup(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): embedding-level semantic deduplication.
    Cluster with deterministic k-means, then WITHIN each cluster drop any
    vector that has a more-than-``threshold``-cosine-similar neighbor with
    a lower id (keep-lowest survivor). Returns the surviving rows with
    their cluster.

    The pairwise similarity join is keyed on the cluster id, so the
    quadratic blow-up is bounded per cluster (k tunes the bucket size at
    scale — SemDeDup's own trick for running on billions of embeddings);
    no all-pairs cross join ever materializes.

    Per-pair cost: vector norms are precomputed ONCE per row before the
    join (algebraically and bit-identically ``dot/(norm_a·norm_b)``, the
    exact ``cosine_expr`` arithmetic), so each candidate pair evaluates a
    single dot-product fold instead of dot + two norm folds — a measured
    ~3× cut of the interpreted higher-order-function work that dominates
    this operator (Catalyst HOFs don't enter whole-stage codegen). The
    per-pair dot runs as an Arrow-batched numpy kernel (``_pair_dot_udf``)
    — vectorized over pairs, sequential over dimensions, bit-identical to
    the ``dot_expr`` fold (measured ~2× on top of the norm precompute)."""
    clustered = kmeans_assign(df, k=k, iters=iters, id_col=id_col, vec_col=vec_col, dim=dim)
    # The clustered frame feeds both self-join sides and the final
    # anti-join, so the assignment kernel runs 3× — measured at bench
    # scale, cheaper than materializing it (3.4 vs 3.7 s). A caller whose
    # input is an expensive upstream pipeline can localCheckpoint() it
    # first.
    slim = clustered.select(
        F.col("cluster").alias("__cl"),
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        norm_expr(F.col(vec_col)).alias("__n"),
    )
    a = slim.alias("a")
    b = slim.alias("b")
    cand = a.join(
        b,
        on=(F.col("a.__cl") == F.col("b.__cl"))
        & (F.col("a.__id") < F.col("b.__id")),
    )
    dot = _pair_dot_udf()(F.col("a.__v"), F.col("b.__v"))
    # No distinct on the loser side: LEFT ANTI is set-semantics on its
    # right input already, and the distinct was a whole extra
    # aggregate+exchange in the executed plan (guide §2.4 — the same
    # dropped-anti-join-side-distinct lesson as jaccard_link_pred in r9).
    losers = (
        cand.withColumn("__dot", dot)
        .filter(F.col("__dot") / (F.col("a.__n") * F.col("b.__n")) >= F.lit(threshold))
        .select(F.col("b.__id").alias("__loser"))
    )
    return clustered.join(
        losers, on=F.col(id_col) == F.col("__loser"), how="left_anti"
    )


def _rp_signs(dim: int, out_dim: int, seed: int) -> list[list[int]]:
    """Deterministic ±1 sign matrix for the random projection, generated
    with a fixed LCG (no platform RNG) so Spark and any oracle can inline
    the identical literals."""
    state = seed & 0x7FFFFFFF
    rows = []
    for _ in range(out_dim):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) & 0x7FFFFFFF
            row.append(1 if (state >> 16) & 1 else -1)
        rows.append(row)
    return rows


@register("random_projection")
def random_projection(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 16,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a deterministic
    ±1 sign matrix (Achlioptas 2003's database-friendly projection): each
    output coordinate is ``dot(vec, signs_j) / sqrt(out_dim)`` — a cheap
    pre-filter/compaction step before ANN or clustering that preserves
    pairwise distances within (1±ε).

    Scale shape (100 TB): the sign matrix enters the plan as LITERALS, so
    the whole operator is a map-side ``zip_with``+``aggregate`` fold per
    output dimension — zero shuffle, zero Python, scales with scan
    bandwidth. Determinism: ±1 multiplications are exact in IEEE double
    and both engines fold left-to-right, so results are bit-identical;
    outputs round to 6 decimals. Output columns ``p00..pNN`` (flat, not
    an array, so oracle comparison is per-column)."""
    # ``dim`` given by the caller skips the one-row probe ACTION (an
    # extra job per run just to read the vector width); the probe stays
    # as the ad-hoc-frame fallback. The sign matrix is identical either
    # way — dim only sizes it.
    signs = (
        _rp_signs(int(dim), out_dim, seed)
        if dim
        else _rp_signs_for(df, vec_col, out_dim, seed)
    )
    v = F.col(vec_col)
    scale = float(out_dim) ** 0.5
    cols = {}
    for j, row in enumerate(signs):
        s_lit = F.array(*[F.lit(float(s)) for s in row])
        dot = F.aggregate(
            F.zip_with(v, s_lit, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cols[f"p{j:02d}"] = (F.round((dot / F.lit(scale)) * F.lit(1e6)) / F.lit(1e6))
    return df.select(F.col(id_col), *[cols[c].alias(c) for c in sorted(cols)])


def _rp_signs_for(df: DataFrame, vec_col: str, out_dim: int, seed: int):
    """Resolve the input dimension from the schema when possible, else
    probe one row — keeps the operator self-contained for ad-hoc frames."""
    first = df.select(F.size(F.col(vec_col)).alias("n")).first()
    dim = int(first["n"]) if first else 0
    return _rp_signs(dim, out_dim, seed)


@register("cluster_coverage_sample")
def cluster_coverage_sample(
    df: DataFrame,
    m: int = 10,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Coreset/coverage selection: fit deterministic k-means, then keep the
    ``m`` vectors closest to each cluster's centroid — the cheap
    "prototype sampling" recipe for building a small training subset that
    still covers every mode of the embedding distribution (the selection
    half of SemDeDup-style curation, keeping centers instead of dropping
    near-dups).

    Scale shape: centroids are literals (control-plane size), so distance
    and assignment are map-side folds; the per-cluster top-m is a window
    ``row_number`` partitioned by cluster. NOTE the window shuffles into
    only k partitions — fine for the usual k in the hundreds-to-thousands,
    but for tiny k over huge data raise k or pre-aggregate with an
    approximate distance threshold first (SCALE.md). Distances round to 6
    decimals with ``id_col`` as tiebreak, so selection is total-ordered
    and engine-portable."""
    from pyspark.sql import Window

    cents = kmeans_fit(df, k=k, iters=iters, id_col=id_col, vec_col=vec_col, dim=dim)
    v = F.col(vec_col)
    # (cluster, min-dist) from the fold-exact Arrow kernel — the literal
    # k×dim distance expression is the measured analysis-time bomb
    # (SCALE.md literal-centroid note)
    cd = _cell_dist_udf(cents)(v)
    assigned = df.withColumn("__cd", cd).select(
        F.col(id_col),
        F.col("__cd.cell").alias("cluster"),
        (F.round((F.col("__cd.d2")) * F.lit(1e6)) / F.lit(1e6)).alias("dist2"),
    )
    w = Window.partitionBy("cluster").orderBy(F.col("dist2").asc_nulls_last(), F.col(id_col).asc_nulls_last())
    return (
        assigned.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= m)
        .select(
            id_col,
            F.col("cluster").cast("long").alias("cluster"),
            "dist2",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


def write_ann_index(
    df: DataFrame,
    path: str,
    n_cells: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist an IVF index as a CELL-PARTITIONED parquet layout:
    ``path/cell=<i>/part-*.parquet`` with each vector stored in exactly
    one coarse cell (the same seeded centroids ``ann_ivf_topk`` probes).
    Serving then reads ONLY the probed cells — Spark's partition pruning
    turns candidate generation into a directory-level skip, the on-disk
    analogue of the cell equi-join.

    At 100 TB: one assignment pass (Arrow argmin kernel, map-side) + one
    partitioned write; cells are the natural unit of parallel compaction
    and incremental append (new vectors write into their cell dirs)."""
    cents = _ivf_centroids(dim, n_cells, seed)
    (
        df.select(
            F.col(id_col),
            F.col(vec_col),
            _cell_assign_udf(cents)(F.col(vec_col)).alias("cell"),
        )
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )


def query_ann_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Serve top-k from a ``write_ann_index`` layout: compute the query
    set's probed cells DRIVER-SIDE (|queries| × nprobe ints — control
    plane), push them as a literal ``cell IN (...)`` predicate so the
    parquet scan prunes to the probed directories, then exact-cosine
    re-rank within the matching cells. Result-identical to
    ``ann_ivf_topk`` on the same corpus (same centroids, same tie rules);
    the difference is WHERE candidate generation happens — at the
    directory listing, before any byte of a non-probed cell is read."""
    import numpy as np

    cents = _ivf_centroids(dim, n_cells, seed)
    C = np.asarray(cents, dtype="float64")
    qrows = queries.select(id_col, vec_col).collect()
    probe_cells: set[int] = set()
    qcell: dict[int, list[int]] = {}
    for r in qrows:
        v = np.asarray(r[vec_col], dtype="float64")
        d = np.zeros(C.shape[0])
        for ci in range(C.shape[0]):
            acc = 0.0
            for j in range(C.shape[1]):
                diff = v[j] - C[ci, j]
                acc += diff * diff
            d[ci] = acc
        order = np.lexsort((np.arange(C.shape[0]), d))
        cells = [int(c) + 1 for c in order[:nprobe]]
        qcell[r[id_col]] = cells
        probe_cells.update(cells)
    corpus = spark.read.parquet(path).filter(
        F.col("cell").isin(*sorted(probe_cells))
    )
    pairs_cells = [
        (qid, c) for qid, cs in qcell.items() for c in cs
    ]
    probe_df = spark.createDataFrame(pairs_cells, f"{id_col} long, cell int")
    q = (
        queries.select(
            F.col(id_col).alias("__qid"),
            F.col(vec_col).alias("__qv"),
            norm_expr(F.col(vec_col)).alias("__qn"),
        )
        .join(
            probe_df.select(F.col(id_col).alias("__qid"), "cell"), "__qid"
        )
    )
    c = corpus.select(
        F.col(id_col).alias("__cid"),
        F.col(vec_col).alias("__cv"),
        norm_expr(F.col(vec_col)).alias("__cn"),
        F.col("cell"),
    )
    pairs = F.broadcast(q).join(c, on="cell").filter(
        F.col("__qid") != F.col("__cid")
    )
    sim = _pair_dot_udf()(F.col("__qv"), F.col("__cv")) / (
        F.col("__qn") * F.col("__cn")
    )
    w = Window.partitionBy("__qid").orderBy(F.desc("__sim"), F.asc_nulls_last(F.col("__cid")))
    return (
        pairs.withColumn("__sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias("query_id"),
            F.col("__cid").alias(id_col),
            (F.round((F.col("__sim")) * F.lit(1e6)) / F.lit(1e6)).alias("cos_sim"),
            "rank",
        )
    )


@register("hard_negatives")
def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector,
    the ``k`` MOST-similar corpus vectors carrying a DIFFERENT label —
    the negatives that actually move an embedding model (random negatives
    are trivially separable; the hard ones sit just across the boundary).
    Returns ``(query_id, vec_id, neg_label, cos_sim, rank)``.

    Same plan shape as ``cosine_topk`` (query side broadcast, corpus
    scanned once, fold-exact Arrow dot kernel, deterministic
    ``row_number`` ties): the label inequality rides the broadcast join
    condition, so mismatched-label pairs are never materialized. At
    billion-vector scale, swap the corpus side for an ANN candidate set
    (``ann_lsh_topk``/IVF) and re-rank — the ranking stage is shared."""
    q = queries.select(
        F.col(id_col).alias("__qid"),
        F.col(vec_col).alias("__qv"),
        F.col(label_col).alias("__qlab"),
        norm_expr(F.col(vec_col)).alias("__qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("__cid"),
        F.col(vec_col).alias("__cv"),
        F.col(label_col).alias("__clab"),
        norm_expr(F.col(vec_col)).alias("__cn"),
    )
    pairs = F.broadcast(q).join(
        c,
        on=(F.col("__qid") != F.col("__cid"))
        & (F.col("__qlab") != F.col("__clab")),
    )
    sim = _pair_dot_udf()(F.col("__qv"), F.col("__cv")) / (
        F.col("__qn") * F.col("__cn")
    )
    w = Window.partitionBy("__qid").orderBy(F.desc("__sim"), F.asc_nulls_last(F.col("__cid")))
    return (
        pairs.withColumn("__sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias("query_id"),
            F.col("__cid").alias(id_col),
            F.col("__clab").alias("neg_label"),
            (F.round((F.col("__sim")) * F.lit(1e6)) / F.lit(1e6)).alias("cos_sim"),
            "rank",
        )
    )


def pq_seed_codebooks(
    df: DataFrame,
    m: int = 4,
    k_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Data-derived product-quantization codebooks: sub-vectors of the
    ``k_codes`` smallest-id vectors, one codebook per subspace. A tiny
    control-plane collect (k_codes rows), same contract as the IVF
    centroid literals; production would swap per-subspace k-means in —
    the encode/score plan shape is unchanged. Code indices are 1-based
    (matches ``array_position``/DuckDB ``list_position``)."""
    sub = dim // m
    rows = df.orderBy(F.asc_nulls_last(id_col)).limit(k_codes).select(vec_col).collect()
    return [
        [[float(x) for x in r[vec_col][j * sub:(j + 1) * sub]] for r in rows]
        for j in range(m)
    ]


def _pq_assign_udf(codebooks: list[list[list[float]]]):
    """Arrow-batched PQ code kernel: for each subspace, vectorized
    rows × sequential sub-dimensions × first-minimum argmin — the
    IEEE-identical twin of a left-fold squared-distance +
    ``array_position`` expression, the shape the DuckDB oracle's
    ``list_reduce`` replays (reference in tests/test_similarity.py; same
    contract as ``_cell_assign_udf``). That expression's m×k_codes
    literal tree spent its time in Catalyst analysis: 4.4 s to encode 5k
    vectors at bench scale."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    CB = [np.asarray(cb, dtype="float64") for cb in codebooks]
    sub = CB[0].shape[1]

    @pandas_udf("array<long>")
    def _codes(v):
        if not len(v):
            return pd.Series([], dtype="object")
        M = np.vstack([np.asarray(x, dtype="float64") for x in v])
        out = np.zeros((len(v), len(CB)), dtype="int64")
        for jx, C in enumerate(CB):
            d = np.zeros((len(v), C.shape[0]), dtype="float64")
            for ci in range(C.shape[0]):
                acc = np.zeros(len(v), dtype="float64")
                for j in range(sub):
                    diff = M[:, jx * sub + j] - C[ci, j]
                    acc = acc + diff * diff
                d[:, ci] = acc
            out[:, jx] = np.argmin(d, axis=1) + 1
        return pd.Series(list(out))

    return _codes


@register("pq_encode")
def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Product-quantize vectors: split into ``m`` subspaces, assign each
    slice to its nearest codebook centroid (ties → smallest index) →
    ``array<long>`` of m 1-based codes. Map-side, no shuffle: one
    Arrow-batched ``pandas_udf`` (``_pq_assign_udf``) per scan, so at
    100 TB the corpus compresses from ``dim`` floats to ``m`` bytes per
    vector in a single pass — the memory move that makes billion-vector
    ANN fit a cluster."""
    return df.withColumn(out_col, _pq_assign_udf(codebooks)(F.col(vec_col)))


def _pq_lut_udf(cb: list[list[float]], j: int, sub: int):
    """Arrow-batched per-query ADC lookup table for subspace ``j``:
    k_codes sequential-fold squared distances per row, returned as one
    ``array<double>`` — replaces a k_codes×sub_dim literal expression
    tree per subspace (Catalyst analysis of those trees, not their
    execution, dominated pq_topk at bench scale)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(cb, dtype="float64")

    @pandas_udf("array<double>")
    def _lut(v):
        if not len(v):
            return pd.Series([], dtype="object")
        M = np.vstack([np.asarray(x, dtype="float64")[j * sub:(j + 1) * sub] for x in v])
        d = np.zeros((len(v), C.shape[0]), dtype="float64")
        for ci in range(C.shape[0]):
            acc = np.zeros(len(v), dtype="float64")
            for jj in range(sub):
                diff = M[:, jj] - C[ci, jj]
                acc = acc + diff * diff
            d[:, ci] = acc
        return pd.Series(list(d))

    return _lut


@register("pq_topk")
def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    k_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over product-quantized codes →
    ``(query_id, vec_id, adc_dist, rank)``.

    The scale shape that distinguishes PQ from brute force: each QUERY
    precomputes a ``m × k_codes`` lookup table of slice→centroid
    distances once (in its projection, not per pair), so the per-pair
    cost is m array lookups + adds against the corpus's m-byte codes —
    not a dim-length fold. Corpus side is encode-once (map-only scan);
    the query side broadcasts. Ranking ties break on id; the reported
    distance rounds to 6 places, ranking uses the unrounded double."""
    cbs = codebooks or pq_seed_codebooks(corpus, m, k_codes, dim, id_col, vec_col)
    sub = len(cbs[0][0])
    enc = pq_encode(corpus, cbs, vec_col).select(
        F.col(id_col).alias("__cid"), F.col("pq_code").alias("__codes")
    )
    qcols = [F.col(id_col).alias("__qid")]
    for j, cb in enumerate(cbs):
        qcols.append(_pq_lut_udf(cb, j, sub)(F.col(vec_col)).alias(f"__lut{j}"))
    q = queries.select(*qcols)
    pairs = F.broadcast(q).join(enc, on=F.col("__qid") != F.col("__cid"))
    adc = F.lit(0.0)
    for j in range(len(cbs)):
        adc = adc + F.element_at(F.col(f"__lut{j}"), F.col("__codes").getItem(j).cast("int"))
    w = Window.partitionBy("__qid").orderBy(F.col("__adc").asc_nulls_last(), F.col("__cid").asc_nulls_last())
    return (
        pairs.withColumn("__adc", adc)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias("query_id"),
            F.col("__cid").alias(id_col),
            (F.round((F.col("__adc")) * F.lit(1e6)) / F.lit(1e6)).alias("adc_dist"),
            "rank",
        )
    )


@register("ivf_pq_topk")
def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    dim: int = 64,
    seed: int = 42,
    m: int = 4,
    k_codes: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the production billion-vector ANN architecture — IVF
    coarse cells prune candidates (equi-join on the cell id, the corpus
    never cross-joins), PQ codes + per-query ADC lookup tables score
    them (m table lookups per pair, the corpus stored as m bytes per
    vector) → ``(query_id, vec_id, adc_dist, rank)``.

    This composition is why the two pieces exist: IVF bounds WHO you
    score, PQ bounds WHAT a score costs and what the corpus weighs in
    memory. Codes here quantize the raw vectors against shared
    codebooks (oracle-replayable from the table); the classic residual
    refinement (quantize ``v − centroid[cell]``) drops in by shifting
    ``vec_col`` first and is the production upgrade path."""
    cents = _ivf_centroids(dim, n_cells, seed)
    cbs = pq_seed_codebooks(corpus, m, k_codes, dim, id_col, vec_col)
    sub = len(cbs[0][0])
    enc = pq_encode(corpus, cbs, vec_col).select(
        F.col(id_col).alias("__cid"),
        F.col("pq_code").alias("__codes"),
        _cell_assign_udf(cents)(F.col(vec_col)).alias("__cell"),
    )
    exploded = queries.select(
        F.col(id_col).alias("__qid"),
        F.col(vec_col).alias("__qv"),
        F.posexplode(ivf_dists_expr(F.col(vec_col), cents)).alias("__pos", "__d"),
    )
    wq = Window.partitionBy("__qid").orderBy(F.asc_nulls_last("__d"), F.asc_nulls_last("__pos"))
    probed = (
        exploded.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select("__qid", "__qv", (F.col("__pos") + 1).alias("__cell"))
    )
    qcols = [F.col("__qid"), F.col("__cell")]
    for j, cb in enumerate(cbs):
        qcols.append(_pq_lut_udf(cb, j, sub)(F.col("__qv")).alias(f"__lut{j}"))
    q = probed.select(*qcols)
    pairs = (
        F.broadcast(q)
        .join(enc, on="__cell")
        .filter(F.col("__qid") != F.col("__cid"))
    )
    adc = F.lit(0.0)
    for j in range(len(cbs)):
        adc = adc + F.element_at(
            F.col(f"__lut{j}"), F.col("__codes").getItem(j).cast("int")
        )
    w = Window.partitionBy("__qid").orderBy(F.col("__adc").asc_nulls_last(), F.col("__cid").asc_nulls_last())
    return (
        pairs.withColumn("__adc", adc)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias("query_id"),
            F.col("__cid").alias(id_col),
            (F.round((F.col("__adc")) * F.lit(1e6)) / F.lit(1e6)).alias("adc_dist"),
            "rank",
        )
    )


@register("truncated_cosine_topk")
def truncated_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    use_dims: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k using only the FIRST ``use_dims`` dimensions
    of each vector — the Matryoshka-representation evaluation: how much
    retrieval quality survives truncating the embedding (the memory/
    latency lever modern embedding models are trained to support).
    Same broadcast-query brute-force shape as ``cosine_topk``; the
    slice happens in the projections, so the pair fold runs over the
    truncated length only."""
    sl = lambda c: F.slice(F.col(c), 1, use_dims)  # noqa: E731
    q = queries.select(
        F.col(id_col).alias("__qid"),
        sl(vec_col).alias("__qv"),
        norm_expr(sl(vec_col)).alias("__qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("__cid"),
        sl(vec_col).alias("__cv"),
        norm_expr(sl(vec_col)).alias("__cn"),
    )
    pairs = F.broadcast(q).join(c, on=F.col("__qid") != F.col("__cid"))
    sim = _pair_dot_udf()(F.col("__qv"), F.col("__cv")) / (
        F.col("__qn") * F.col("__cn")
    )
    w = Window.partitionBy("__qid").orderBy(F.desc("__sim"), F.asc_nulls_last(F.col("__cid")))
    return (
        pairs.withColumn("__sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias("query_id"),
            F.col("__cid").alias(id_col),
            (F.round((F.col("__sim")) * F.lit(1e6)) / F.lit(1e6)).alias("cos_sim"),
            "rank",
        )
    )


@register("rrf_fuse")
def rrf_fuse(
    results: list[DataFrame],
    query_col: str = "query_id",
    id_col: str = "vec_id",
    rank_col: str = "rank",
    k: int = 60,
    top_k: int = 10,
) -> DataFrame:
    """Reciprocal rank fusion of N retrieval result lists (Cormack et
    al. 2009, public): each list contributes ``1/(k + rank)`` per hit,
    candidates rank by the summed score → ``(query, id, n_lists,
    rrf_e9, fused_rank)``. The standard way to combine heterogeneous
    retrievers (hyperplane-LSH + IVF here; BM25 + dense in a text
    stack) without score calibration — only ranks matter.

    Determinism: each term is ``round(1e9 / (k + rank))`` — ONE double
    division then one round (no denominator in [k+1, k+top_k] can land
    on a .5 boundary for k=60 since none divides 2e9 oddly), summed as
    exact BIGINTs, so the fused ordering never flips on a float ulp and
    DuckDB replays it bit-for-bit. Ties break on the id ascending.

    Scale shape: a union of the input lists (already top-k-bounded per
    query by their producers), one keyed groupBy on (query, id), one
    per-query window — every stage is bounded by N·top_k rows per
    query, never corpus-shaped.
    """
    if not results:
        raise ValueError("rrf_fuse needs at least one result list")
    term = F.round(F.lit(1e9) / (F.lit(int(k)) + F.col(rank_col)).cast("double")).cast(
        "long"
    )
    parts = [
        r.select(
            F.col(query_col).alias("__q"),
            F.col(id_col).alias("__id"),
            term.alias("__t"),
        )
        for r in results
    ]
    allr = parts[0]
    for p in parts[1:]:
        allr = allr.unionByName(p)
    fused = allr.groupBy("__q", "__id").agg(
        F.count(F.lit(1)).alias("n_lists"),
        F.sum("__t").alias("rrf_e9"),
    )
    w = Window.partitionBy("__q").orderBy(F.col("rrf_e9").desc(), F.col("__id").asc_nulls_last())
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= F.lit(int(top_k)))
        .select(
            F.col("__q").alias(query_col),
            F.col("__id").alias(id_col),
            "n_lists",
            "rrf_e9",
            "fused_rank",
        )
    )


def sign_pack_expr(vec: Column, start: int, n: int) -> Column:
    """Pack ``n`` sign bits of ``vec[start:start+n]`` (1-indexed) into one
    BIGINT word, MSB-first: bit = 1 iff the component is strictly > 0.
    Keep ``n`` ≤ 32 so the fold never touches the int64 sign bit — Spark
    long arithmetic wraps silently where DuckDB BIGINT overflow ERRORS,
    so a 64-bit pack could never be oracle-safe."""
    return F.aggregate(
        F.slice(vec, start, n),
        F.lit(0).cast("long"),
        lambda acc, x: acc * F.lit(2)
        + F.when(x > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"),
    )


@register("hamming_topk")
def hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary-embedding Hamming ANN → ``(query_id, vec_id, hamming,
    rank)``: every vector compacts to ``ceil(dim/32)`` sign-packed BIGINT
    words (a 32× memory reduction — float32[64] → 8 bytes/word), and the
    per-pair cost is one XOR + popcount per word. The standard first
    stage of a billion-scale retrieval stack (binary prefilter → exact
    re-rank); all-integer, so the oracle replays it exactly.

    Scale shape: the pack is a map-only projection over the corpus scan
    (the 100 TB side never shuffles); the query side broadcasts; ranking
    is one per-query window on (distance, id) — deterministic ties."""
    n_words = (dim + 31) // 32
    sizes = [min(32, dim - 32 * w) for w in range(n_words)]

    def packed(df: DataFrame, prefix: str) -> DataFrame:
        cols = [F.col(id_col).alias(f"{prefix}id")]
        cols += [
            sign_pack_expr(F.col(vec_col), 32 * w + 1, sizes[w]).alias(
                f"{prefix}w{w}"
            )
            for w in range(n_words)
        ]
        return df.select(*cols)

    q = packed(queries, "__q")
    c = packed(corpus, "__c")
    dist = sum(
        (
            F.bit_count(F.col(f"__qw{w}").bitwiseXOR(F.col(f"__cw{w}")))
            for w in range(n_words)
        ),
        start=F.lit(0),
    ).cast("long")
    pairs = F.broadcast(q).join(c, on=F.col("__qid") != F.col("__cid"))
    w = Window.partitionBy("__qid").orderBy(F.asc_nulls_last(F.col("hamming")), F.asc_nulls_last(F.col("__cid")))
    return (
        pairs.withColumn("hamming", dist)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias("query_id"),
            F.col("__cid").alias(id_col),
            "hamming",
            "rank",
        )
    )


@register("hamming_rerank_topk")
def hamming_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k_candidates: int = 32,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage retrieval — the production billion-scale shape: a
    binary-Hamming prefilter (sign-packed words, XOR+popcount) selects
    ``k_candidates`` per query, then ONLY those pairs pay the exact
    cosine re-rank → ``(query_id, vec_id, cos_sim, rank)``. The corpus
    side is touched once by the map-only pack scan; the float math runs
    on k_candidates rows per query instead of the whole corpus.

    Determinism contract shared with ``cosine_topk``: ranking happens on
    the UNROUNDED similarity with id tie-break; the dot product is the
    fold-exact Arrow kernel, bit-identical to the oracle's list fold."""
    cand = hamming_topk(
        corpus, queries, k=k_candidates, dim=dim, id_col=id_col, vec_col=vec_col
    ).select("query_id", F.col(id_col).alias("__cid"))
    q = queries.select(
        F.col(id_col).alias("__qid"),
        F.col(vec_col).alias("__qv"),
        norm_expr(F.col(vec_col)).alias("__qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("__cid"),
        F.col(vec_col).alias("__cv"),
        norm_expr(F.col(vec_col)).alias("__cn"),
    )
    pairs = (
        cand.join(F.broadcast(q), cand["query_id"] == q["__qid"])
        .join(c, "__cid")
    )
    sim = _pair_dot_udf()(F.col("__qv"), F.col("__cv")) / (
        F.col("__qn") * F.col("__cn")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("__sim"), F.asc_nulls_last(F.col("__cid")))
    return (
        pairs.withColumn("__sim", sim)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= int(k))
        .select(
            "query_id",
            F.col("__cid").alias(id_col),
            (F.round((F.col("__sim")) * F.lit(1e6)) / F.lit(1e6)).alias("cos_sim"),
            "rank",
        )
    )

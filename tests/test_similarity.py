"""Similarity-search tests: exact top-k, LSH recall on duplicates."""

import pytest
from pyspark.sql import functions as F

from sensordatapipelines_spark.operators.similarity import (
    ann_lsh_topk,
    cosine_topk,
    embedding_neardup,
)


# -- pure-JVM expression twins of the similarity kernels ---------------------
# Each operator runs its Arrow kernel only; these literal-fold expressions
# are the shape the DuckDB oracles mirror, kept here as the references the
# twin tests compare the kernels against.


def ivf_cell_expr(vec, centroids):
    """Twin of ``_cell_assign_udf``: 1-based index of the nearest
    centroid over the ``ivf_dists_expr`` folds, first-minimum tiebreak."""
    from sensordatapipelines_spark.operators.similarity import ivf_dists_expr

    darr = ivf_dists_expr(vec, centroids)
    return F.array_position(darr, F.array_min(darr))


def _sq_dist_expr(sub, centroid):
    """Left-fold squared L2 distance between a (cast-to-double) vector
    slice and a literal centroid — the accumulation order the DuckDB
    oracle's ``list_reduce`` replays."""
    cent = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(
            sub, cent, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_codes_expr(vec, codebooks):
    """Twin of ``_pq_assign_udf``: per subspace, the 1-based index of the
    nearest codebook centroid (first-minimum tiebreak)."""
    sub = len(codebooks[0][0])
    codes = []
    for j, cb in enumerate(codebooks):
        sl = F.slice(vec, j * sub + 1, sub)
        dists = F.array(*[_sq_dist_expr(sl, cent) for cent in cb])
        codes.append(F.array_position(dists, F.array_min(dists)))
    return F.array(*codes)


def _emb(spark):
    return spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0, 0.0]),   # identical to 1
            (3, [0.9, 0.1, 0.0, 0.0]),   # close to 1
            (4, [0.0, 0.0, 0.0, 1.0]),   # orthogonal
        ],
        "vec_id long, embedding array<float>",
    )


def test_cosine_topk_exact(spark):
    out = cosine_topk(_emb(spark), _emb(spark).filter(F.col("vec_id") == 1), k=2)
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert rows[0]["vec_id"] == 2 and rows[0]["cos_sim"] == 1.0
    assert rows[1]["vec_id"] == 3 and 0.9 < rows[1]["cos_sim"] < 1.0


def test_cosine_topk_excludes_self(spark):
    out = cosine_topk(_emb(spark), _emb(spark), k=3)
    assert all(r["query_id"] != r["vec_id"] for r in out.collect())


def test_ann_lsh_finds_identical_vector(spark):
    out = ann_lsh_topk(
        _emb(spark), _emb(spark).filter(F.col("vec_id") == 1), k=2, dim=4, n_planes=4
    )
    top = {r["rank"]: r for r in out.collect()}
    assert top[1]["vec_id"] == 2  # identical vec always shares every bucket
    assert top[1]["cos_sim"] == 1.0


def test_embedding_neardup_pairs(spark):
    pairs = embedding_neardup(_emb(spark), threshold=0.99, dim=4, n_planes=4)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in found
    assert all(a < b for a, b in found)


def test_ann_ivf_multiprobe_superset_recall(spark):
    """nprobe=2 candidates are a superset of nprobe=1 (same cells probed
    first), and recall vs brute force is monotone in nprobe."""
    from sensordatapipelines_spark.operators.similarity import ann_ivf_topk

    df = _emb(spark)
    q = df.filter(F.col("vec_id") == 1)
    kw = dict(k=4, n_cells=2, dim=4, seed=7)
    one = {(r["query_id"], r["vec_id"]) for r in ann_ivf_topk(df, q, **kw).collect()}
    two = {(r["query_id"], r["vec_id"]) for r in ann_ivf_topk(df, q, nprobe=2, **kw).collect()}
    assert one <= two
    # with nprobe == n_cells every vector is a candidate -> exact result
    exact = {(r["query_id"], r["vec_id"]) for r in cosine_topk(df, q, k=4).collect()}
    assert two == exact
    # determinism across runs
    two2 = {(r["query_id"], r["vec_id"]) for r in ann_ivf_topk(df, q, nprobe=2, **kw).collect()}
    assert two == two2


def test_quantize_dequantize_bound_and_zero_vector(spark):
    from sensordatapipelines_spark.operators.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in dequantize_embeddings(
        quantize_embeddings(df)
    ).collect()}
    r1 = out[1]
    assert r1["q_scale"] == pytest.approx(1.0 / 127.0)
    for orig, dq in zip([1.0, -0.5, 0.25, 0.0], r1["embedding_dq"]):
        assert abs(orig - dq) <= r1["q_scale"] / 2 + 1e-9
    # max-abs component is exactly representable
    assert r1["embedding_dq"][0] == pytest.approx(1.0)
    # zero vector: scale 0, all-zero codes, exact round-trip
    r2 = out[2]
    assert r2["q_scale"] == 0.0
    assert list(r2["embedding_dq"]) == [0.0, 0.0, 0.0, 0.0]


def test_ann_recall_pinned(spark):
    """Retrieval-quality gate (deterministic, so pinned EXACTLY): IVF
    recall@5 is high and rises with nprobe; hyperplane LSH at 8 planes
    scores low on THIS corpus because the synthetic embeddings are
    near-orthogonal (random vectors' true neighbours are spread uniformly
    across buckets — the adversarial case for sign-hash LSH; fewer planes
    or multi-table LSH is the recall knob). The point of the gate is that
    these numbers are measured and pinned, not assumed."""
    import sys

    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as e

    rows = {
        r["method"]: r
        for r in e.emb_ann_recall(spark, "/root/testdata/sf0.001").collect()
    }
    assert rows["ivf_p1"]["recall"] == 0.975
    assert rows["ivf_p2"]["recall"] == 1.0
    assert rows["lsh"]["recall"] == 0.05
    # 4-table OR-amplification: recall ~= 1-(1-p)^4 — on random (near-
    # orthogonal) vectors p is the chance-level bucket collision rate, so
    # the lift is modest and THEORY-CONSISTENT (0.05 -> 0.075 measured);
    # on clustered real-world embeddings the same knob is the standard
    # recall fix. Monotonicity is the invariant worth pinning.
    assert rows["lsh_t4"]["recall"] == 0.075
    assert rows["lsh_t4"]["recall"] >= rows["lsh"]["recall"]
    assert rows["ivf_p2"]["recall"] >= rows["ivf_p1"]["recall"]
    assert all(r["n_exact"] == 40 for r in rows.values())


def test_kmeans_deterministic_and_separates(spark):
    """Two well-separated blobs, k=2: every vector clusters with its blob,
    and reruns are bit-identical (no RNG anywhere)."""
    import numpy as np
    from sensordatapipelines_spark.operators.similarity import kmeans_assign

    rng = np.random.default_rng(3)
    rows = []
    for i in range(20):
        base = [5.0] * 8 if i % 2 == 0 else [-5.0] * 8
        rows.append((i, [float(b + 0.1 * x) for b, x in zip(base, rng.standard_normal(8))]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r["cluster"] for r in kmeans_assign(df, k=2, iters=2, dim=8).collect()}
    evens = {out[i] for i in range(0, 20, 2)}
    odds = {out[i] for i in range(1, 20, 2)}
    assert len(evens) == 1 and len(odds) == 1 and evens != odds
    out2 = {r["vec_id"]: r["cluster"] for r in kmeans_assign(df, k=2, iters=2, dim=8).collect()}
    assert out == out2


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    """k larger than the number of distinct points: the starved cluster must
    keep its init centroid instead of crashing or NaN-ing."""
    from sensordatapipelines_spark.operators.similarity import kmeans_assign

    df = spark.createDataFrame(
        [(i, [float(i % 2)] * 4) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    out = kmeans_assign(df, k=3, iters=2, dim=4).collect()
    assert len(out) == 6
    assert all(1 <= r["cluster"] <= 3 for r in out)


def test_semantic_dedup_drops_neardups_within_cluster(spark):
    """Two blobs; one blob contains a near-exact duplicate pair — the higher
    id of the pair is dropped, everything else survives."""
    import numpy as np
    from sensordatapipelines_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(5)
    rows = []
    for i in range(10):
        base = [4.0] * 8 if i < 5 else [-4.0] * 8
        rows.append((i, [float(b + 0.5 * x) for b, x in zip(base, rng.standard_normal(8))]))
    rows.append((99, [v + 1e-4 for v in rows[2][1]]))  # near-dup of id 2
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"] for r in semantic_dedup(df, k=2, iters=2, threshold=0.999, dim=8).collect()}
    assert 2 in out and 99 not in out
    assert out == {i for i in range(10)}


# ---------------------------------------------------------------------------
# Round-3 continuation: random projection + cluster coverage sampling
# ---------------------------------------------------------------------------


def test_random_projection_preserves_scaling(spark):
    """Linearity sanity: projecting 2x scales every output coordinate by 2
    (up to the 6-decimal round); output has out_dim flat columns."""
    from sensordatapipelines_spark.operators.similarity import random_projection

    base = [float(i % 5 - 2) for i in range(16)]
    df = spark.createDataFrame(
        [(1, base), (2, [2.0 * x for x in base])],
        "vec_id long, embedding array<double>",
    )
    out = random_projection(df, out_dim=4, seed=7)
    assert [c for c in out.columns if c.startswith("p")] == [
        "p00", "p01", "p02", "p03"
    ]
    rows = {r["vec_id"]: r for r in out.collect()}
    for j in range(4):
        c = f"p{j:02d}"
        assert rows[2][c] == pytest.approx(2.0 * rows[1][c], abs=1e-5)


def test_random_projection_deterministic_signs(spark):
    from sensordatapipelines_spark.operators.similarity import _rp_signs

    a = _rp_signs(8, 4, 7)
    assert a == _rp_signs(8, 4, 7)
    assert a != _rp_signs(8, 4, 8)
    assert all(s in (-1, 1) for row in a for s in row)


def test_cluster_coverage_sample_selects_prototypes(spark):
    """Two well-separated blobs, m=2: the two closest vectors of each blob
    are kept, ranked by distance with id tiebreak."""
    from sensordatapipelines_spark.operators.similarity import (
        cluster_coverage_sample,
    )

    rows = [
        (1, [0.0, 0.0]),   # blob A center-ish
        (2, [0.1, 0.0]),
        (3, [0.4, 0.0]),   # blob A outlier
        (4, [10.0, 0.0]),  # blob B
        (5, [10.1, 0.0]),
        (6, [10.5, 0.0]),  # blob B outlier
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = cluster_coverage_sample(df, m=2, k=2, iters=2, dim=2)
    kept = {r["vec_id"] for r in out.collect()}
    assert kept == {1, 2, 4, 5}
    per_cluster = {}
    for r in out.collect():
        per_cluster.setdefault(r["cluster"], []).append(r["rnk"])
    assert all(sorted(v) == [1, 2] for v in per_cluster.values())


def test_kmeans_kernel_expr_twins_identical(spark):
    """The Arrow argmin kernel and the literal-fold expression are exact
    twins: identical assignments on the same frame, at the initial
    (k lowest ids) centroids and at every Lloyd iterate."""
    from sensordatapipelines_spark.operators.similarity import (
        _cell_assign_udf,
        kmeans_assign,
        kmeans_fit,
    )

    import numpy as np

    rng = np.random.default_rng(3)
    vecs = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(60)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    v = F.col("embedding")
    for iters in (0, 1, 2):
        cents = kmeans_fit(df, k=4, iters=iters, dim=8)
        a = sorted(map(tuple, df.select("vec_id", _cell_assign_udf(cents)(v)).collect()))
        b = sorted(map(tuple, df.select("vec_id", ivf_cell_expr(v, cents)).collect()))
        assert a == b, iters
    assigned = kmeans_assign(df, k=4, iters=2, dim=8).select("vec_id", "cluster")
    assert sorted(map(tuple, assigned.collect())) == b


def test_semantic_dedup_kernel_expr_twins_identical(spark):
    """The steps where SemDeDup's kernel and expression forms differ —
    cluster assignment and the per-pair dot — agree bit-for-bit on every
    candidate pair of a near-duplicate corpus."""
    from sensordatapipelines_spark.operators.similarity import (
        _cell_assign_udf,
        _pair_dot_udf,
        dot_expr,
        kmeans_fit,
        semantic_dedup,
    )

    import numpy as np

    rng = np.random.default_rng(5)
    base = rng.standard_normal((10, 8))
    rows = []
    for i in range(10):
        rows.append((2 * i, [float(x) for x in base[i]]))
        rows.append((2 * i + 1, [float(x) for x in base[i] * 1.0001]))  # near-dup
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    v = F.col("embedding")
    cents = kmeans_fit(df, k=2, iters=1, dim=8)
    a = sorted(map(tuple, df.select("vec_id", _cell_assign_udf(cents)(v)).collect()))
    b = sorted(map(tuple, df.select("vec_id", ivf_cell_expr(v, cents)).collect()))
    assert a == b
    pairs = df.alias("a").join(df.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
    dots = {
        name: {
            (r.ia, r.ib): r.d
            for r in pairs.select(
                F.col("a.vec_id").alias("ia"), F.col("b.vec_id").alias("ib"), dot.alias("d")
            ).collect()
        }
        for name, dot in (
            ("kernel", _pair_dot_udf()(F.col("a.embedding"), F.col("b.embedding"))),
            ("expr", dot_expr(F.col("a.embedding"), F.col("b.embedding"))),
        )
    }
    assert dots["kernel"] == dots["expr"]
    kept = sorted(r["vec_id"] for r in semantic_dedup(df, k=2, iters=1, dim=8).collect())
    assert len(kept) < 20  # some near-dups dropped


def test_semantic_dedup_resolves_and_runs_via_registry(spark):
    """Regression: a helper defined between the decorator and the function
    once captured the registry slot, so JSON plans naming semantic_dedup
    resolved to the wrong callable. The registry entry must BE the
    operator and execute through a JSON pipeline."""
    from sensordatapipelines_spark import Pipeline, get_operation

    fn = get_operation("semantic_dedup")
    assert fn.__name__ == "semantic_dedup"

    df = spark.createDataFrame(
        [(0, [1.0] * 8), (1, [1.0] * 8), (2, [-1.0] * 8), (3, [5.0] * 8)],
        "vec_id long, embedding array<float>",
    )
    p = Pipeline("semdedup").add_operation(
        "dedup", "semantic_dedup", k=2, iters=1, threshold=0.999, dim=8
    )
    p2 = Pipeline.from_json(p.to_json())
    out = {r["vec_id"] for r in p2.process(df).collect()}
    # ids 0/1 are exact dups -> higher id dropped; 2 and 3 survive
    assert out == {0, 2, 3}


def test_hard_negatives_excludes_same_label(spark):
    from sensordatapipelines_spark.operators.similarity import hard_negatives

    rows = [
        (1, [1.0, 0.0], "a"),
        (2, [0.99, 0.1], "a"),   # most similar to 1, SAME label -> excluded
        (3, [0.9, 0.2], "b"),    # best different-label negative
        (4, [0.0, 1.0], "b"),
        (5, [-1.0, 0.0], "c"),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    out = hard_negatives(df, df.filter("vec_id = 1"), k=2).collect()
    got = [(r.vec_id, r.neg_label, r.rank) for r in sorted(out, key=lambda r: r.rank)]
    assert got == [(3, "b", 1), (4, "b", 2)]
    assert all(r.neg_label != "a" for r in out)


def test_pq_encode_codes_shape_and_determinism(spark):
    import numpy as np
    from sensordatapipelines_spark.operators.similarity import (
        pq_encode,
        pq_seed_codebooks,
    )

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((60, 16)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    cbs = pq_seed_codebooks(df, m=4, k_codes=8, dim=16)
    assert len(cbs) == 4 and len(cbs[0]) == 8 and len(cbs[0][0]) == 4
    out1 = {r.vec_id: list(r.pq_code) for r in pq_encode(df, cbs).collect()}
    out2 = {r.vec_id: list(r.pq_code) for r in pq_encode(df, cbs).collect()}
    assert out1 == out2
    assert all(len(c) == 4 and all(1 <= x <= 8 for x in c) for c in out1.values())
    # seed vectors quantize each subspace to themselves (distance 0 to
    # their own centroid), so vec 0..7's code j must be its own index... only
    # guaranteed when its slice IS centroid j — check exact-zero distance:
    for i in range(8):
        numpy_codes = []
        for j in range(4):
            sl = vecs[i, j * 4:(j + 1) * 4].astype("float64")
            d = [float(((sl - np.array(c, dtype="float64")) ** 2).sum()) for c in cbs[j]]
            numpy_codes.append(d.index(min(d)) + 1)
        assert out1[i] == numpy_codes


def test_pq_topk_matches_numpy_adc(spark):
    import numpy as np
    from sensordatapipelines_spark.operators.similarity import (
        pq_seed_codebooks,
        pq_topk,
    )

    rng = np.random.default_rng(12)
    vecs = rng.standard_normal((80, 16)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    out = pq_topk(df, df.filter("vec_id < 3"), k=4, m=4, k_codes=8, dim=16)
    got = {(r.query_id, r.rank): r.vec_id for r in out.collect()}

    cbs = pq_seed_codebooks(df, m=4, k_codes=8, dim=16)
    v64 = vecs.astype("float64")
    codes = np.zeros((80, 4), dtype=int)
    for j in range(4):
        cb = np.array(cbs[j], dtype="float64")  # (8, 4)
        d = ((v64[:, None, j * 4:(j + 1) * 4] - cb[None]) ** 2).sum(-1)
        codes[:, j] = d.argmin(1)
    for q in range(3):
        adc = np.zeros(80)
        for j in range(4):
            cb = np.array(cbs[j], dtype="float64")
            lut = ((v64[q, j * 4:(j + 1) * 4] - cb) ** 2).sum(-1)
            adc += lut[codes[:, j]]
        order = sorted((a, i) for i, a in enumerate(adc) if i != q)[:4]
        for rank, (_, i) in enumerate(order, 1):
            assert got[(q, rank)] == i


def test_ivfpq_candidates_are_cell_pruned_subset_of_pq(spark):
    """IVF-PQ returns the same ADC distances PQ would for the vectors it
    keeps (same codes, same LUTs) — the cell pruning only shrinks the
    candidate set, never rescores."""
    import numpy as np
    from sensordatapipelines_spark.operators.similarity import ivf_pq_topk, pq_topk

    rng = np.random.default_rng(21)
    vecs = rng.standard_normal((120, 16)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    q = df.filter("vec_id < 2")
    full = {
        (r.query_id, r.vec_id): r.adc_dist
        for r in pq_topk(df, q, k=120, m=4, k_codes=8, dim=16).collect()
    }
    pruned = ivf_pq_topk(
        df, q, k=10, n_cells=4, dim=16, seed=7, m=4, k_codes=8, nprobe=2
    ).collect()
    assert pruned
    for r in pruned:
        assert full[(r.query_id, r.vec_id)] == r.adc_dist
    # ranks are contiguous per query
    by_q = {}
    for r in pruned:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_pq_encode_kernel_expr_twins_bit_identical(spark):
    import numpy as np
    from sensordatapipelines_spark.operators.similarity import (
        pq_encode,
        pq_seed_codebooks,
    )

    rng = np.random.default_rng(31)
    vecs = rng.standard_normal((200, 16)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    cbs = pq_seed_codebooks(df, m=4, k_codes=8, dim=16)
    kern = {r.vec_id: list(r.pq_code) for r in pq_encode(df, cbs).collect()}
    expr = {
        r.vec_id: list(r.c)
        for r in df.select("vec_id", pq_codes_expr(F.col("embedding"), cbs).alias("c")).collect()
    }
    assert kern == expr


def test_truncated_cosine_full_dims_equals_exact(spark):
    import numpy as np
    from sensordatapipelines_spark.operators.similarity import (
        cosine_topk,
        truncated_cosine_topk,
    )

    rng = np.random.default_rng(41)
    vecs = rng.standard_normal((60, 16)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    q = df.filter("vec_id < 3")
    full = {(r.query_id, r.rank): r.vec_id for r in cosine_topk(df, q, k=5).collect()}
    trunc = {(r.query_id, r.rank): r.vec_id
             for r in truncated_cosine_topk(df, q, k=5, use_dims=16).collect()}
    assert full == trunc
    # truncating genuinely changes the ranking somewhere
    t4 = {(r.query_id, r.rank): r.vec_id
          for r in truncated_cosine_topk(df, q, k=5, use_dims=4).collect()}
    assert t4 != full


def test_sign_pack_and_hamming_topk(spark):
    """Sign packing is MSB-first over each 32-dim half (strictly-positive
    test, never touching the int64 sign bit) and hamming_topk ranks by
    exact popcount with id tie-break."""
    from pyspark.sql import functions as F

    from sensordatapipelines_spark.operators.similarity import (
        hamming_topk,
        sign_pack_expr,
    )

    vecs = [
        (0, [1.0] * 32 + [-1.0] * 32),          # w0 = 2^32-1, w1 = 0
        (1, [1.0] * 32 + [-1.0] * 32),          # identical -> distance 0
        (2, [1.0] * 31 + [-1.0] + [-1.0] * 32), # 1 bit off
        (3, [-1.0] * 64),                       # 32 bits off
        (4, [0.0] * 64),                        # zeros pack as 0 (not > 0)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    packed = df.select(
        "vec_id",
        sign_pack_expr(F.col("embedding"), 1, 32).alias("w0"),
        sign_pack_expr(F.col("embedding"), 33, 32).alias("w1"),
    ).collect()
    by_id = {r["vec_id"]: (r["w0"], r["w1"]) for r in packed}
    assert by_id[0] == (2**32 - 1, 0)
    assert by_id[2] == (2**32 - 2, 0)
    assert by_id[3] == (0, 0)
    assert by_id[4] == (0, 0)

    got = hamming_topk(df, df.filter(F.col("vec_id") == 0), k=4, dim=64)
    rows = {(r["vec_id"]): (r["hamming"], r["rank"]) for r in got.collect()}
    assert rows[1] == (0, 1)
    assert rows[2] == (1, 2)
    # ids 3 and 4 tie at 32 bits -> id tie-break
    assert rows[3] == (32, 3) and rows[4] == (32, 4)

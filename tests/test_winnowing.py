"""Winnowing fingerprints (MOSS scheme) and positional phrase search."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


def _winnow_fp_sets_expr(df, id_col, text_col, k, window):
    """Pure-JVM twin of ``_winnow_fp_sets``, the shape the DuckDB oracle
    mirrors: posexplode the k-gram positions, scrambled poly hash per
    gram, window-min over ``window`` FOLLOWING rows, distinct."""
    from sensordatapipelines_spark.operators.sketches import CMS_A, CMS_B
    from sensordatapipelines_spark.operators.text import (
        POLY_MOD,
        lower_ascii_expr,
        poly_hash_expr,
    )

    norm = F.regexp_replace(lower_ascii_expr(F.trim(F.col(text_col))), "[ \\t\\n\\x0b\\f\\r]+", " ")
    n = F.length(norm)
    grams = df.select(
        F.col(id_col).alias("__id"),
        norm.alias("__t"),
        F.explode(
            F.when(
                n >= F.lit(int(k)), F.sequence(F.lit(1), n - F.lit(int(k) - 1))
            ).otherwise(F.array().cast("array<int>"))
        ).alias("__pos"),
    )
    gram = F.col("__t").substr(F.col("__pos"), F.lit(int(k)))
    hashed = grams.select(
        "__id",
        "__pos",
        (
            (F.lit(CMS_A[0]) * poly_hash_expr(gram) + F.lit(CMS_B[0]))
            % F.lit(POLY_MOD)
        ).alias("__h"),
    )
    w = (
        Window.partitionBy("__id")
        .orderBy(F.asc_nulls_last("__pos"))
        .rowsBetween(Window.currentRow, int(window) - 1)
    )
    return (
        hashed.withColumn("__wmin", F.min("__h").over(w))
        .withColumn("__n", F.max("__pos").over(Window.partitionBy("__id")))
        .filter(
            (F.col("__pos") <= F.col("__n") - F.lit(int(window) - 1))
            | (F.col("__pos") == F.lit(1))
        )
        .select("__id", F.col("__wmin").alias("fp"))
        .distinct()
    )


def test_winnowing_guarantee_shared_substring(spark):
    """Any shared substring of length >= k + window - 1 must contribute at
    least one identical fingerprint to both documents (the paper's core
    coverage theorem) — here a copied 60-char passage inside otherwise
    disjoint texts."""
    from sensordatapipelines_spark.operators.dedup import (
        winnowing_fingerprints,
        winnowing_pairs,
    )

    passage = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma " + passage + " delta epsilon zeta"),
            (2, "one two three four five " + passage + " six seven"),
            (3, "completely unrelated words nothing shared here at all"),
        ],
        "doc_id long, text string",
    )
    pairs = winnowing_pairs(
        docs, k=8, window=4, min_shared=1
    ).collect()
    keys = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in keys
    p12 = next(r for r in pairs if (r.id_a, r.id_b) == (1, 2))
    assert p12.shared_fps >= 3  # a 60-char run selects several fingerprints
    assert 0.0 < p12.overlap <= 1.0
    # doc 3 shares no >=11-char run with anything: any accidental pair
    # must carry far fewer shared fingerprints than the true pair
    for r in pairs:
        if 3 in (r.id_a, r.id_b):
            assert r.shared_fps < p12.shared_fps

    fps = {r.doc_id: r for r in winnowing_fingerprints(docs).collect()}
    for d in (1, 2, 3):
        assert fps[d].n_fps > 0
        assert 0 <= fps[d].fp_checksum < 2147483647
        assert fps[d].n_fps <= fps[d].n_grams


def test_winnowing_kernel_expr_twins_bit_equal(spark):
    """The Arrow kernel and the pure-JVM expression form must select the
    IDENTICAL fingerprint sets (the oracle mirrors the expr twin)."""
    from sensordatapipelines_spark.operators.dedup import _winnow_fp_sets

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "  Mixed   CASE and    irregular whitespace   here  "),
            (3, ""),
            (4, "short"),
            (5, "exactly8"),
            (6, "unicode çöntent weirdness π∂ß mixed in ascii text flow"),
        ],
        "doc_id long, text string",
    )
    kern = {
        (r["__id"], r["fp"])
        for r in _winnow_fp_sets(docs, "doc_id", "text", 8, 4).collect()
    }
    expr = {
        (r["__id"], r["fp"])
        for r in _winnow_fp_sets_expr(docs, "doc_id", "text", 8, 4).collect()
    }
    assert kern == expr and kern


def test_winnowing_short_and_empty_docs(spark):
    from sensordatapipelines_spark.operators.dedup import winnowing_fingerprints

    docs = spark.createDataFrame(
        [(1, ""), (2, "tiny"), (3, "exactly8"), (4, "a bit longer text")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in winnowing_fingerprints(docs).collect()}
    assert (out[1].n_grams, out[1].n_fps) == (0, 0)
    assert (out[2].n_grams, out[2].n_fps) == (0, 0)  # < k chars: no gram
    assert (out[3].n_grams, out[3].n_fps) == (1, 1)  # one gram, one window
    assert out[4].n_fps >= 1


def test_winnowing_max_df_drops_boilerplate(spark):
    """A fingerprint present in every document is boilerplate: with
    max_df below the corpus size the all-shared passage stops producing
    pairs."""
    from sensordatapipelines_spark.operators.dedup import winnowing_pairs

    boiler = "standard header boilerplate text present everywhere always"
    docs = spark.createDataFrame(
        [(i, boiler + f" unique{i} tail{i} words{i}") for i in range(6)],
        "doc_id long, text string",
    )
    with_pairs = winnowing_pairs(docs, min_shared=1).collect()
    assert with_pairs  # boilerplate makes everything match...
    filtered = winnowing_pairs(docs, min_shared=1, max_df=2).collect()
    assert not filtered  # ...until the noise threshold drops it


def test_phrase_search_adjacency_not_substring(spark):
    from sensordatapipelines_spark.operators.text import phrase_search

    docs = spark.createDataFrame(
        [
            (1, "data line up data line down"),          # 2 hits
            (2, "data lineage is not a data line hit twice no once"),  # 1 hit
            (3, "line data reversed no match"),           # 0
            (4, "DATA LINE uppercase normalizes"),        # 1 hit, pos 0
        ],
        "doc_id long, text string",
    )
    out = phrase_search(docs, ["data", "line"], top_k=10).collect()
    got = [(r.doc_id, r.n_hits, r.first_pos) for r in out]
    # ordering: n_hits desc, first_pos asc, doc_id asc
    assert got == [(1, 2, 0), (4, 1, 0), (2, 1, 5)]


def test_winnowing_string_ids_and_large_k(spark):
    """ADVICE r5 regressions: (a) string doc ids must pass through the
    kernel at native type (the old long-cast collapsed them to NULL);
    (b) k >= 13 with astral codepoints must not wrap int64 — the Horner
    per-step-mod fold is exact for any k and bit-equal to the expr twin."""
    from sensordatapipelines_spark.operators.dedup import _winnow_fp_sets

    docs = spark.createDataFrame(
        [
            ("doc-alpha", "the quick brown fox jumps over the lazy dog"),
            ("doc-beta", "astral \U0001F600\U0001F4A9\U0001F680 payload "
                          "with wide \U0010FFFD codepoints spread through"),
            ("doc-gamma", "the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id string, text string",
    )
    for k in (8, 13, 16):
        kern = {
            (r["__id"], r["fp"])
            for r in _winnow_fp_sets(docs, "doc_id", "text", k, 4).collect()
        }
        expr = {
            (r["__id"], r["fp"])
            for r in _winnow_fp_sets_expr(docs, "doc_id", "text", k, 4).collect()
        }
        assert kern == expr and kern, f"k={k}"
        ids = {i for i, _ in kern}
        assert ids == {"doc-alpha", "doc-beta", "doc-gamma"}, f"k={k}: {ids}"
    # identical docs share identical fingerprint sets
    a = {fp for i, fp in kern if i == "doc-alpha"}
    g = {fp for i, fp in kern if i == "doc-gamma"}
    assert a == g


@pytest.mark.parametrize(
    "bad", [{"k": 0}, {"window": 0}, {"window": -1}], ids=["k0", "window0", "window-1"]
)
def test_winnowing_rejects_nonpositive_k_and_window(spark, bad):
    """A k-gram size or window below 1 raises ``ValueError`` at call time,
    before any job starts — not later inside a Python worker at the
    action (numpy's empty-window reduction error)."""
    from sensordatapipelines_spark.operators.dedup import (
        winnowing_fingerprints,
        winnowing_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    group = "winnowing_bad_args_" + "_".join(f"{k}{v}" for k, v in bad.items())
    sc = spark.sparkContext
    sc.setJobGroup(group, "argument check only")
    try:
        for op in (winnowing_fingerprints, winnowing_pairs):
            with pytest.raises(ValueError, match="winnowing"):
                op(docs, **bad)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []

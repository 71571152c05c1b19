"""Text analysis + dedup family tests (charter extensions, SURVEY §2.7)."""

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from sensordatapipelines_spark.operators.dedup import (
    duplicate_groups,
    exact_dedup,
    jaccard_pairs,
    simhash,
    simhash_buckets,
)
from sensordatapipelines_spark.operators.text import (
    fingerprint,
    lang_id,
    quality_score,
    text_stats,
)
from sensordatapipelines_spark.operators.utility import dedup_keep_first


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different words entirely here now"),
            (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
            (5, ""),
        ],
        "doc_id long, text string",
    )


# -- pure-JVM expression twins of the text kernels ---------------------------
# Each operator runs its Arrow kernel only; these expressions are the shape
# the DuckDB oracles mirror, kept here as the references the twin tests
# compare the kernels against.


def word_ngrams_expr(text, n: int):
    """Twin of ``word_ngrams_kernel``: ``transform(sequence(0, size-n),
    i -> concat_ws(' ', slice(tokens, i+1, n)))``."""
    from sensordatapipelines_spark.operators.text import tokens_expr

    toks = tokens_expr(text)
    count = F.size(toks) - F.lit(n - 1)
    return F.when(count <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), count - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def max_repeat_count_expr(arr):
    """Twin of ``_max_count_udf``: the count of the most frequent element
    as the longest run in the SORTED array (``array_sort`` + struct fold).
    Empty array → 0."""
    s = F.array_sort(arr)
    return F.aggregate(
        s,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )


def quality_expr(t):
    """Twin of ``_quality_kernel`` (unrounded), composed from the
    ``text_stats`` feature expressions."""
    from sensordatapipelines_spark.operators.text import (
        mean_token_len_expr,
        punct_ratio_expr,
        stopword_ratio_expr,
        token_count_expr,
    )

    n_tok = token_count_expr(t).cast("double")
    len_score = F.least(n_tok / F.lit(64.0), F.lit(1.0))
    mtl = mean_token_len_expr(t)
    tok_score = F.when((mtl >= 3.0) & (mtl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    stop_score = F.least(stopword_ratio_expr(t) * F.lit(4.0), F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio_expr(t) * F.lit(4.0))
    return (len_score + tok_score + stop_score + punct_pen) / F.lit(4.0)


def lang_id_expr(t):
    """Twin of ``_lang_id_kernel``: per-language marker-hit ratio scans,
    argmax with alphabetical tiebreak, 'und' when no marker hits."""
    from sensordatapipelines_spark.operators.text import (
        LANG_MARKERS,
        lower_ascii_expr,
        tokens_expr,
    )

    toks = tokens_expr(lower_ascii_expr(t))
    n = F.size(toks)
    score = {
        lang: F.when(
            n > 0,
            F.size(F.filter(toks, lambda x: x.isin(*LANG_MARKERS[lang]))).cast("double")
            / n.cast("double"),
        ).otherwise(F.lit(0.0))
        for lang in sorted(LANG_MARKERS)
    }
    best = F.greatest(*score.values())
    pred = F.lit("und")
    # Reverse alphabetical fold so the *alphabetically first* max wins.
    for lang in sorted(LANG_MARKERS, reverse=True):
        pred = F.when((best > 0) & (score[lang] == best), F.lit(lang)).otherwise(pred)
    return pred


def test_text_stats_token_edges(spark):
    rows = {r["doc_id"]: r for r in text_stats(_docs(spark), "text").collect()}
    assert rows[1]["n_tokens"] == 9
    assert rows[5]["n_tokens"] == 0          # empty text → 0 tokens
    assert rows[5]["mean_token_len"] == 0.0
    assert rows[1]["stopword_ratio"] == pytest.approx(2 / 9)  # 'the' ×2


def test_quality_score_range(spark):
    out = quality_score(_docs(spark), "text")
    for r in out.collect():
        assert 0.0 <= r["quality"] <= 1.0


def test_lang_id_markers(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat is on the mat and it is happy"),
            (2, "der hund ist nicht zu haus und das ist gut"),
            (3, "xyzzy qwerty plugh"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["lang_pred"] for r in lang_id(docs).collect()}
    assert rows[1] == "en"
    assert rows[2] == "de"
    assert rows[3] == "und"


def test_fingerprint_known_value_and_stability(spark):
    docs = spark.createDataFrame([(1, "ab"), (2, "ab"), (3, "ba")], "doc_id long, text string")
    rows = {r["doc_id"]: r["fp"] for r in fingerprint(docs).collect()}
    # h("ab") = (0*31+97)*31 + 98 = 3105
    assert rows[1] == 97 * 31 + 98
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_token_counts_bpe_classes(spark):
    from sensordatapipelines_spark.operators.text import token_counts

    docs = spark.createDataFrame(
        [(1, "hello world 42 foo-bar!"), (2, "")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in token_counts(docs, "text").collect()}
    r = rows[1]
    # BPE-ish split: hello|world|42|foo|-|bar|!  → 7 tokens
    assert r["n_tokens_ws"] == 4
    assert r["n_tokens_bpe"] == 7
    assert r["n_words"] == 4          # hello world foo bar
    assert r["n_numbers"] == 1        # 42
    assert r["n_symbols"] == 2        # - !
    assert rows[2]["n_tokens_bpe"] == 0 and rows[2]["n_tokens_ws"] == 0


def test_ann_ivf_deterministic_and_bucketed(spark):
    from sensordatapipelines_spark.operators.similarity import ann_ivf_topk

    import numpy as np

    rng = np.random.default_rng(7)
    vecs = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(20)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = ann_ivf_topk(df, df.filter("vec_id < 2"), k=3, n_cells=2, dim=8, seed=1)
    rows = out.collect()
    assert all(r["rank"] <= 3 for r in rows)
    # deterministic across runs
    rows2 = ann_ivf_topk(df, df.filter("vec_id < 2"), k=3, n_cells=2, dim=8, seed=1).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_exact_dedup_keep_min_id(spark):
    out = exact_dedup(_docs(spark), ["text"], "doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2, 3, 5]
    groups = duplicate_groups(_docs(spark), ["text"], "doc_id").collect()
    assert len(groups) == 1 and groups[0]["keep_id"] == 1 and groups[0]["n_dups"] == 2


def test_dedup_keep_first_utility(spark):
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)], "id long, k string, v double"
    )
    out = dedup_keep_first(df, ["k"], order_col="id")
    assert {r["id"] for r in out.collect()} == {1, 3}


def test_jaccard_identical_docs_score_one(spark):
    pairs = jaccard_pairs(_docs(spark), n=3, threshold=0.5).collect()
    by_pair = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert by_pair[(1, 4)] == 1.0
    # docs 1 and 2 share 6 of 7+7 distinct 3-grams → jaccard 6/8
    assert by_pair[(1, 2)] == pytest.approx(6 / 8)
    assert (1, 3) not in by_pair


def test_jaccard_stop_shingle_cap_bounds_candidates(spark):
    """Skew guard: a corpus-common shingle must NOT create O(df²) candidate
    pairs. Every doc shares one hot trigram ('the quick fox'); the rest of
    each doc is unique. With the cap below the corpus size the hot shingle
    is a stop-shingle: no pairs survive. With the cap off, all 45 pairs
    become candidates (jaccard > 0 for every pair through the hot shingle)."""
    docs = spark.createDataFrame(
        [(i, "the quick fox " + " ".join(f"w{i}x{j}" for j in range(6))) for i in range(10)],
        "doc_id long, text string",
    )
    capped = jaccard_pairs(docs, n=3, threshold=1e-9, max_shingle_df=5).collect()
    assert capped == []  # hot shingle excluded -> no shared shingles remain
    uncapped = jaccard_pairs(docs, n=3, threshold=1e-9, max_shingle_df=None).collect()
    assert len(uncapped) == 45  # quadratic in df without the guard
    # A shingle at exactly the cap is kept (boundary: df <= cap passes).
    at_cap = jaccard_pairs(docs, n=3, threshold=1e-9, max_shingle_df=10).collect()
    assert len(at_cap) == 45


def test_jaccard_cap_consistent_sizes(spark):
    """With the cap active, sizes and intersections use the SAME filtered
    shingle sets — the score stays a true Jaccard over kept shingles."""
    docs = spark.createDataFrame(
        [
            (1, "hot common gram alpha beta gamma"),
            (2, "hot common gram alpha beta delta"),
            (3, "hot common gram zz yy xx"),
        ],
        "doc_id long, text string",
    )
    # 'hot common gram' appears in all 3 docs; cap=2 removes it. Docs 1,2
    # then share {common gram alpha, gram alpha beta} of 3+3 kept shingles
    # each... compute: doc1 kept trigrams: (common gram alpha),(gram alpha
    # beta),(alpha beta gamma); doc2: ...,(alpha beta delta). inter=2,
    # union=4 -> 0.5.
    out = jaccard_pairs(docs, n=3, threshold=0.4, max_shingle_df=2).collect()
    by = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    assert by[(1, 2)] == pytest.approx(0.5)
    assert (1, 3) not in by and (2, 3) not in by


def test_minhash_native_exact_dup_scores_one(spark):
    from sensordatapipelines_spark.operators.dedup import minhash_pairs, minhash_signature

    pairs = minhash_pairs(_docs(spark), threshold=0.5)
    by = {(r["id_a"], r["id_b"]): r["minhash_jaccard"] for r in pairs.collect()}
    assert by[(1, 4)] == 1.0          # exact dup → all 16 components agree
    assert (1, 3) not in by           # disjoint shingles → no shared band
    # Deterministic: the seeded hash family gives identical signatures per run.
    s1 = sorted(map(tuple, minhash_signature(_docs(spark)).collect()))
    s2 = sorted(map(tuple, minhash_signature(_docs(spark)).collect()))
    assert s1 == s2
    # Doc 5 (empty text) has no shingles → excluded from signatures.
    assert {t[0] for t in s1} == {1, 2, 3, 4}


def test_simhash_poly_mode_portable_range(spark):
    fp = {
        r["doc_id"]: r["simhash"]
        for r in simhash(_docs(spark), hash_mode="poly", bits=31).collect()
    }
    assert fp[1] == fp[4]             # identical docs → identical fingerprints
    assert all(0 <= v < 2**31 for v in fp.values())


def test_simhash_identical_docs_equal_and_bucket_join(spark):
    fp = {r["doc_id"]: r["simhash"] for r in simhash(_docs(spark)).collect()}
    assert fp[1] == fp[4]
    assert fp[1] != fp[3]
    cand = {(r["id_a"], r["id_b"]) for r in simhash_buckets(_docs(spark)).collect()}
    assert (1, 4) in cand


def test_decontaminate_drops_only_overlapping_docs(spark):
    """A corpus doc sharing an n-gram with ANY benchmark doc is dropped;
    docs with no shared shingle (or too short to shingle) survive."""
    from sensordatapipelines_spark.operators.dedup import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated sentence about spark engines here"),
            (3, "too short"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "we saw the quick brown fox jumps far away")],
        "doc_id long, text string",
    )
    kept = sorted(
        r["doc_id"] for r in decontaminate(corpus, bench, n=4).collect()
    )
    assert kept == [2, 3]


def test_connected_components_transitive_chain(spark):
    """A–B, B–C chain collapses to one component labeled by the min id;
    disjoint D–E stays separate; convergence beats max_iter."""
    from sensordatapipelines_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (5, 4), (7, 8), (8, 9), (9, 10)], "id_a long, id_b long"
    )
    out = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 7: 7, 8: 7, 9: 7, 10: 7}


def test_connected_components_fused_convergence_no_column_leak(spark):
    """r9 optimization: the convergence test rides the label fold (the
    ``__old`` tag) instead of a per-round labels⋈new_labels join. Pin the
    observable contract: output schema is exactly (node, component), a
    long path still reaches the component minimum (pointer jumping works
    through the fused fold), and max_iter=1 shows the fold's single-round
    labels (neighbor+jump of the identity labeling) — i.e. the tag never
    changes what a round computes."""
    from sensordatapipelines_spark.operators.dedup import connected_components

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "id_a long, id_b long"
    )
    full = connected_components(path)
    assert full.columns == ["node", "component"]
    assert {r["component"] for r in full.collect()} == {1}
    one = {
        r["node"]: r["component"]
        for r in connected_components(path, max_iter=1).collect()
    }
    # one fused round from identity labels: node n folds min over itself,
    # its neighbors, and its label's label (still identity) -> n-1 (n>1)
    assert one[1] == 1 and one[2] == 1 and one[5] == 4 and one[12] == 11


def test_tfidf_topk_ranks_rare_terms_higher(spark):
    """A term unique to one doc outranks a corpus-wide term at equal tf;
    k bounds rows per doc; ties break deterministically."""
    from sensordatapipelines_spark.operators.text import tfidf_topk

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple zebra"),
            (2, "apple banana banana"),
            (3, "apple cherry"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_topk(docs, k=2).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append((r["rnk"], r["term"]))
    assert all(len(v) <= 2 for v in per_doc.values())
    # doc 1: apple tf=2 wins rank 1; zebra (df=1) beats banana (df=2) at tf=1
    assert sorted(per_doc[1]) == [(1, "apple"), (2, "zebra")]


def test_hash_sample_deterministic_and_rate_bounded(spark):
    """Same (salt, key) ⇒ same membership across runs; rate 1.0 keeps all,
    0.0 keeps none; unmapped strata drop."""
    from sensordatapipelines_spark.operators.utility import hash_sample

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(200)], "id long, g string"
    )
    all_a = hash_sample(df, "id", {"a": 1.0}, stratum_col="g").collect()
    assert {r["g"] for r in all_a} == {"a"} and len(all_a) == 100
    none_kept = hash_sample(df, "id", 0.0).count()
    assert none_kept == 0
    s1 = sorted(r["id"] for r in hash_sample(df, "id", 0.5, salt="x").collect())
    s2 = sorted(r["id"] for r in hash_sample(df, "id", 0.5, salt="x").collect())
    assert s1 == s2 and 0 < len(s1) < 200
    # a different salt draws a different sample
    s3 = sorted(r["id"] for r in hash_sample(df, "id", 0.5, salt="y").collect())
    assert s1 != s3


def test_type_token_ratio_repetition_signal(spark):
    from sensordatapipelines_spark.operators.text import type_token_ratio

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),                   # 1 type / 4 tokens
            (2, "all four words differ"),                 # 4 / 4
            (3, ""),                                      # empty → ttr 0
            (4, "Mixed mixed CASE case"),                 # lowercased: 2 / 4
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in type_token_ratio(df).collect()}
    assert rows[1]["ttr"] == 0.25
    assert rows[2]["ttr"] == 1.0
    assert rows[3]["ttr"] == 0.0 and rows[3]["n_tokens"] == 0
    assert rows[4]["n_types"] == 2
    # min_ttr filter drops the repetitive doc
    kept = {r["doc_id"] for r in type_token_ratio(df, min_ttr=0.5).collect()}
    assert kept == {2, 4}


def test_pii_scrub_masks_and_counts(spark):
    from sensordatapipelines_spark.operators.text import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "mail a@b.co and c.d+x@e-f.org today"),
            (2, "call +1-555-123-4567 or +44-202-555-0199"),
            (3, "no pii here"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert rows[1]["n_emails"] == 2 and rows[1]["scrubbed"] == (
        "mail [EMAIL] and [EMAIL] today"
    )
    assert rows[2]["n_phones"] == 2 and rows[2]["scrubbed"] == (
        "call [PHONE] or [PHONE]"
    )
    assert rows[3]["n_emails"] == 0 and rows[3]["scrubbed"] == "no pii here"


def test_sequence_pack_next_fit_by_cumulative_tokens(spark):
    from sensordatapipelines_spark.operators.text import sequence_pack

    # 3-token docs, context 6 → packs of exactly 2 docs, per source stream.
    df = spark.createDataFrame(
        [(i, "a b c", "s0") for i in range(5)]
        + [(10, "x y z", "s1")],
        "doc_id long, text string, source string",
    )
    out = {
        (r["source"], r["pack_id"]): r
        for r in sequence_pack(df, context_len=6).collect()
    }
    assert out[("s0", 0)]["n_docs"] == 2 and out[("s0", 0)]["first_doc"] == 0
    assert out[("s0", 1)]["n_docs"] == 2 and out[("s0", 1)]["last_doc"] == 3
    assert out[("s0", 2)]["n_docs"] == 1
    assert out[("s1", 0)]["n_docs"] == 1
    # token conservation: pack sums add back to the corpus total
    total = sum(r["sum_tokens"] for r in sequence_pack(df, context_len=6).collect())
    assert total == 6 * 3


def test_neardedup_corpus_keeps_representatives(spark):
    from sensordatapipelines_spark.operators.dedup import neardedup_corpus

    out = neardedup_corpus(_docs(spark), threshold=0.5)
    kept = sorted(r["doc_id"] for r in out.collect())
    # docs 1 and 4 are exact dups (same cluster -> keep 1); 2 is a near-dup
    # of 1 above the 0.5 estimated-jaccard threshold -> same cluster;
    # 3 and 5 are unrelated singletons and survive untouched.
    assert 4 not in kept and 1 in kept
    assert 3 in kept and 5 in kept
    # schema unchanged: the operator filters rows, never rewrites them
    assert out.columns == _docs(spark).columns


def test_neardedup_loser_broadcast_is_gated(spark):
    """The loser-side broadcast is a HINT gated on actual loser count, not
    a forced plan choice: above the limit the optimized logical plan has no
    broadcast hint (AQE picks the anti-join strategy), below it the hint is
    present. Results identical either way.

    The gate earns its count: the loser set reads a checkpoint, so without
    the hint the planner shuffles the corpus for the anti-join before AQE
    can turn it into a broadcast. The unhinted executed plan therefore
    carries more hash exchanges than the hinted one."""
    from sensordatapipelines_spark.operators.dedup import neardedup_corpus

    def logical(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    def hash_exchanges(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.split("== Initial Plan ==")[0].count("Exchange hashpartitioning")

    hinted = neardedup_corpus(_docs(spark), threshold=0.5)
    unhinted = neardedup_corpus(_docs(spark), threshold=0.5, broadcast_loser_limit=0)
    assert "broadcast" in logical(hinted).lower()
    assert "broadcast" not in logical(unhinted).lower()
    assert sorted(r["doc_id"] for r in hinted.collect()) == sorted(
        r["doc_id"] for r in unhinted.collect()
    )
    # counted after collect(): AQE finalizes the executed plan on execution
    assert hash_exchanges(unhinted) > hash_exchanges(hinted)


def test_jaccard_stop_shingle_drop_is_observable(spark, filled_without_action):
    """max_shingle_df's semantic shift is measurable: the observation
    reports how many shingles were dropped, before any action on the
    result; 0 drops certifies guarded == exact."""
    from sensordatapipelines_spark.operators.dedup import jaccard_pairs

    docs = _docs(spark)
    got = Observation()
    jaccard_pairs(docs, threshold=0.1, max_shingle_df=2, observation=got)
    assert filled_without_action(got)
    assert got.get["n_distinct_shingles"] > 0
    assert got.get["n_stop_shingles"] >= 1  # the shared boilerplate shingles

    loose_obs = Observation()
    loose = jaccard_pairs(
        docs, threshold=0.1, max_shingle_df=10**6, observation=loose_obs
    )
    # no hot shingle: the broadcast hot set is empty, and the counters
    # still arrive (they end their own checkpoint job)
    assert filled_without_action(loose_obs)
    assert loose_obs.get["n_stop_shingles"] == 0
    loose_rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in loose.collect()}
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, threshold=0.1, max_shingle_df=None).collect()
    }
    # zero drops -> identical to the exact full-set jaccard
    assert loose_rows == exact


def test_chunk_documents_overlap_and_edges(spark):
    from sensordatapipelines_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, "a" * 10), (2, "x" * 25), (3, "")],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, chunk_chars=10, overlap_chars=2)
    rows = sorted(
        ((r["doc_id"], r["chunk_id"], r["chunk_text"]) for r in out.collect())
    )
    # doc 1 fits one chunk exactly; doc 3 is empty -> no rows
    assert rows[0] == (1, 0, "a" * 10)
    # doc 2: step 8 -> chunks at 0, 8, 16; last chunk truncated to 9 chars
    d2 = [r for r in rows if r[0] == 2]
    assert [r[1] for r in d2] == [0, 1, 2]
    assert d2[0][2] == "x" * 10 and d2[2][2] == "x" * 9
    # consecutive chunks overlap by exactly overlap_chars
    assert len(d2[0][2]) + len(d2[1][2]) - 2 * 2 + len(d2[2][2]) + 2 == 25 + 2
    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(docs, chunk_chars=10, overlap_chars=10)


def test_filter_length_outliers_band(spark):
    from sensordatapipelines_spark.operators.text import filter_length_outliers

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in enumerate([1, 10, 11, 12, 13, 500])],
        "doc_id long, text string",
    )
    kept = sorted(
        r["doc_id"]
        for r in filter_length_outliers(docs, lo=0.2, hi=0.8).collect()
    )
    # p20/p80 of [1,10,11,12,13,500] (linear interp) = 10, 13 -> middle four
    assert kept == [1, 2, 3, 4]


def test_canonical_dedup_case_punct_whitespace(spark):
    from sensordatapipelines_spark.operators.dedup import canonical_dedup

    docs = spark.createDataFrame(
        [
            (1, "The quick, brown fox!"),
            (2, "the  quick brown   fox"),   # same after canonicalization
            (3, "THE QUICK BROWN FOX."),     # same again
            (4, "a different document"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in canonical_dedup(docs).collect())
    assert kept == [1, 4]


def _boilerplate_corpus(spark, n=120):
    """Adversarial skew fixture: half the corpus shares one boilerplate
    sentence (the classic terms-of-service/footer case); every doc also has
    unique filler, so no pair is a true near-duplicate."""
    rows = []
    for i in range(n):
        text = f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i}"
        if i % 2 == 0:
            text += " all rights reserved contact support for help today"
        rows.append((i, text))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_jaccard_skew_cap_bounds_candidates(spark):
    """On the boilerplate fixture the UNguarded shared-shingle join emits
    O((n/2)^2) pairs; with the cap the boilerplate shingles are dropped and
    candidate pairs collapse to zero — the quadratic blow-up the guard
    exists to prevent, proven rather than assumed."""
    from sensordatapipelines_spark.operators.dedup import jaccard_pairs

    docs = _boilerplate_corpus(spark, n=120)
    unguarded = jaccard_pairs(docs, threshold=0.01, max_shingle_df=None).count()
    assert unguarded == 60 * 59 // 2  # every boilerplate pair surfaces

    got = Observation()
    guarded = jaccard_pairs(docs, threshold=0.01, max_shingle_df=20, observation=got)
    assert guarded.count() == 0  # no informative shingle is ever shared
    assert got.get["n_stop_shingles"] >= 5  # the boilerplate shingles were cut


def test_minhash_hot_bucket_cap_bounds_candidates(spark):
    """The banded join's quadratic risk is the hot BUCKET: identical docs
    all but guarantee full-band agreement. With max_band_df the hot buckets
    are excluded and the pair listing stays bounded; without it the
    near-identical cluster emits O(d^2) pairs."""
    from sensordatapipelines_spark.operators.dedup import minhash_pairs

    # 40 identical docs (one mega-cluster) + 40 unique docs
    rows = [(i, "exactly the same boilerplate page content for every mirror host")
            for i in range(40)]
    rows += [(100 + i, f"unique{i} body{i} text{i} never{i} repeats{i}") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    unguarded = minhash_pairs(docs, threshold=0.5).count()
    assert unguarded == 40 * 39 // 2  # the cluster's full pair listing

    got = Observation()
    guarded = minhash_pairs(docs, threshold=0.5, max_band_df=10, observation=got)
    # an empty result (every candidate was in a hot bucket) still reports
    assert guarded.count() == 0
    assert got.get["n_hot_buckets"] >= 1
    assert got.get["n_buckets"] > got.get["n_hot_buckets"]  # only the hot set was cut


def test_dedup_cap_counters_read_zero_on_empty_input(spark):
    """An empty corpus reads 0 on every counter, never None and never a
    missing row."""
    from sensordatapipelines_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
        minhash_pairs,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    for op in (jaccard_pairs, containment_pairs):
        obs = Observation()
        assert op(empty, max_shingle_df=2, observation=obs).count() == 0
        assert obs.get == {"n_stop_shingles": 0, "n_distinct_shingles": 0}
    obs = Observation()
    assert minhash_pairs(empty, max_band_df=2, observation=obs).count() == 0
    assert obs.get == {"n_hot_buckets": 0, "n_buckets": 0}


def test_observation_without_a_cap_is_rejected_before_any_job(spark):
    """With the cap off there is nothing to observe, and ``Observation.get``
    would block forever: the call raises instead, before any Spark job."""
    from sensordatapipelines_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
        minhash_pairs,
    )

    docs = _docs(spark)
    group = "observation_without_cap"
    sc = spark.sparkContext
    sc.setJobGroup(group, "argument check only")
    try:
        for op in (jaccard_pairs, containment_pairs):
            with pytest.raises(ValueError, match="max_shingle_df"):
                op(docs, max_shingle_df=None, observation=Observation())
        with pytest.raises(ValueError, match="max_band_df"):
            minhash_pairs(docs, observation=Observation())  # cap off by default
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_max_repeat_count_fold(spark):
    df = spark.createDataFrame(
        [
            (1, ["a", "b", "a", "c", "a"]),   # 'a' ×3
            (2, ["x"]),                       # singleton
            (3, []),                          # empty → 0
            (4, ["z", "z", "z", "z"]),        # all same
        ],
        "id long, arr array<string>",
    )
    out = {
        r["id"]: r["m"]
        for r in df.select("id", max_repeat_count_expr(F.col("arr")).alias("m")).collect()
    }
    assert out == {1: 3, 2: 1, 3: 0, 4: 4}


def test_gopher_quality_gates(spark):
    from sensordatapipelines_spark.operators.text import gopher_quality

    healthy = (
        "the quick brown fox jumps over the lazy dog while many other animals "
        "watch from distant hills and rivers that flow gently toward open "
        "valleys in warm summer light"
    )
    docs = spark.createDataFrame(
        [
            (1, healthy),                      # healthy prose, long enough
            (2, "spam ham " * 30),             # one bigram dominates → drop
            (3, "the dog"),                    # too short → drop
            (4, ""),                           # empty → drop
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in gopher_quality(docs).collect()}
    assert rows[1]["keep"] is True
    assert rows[2]["keep"] is False and rows[2]["top_bigram_frac"] > 0.15
    assert rows[3]["keep"] is False and rows[3]["n_tokens"] == 2
    assert rows[4]["keep"] is False and rows[4]["n_tokens"] == 0
    # signals are bounded
    for r in rows.values():
        assert 0.0 <= r["dup_unigram_frac"] <= 1.0
        assert 0.0 <= r["top_bigram_frac"] <= 2.0


def test_containment_asymmetry(spark):
    """A short doc quoted inside a long doc: containment ≈ 1 from the short
    side, low from the long side — the case Jaccard misses."""
    from sensordatapipelines_spark.operators.dedup import containment_pairs

    quote = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote + " " + filler)],
        "doc_id long, text string",
    )
    out = {
        (r["id_sub"], r["id_sup"]): r["containment"]
        for r in containment_pairs(docs, threshold=0.9).collect()
    }
    assert out.get((1, 2)) == 1.0      # every shingle of 1 appears in 2
    assert (2, 1) not in out           # the long doc is NOT contained in the short

    # jaccard on the same pair is far below the containment threshold
    from sensordatapipelines_spark.operators.dedup import jaccard_pairs
    j = jaccard_pairs(docs, threshold=0.0).collect()
    assert all(r["jaccard"] < 0.1 for r in j)


# ---------------------------------------------------------------------------
# Round-3 additions: unigram LM scoring, boilerplate n-grams, BM25, mixing
# ---------------------------------------------------------------------------


def test_unigram_logprob_uniform_corpus(spark):
    """On a corpus where every token is equally frequent, every doc's mean
    log-prob equals ln(1/V); an empty doc scores NULL with n_tokens 0."""
    import math

    from sensordatapipelines_spark.operators.text import unigram_logprob

    df = spark.createDataFrame(
        [(1, "a b"), (2, "c d"), (3, "")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    expect = round(math.log(1 / 4), 6)
    assert rows[1]["avg_logprob"] == pytest.approx(expect, abs=1e-6)
    assert rows[2]["avg_logprob"] == pytest.approx(expect, abs=1e-6)
    assert rows[3]["n_tokens"] == 0 and rows[3]["avg_logprob"] is None


def test_unigram_logprob_rare_tokens_score_lower(spark):
    from sensordatapipelines_spark.operators.text import unigram_logprob

    df = spark.createDataFrame(
        [(1, "the the the the"), (2, "zyx")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    assert rows[1]["avg_logprob"] > rows[2]["avg_logprob"]


def test_boilerplate_ngrams_flags_shared_prefix(spark):
    """A 3-gram present in 3/4 docs is boilerplate at min_doc_frac=0.5; the
    unique doc reports zero coverage; short docs report n_grams=0."""
    from sensordatapipelines_spark.operators.text import boilerplate_ngrams

    df = spark.createDataFrame(
        [
            (1, "terms of service apply here"),
            (2, "terms of service apply now"),
            (3, "terms of service differ"),
            (4, "completely original text entirely"),
            (5, "too short"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in boilerplate_ngrams(
            df, n=3, min_doc_frac=0.5, max_boiler_frac=0.4
        ).collect()
    }
    # 'terms of service' occurs in docs 1-3 (df=3 >= 0.5*5=2.5) → boilerplate
    assert out[3]["n_boiler"] >= 1
    assert out[4]["n_boiler"] == 0 and out[4]["keep"]
    assert out[5]["n_grams"] == 0 and out[5]["boiler_frac"] == 0.0
    # doc 3: grams = {'terms of service', 'of service differ'} → frac 0.5 > 0.4
    assert out[3]["boiler_frac"] == pytest.approx(0.5)
    assert not out[3]["keep"]


def test_bm25_ranks_term_frequency_and_rarity(spark):
    """A doc matching the rare term outranks one matching only the common
    term; non-matching docs score 0 and fall out of the top-k ordering."""
    from sensordatapipelines_spark.operators.text import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "needle in the haystack"),
            (2, "the the the the the"),
            (3, "nothing relevant whatsoever"),
            (4, "needle needle sharp"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(df, query_terms=["needle", "the"], k=4).collect()
    ranks = [r["doc_id"] for r in out]
    # doc 1 matches BOTH terms → top; doc 3 matches neither → score 0, last
    assert ranks[0] == 1 and ranks[-1] == 3
    scores = {r["doc_id"]: r["bm25"] for r in out}
    assert scores[3] == 0.0
    assert scores[4] > 0.0  # rare-term-only match still scores


def test_source_mix_temperature_flattens(spark):
    """alpha=0.5 pulls weights toward uniform: the small source's mix
    weight exceeds its natural share, the big source's shrinks; weights
    sum to ~1; alpha=1 reproduces natural shares."""
    from sensordatapipelines_spark.operators.utility import source_mix_temperature

    df = spark.createDataFrame(
        [("big", i) for i in range(90)] + [("small", i) for i in range(10)],
        "source string, x long",
    )
    out = {r["source"]: r for r in source_mix_temperature(df, "source", alpha=0.5).collect()}
    assert out["small"]["mix_weight"] > out["small"]["natural_share"]
    assert out["big"]["mix_weight"] < out["big"]["natural_share"]
    total_w = sum(r["mix_weight"] for r in out.values())
    assert total_w == pytest.approx(1.0, abs=1e-5)
    nat = {
        r["source"]: r
        for r in source_mix_temperature(df, "source", alpha=1.0).collect()
    }
    assert nat["big"]["mix_weight"] == pytest.approx(nat["big"]["natural_share"], abs=1e-5)
    assert nat["big"]["epochs_at_budget"] == pytest.approx(1.0, abs=1e-5)


def test_quality_weighted_sample_rates(spark):
    """Weight 1 keeps everything, weight 0 keeps nothing, weight 0.5 keeps
    roughly half (hash-uniform), and membership is deterministic."""
    from sensordatapipelines_spark.operators.utility import quality_weighted_sample

    df = spark.range(2000).select(
        F.col("id").alias("k"),
        F.lit(1.0).alias("w1"),
        F.lit(0.0).alias("w0"),
        F.lit(0.5).alias("wh"),
    )
    assert quality_weighted_sample(df, "k", "w1").count() == 2000
    assert quality_weighted_sample(df, "k", "w0").count() == 0
    n = quality_weighted_sample(df, "k", "wh").count()
    assert 850 <= n <= 1150
    ids1 = {r["k"] for r in quality_weighted_sample(df, "k", "wh").collect()}
    ids2 = {r["k"] for r in quality_weighted_sample(df, "k", "wh").collect()}
    assert ids1 == ids2


def test_gopher_kernel_expr_twins_identical(spark):
    """The ``np.unique`` max-count kernel and the sorted-run fold count
    the most frequent bigram identically (the one step where
    ``gopher_quality``'s kernel and expression forms differ)."""
    from sensordatapipelines_spark.operators.dedup import word_ngrams_kernel
    from sensordatapipelines_spark.operators.text import _max_count_udf

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and the cat sat again " * 3),
            (2, "spam spam spam spam spam spam spam spam"),
            (3, ""),
            (4, "assorted words of a perfectly ordinary and long enough document "
                "that it should pass every gate with room to spare for sure"),
        ],
        "doc_id long, text string",
    )
    bigrams = docs.select("doc_id", word_ngrams_kernel(2)(F.col("text")).alias("g"))
    a = sorted(map(tuple, bigrams.select("doc_id", _max_count_udf()(F.col("g"))).collect()))
    b = sorted(map(tuple, bigrams.select("doc_id", max_repeat_count_expr(F.col("g"))).collect()))
    assert a == b


def test_incremental_dedup_first_batch_wins(spark):
    """Processing A then B suppresses B's copies of keys seen in A (even
    when B's id is lower), dedups within each batch, and grows the state
    by exactly the new keys."""
    from sensordatapipelines_spark.operators.dedup import incremental_dedup

    day1 = spark.createDataFrame(
        [(10, "alpha"), (11, "beta"), (12, "alpha")], "doc_id long, text string"
    )
    day2 = spark.createDataFrame(
        [(1, "alpha"), (2, "gamma"), (3, "gamma")], "doc_id long, text string"
    )
    s1, state1 = incremental_dedup(day1, None, ["text"], "doc_id")
    assert sorted(r["doc_id"] for r in s1.collect()) == [10, 11]
    s2, state2 = incremental_dedup(day2, state1, ["text"], "doc_id")
    # id 1 ('alpha') is LOWER than day1's 10 but loses: first batch wins
    assert sorted(r["doc_id"] for r in s2.collect()) == [2]
    assert sorted(r["text"] for r in state2.collect()) == ["alpha", "beta", "gamma"]


def test_word_ngrams_kernel_expr_twins_identical(spark):
    """The Arrow shingle kernel and the HOF expression produce the exact
    same string arrays on every edge (empty, blank, sub-n, multi-space)."""
    from sensordatapipelines_spark.operators.dedup import word_ngrams_kernel

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "one  two\tthree"),   # multi-space + tab collapse
            (3, "xy"),                 # sub-n
            (4, ""),
            (5, "   "),
            (6, "a b c"),
            # Spark F.trim strips ONLY the space char: control chars and
            # Unicode spaces must survive the edge-trim identically in
            # both twins (a Python str.strip() kernel would eat them).
            (7, " alpha beta gamma delta "),
            (8, "\x00ctl one two three"),
            (9, "\ttab leading a b c"),
            (10, " \x1f mixed \x01 ends \x1f "),
            (11, " nbsp lead a b c "),  # U+00A0 is NOT ASCII \s
        ],
        "doc_id long, text string",
    )
    for n in (2, 3):
        a = {r["doc_id"]: r["g"] for r in docs.select("doc_id", word_ngrams_expr(F.col("text"), n).alias("g")).collect()}
        b = {r["doc_id"]: r["g"] for r in docs.select("doc_id", word_ngrams_kernel(n)(F.col("text")).alias("g")).collect()}
        assert a == b, n


def test_incremental_neardedup_state_and_rules(spark):
    """Near-dup of a state doc is dropped even at a lower id; within-batch
    lower id wins; sub-n docs survive trivially; state holds survivors'
    signatures only."""
    from sensordatapipelines_spark.operators.dedup import incremental_neardedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    day1 = spark.createDataFrame(
        [(10, base), (11, "totally unrelated words describing other things entirely")],
        "doc_id long, text string",
    )
    day2 = spark.createDataFrame(
        [
            (1, base),                       # near-dup of state doc 10 (lower id!)
            (2, base + " extra"),            # near-dup of 1 AND of state
            (3, "short"),                    # sub-n: no signature, survives
            (4, "fresh new content nobody has ever written before today ok"),
        ],
        "doc_id long, text string",
    )
    kw = dict(n=3, num_hashes=16, band_rows=2, threshold=0.5, seed=42)
    s1, state1 = incremental_neardedup(day1, None, **kw)
    assert sorted(r["doc_id"] for r in s1.collect()) == [10, 11]
    s2, state2 = incremental_neardedup(day2, state1, **kw)
    surv2 = sorted(r["doc_id"] for r in s2.collect())
    assert surv2 == [3, 4]
    # state grew by exactly the signed survivors (3 has no signature)
    assert sorted(r["doc_id"] for r in state2.collect()) == [4, 10, 11]


def test_paragraph_dedup_keep_first_and_reassembly(spark):
    """RefinedWeb-style line dedup: first occurrence (lowest id, pos) wins
    corpus-wide; documents reassemble in original order; a fully-duplicate
    document returns empty, not absent."""
    from sensordatapipelines_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha\nbeta\ngamma"),
            (2, "beta\ndelta"),          # 'beta' seen in doc 1 -> dropped
            (3, "alpha\nbeta"),          # all seen -> empty
            (4, "beta\nbeta\nepsilon"),  # within-doc repeat also dropped
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in paragraph_dedup(docs).collect()}
    assert out[1]["text"] == "alpha\nbeta\ngamma"
    assert out[2]["text"] == "delta" and out[2]["n_paras"] == 2 and out[2]["n_kept"] == 1
    assert out[3]["text"] == "" and out[3]["n_kept"] == 0
    assert out[4]["text"] == "epsilon"
    # totals: 10 paragraphs, 5 distinct survivors
    assert sum(r["n_paras"] for r in out.values()) == 10
    assert sum(r["n_kept"] for r in out.values()) == 5


def test_substring_dedup_removes_later_spans(spark):
    """Lee-et-al span dedup: a duplicated 4-token span keeps its first
    occurrence (lowest (id, start)) and is removed everywhere else;
    overlapping losing spans union; sub-span docs pass through."""
    from sensordatapipelines_spark.operators.dedup import substring_dedup

    docs = spark.createDataFrame(
        [
            (1, "a b c d x y"),            # first occurrence of 'a b c d'
            (2, "p q a b c d r"),          # later occurrence -> removed
            (3, "a b c"),                  # shorter than the span -> kept
            (4, "a b c d e p q a b c d"),  # two dup spans in one doc
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in substring_dedup(docs, span_tokens=4).collect()}
    assert out[1]["text"] == "a b c d x y" and out[1]["n_removed"] == 0
    assert out[2]["text"] == "p q r" and out[2]["n_removed"] == 4
    assert out[3]["text"] == "a b c" and out[3]["n_removed"] == 0
    # doc 4: 'a b c d' (starts 0 and 7) loses to doc 1; 'p q a b' and
    # 'q a b c' (starts 5, 6) lose to doc 2 — the union of losing spans
    # covers every token except position 4 ('e')
    assert out[4]["text"] == "e" and out[4]["n_removed"] == 10
    assert out[4]["n_tokens"] == 11


def test_quality_and_lang_kernel_expr_twins_identical(spark):
    """The Arrow one-pass kernels must be BIT-equal to the expression
    twins on every edge: empty/blank, control chars, punctuation soup,
    marker-mixed languages, sub/super length docs."""
    from sensordatapipelines_spark.operators.text import (
        _lang_id_kernel,
        _quality_kernel,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, ""),
            (3, "   "),
            (4, "!!!,,,...;;;:::???"),
            (5, "der hund und die katze das ist ein haus"),
            (6, "el la de que y en un es " * 8),
            (7, "\tweird\x00 spacing here and the of to a in is that"),
            (8, "x " * 200),
            (9, "supercalifragilistic " * 5),
        ],
        "doc_id long, text string",
    )
    t = F.col("text")
    for col, kern, expr in (
        ("quality", _quality_kernel()(t), quality_expr(t)),
        ("lang_pred", _lang_id_kernel()(t), lang_id_expr(t)),
    ):
        a = {r["doc_id"]: r[col] for r in docs.select("doc_id", kern.alias(col)).collect()}
        b = {r["doc_id"]: r[col] for r in docs.select("doc_id", expr.alias(col)).collect()}
        assert a == b, (col, a, b)


def test_paragraph_and_substring_dedup_null_text(spark):
    """A NULL text must not make the document vanish: it behaves as an
    empty document (one empty paragraph / zero tokens)."""
    from sensordatapipelines_spark.operators.dedup import (
        paragraph_dedup,
        substring_dedup,
    )

    docs = spark.createDataFrame(
        [(1, "alpha\nbeta"), (2, None)], "doc_id long, text string"
    )
    p = {r["doc_id"]: r for r in paragraph_dedup(docs).collect()}
    assert set(p) == {1, 2}
    assert p[2]["n_paras"] == 1 and p[2]["text"] == ""
    s = {r["doc_id"]: r for r in substring_dedup(docs, span_tokens=2).collect()}
    assert set(s) == {1, 2}
    assert s[2]["n_tokens"] == 0 and s[2]["n_removed"] == 0


def test_dsir_importance_weights_twins_and_semantics(spark):
    from sensordatapipelines_spark.operators.text import (
        dsir_importance_weights,
        hashed_bucket_kernel,
        lower_ascii_expr,
        poly_hash_expr,
        tokens_expr,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox", "en"),
            (2, "the quick brown fox", "en"),
            (3, "der schnelle braune fuchs", "de"),
            (4, "le renard brun rapide", "fr"),
            (5, "", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    target = docs.filter("lang = 'en'")
    kern = {
        r.doc_id: r
        for r in dsir_importance_weights(docs, target, n_buckets=256).collect()
    }
    # the hashed unigram+bigram buckets of every document: the Arrow
    # kernel and the tokenize/shingle/poly-hash expression are bit-identical
    t = lower_ascii_expr(F.col("text"))
    feats = F.concat(tokens_expr(t), word_ngrams_expr(t, 2))
    buckets = {
        name: {r.doc_id: r.b for r in docs.select("doc_id", col.alias("b")).collect()}
        for name, col in (
            ("kernel", hashed_bucket_kernel(256)(t)),
            ("expr", F.transform(feats, lambda f: poly_hash_expr(f) % F.lit(256))),
        )
    }
    assert buckets["kernel"] == buckets["expr"]
    # identical docs score identically; target-like docs outscore off-target
    assert kern[1].log_weight == kern[2].log_weight
    assert kern[1].log_weight > kern[3].log_weight
    assert kern[1].log_weight > kern[4].log_weight
    # empty doc: empty product -> weight exactly 0.0, zero features
    assert (kern[5].n_feats, kern[5].log_weight) == (0, 0.0)
    # n_feats = unigrams + bigrams
    assert kern[1].n_feats == 4 + 3


def test_hamming_pairs_banding_is_exact_under_pigeonhole(spark):
    """With n_bands >= max_hamming + 1, the banded join finds EXACTLY the
    all-pairs result — checked against a brute-force recompute over every
    pair, including hashes engineered so the differing bits straddle
    band boundaries."""
    from itertools import combinations

    from sensordatapipelines_spark.operators.dedup import hamming_pairs

    hashes = {
        1: "0123456789abcdef",
        2: "0123456789abcdee",  # 1 bit from #1, in the last band
        3: "1123456789abcdee",  # +1 bit in the FIRST band (2 from #2)
        4: "ffffffffffffffff",
        5: "0123456789abcdef",  # identical to #1
        6: "0323456789abcdee",  # bits spread across first+last bands
    }
    df = spark.createDataFrame(
        list(hashes.items()), "media_id long, dhash string"
    )
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming_pairs(df, max_hamming=4, n_bands=8).collect()
    }

    def ham(x, y):
        return sum(
            bin(int(a, 16) ^ int(b, 16)).count("1") for a, b in zip(x, y)
        )

    want = {
        (a, b): ham(hashes[a], hashes[b])
        for a, b in combinations(sorted(hashes), 2)
        if ham(hashes[a], hashes[b]) <= 4
    }
    assert got == want
    # sanity: the engineered straddling pairs are present
    assert (1, 2) in got and (2, 3) in got and (1, 6) in got


def test_paragraph_lang_profile_mixed_docs(spark):
    from sensordatapipelines_spark.operators.text import (
        _lang_id_kernel,
        paragraph_lang_profile,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog\nder hund ist nicht da\nthe end of it"),
            (2, "el que y la en un\nel es y que en la"),
            (3, "zzz qqq www\n\n   \nthe of and to"),
        ],
        "doc_id long, text string",
    )
    # kernel/expr lang twins agree on every paragraph the profile scores
    paras = docs.select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("pos", "p")
    )
    lang = {
        name: {(r.doc_id, r.pos): r.l for r in paras.select("doc_id", "pos", col.alias("l")).collect()}
        for name, col in (
            ("kernel", _lang_id_kernel()(F.col("p"))),
            ("expr", lang_id_expr(F.col("p"))),
        )
    }
    assert lang["kernel"] == lang["expr"]
    kern = {r.doc_id: r for r in paragraph_lang_profile(docs).collect()}
    assert (kern[1].n_paras, kern[1].top_lang, kern[1].n_langs) == (3, "en", 2)
    assert kern[1].top_frac == 2 / 3  # unrounded tie-free division
    assert (kern[2].n_paras, kern[2].top_lang, kern[2].n_langs) == (2, "es", 1)
    assert kern[2].top_frac == 1.0
    # blank paragraphs dropped; marker-less paragraph scores 'und'
    assert (kern[3].n_paras, kern[3].n_langs) == (2, 2)
    assert kern[3].top_lang in ("en", "und") and kern[3].top_frac == 0.5


def test_contamination_report_measures_leakage(spark):
    from sensordatapipelines_spark.operators.dedup import contamination_report

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),      # verbatim copy
            (2, "intro words alpha beta gamma delta epsilon zeta outro"),
            (3, "totally unrelated content with many words here"),
            (4, "ab"),                                       # < n tokens
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in contamination_report(corpus, bench, n=3).collect()
    }
    assert out[1].hit_frac == 1.0                      # full copy
    assert 0 < out[2].hit_frac < 1.0                   # partial quote
    assert out[3].n_hit == 0 and out[3].hit_frac == 0.0
    assert out[4].n_shingles == 0 and out[4].hit_frac is None


def test_hamming_pairs_rejects_indivisible_hash_length(spark):
    import pytest

    from sensordatapipelines_spark.operators.dedup import hamming_pairs

    df = spark.createDataFrame(
        [(1, "abcde"), (2, "abcde")], "media_id long, dhash string"  # 5 chars, 4 bands
    )
    with pytest.raises(Exception, match="not divisible"):
        hamming_pairs(df, n_bands=4).collect()


def test_hamming_pairs_random_fuzz_matches_bruteforce(spark):
    """128 random 64-bit hashes: the banded join reproduces brute-force
    all-pairs exactly whenever the pigeonhole contract holds."""
    import random
    from itertools import combinations

    from sensordatapipelines_spark.operators.dedup import hamming_pairs

    rng = random.Random(17)
    base = [rng.getrandbits(64) for _ in range(32)]
    # plant near-dups: flip up to 3 random bits of random base hashes
    hashes = {i + 1: f"{h:016x}" for i, h in enumerate(base)}
    nid = len(base) + 1
    for _ in range(96):
        src = rng.choice(base)
        for _ in range(rng.randrange(0, 4)):
            src ^= 1 << rng.randrange(64)
        hashes[nid] = f"{src:016x}"
        nid += 1
    df = spark.createDataFrame(list(hashes.items()), "media_id long, dhash string")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming_pairs(df, max_hamming=3, n_bands=4).collect()
    }

    def ham(x, y):
        return bin(int(x, 16) ^ int(y, 16)).count("1")

    want = {
        (a, b): ham(hashes[a], hashes[b])
        for a, b in combinations(sorted(hashes), 2)
        if ham(hashes[a], hashes[b]) <= 3
    }
    assert got == want and len(want) > 50  # the fuzz actually planted pairs


def test_bigram_logprob_repetition_scores_higher(spark):
    """A perfectly repetitive bigram chain must out-score token soup with
    the same unigram distribution; < 2 tokens -> NULL row kept."""
    from sensordatapipelines_spark.operators.text import bigram_logprob

    docs = [
        (1, "a b a b a b a b a b a b"),
        (2, "a a b b b a a b a b b a"),
        (3, "x"),
        (4, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in bigram_logprob(df).collect()}
    assert out[1].avg_logprob > out[2].avg_logprob
    assert out[3].n_bigrams == 0 and out[3].avg_logprob is None
    assert out[4].n_bigrams == 0 and out[4].avg_logprob is None
    assert out[1].n_bigrams == 11


def test_ngram_novelty_shared_vs_unique(spark):
    from sensordatapipelines_spark.operators.dedup import ngram_novelty

    docs = [
        (1, "the quick brown fox jumps"),      # shares 'the quick brown' w/ 2
        (2, "the quick brown cat sleeps"),
        (3, "completely different unique words here"),
        (4, "ab"),                              # < 3 tokens → NULL
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in ngram_novelty(df, n=3).collect()}
    assert out[3].novelty == 1.0
    assert out[1].n_grams == 3 and out[1].n_novel == 2  # 'the quick brown' shared
    assert abs(out[1].novelty - 2 / 3) < 1e-12
    assert out[4].n_grams == 0 and out[4].novelty is None


def test_rake_keywords_scores_multiword_phrases(spark):
    from sensordatapipelines_spark.operators.text import rake_keywords

    docs = [
        (1, "machine learning is the best and machine learning wins"),
        (2, "machine learning and deep learning for machine learning"),
        (3, "the and is for on with"),  # all stopwords → no phrases
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = rake_keywords(df, top_n=10, min_count=2).collect()
    phrases = {r.phrase: r for r in out}
    assert "machine learning" in phrases
    ml = phrases["machine learning"]
    # 3 standalone occurrences ('machine learning wins' is its own run)
    assert ml.n_count == 3
    # machine: freq 4 (3×ml + 1×mlw), deg 5 → 1.25; learning: freq 5,
    # deg 6 → 1.2; phrase score = 2.45
    assert abs(ml.score - 2.45) < 1e-9
    # no all-stopword phrase leaks through
    assert all(" the " not in f" {p} " for p in phrases)


def test_chi2_terms_perfect_association(spark):
    from sensordatapipelines_spark.operators.text import chi2_terms

    # token "aaa" appears in every class-A doc and no class-B doc (and
    # vice versa for "bbb"); "zzz" is uniform → lowest chi2
    rows = []
    for i in range(6):
        rows.append((i, "aaa zzz", "A"))
    for i in range(6, 12):
        rows.append((i, "bbb zzz", "B"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = chi2_terms(df, min_doc_freq=2, top_k=2).collect()
    top = {(r.lang, r.rank): r for r in out}
    assert top[("A", 1)].token == "aaa"
    assert top[("B", 1)].token == "bbb"
    # perfect association: chi2 == N == 12 -> chi6 == 12e6
    assert top[("A", 1)].chi6 == 12_000_000
    assert (top[("A", 1)].df_in, top[("A", 1)].df_out) == (6, 0)
    # the uniform token scores zero
    assert top[("A", 2)].chi6 == 0


def test_naive_bayes_separable(spark):
    from sensordatapipelines_spark.operators.text import naive_bayes_classify

    rows = []
    for i in range(8):
        rows.append((i, "alpha beta alpha", "A"))
    for i in range(8, 16):
        rows.append((i, "gamma delta gamma", "B"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {(r.lang, r.predicted): r.n_docs
           for r in naive_bayes_classify(df).collect()}
    # perfectly separable vocabulary → diagonal confusion matrix
    assert out == {("A", "A"): 8, ("B", "B"): 8}


def test_naive_bayes_prior_tiebreak(spark):
    from sensordatapipelines_spark.operators.text import naive_bayes_classify

    # identical token distributions: prediction falls to the prior, and
    # with equal priors to the lexicographically smallest class
    rows = [(0, "x y", "A"), (1, "x y", "B")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {(r.lang, r.predicted): r.n_docs
           for r in naive_bayes_classify(df).collect()}
    assert out == {("A", "A"): 1, ("B", "A"): 1}


def test_readability_known_text(spark):
    import math

    from sensordatapipelines_spark.operators.text import readability

    df = spark.createDataFrame(
        [(1, "The cat sat. It ran!"), (2, ""), (3, "no terminal punctuation here")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in readability(df).collect()}
    r1 = out[1]
    assert (r1.n_words, r1.n_sentences, r1.n_vowel_groups) == (5, 2, 5)
    expected = math.floor(
        (206.835 - 1.015 * (5.0 / 2.0) - 84.6 * (5.0 / 5.0)) * 1000.0
    )
    assert r1.flesch1000 == expected
    assert out[2].n_words == 0 and out[2].flesch1000 is None
    assert out[3].n_sentences == 1  # floored at 1


def test_zipf_slope_synthetic_power_law(spark):
    from sensordatapipelines_spark.operators.text import zipf_slope

    # token tN repeated ~ C / N times: a near-exact Zipf corpus
    words = []
    for i in range(1, 31):
        words.extend([f"t{i:02d}"] * (600 // i))
    df = spark.createDataFrame(
        [(0, "xx", " ".join(words))], "doc_id long, lang string, text string"
    )
    out = zipf_slope(df, top_k=30).collect()
    assert len(out) == 1 and out[0].n_points == 30
    slope = out[0].slope_e6 / 1e6
    assert -1.1 < slope < -0.9, slope


def test_audio_dft8_known_tones(spark):
    """A pure bin-2 cosine concentrates its power in bin 2; a DC signal
    in bin 0 — the DFT table/order contract on analytically known
    inputs."""
    import struct

    from pyspark.sql import functions as F

    from sensordatapipelines_spark.operators.multimodal import audio_dft8

    def wav(samples):
        data = struct.pack("<8h", *samples)
        return (
            b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16)
            + struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
            + b"data" + struct.pack("<I", len(data)) + data
        )

    tone2 = [1000, 0, -1000, 0, 1000, 0, -1000, 0]  # cos(2pi*2n/8)*1000
    dc = [500] * 8
    df = spark.createDataFrame(
        [(1, bytearray(wav(tone2))), (2, bytearray(wav(dc)))],
        "media_id long, payload binary",
    )
    media = df.select(
        F.struct(
            F.col("media_id"), F.lit("audio").alias("kind"), F.col("payload")
        ).alias("media")
    )
    got = {(r.media_id, r.bin): r.power_floor for r in audio_dft8(media).collect()}
    assert got[(1, 2)] == 16_000_000  # |X_2|^2 = (4*1000)^2
    assert got[(1, 0)] == 0 and got[(1, 1)] == 0 and got[(1, 4)] == 0
    assert got[(2, 0)] == 16_000_000  # (8*500)^2
    assert all(got[(2, k)] == 0 for k in (1, 2, 3, 4))


def test_setsim_join_complete_vs_brute_force(spark):
    """Prefix filtering must be COMPLETE: the operator's output equals
    brute-force all-pairs exact Jaccard on a corpus with boilerplate
    overlap, near-dups, exact dups, disjoint docs and an empty doc."""
    import itertools

    from sensordatapipelines_spark.operators.dedup import setsim_join

    boiler = "common header words shared by every document in this corpus"
    docs = []
    for i in range(40):
        extra = " ".join(f"tok{i}_{j}" for j in range(i % 6))
        docs.append((i, f"{boiler} {extra}".strip()))
    docs.append((100, docs[3][1]))   # exact duplicate of doc 3
    docs.append((101, ""))           # empty: no tokens, no pairs
    docs.append((102, "totally disjoint vocabulary entirely elsewhere"))
    sdf = spark.createDataFrame(docs, "doc_id long, text string")

    for th in (0.5, 0.8, 1.0):
        got = {
            (r.id_a, r.id_b): (r.n_common, r.size_a, r.size_b, r.jaccard_e6)
            for r in setsim_join(sdf, threshold=th).collect()
        }
        sets = {i: set(t.lower().split()) for i, t in docs if t.strip()}
        want = {}
        for a, b in itertools.combinations(sorted(sets), 2):
            c = len(sets[a] & sets[b])
            u = len(sets[a] | sets[b])
            if c and c * 1_000_000 >= int(round(th * 1_000_000)) * u:
                want[(a, b)] = (c, len(sets[a]), len(sets[b]),
                                c * 1_000_000 // u)
        assert got == want, f"threshold {th}"
        if th == 1.0:
            assert (3, 100) in got  # the planted exact duplicate survives


def test_neardedup_keep_longest_policy(spark):
    """Within a duplicate cluster, the member with the MOST tokens
    survives (id tiebreak); singletons are untouched."""
    from sensordatapipelines_spark.operators.dedup import neardedup_keep_longest

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = [
        (1, base),                       # cluster A: near-identical
        (2, base + " extended with more trailing tokens here"),  # longest
        (3, base + " extended"),
        (10, "completely different content lives here untouched"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r.doc_id
        for r in neardedup_keep_longest(
            df, num_hashes=16, band_rows=2, threshold=0.3, seed=7
        ).collect()
    }
    assert 10 in out and 2 in out
    assert out & {1, 3} == set()  # shorter cluster members dropped


def test_simpson_diversity_exact(spark):
    from sensordatapipelines_spark.operators.text import simpson_diversity

    df = spark.createDataFrame(
        [(1, "xx", "a a a b"), (2, "xx", "a b c"), (3, "yy", "z z z z")],
        "doc_id long, lang string, text string",
    )
    out = {r.lang: r for r in simpson_diversity(df).collect()}
    xx = out["xx"]  # counts: a=4, b=2, c=1 -> N=7, num=4*3+2*1=14
    assert (xx.n_tokens, xx.n_distinct, xx.simpson_num, xx.simpson_den) == (7, 3, 14, 42)
    yy = out["yy"]  # z=4 -> num=12, den=12 -> D=1 (pure repetition)
    assert (yy.simpson_num, yy.simpson_den) == (12, 12)


def test_hapax_profile_exact(spark):
    from sensordatapipelines_spark.operators.text import hapax_profile

    df = spark.createDataFrame(
        [(1, "xx", "a b b c c c d"), (2, "yy", "z z")],
        "doc_id long, lang string, text string",
    )
    out = {r.lang: r for r in hapax_profile(df).collect()}
    xx = out["xx"]  # a=1 (hapax), b=2 (dis), c=3, d=1 (hapax)
    assert (xx.n_distinct, xx.n_hapax, xx.n_dis) == (4, 2, 1)
    assert xx.hapax_ratio_e6 == 2 * 1_000_000 // 4
    assert (out["yy"].n_hapax, out["yy"].n_dis) == (0, 1)


def test_heaps_curve_growth_and_buckets(spark):
    from sensordatapipelines_spark.operators.text import heaps_curve

    # 10 docs; doc i introduces the new token t<i> plus the shared 'base'
    docs = [(i, f"base t{i}") for i in range(10)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.bucket: r for r in heaps_curve(df, n_buckets=5).collect()}
    # bucket k covers 2 docs: bucket 0 introduces base+t0+t1 = 3 types,
    # every later bucket exactly 2 new types
    assert [out[k].n_new_types for k in range(5)] == [3, 2, 2, 2, 2]
    assert out[4].cum_types == 11
    # bigram mode: each doc's single bigram 'base t<i>' is unique -> 2/bucket
    out2 = {r.bucket: r for r in heaps_curve(df, n_buckets=5, ngram=2).collect()}
    assert [out2[k].n_new_types for k in range(5)] == [2, 2, 2, 2, 2]

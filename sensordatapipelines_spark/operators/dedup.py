"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Charter extension (SURVEY.md §2.7). Design note for 100 TB: every near-dup
variant here is **candidate-generation by key equality** (shingle, band
bucket) so the join is an equi-join Spark shuffles by key — never an O(n²)
cross product. Exact dedup is a hash groupBy. Skewed shingles (ultra-common
n-grams) are droppable via document-frequency caps.
"""

from __future__ import annotations

import random
from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from sensordatapipelines_spark.operators.graph import symmetric_edges
from sensordatapipelines_spark.operators.text import (
    POLY_MOD,
    lower_ascii_expr,
    poly_hash_expr,
    tokens_expr,
)
from sensordatapipelines_spark.operators.utility import (
    observe_cap,
    spread_by,
    unpersist_checkpoint,
)
from sensordatapipelines_spark.registry import register


@register("exact_dedup")
def exact_dedup(
    df: DataFrame, subset: Sequence[str], id_col: str
) -> DataFrame:
    """Exact dedup: keep the row with the smallest ``id_col`` per ``subset``
    key (deterministic keep-first; reference ``drop_index_duplicates``
    ``/root/reference/src/data_preprocessing.py:643-647`` keeps first by row
    order — Spark has none, so order is made explicit)."""
    w = Window.partitionBy(*subset).orderBy(F.asc_nulls_last(F.col(id_col)))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


@register("duplicate_groups")
def duplicate_groups(df: DataFrame, subset: Sequence[str], id_col: str) -> DataFrame:
    """Duplicate-group report: one row per key with >1 occurrences —
    ``(key…, n_dups, keep_id)`` where ``keep_id`` is the survivor."""
    return (
        df.groupBy(*subset)
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


def word_ngrams_kernel(n: int):
    """Arrow-batched shingle builder returning the IDENTICAL string array
    as the ``transform(sequence(0, size-n), i -> concat_ws(' ', slice(
    tokens, i+1, n)))`` expression the SQL oracles mirror (verified
    bit-equal in tests/test_text_dedup.py): SPACE-only edge trim to match
    Spark ``F.trim`` exactly (Python ``str.strip()`` would also eat
    control chars and Unicode spaces the expression keeps, diverging the
    twins on such inputs), ASCII ``\\s+`` split to match Java regex
    semantics, space-joined n-token windows, [] for sub-n docs. Exists
    because the per-gram slice/concat HOF runs interpreted in Catalyst
    and dominated every shingle-family operator (jaccard/minhash/simhash/
    containment postings — measured 4.2 s → 0.6 s for the sf0.1 postings
    pass)."""
    import re

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    ws = re.compile("[ \t\n\x0b\f\r]+")

    @pandas_udf("array<string>")
    def _grams(texts):
        out = []
        for t in texts:
            if t is None or not t.strip(" "):
                out.append([])
                continue
            toks = ws.split(t.strip(" "))
            if len(toks) < n:
                out.append([])
            else:
                out.append(
                    [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
                )
        return pd.Series(out)

    return _grams


def _shingle_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_shingle_df: int | None,
    observation: Observation | None = None,
):
    """Shared candidate-generation core of the shingle-set similarity ops
    (``jaccard_pairs``, ``containment_pairs``): distinct word-n-gram
    shingles per doc, hashed to 8 bytes, with the stop-shingle skew guard.

    Returns ``(exploded, sizes)``: the posting table ``(__id, __s)`` and the
    per-doc informative-shingle counts ``(__id, __n)``.
    """
    if observation is not None and max_shingle_df is None:
        raise ValueError("an observation needs max_shingle_df: no cap, nothing to count")
    # spread_by first: shingling must not run on a single input split.
    shingled = spread_by(
        df.select(F.col(id_col).alias("__id"), F.col(text_col)), "__id"
    ).select(
        "__id",
        F.array_distinct(word_ngrams_kernel(n)(F.col(text_col))).alias("__sh"),
    )
    # Work on the 8-byte hash of the shingle, not the string: key width is
    # the dominant shuffle cost at scale (collision odds ~n²/2⁶⁴).
    # Materialize the postings: they feed the stop-shingle frequency table
    # and the anti-join (or, unguarded, both self-join sides + sizes) —
    # without it, tokenization + shingling re-runs per consumer.
    exploded = (
        shingled.select(
            "__id",
            F.explode(F.transform("__sh", lambda s: F.xxhash64(s))).alias("__s"),
        )
        .distinct()
        .localCheckpoint()
    )
    # ^ distinct at the (id, shingle) level, not just within each row's
    # array: duplicate-id input rows must MERGE into one shingle set (the
    # set semantics every oracle states) — without it, shared shingles
    # double into the posting lists, inflating sizes and intersections.
    if max_shingle_df is not None:
        freq = exploded.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
        freq = observe_cap(
            freq, observation, F.col("__df") > max_shingle_df,
            "n_distinct_shingles", "n_stop_shingles",
        )
        # Anti-join against the HOT set: broadcasting the heavy-hitter
        # shingles (tiny by construction — at most |corpus|/cap of them)
        # keeps the guard map-side; broadcasting the kept majority would
        # itself be a scale bug.
        hot = freq.filter(F.col("__df") > max_shingle_df).select("__s")
        if observation is not None:
            hot = hot.localCheckpoint()  # see observe_cap; tiny
        # Materialize the FILTERED postings: they feed three consumers
        # (both self-join sides + the sizes aggregate), and without it the
        # hot-set anti-join re-executes per consumer — measured as the
        # dominant duplication in the containment/jaccard plans. The two
        # join-side exchanges over the same checkpoint scan also become
        # ReuseExchange-able (identical canonical subtrees). The unfiltered
        # postings are dead once the filtered copy exists.
        unfiltered = exploded
        exploded = exploded.join(F.broadcast(hot), "__s", "left_anti").localCheckpoint()
        unpersist_checkpoint(unfiltered)
        if observation is not None:
            unpersist_checkpoint(hot)
    # sizes from the DISTINCT postings (per-row array sizes would
    # double-count duplicate-id rows' shared shingles)
    sizes = exploded.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))
    return exploded, sizes


@register("jaccard_pairs")
def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = 1000,
    observation: Observation | None = None,
) -> DataFrame:
    """N-gram Jaccard near-duplicate pairs → ``(id_a, id_b, jaccard)``.

    Candidate generation by shared shingle (equi-join on the shingle key):
    explode distinct shingles → self-join → per-pair intersection counts →
    ``|A∩B| / (|A| + |B| − |A∩B|)``. ``max_shingle_df`` treats shingles that
    occur in more than that many docs as stop-shingles, excluded from BOTH
    the candidate join and the set sizes (so the measure stays a true
    Jaccard — over the informative shingles). This is the skew guard: one
    corpus-common shingle (df = d) would otherwise contribute O(d²)
    candidate pairs — quadratic blow-up at 100 TB. Default ON at 1000;
    pass ``None`` for exact full-set Jaccard on corpora known to be small.

    Observability (the semantic shift is measurable, not silent): pass a
    ``pyspark.sql.Observation`` (cap on) and it holds ``n_stop_shingles``
    (distinct shingles actually dropped) and ``n_distinct_shingles`` when
    the call returns, from the job that checkpoints the hot-shingle set.
    ``n_stop_shingles == 0`` certifies the guarded result is bit-identical
    to the exact (``max_shingle_df=None``) Jaccard.
    """
    exploded, sizes = _shingle_postings(
        df, id_col, text_col, n, max_shingle_df, observation
    )
    # Self-join on the hashed shingle for candidate pairs. (A posting-list
    # formulation — groupBy shingle, explode ordered id combinations — saves
    # one shuffle of the exploded table, but its nested-lambda codegen costs
    # ~8 s to compile per session, which dominates at bench scale; the
    # self-join's simple codegen wins until posting lists are huge.)
    a = exploded.alias("a")
    b = exploded.alias("b")
    inter = (
        a.join(b, on=(F.col("a.__s") == F.col("b.__s")) & (F.col("a.__id") < F.col("b.__id")))
        .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    # The size tables carry no hint: they hold one row per document, so
    # the planner broadcasts them by size (autoBroadcastJoinThreshold) and
    # AQE re-plans from runtime sizes; a corpus-sized table shuffles.
    na = sizes.select(F.col("__id").alias("id_a"), F.col("__n").alias("__na"))
    nb = sizes.select(F.col("__id").alias("id_b"), F.col("__n").alias("__nb"))
    out = (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.col("__inter").cast("double")
            / (F.col("__na") + F.col("__nb") - F.col("__inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        # unrounded: one IEEE division of exact ints is bit-deterministic
        # cross-engine; ROUND(,6) could tie-break on e.g. k/128 rationals
        .select("id_a", "id_b", "jaccard")
    )
    return out


@register("containment_pairs")
def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = 1000,
    observation: Observation | None = None,
) -> DataFrame:
    """Asymmetric shingle containment → ``(id_sub, id_sup, containment)``:
    ``C(A→B) = |A∩B| / |A|`` — the fraction of document A's shingles that
    also appear in B. Near-superset detection: a short benchmark question
    quoted inside a long training document has LOW Jaccard (the big doc's
    size dominates the union) but containment ≈ 1 from the question's side,
    which is why contamination audits use containment, not Jaccard
    (Broder 1997's two resemblance measures).

    Same candidate-generation core as ``jaccard_pairs`` (shared-shingle
    equi-join on 8-byte hashes, stop-shingle skew cap): the intersection is
    counted ONCE per unordered pair, then both directions' containments are
    derived arithmetically — no second join, no doubled shuffle. Emits each
    direction independently when it clears ``threshold``. ``observation``:
    as in ``jaccard_pairs``."""
    exploded, sizes = _shingle_postings(
        df, id_col, text_col, n, max_shingle_df, observation
    )
    a = exploded.alias("a")
    b = exploded.alias("b")
    inter = (
        a.join(b, on=(F.col("a.__s") == F.col("b.__s")) & (F.col("a.__id") < F.col("b.__id")))
        .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    na = sizes.select(F.col("__id").alias("id_a"), F.col("__n").alias("__na"))
    nb = sizes.select(F.col("__id").alias("id_b"), F.col("__n").alias("__nb"))
    both = inter.join(na, "id_a").join(nb, "id_b")
    fwd = F.struct(
        F.col("id_a").alias("id_sub"),
        F.col("id_b").alias("id_sup"),
        (F.col("__inter").cast("double") / F.col("__na").cast("double")).alias(
            "containment"
        ),
    )
    rev = F.struct(
        F.col("id_b").alias("id_sub"),
        F.col("id_a").alias("id_sup"),
        (F.col("__inter").cast("double") / F.col("__nb").cast("double")).alias(
            "containment"
        ),
    )
    # Both directions come off ONE pass over the joined pairs (explode of a
    # 2-struct array) — a fwd.union(rev) would re-evaluate the whole
    # candidate-join subtree twice, doubling every exchange in the plan.
    return (
        both.select(F.explode(F.array(fwd, rev)).alias("__p"))
        .select("__p.*")
        .filter(F.col("containment") >= threshold)
        .select("id_sub", "id_sup", "containment")
    )


def minhash_coeffs(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic universal-hash coefficients ``h_i(x) = (a_i·x + b_i) mod
    2^31-1``, drawn from a seeded PRNG. Computed driver-side and embedded as
    literals in both the Spark plan and the DuckDB oracle SQL, so the two
    engines evaluate the *same* hash family."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, POLY_MOD), rng.randrange(0, POLY_MOD))
        for _ in range(num_hashes)
    ]


@register("minhash_signature")
def minhash_signature(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Native MinHash signature → ``(id, sig0..sig{H-1})``.

    The base hash of each shingle is the portable polynomial hash, and each
    signature component is ``min over shingles of (a_i·h + b_i) mod p``.
    Docs with zero shingles (< n tokens) are dropped, matching MinHash's
    undefined-on-empty-set semantics.

    Shape: **explode shingles → hash each once → one groupBy(id) with
    ``num_hashes`` flat ``min`` aggregates.** The tempting array-native form
    (``array_min(transform(__h0, affine_i))`` per component over a shared
    hashed array) is a trap: Catalyst's project-collapse inlines the shingle
    hash subtree into every component, and higher-order functions evaluate
    *interpreted*, so the per-character polynomial hash runs ``num_hashes``×
    per shingle — measured 10× slower at bench scale. The flat-aggregate
    form hashes each shingle exactly once inside a codegen'd hash aggregate
    with map-side partial min; duplicate shingles need no dedup (min over a
    multiset equals min over its set). One shuffle of (id, 16 longs) partial
    states; ``spread_by`` pins parallelism for single-split local inputs.
    """
    exploded = spread_by(
        df.select(F.col(id_col), F.col(text_col)), id_col
    ).select(
        F.col(id_col),
        F.explode(word_ngrams_kernel(n)(F.col(text_col))).alias("__s"),
    )
    hashed = exploded.select(id_col, poly_hash_expr(F.col("__s")).alias("__h"))
    aggs = [
        F.min((F.lit(a) * F.col("__h") + F.lit(b)) % F.lit(POLY_MOD)).alias(f"sig{i}")
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes, seed))
    ]
    return hashed.groupBy(id_col).agg(*aggs)


@register("minhash_pairs")
def minhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    band_rows: int = 2,
    threshold: float = 0.5,
    seed: int = 42,
    max_band_df: int | None = None,
    observation: Observation | None = None,
) -> DataFrame:
    """Native MinHash + LSH-banding near-dup pairs →
    ``(id_a, id_b, minhash_jaccard)``.

    Candidate generation: the signature is cut into ``num_hashes/band_rows``
    bands; two docs are candidates iff they agree on *every* component of
    some band — an **equi-join on (band, component values)**, so the shuffle
    keys by band-bucket and the cross product never materializes (the same
    scale property the reference's per-row loops lack; at 100 TB the banded
    self-join is the only quadratic-risk step and it is bounded by bucket
    size). The reported score is the signature-agreement estimate
    ``|{i: sig_a_i = sig_b_i}| / num_hashes``.

    ``max_band_df`` (OPT-IN, default off — it changes which pairs are
    reported) is the hot-bucket guard: a bucket holding ``d`` docs emits
    O(d²) candidate pairs, so one giant cluster of near-identical docs
    (boilerplate corpora) turns the banded join quadratic. With the cap,
    buckets with more than ``max_band_df`` docs are excluded from candidate
    generation via a broadcast anti-join of the (tiny by construction) hot
    bucket set. Pairs INSIDE a dropped mega-cluster are not listed — the
    structural answer for those is exact/canonical dedup first, or
    ``neardedup_corpus``'s components over the surviving pairs, never an
    O(d²) pair listing. An ``observation`` (cap on) holds ``n_hot_buckets``
    / ``n_buckets`` when the call returns (README "Observability")."""
    if num_hashes % band_rows != 0:
        raise ValueError("num_hashes must be divisible by band_rows")
    if observation is not None and max_band_df is None:
        raise ValueError("an observation needs max_band_df: no cap, nothing to count")
    # Materialized once: the band table and both verify-join sides read it.
    sig = minhash_signature(
        df, id_col=id_col, text_col=text_col, n=n, num_hashes=num_hashes, seed=seed
    ).localCheckpoint()
    bands = _sig_bands(sig, id_col, num_hashes, band_rows)
    if max_band_df is not None:
        bucket_cols = ["band", *[f"v{r}" for r in range(band_rows)]]
        freq = bands.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("__df"))
        freq = observe_cap(
            freq, observation, F.col("__df") > max_band_df, "n_buckets", "n_hot_buckets"
        )
        hot = freq.filter(F.col("__df") > max_band_df).select(*bucket_cols)
        if observation is not None:
            hot = hot.localCheckpoint()  # see observe_cap; tiny
        bands = bands.join(F.broadcast(hot), bucket_cols, "left_anti")
    return _banded_pairs(bands, sig, id_col, num_hashes, band_rows, threshold)


def _sig_bands(sig: DataFrame, id_col: str, num_hashes: int, band_rows: int) -> DataFrame:
    """Explode a MinHash signature frame into its LSH band rows
    ``(id, band, v0..v{band_rows-1})``."""
    n_bands = num_hashes // band_rows
    return sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        *[
                            F.col(f"sig{j * band_rows + r}").alias(f"v{r}")
                            for r in range(band_rows)
                        ],
                    )
                    for j in range(n_bands)
                ]
            )
        ).alias("bv"),
    ).select(id_col, "bv.*")


def _banded_pairs(
    bands_a: DataFrame,
    sig_a: DataFrame,
    id_col: str,
    num_hashes: int,
    band_rows: int,
    threshold: float,
    bands_b: DataFrame | None = None,
    sig_b: DataFrame | None = None,
) -> DataFrame:
    """The banded LSH join: ``(id_a, id_b, minhash_jaccard)`` for every
    pair that shares a band bucket and whose signatures agree on at
    least ``threshold`` of their components. Without a ``b`` side the
    ``a`` side joins itself and keeps ``id_a < id_b``."""
    cond = F.col("a.band") == F.col("b.band")
    if bands_b is None:
        bands_b, sig_b = bands_a, sig_a
        cond = cond & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    for r in range(band_rows):
        cond = cond & (F.col(f"a.v{r}") == F.col(f"b.v{r}"))
    cand = (
        bands_a.alias("a")
        .join(bands_b.alias("b"), on=cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    sa = sig_a.select(
        F.col(id_col).alias("id_a"), *[F.col(f"sig{i}").alias(f"__a{i}") for i in range(num_hashes)]
    )
    sb = sig_b.select(
        F.col(id_col).alias("id_b"), *[F.col(f"sig{i}").alias(f"__b{i}") for i in range(num_hashes)]
    )
    agree = sum(
        (
            F.when(F.col(f"__a{i}") == F.col(f"__b{i}"), 1).otherwise(0)
            for i in range(num_hashes)
        ),
        start=F.lit(0),
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "minhash_jaccard", agree.cast("double") / F.lit(float(num_hashes))
        )
        .filter(F.col("minhash_jaccard") >= threshold)
        .select("id_a", "id_b", "minhash_jaccard")
    )


@register("setsim_join")
def setsim_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
) -> DataFrame:
    """EXACT token-set similarity join via prefix filtering (the
    SSJoin/PPJoin family, Chaudhuri 2006 / Xiao 2008) → every pair with
    set-Jaccard ≥ ``threshold`` as ``(id_a, id_b, n_common, size_a,
    size_b, jaccard_e6)``, all integers. Complementary to MinHash: no
    approximation, no signatures — the guarantee is COMPLETE output,
    which is why the oracle can be brute-force ground truth (any miss
    fails the gate).

    Plan shape (100 TB): order each doc's distinct tokens rarest-first
    (global (df, token) sort key — a broadcastable vocabulary-sized
    table, no global row_number); a pair at Jaccard ≥ t must share a
    token inside both docs' first ``|T| − ⌈t·|T|⌉ + 1`` tokens, so
    candidates come from an equi-join on PREFIX tokens only — the rarest
    of each doc, which is precisely the skew mitigation (the
    boilerplate token that appears everywhere is never a join key).
    Verification is one (doc, token) self-join on the candidate set +
    exact integer Jaccard. Nothing all-pairs, nothing approximate."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    toks = (
        df.select(
            F.col(id_col).alias("__id"),
            F.explode(tokens_expr(lower_ascii_expr(F.col(text_col)))).alias("__tok"),
        )
        .distinct()
        # Materialize the distinct (doc, token) table once: five consumers
        # (sizes, tok_df, ordered, and both verify-join sides) re-derived
        # the tokenize+explode+distinct pipeline — the plan carried 20
        # scans of the corpus and the post-exchange distinct aggregate ran
        # per consumer (runtime exchange reuse covers only the shuffle
        # write, not the operators above it). Same materialize-once
        # contract as substring_dedup's token checkpoint (guide §2.4/§5).
        .localCheckpoint()
    )
    sizes = toks.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))
    tok_df = toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    ordered = toks.join(tok_df, "__tok").withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("__id").orderBy(
                F.col("__df").asc_nulls_last(), F.col("__tok").asc_nulls_last()
            )
        ),
    )
    # integer-exact prefix bound: ceil(n·t) computed as
    # (n·t_e6 + 999999) div 1e6 with t at e6 resolution — float ceil of
    # n·t could round above an exact integer product and silently
    # shorten the prefix by one (a completeness hole); integer math
    # cannot
    tq = int(round(threshold * 1_000_000))
    pref = (
        ordered.join(sizes, "__id")
        .filter(
            F.col("__rn")
            <= F.col("__n")
            - F.expr(f"(__n * {tq} + 999999) div 1000000")
            + F.lit(1)
        )
        .select("__id", "__tok")
    )
    cands = (
        pref.alias("a")
        .join(pref.alias("b"), "__tok")
        .filter(F.col("a.__id") < F.col("b.__id"))
        .select(
            F.col("a.__id").alias("__ida"), F.col("b.__id").alias("__idb")
        )
        .distinct()
    )
    common = (
        cands.join(toks.select(F.col("__id").alias("__ida"), "__tok"), "__ida")
        .join(
            toks.select(F.col("__id").alias("__idb"), "__tok"),
            ["__idb", "__tok"],
        )
        .groupBy("__ida", "__idb")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    out = (
        common.join(
            sizes.select(F.col("__id").alias("__ida"), F.col("__n").alias("__na")),
            "__ida",
        )
        .join(
            sizes.select(F.col("__id").alias("__idb"), F.col("__n").alias("__nb")),
            "__idb",
        )
        .withColumn("__u", F.col("__na") + F.col("__nb") - F.col("__c"))
        # integer-exact threshold test: c/u >= t  <=>  c*SCALE >= ceil(t*SCALE*u)
        # avoided by cross-multiplying with the double only once per row in
        # a fixed form both engines replay: c * 1e6 >= t*1e6 * u (t given
        # at e6 resolution keeps this exact in int64)
        .filter(
            F.col("__c") * F.lit(1_000_000)
            >= F.lit(int(round(threshold * 1_000_000))) * F.col("__u")
        )
        .select(
            F.col("__ida").alias("id_a"),
            F.col("__idb").alias("id_b"),
            F.col("__c").alias("n_common"),
            F.col("__na").alias("size_a"),
            F.col("__nb").alias("size_b"),
            F.expr("__c * 1000000 div (__na + __nb - __c)").alias("jaccard_e6"),
        )
    )
    return out


@register("simhash")
def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    out_col: str = "simhash",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """SimHash fingerprint per document (default 64-bit, from xxhash64 of
    tokens).

    Fully JVM-side: explode tokens → per-bit ±1 contributions aggregated with
    conditional sums → sign vector reassembled into one BIGINT. Near-dup
    candidates come from banding the fingerprint (see ``simhash_buckets``).

    ``hash_mode='poly'`` swaps the token hash for the portable polynomial
    hash (31 usable bits, so ``bits`` is capped at 31) — bit-for-bit
    reproducible in any SQL engine, which is what the DuckDB oracle checks.
    """
    if hash_mode == "poly":
        bits = min(bits, 31)
    elif hash_mode != "xxhash64":
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    toks = spread_by(df.select(F.col(id_col).alias("__id"), F.col(text_col)), "__id").select(
        "__id", F.explode(tokens_expr(F.col(text_col))).alias("__t")
    )
    h = poly_hash_expr(F.col("__t")) if hash_mode == "poly" else F.xxhash64(F.col("__t"))
    bit_sums = toks.groupBy("__id").agg(
        *[
            F.sum(
                F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"__b{b}")
            for b in range(bits)
        ]
    )
    usable = bits - 1 if bits >= 64 else bits  # top bit 0 at 64 for signed range
    fp = sum(
        (
            F.when(F.col(f"__b{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
            for b in range(usable)
        ),
        start=F.lit(0).cast("long"),
    )
    return bit_sums.select(F.col("__id").alias(id_col), fp.alias(out_col))


@register("simhash_buckets")
def simhash_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    band_bits: int = 16,
) -> DataFrame:
    """SimHash LSH candidate pairs: band the 64-bit fingerprint into
    ``64/band_bits`` bands; docs sharing any band value are candidates
    → ``(id_a, id_b, band)``. Equi-join on (band, value) — shuffle-friendly."""
    fp = simhash(df, id_col=id_col, text_col=text_col)
    n_bands = 64 // band_bits
    mask = (1 << band_bits) - 1
    banded = fp.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("simhash"), i * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bv"),
    ).select(id_col, F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            on=(F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.band").alias("band"),
        )
        .distinct()
    )


@register("connected_components")
def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over an undirected edge list → ``(node,
    component)``, component = smallest reachable node id. Turns pairwise
    near-dup matches into TRANSITIVE duplicate clusters (a near-dup of a
    near-dup is the same document family).

    This is the engine's iterative-algorithm surface: min-label
    propagation PLUS pointer jumping — each round folds in both the
    neighbors' labels (one hop through the edge list) and the label of
    the label (one hop through the label table itself, the
    path-halving/"short-cutting" step of Shiloach–Vishkin-style CC), so
    labels reach the component minimum in O(log diameter) rounds instead
    of O(diameter). Both hops keep the invariant that a node's label is
    always the id of SOME reachable node (the label's label is reachable
    through the label), monotonically non-increasing, so the fixpoint is
    exactly min-reachable — identical output to plain propagation, fewer
    shuffled rounds (each round costs real jobs; a chain-of-12 grid
    cluster converges in 4 rounds, not 13). ``localCheckpoint`` truncates
    lineage each round so the plan stays constant-size instead of
    doubling; the per-round convergence ``count()`` is the standard
    driver-side fixpoint test (it is a job, not a collect of data). At
    1000 executors the same loop runs unchanged — state is only ever
    (node, label) pairs partitioned by node.
    """
    sym = symmetric_edges(edges, src_col, dst_col, "src", "dst", distinct=True)
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    ckpt = labels  # the checkpoint frame itself (labels may be a projection)
    for _ in range(max_iter):
        neigh = sym.join(labels, sym.src == labels.node).select(
            F.col("dst").alias("node"), F.col("label"), F.lit(None).cast("long").alias("__old")
        )
        jump = (
            labels.alias("a")
            .join(
                labels.select(
                    F.col("node").alias("__ln"), F.col("label").alias("__ll")
                ),
                F.col("a.label") == F.col("__ln"),
            )
            .select(
                F.col("a.node").alias("node"),
                F.col("__ll").alias("label"),
                F.lit(None).cast("long").alias("__old"),
            )
        )
        # The convergence test rides the label fold itself: every node has
        # exactly one row in ``labels``, tagged with its pre-round label as
        # ``__old`` (MIN ignores the NULLs on the neigh/jump rows). "Did
        # anything change" is an OBSERVED metric collected inside the
        # checkpoint job itself (``Dataset.observe`` → CollectMetricsExec
        # accumulator) — ZERO extra actions per round, where the previous
        # ``filter(...).isEmpty()`` was a take() that escalated through up
        # to 4 extra jobs on the converged round (guide §1.2 per-round job
        # count; measured 9 jobs/round → the isEmpty share removed).
        obs = Observation()
        new_labels = (
            labels.select("node", "label", F.col("label").alias("__old"))
            .union(neigh)
            .union(jump)
            .groupBy("node")
            .agg(F.min("label").alias("label"), F.min("__old").alias("__old"))
            .observe(
                obs,
                F.sum(
                    (F.col("label") != F.col("__old")).cast("long")
                ).alias("changed"),
            )
            .localCheckpoint()
        )
        # new_labels is materialized (eager checkpoint): the previous
        # round's label blocks are superseded — release them immediately.
        unpersist_checkpoint(ckpt)
        ckpt = new_labels
        labels = new_labels.select("node", "label")
        if not obs.get["changed"]:
            break
    # sym is not part of the returned lineage (labels is checkpoint-backed).
    unpersist_checkpoint(sym)
    return labels.select(F.col("node"), F.col("label").alias("component"))


def _minhash_components(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    band_rows: int,
    threshold: float,
    seed: int,
    max_iter: int,
) -> DataFrame:
    """Duplicate clusters ``(node, component)`` of the ``minhash_pairs``
    graph. The components are a checkpoint of their own, so the
    signature checkpoint the pairs read is released before returning."""
    if num_hashes % band_rows != 0:
        raise ValueError("num_hashes must be divisible by band_rows")
    sig = minhash_signature(
        df, id_col=id_col, text_col=text_col, num_hashes=num_hashes, seed=seed
    ).localCheckpoint()
    pairs = _banded_pairs(
        _sig_bands(sig, id_col, num_hashes, band_rows),
        sig, id_col, num_hashes, band_rows, threshold,
    )
    comps = connected_components(pairs, "id_a", "id_b", max_iter=max_iter)
    unpersist_checkpoint(sig)
    return comps


@register("neardedup_corpus")
def neardedup_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    band_rows: int = 2,
    threshold: float = 0.5,
    seed: int = 42,
    max_iter: int = 20,
    broadcast_loser_limit: int = 5_000_000,
) -> DataFrame:
    """One-call corpus near-deduplication — the composition a training-data
    pipeline actually runs: MinHash+LSH near-dup pairs → transitive
    duplicate clusters (connected components) → keep ONE representative per
    cluster (the smallest id, deterministic) → return the surviving corpus
    rows unchanged.

    Plan shape at 100 TB: pair generation is the banded equi-join
    (``minhash_pairs``), components iterate over (node, label) pairs only
    — never documents — and the final step is a LEFT ANTI join of the
    loser-id set against the corpus (only ids ship). The broadcast hint on
    the loser side is GATED on its actual size: at a realistic 20-40 % dup
    rate on a 100 TB corpus the loser set is billions of ids, and a forced
    broadcast there is an OOM, not a hint. Above ``broadcast_loser_limit``
    the hint is omitted and AQE picks the join strategy (shuffled
    anti-join; see SCALE.md "neardedup loser anti-join"). Results are
    identical either way.

    Why a count rather than the planner's own choice: the loser set reads
    a checkpoint, whose static size estimate never clears the broadcast
    threshold, so the planner shuffles both sides and AQE converts the
    join to a broadcast only after the corpus has been shuffled (two more
    hash exchanges). The count reads the same checkpointed components, so
    it is nearly free.
    """
    comps = _minhash_components(
        df, id_col, text_col, num_hashes, band_rows, threshold, seed, max_iter
    )
    losers = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("__loser")
    )
    # comps is localCheckpoint-backed, so this count reuses materialized
    # state instead of recomputing the pair/label cascade.
    if losers.count() <= broadcast_loser_limit:
        losers = F.broadcast(losers)
    return df.join(losers, on=df[id_col] == F.col("__loser"), how="left_anti")


@register("neardedup_keep_longest")
def neardedup_keep_longest(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    band_rows: int = 2,
    threshold: float = 0.5,
    seed: int = 42,
    max_iter: int = 20,
) -> DataFrame:
    """Near-dedup with the KEEP-LONGEST policy: MinHash+LSH pairs →
    duplicate clusters → keep the member with the most tokens (ties →
    smallest id), drop the rest — the curation-realistic representative
    choice (the longest duplicate usually carries the least-truncated
    text), vs ``neardedup_corpus``'s keep-smallest-id.

    Plan shape: identical to the corpus op except the keeper step — one
    window over the CLUSTER MEMBERSHIP table (pair-graph-sized, never
    corpus-sized; per-partition work bounded by cluster size) picks the
    argmax, and only loser IDS flow into the final LEFT ANTI join."""
    from sensordatapipelines_spark.operators.text import token_count_expr

    comps = _minhash_components(
        df, id_col, text_col, num_hashes, band_rows, threshold, seed, max_iter
    )
    ntok = df.select(
        F.col(id_col).alias("__nid"),
        token_count_expr(F.col(text_col)).cast("long").alias("__nt"),
    )
    members = comps.join(ntok, comps["node"] == F.col("__nid"))
    w = Window.partitionBy("component").orderBy(
        F.col("__nt").desc(), F.col("node").asc_nulls_last()
    )
    losers = (
        members.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") > 1)
        .select(F.col("node").alias("__loser"))
    )
    return df.join(losers, on=df[id_col] == F.col("__loser"), how="left_anti")


def _shingle_hashes(text_col: str, n: int):
    """One row per distinct word-``n``-gram of ``text_col``, as its 8-byte
    ``xxhash64`` (a generator column for ``select``)."""
    return F.explode(
        F.array_distinct(
            F.transform(word_ngrams_kernel(n)(F.col(text_col)), lambda s: F.xxhash64(s))
        )
    )


@register("decontaminate")
def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: drop corpus documents that share ANY word
    ``n``-gram with a benchmark/eval document — the standard guard against
    test-set leakage into training data.

    Plan shape: both sides shingle in the Arrow kernel
    (``word_ngrams_kernel``), keyed by the 8-byte ``xxhash64`` of the
    shingle, the benchmark side collapses to DISTINCT hashes, and
    contaminated ids come from an equi-join. The final filter is a LEFT
    ANTI join — no row of the corpus is ever widened, and at 100 TB the
    benchmark shingle set (eval suites are small) broadcasts, so the
    corpus is filtered map-side with zero shuffle of corpus rows.
    """
    corpus_sh = spread_by(
        corpus.select(F.col(id_col).alias("__cid"), F.col(text_col)), "__cid"
    ).select("__cid", _shingle_hashes(text_col, n).alias("__s"))
    bench_sh = benchmark.select(_shingle_hashes(text_col, n).alias("__s")).distinct()
    contaminated = (
        corpus_sh.join(F.broadcast(bench_sh), "__s")
        .select(F.col("__cid").alias(id_col))
        .distinct()
    )
    return corpus.join(contaminated, id_col, "left_anti")


def canonical_text_expr(text) -> "F.Column":
    """Canonical form for near-exact dedup: lowercase, strip the sentence
    punctuation set, collapse whitespace runs, trim. Catches the
    re-serialized/copy-pasted duplicates exact hashing misses while staying
    pure JVM regex (portable to RE2 for the oracle)."""
    t = lower_ascii_expr(text)
    t = F.regexp_replace(t, "[.,;:!?]", "")
    t = F.regexp_replace(t, "[ \\t\\n\\x0b\\f\\r]+", " ")
    return F.trim(t)


@register("canonical_dedup")
def canonical_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup over the CANONICALIZED text (case/punctuation/whitespace
    -insensitive): keep the smallest id per canonical form. The standard
    first dedup pass of a crawl pipeline — cheaper than MinHash, catches
    the trivially-reformatted copies. Partitioned by (xxhash64, canon):
    the hash drives the exchange cheaply while the full canonical form in
    the key rules out collision-merges of distinct documents."""
    canon = canonical_text_expr(F.col(text_col))
    w = Window.partitionBy(F.xxhash64(canon), canon).orderBy(F.asc_nulls_last(F.col(id_col)))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


@register("incremental_dedup")
def incremental_dedup(
    batch: DataFrame,
    seen: DataFrame | None,
    subset: Sequence[str],
    id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Incremental exact dedup against a persistent fingerprint state:
    ``(survivors, updated_state)`` — the day-over-day shape of corpus
    dedup, where yesterday's fingerprints must suppress today's re-crawls
    WITHOUT rescanning yesterday's corpus.

    - ``survivors``: the batch's first-occurrence rows (keep lowest
      ``id_col`` per key, exactly ``exact_dedup``) that are ALSO unseen —
      an anti-join against the state on the key columns.
    - ``updated_state``: the old state unioned with the new keys —
      key-columns only, so state size is O(distinct keys), not O(rows).

    Plan shape: the state is key-reduced; when today's batch is small
    relative to history (the normal drop), Catalyst broadcasts the batch
    side of the anti-join; the state update is a union + distinct over
    key columns with map-side combine. Processing A then B yields exactly
    the survivors of batch-deduping A∪B (keep-lowest-id within each
    batch, first-batch-wins across batches) — asserted by pytest and the
    gate oracle."""
    cols = list(subset)
    batch_first = exact_dedup(batch, cols, id_col)
    if seen is None:
        new_keys = batch_first.select(*cols).distinct()
        return batch_first, new_keys
    survivors = batch_first.join(seen.select(*cols), cols, "left_anti")
    updated = seen.select(*cols).unionByName(
        survivors.select(*cols)
    ).distinct()
    return survivors, updated


@register("incremental_neardedup")
def incremental_neardedup(
    batch: DataFrame,
    state: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    band_rows: int = 2,
    threshold: float = 0.5,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Incremental NEAR-dedup against a persistent MinHash-signature
    state: ``(survivors, updated_state)`` — the day-over-day shape of
    fuzzy corpus dedup, where today's drop is checked against
    yesterday's LSH index WITHOUT rescanning (or even re-signing)
    yesterday's corpus.

    Drop rule (deterministic, non-recursive): a batch doc is dropped iff
    it is ≥``threshold`` signature-similar to ANY state doc, or to any
    LOWER-id doc of its own batch. Docs with fewer than ``n`` tokens
    carry no signature and survive trivially (MinHash's
    undefined-on-empty semantics, same as ``minhash_pairs``). The state
    holds the SIGNATURES of survivors only — O(survivors × num_hashes)
    longs, the LSH-index retention convention (a dropped doc's
    near-dups are represented by its kept survivor).

    Plan shape: batch signatures compute once (the flat-aggregate
    minhash); candidates against the state and within the batch are BOTH
    banded equi-joins (band + component values — never a cross product);
    the state side never re-signs or rescans text. Exactly the per-drop
    cost profile an at-scale ingest wants: O(batch) signing + bounded
    bucket joins."""
    sig_b = minhash_signature(
        batch, id_col=id_col, text_col=text_col, n=n,
        num_hashes=num_hashes, seed=seed,
    ).localCheckpoint()
    bands_b = _sig_bands(sig_b, id_col, num_hashes, band_rows)
    # within-batch: lower id wins, non-recursively
    pairs = _banded_pairs(bands_b, sig_b, id_col, num_hashes, band_rows, threshold)
    if state is not None:
        pairs = pairs.unionByName(
            _banded_pairs(
                _sig_bands(state, id_col, num_hashes, band_rows),
                state, id_col, num_hashes, band_rows, threshold,
                bands_b=bands_b, sig_b=sig_b,
            )
        )
    # The loser id-set is consumed by BOTH outputs (survivors anti-join
    # and the state's surviving-signature anti-join), and callers run
    # those as separate actions (the foreachBatch handler writes
    # survivors then state; the batch gate materializes day-1 state for
    # day 2). Unmaterialized, the entire banded-join cascade re-executes
    # per consumer; the set itself is only ids (guide §2.4 — remove
    # recomputed subtrees).
    all_losers = pairs.select(F.col("id_b").alias("__loser")).distinct().localCheckpoint()
    survivors = batch.join(
        all_losers, on=F.col(id_col) == F.col("__loser"), how="left_anti"
    )
    surv_sigs = sig_b.join(
        all_losers, on=F.col(id_col) == F.col("__loser"), how="left_anti"
    )
    new_state = surv_sigs if state is None else state.unionByName(surv_sigs)
    return survivors, new_state


@register("paragraph_dedup")
def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Corpus-wide PARAGRAPH-level deduplication (the RefinedWeb/FineWeb
    line-dedup pass): split each document on ``sep``, keep only the FIRST
    occurrence of every distinct paragraph across the whole corpus
    (first = lowest ``(id, position)``), and reassemble each document
    from its surviving paragraphs in original order. Returns
    ``(id, clean text, n_paras, n_kept)`` — a document whose every
    paragraph was seen earlier comes back empty rather than disappearing
    (the caller decides the drop threshold).

    Plan shape at 100 TB: NO self-join and NO window over the paragraph
    key — keep-first is ``min(struct(id, pos))`` grouped by the paragraph,
    which partial-aggregates map-side, so a boilerplate paragraph
    occurring a billion times reduces to one row per partition before the
    exchange (the skew-safety a ``row_number`` window lacks). The kept
    rows ARE the aggregate output (one per distinct paragraph), so
    reassembly is a second groupBy on the id — two shuffles total, both
    with map-side combine. Per-doc paragraph counts ride the same
    aggregates; no extra pass."""
    paras = df.select(
        F.col(id_col).alias("__id"),
        # null text counts as one empty paragraph (null arrays would
        # silently vanish from the explode and the doc with them)
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), sep)).alias(
            "__pos", "__para"
        ),
    )
    # NULL-safe winner key (ADVICE r8): Spark's struct MIN sorts a NULL
    # field FIRST, so a NULL-id document would win every paragraph it
    # contains and hollow out the rest of the corpus. The leading
    # null-flag field sends NULL ids to the LOSING end instead; among
    # NULL-id rows the position still breaks ties deterministically.
    winners = paras.groupBy("__para").agg(
        F.min(
            F.struct(
                F.col("__id").isNull().cast("int").alias("__nl"),
                "__id",
                "__pos",
            )
        ).alias("__w")
    )
    kept = winners.select(
        F.col("__w.__id").alias("__id"),
        F.col("__w.__pos").alias("__pos"),
        "__para",
    )
    rebuilt = kept.groupBy("__id").agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__para"))),
                lambda s: s["__para"],
            ),
        ).alias("__clean"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = df.select(
        F.col(id_col).alias("__id"),
        F.size(F.split(F.coalesce(F.col(text_col), F.lit("")), sep)).alias(
            "n_paras"
        ),
    )
    return (
        totals.join(rebuilt, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("__clean"), F.lit("")).alias(text_col),
            "n_paras",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        )
    )


@register("substring_dedup")
def substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
) -> DataFrame:
    """Repeated-SUBSTRING deduplication (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): any ``span_tokens``-token
    span whose exact token sequence occurs more than once in the corpus is
    removed from every occurrence EXCEPT the first (first = lowest
    ``(id, start)``). A token is dropped when ANY losing span covers it
    (overlapping duplicated spans union), and documents are rebuilt from
    their surviving tokens — ``(id, clean text, n_tokens, n_removed)``.

    Plan shape at 100 TB — entirely JVM, no windows over hot keys:
    span candidates are token n-grams hashed to 8 bytes (the shingle
    trick); the keep-first winner per span is ``min(struct(id, start))``
    with map-side combine (a boilerplate span occurring 10⁹ times
    partial-aggregates before the exchange); losing spans explode to at
    most ``span_tokens`` covered indices each; removal is one anti-join of
    the token table against the distinct covered indices; reassembly is
    one groupBy(id). Four shuffles, all combining or keyed.
    """
    toks = df.select(
        F.col(id_col).alias("__id"),
        # coalesce: null text tokenizes as empty, not as a vanished row
        tokens_expr(F.coalesce(F.col(text_col), F.lit(""))).alias("__toks"),
    )
    # Guard sub-span docs explicitly: Spark's sequence(0, -1) DESCENDS
    # ([0, -1]) instead of being empty, which would fabricate two bogus
    # grams per short doc.
    gram_hashes = F.when(
        F.size("__toks") >= span_tokens,
        F.transform(
            F.sequence(F.lit(0), F.size("__toks") - span_tokens),
            lambda i: F.xxhash64(
                F.concat_ws(" ", F.slice("__toks", i + 1, span_tokens))
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    # The tokenized frame feeds FOUR consumers (gram hashing, the token
    # table, totals) and the hashed gram table feeds TWO (winner fold +
    # loser join) — unmaterialized, tokenization ran 4× and the xxhash64
    # gram transform 2× in one action (guide §2.4 / §5: materialize only
    # what is reused AND expensive to recompute; both frames are narrow).
    toks = toks.localCheckpoint()
    grams = toks.select(
        "__id", F.posexplode(gram_hashes).alias("__start", "__g")
    ).localCheckpoint()
    winners = grams.groupBy("__g").agg(
        F.min(F.struct("__id", "__start")).alias("__w"),
        F.count(F.lit(1)).alias("__n"),
    )
    losers = (
        grams.join(winners.filter(F.col("__n") > 1), "__g")
        .filter(
            (F.col("__id") != F.col("__w.__id"))
            | (F.col("__start") != F.col("__w.__start"))
        )
        .select(
            "__id",
            F.explode(
                F.sequence(
                    F.col("__start"), F.col("__start") + F.lit(span_tokens - 1)
                )
            ).alias("__pos"),
        )
        .distinct()
    )
    token_rows = toks.select(
        "__id", F.posexplode("__toks").alias("__pos", "__tok")
    )
    kept = token_rows.join(losers, ["__id", "__pos"], "left_anti")
    rebuilt = kept.groupBy("__id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__tok"))),
                lambda s: s["__tok"],
            ),
        ).alias("__clean"),
        F.count(F.lit(1)).alias("__kept"),
    )
    totals = toks.select("__id", F.size("__toks").alias("n_tokens"))
    return (
        totals.join(rebuilt, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("__clean"), F.lit("")).alias(text_col),
            "n_tokens",
            (
                F.col("n_tokens")
                - F.coalesce(F.col("__kept"), F.lit(0))
            ).cast("long").alias("n_removed"),
        )
    )


@register("hamming_pairs")
def hamming_pairs(
    df: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "dhash",
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Near-duplicate pairs over fixed-width HEX hashes (``image_dhash``,
    ``audio_fingerprint``, any simhash-like signature) by banded hamming
    join: split each hash into ``n_bands`` equal hex substrings,
    candidate pairs share at least one exact band (equi-join on
    ``(band_idx, band)`` — keyed, never all-pairs), then the exact bit
    hamming distance filters to ``<= max_hamming``.

    Pigeonhole recall contract: with ``n_bands >= max_hamming + 1``, a
    pair within ``max_hamming`` differing bits cannot differ in every
    band, so the banded result is EXACTLY the all-pairs result (the gate
    query's oracle checks this equivalence). ``n_bands <= max_hamming``
    trades recall for fewer candidates — approximate mode, documented
    not asserted.

    The hamming distance is a pure-JVM nibble fold: per hex position,
    ``bit_count(nibble_a XOR nibble_b)`` — no UDF, no 64-bit overflow
    games, any hash width. Hot-band skew (e.g. the all-zero band of
    near-black thumbnails) is bounded by the hash entropy; for
    pathological corpora pre-filter constant hashes first."""
    h = lower_ascii_expr(F.col(hash_col))
    # a hash whose hex length doesn't divide into n_bands would band a
    # truncated prefix — a SILENT recall loss; fail loudly per offending
    # row instead (raise_error stays JVM-side, costs one modulo)
    h = F.when(
        F.length(h) % F.lit(n_bands) != 0,
        F.raise_error(
            F.concat(
                F.lit(f"hamming_pairs: hash length not divisible by {n_bands} bands: "),
                h,
            )
        ),
    ).otherwise(h)
    slim = df.select(F.col(id_col).alias("__id"), h.alias("__h"))
    width = F.length("__h") / F.lit(n_bands)
    banded = slim.select(
        "__id",
        "__h",
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("__band"),
    ).withColumn(
        "__bs",
        F.substring(
            F.col("__h"),
            (F.col("__band") * width + 1).cast("int"),
            width.cast("int"),
        ),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    nib = lambda col, i: (  # noqa: E731
        F.instr(F.lit("0123456789abcdef"), F.substring(col, i, 1)) - F.lit(1)
    )
    cand = (
        a.join(
            b,
            on=(F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__bs") == F.col("b.__bs"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__h").alias("__ha"),
            F.col("b.__h").alias("__hb"),
        )
        .distinct()
    )
    ham = F.aggregate(
        F.sequence(F.lit(1), F.length("__ha")),
        F.lit(0),
        lambda acc, i: acc
        + F.bit_count(nib(F.col("__ha"), i).bitwiseXOR(nib(F.col("__hb"), i))),
    )
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= F.lit(int(max_hamming)))
        .select("id_a", "id_b", "hamming")
    )


@register("contamination_report")
def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Audit twin of ``decontaminate``: instead of silently dropping,
    MEASURE the leakage — per corpus document, the distinct word-n-gram
    count, how many of those shingles appear anywhere in the benchmark
    set, and the contaminated fraction. Contamination audits run this
    BEFORE deciding a drop policy (a doc quoting one benchmark question
    differs from a verbatim test-set copy; ``hit_frac`` separates them).

    Same plan shape as ``decontaminate``: both sides shingle JVM-side,
    keyed by the 8-byte shingle hash, benchmark side DISTINCT +
    broadcast; the per-doc hit count re-reduces map-side. Documents with
    zero shingles (shorter than ``n`` tokens) report ``n_shingles = 0``
    with ``hit_frac`` NULL."""
    corpus_sh = spread_by(
        corpus.select(F.col(id_col).alias("__cid"), F.col(text_col)), "__cid"
    ).select("__cid", _shingle_hashes(text_col, n).alias("__s"))
    bench_sh = benchmark.select(_shingle_hashes(text_col, n).alias("__s")).distinct()
    per_doc = corpus_sh.groupBy("__cid").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        corpus_sh.join(F.broadcast(bench_sh), "__s")
        .groupBy("__cid")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    joined = (
        per_doc.join(hits, "__cid", "left")
        .select(
            "__cid",
            "n_shingles",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
        )
    )
    base = corpus.select(F.col(id_col).alias("__cid")).join(
        joined, "__cid", "left"
    )
    return base.select(
        F.col("__cid").alias(id_col),
        F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
        F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
        F.when(
            F.coalesce("n_shingles", F.lit(0)) > 0,
            F.coalesce("n_hit", F.lit(0)).cast("double")
            / F.col("n_shingles").cast("double"),
        ).alias("hit_frac"),
    )


@register("ngram_novelty")
def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document novelty: the fraction of a document's DISTINCT word
    n-grams that appear in no other document → ``(id, n_grams, n_novel,
    novelty)``. The per-doc complement of the corpus-level
    decontamination/duplication measures — low novelty flags boilerplate
    and near-copies, high novelty flags unique content worth keeping.

    Plan shape: one shingle-vocabulary aggregate (document frequency —
    the shuffle carries distinct shingles, Heaps-law-small), joined back
    onto the per-doc distinct shingle stream and re-reduced per doc.
    Novelty = one IEEE division of exact counts. Docs with fewer than
    ``n`` tokens have no grams and score NULL (kept)."""
    grams = F.array_distinct(word_ngrams_kernel(n)(F.col(text_col)))
    stream = df.select(F.col(id_col), F.explode(grams).alias("__g"))
    dfreq = stream.groupBy("__g").agg(F.count(F.lit(1)).alias("__df"))
    per_doc = (
        stream.join(dfreq, "__g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("__df") == 1).cast("long")).alias("n_novel"),
        )
    )
    scored = per_doc.select(
        id_col,
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_novel").cast("long").alias("n_novel"),
        (
            F.col("n_novel").cast("double") / F.col("n_grams").cast("double")
        ).alias("novelty"),
    )
    # One row per INPUT ROW (left-join-back): under duplicate or NULL ids
    # the oracle's LEFT JOIN semantics reproduce exactly — a left_anti
    # "empties" union under-counts duplicates and NULL-id rows.
    return df.select(F.col(id_col)).join(scored, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_grams"), F.lit(0).cast("long")).alias("n_grams"),
        F.coalesce(F.col("n_novel"), F.lit(0).cast("long")).alias("n_novel"),
        F.col("novelty"),
    )


@register("winnowing_fingerprints")
def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003 —
    the MOSS local-fingerprint scheme) → ``(id, n_grams, n_fps,
    fp_checksum)``: hash every character ``k``-gram of the normalized
    text, slide a ``window`` of consecutive k-gram hashes, and select
    each window's MINIMUM hash; the distinct selected hashes are the
    document's fingerprints. The winnowing guarantee: any shared
    substring of length ≥ ``k + window − 1`` contributes at least one
    IDENTICAL fingerprint to both documents — a positional coverage
    property MinHash (a global sketch) cannot offer, which is why MOSS
    detects partial overlap, not just whole-document similarity.

    Scale shape (100 TB): normalization and k-gram hashing are map-side;
    window minima come from ONE keyed window exchange (partition by doc,
    order by gram position, ``min`` over ``window`` FOLLOWING rows) —
    the same single-exchange contract as the other per-document
    operators. The hash is the engine-portable scrambled poly hash
    (``uniform_poly_hash_expr``'s affine form), so DuckDB replays the
    selection bit-exactly. ``fp_checksum`` (Σ fp mod P) pins the exact
    fingerprint SET in the oracle without shipping it; ``n_grams`` is
    the map-side ``max(len − k + 1, 0)`` — no second scan."""
    sets = _winnow_fp_sets(df, id_col, text_col, k, window)
    per_doc = sets.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_fps"),
        (F.sum("fp") % F.lit(POLY_MOD)).alias("fp_checksum"),
    )
    norm = F.regexp_replace(lower_ascii_expr(F.trim(F.col(text_col))), "[ \\t\\n\\x0b\\f\\r]+", " ")
    base = df.select(
        F.col(id_col).alias("__id"),
        F.greatest(
            F.length(norm) - F.lit(int(k) - 1), F.lit(0)
        ).cast("long").alias("n_grams"),
    )
    return (
        base.join(per_doc, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "n_grams",
            F.coalesce("n_fps", F.lit(0)).cast("long").alias("n_fps"),
            F.coalesce("fp_checksum", F.lit(0)).cast("long").alias("fp_checksum"),
        )
    )


def _winnow_kernel(k: int, window: int):
    """Arrow kernel for the winnowing selection: per doc, codepoint
    array → all k-gram poly hashes via a k-step vectorized Horner fold
    with a PER-STEP mod (bit-equal to the ``poly_hash_expr`` fold by
    construction, and overflow-free for ANY ``k``: the intermediate is
    < 31·2³¹ + 0x10FFFF ≪ 2⁶³ — the earlier one-matmul form silently
    wrapped int64 at k ≥ 10 on astral text) →
    affine scramble → sliding-window min → unique. Document ids pass
    through UNTOUCHED at their native type (string ids must not be
    coerced). The posexplode + window-min expression the DuckDB oracle
    mirrors (the reference in tests/test_winnowing.py) selects the same
    set but costs ~18 s at sf0.1 where this runs in ~1 s — the PQ/DSIR
    Arrow-kernel lesson."""
    import numpy as np
    import pandas as pd

    from sensordatapipelines_spark.operators.sketches import CMS_A, CMS_B

    m = POLY_MOD
    a_c, b_c = CMS_A[0], CMS_B[0]

    def fn(batches):
        for pdf in batches:
            ids: list = []
            fps: list = []
            for did, txt in zip(pdf["__id"], pdf["__t"]):
                if txt is None or len(txt) < k:
                    continue
                codes = np.frombuffer(
                    txt.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                sw = np.lib.stride_tricks.sliding_window_view(codes, k)
                h = np.zeros(sw.shape[0], dtype=np.int64)
                for j in range(k):  # Horner with per-step mod: no overflow
                    h = (h * 31 + sw[:, j]) % m
                h = (a_c * h + b_c) % m
                if h.size >= window:
                    wm = np.lib.stride_tricks.sliding_window_view(
                        h, window
                    ).min(axis=1)
                else:
                    wm = h.min(keepdims=True)
                u = np.unique(wm)
                ids.append(np.repeat(np.array([did], dtype=object), u.size))
                fps.append(u)
            if ids:
                yield pd.DataFrame(
                    {
                        "__id": pd.Series(np.concatenate(ids)),
                        "fp": pd.Series(
                            np.concatenate(fps).astype(np.int64), dtype="int64"
                        ),
                    }
                )
            else:
                yield pd.DataFrame(
                    {
                        "__id": pdf["__id"].iloc[0:0],
                        "fp": pd.Series([], dtype="int64"),
                    }
                )

    return fn


def _winnow_fp_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    window: int,
) -> DataFrame:
    """Shared fingerprint-set builder: distinct ``(__id, fp)`` rows (the
    winnowing selection, before per-doc aggregation), computed by the
    Arrow kernel ``_winnow_kernel``."""
    if int(k) < 1:
        raise ValueError(f"winnowing k-gram size must be >= 1, got {k}")
    if int(window) < 1:
        raise ValueError(f"winnowing window must be >= 1, got {window}")
    norm = F.regexp_replace(lower_ascii_expr(F.trim(F.col(text_col))), "[ \\t\\n\\x0b\\f\\r]+", " ")
    # id passes through at its NATIVE type (string doc ids must not
    # collapse to NULL under a long cast)
    id_type = df.schema[id_col].dataType.simpleString()
    base = df.select(F.col(id_col).alias("__id"), norm.alias("__t"))
    return base.mapInPandas(
        _winnow_kernel(int(k), int(window)),
        schema=f"__id {id_type}, fp long",
    ).distinct()


@register("winnowing_pairs")
def winnowing_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Document pairs sharing winnowing fingerprints → ``(id_a, id_b,
    shared_fps, overlap)`` with ``overlap = shared / min(|A|, |B|)`` —
    the MOSS-style partial-overlap detector: any shared run of
    ``k + window − 1`` characters guarantees a shared fingerprint, so
    copied PASSAGES surface even when the documents are globally
    dissimilar (the case MinHash similarity misses by design).

    Scale shape: candidates come from the fingerprint equi-join (a keyed
    shuffle on the fp hash — never all-pairs); per-doc fingerprint
    counts join back for the overlap denominator. A fingerprint shared
    by f docs fans out f²/2 pairs — the same hot-shingle consideration
    as ``jaccard_pairs``; winnowing's density bound (≈ 2/(window+1) of
    grams selected) keeps f small for natural text, and ``max_df`` is
    the MOSS noise threshold — fingerprints present in more than
    ``max_df`` documents are boilerplate, not evidence of copying, and
    are dropped BEFORE the join (the same ubiquitous-key guard as the
    boilerplate/stopword filters; also the f² bound for hot keys)."""
    sets = _winnow_fp_sets(df, id_col, text_col, k, window).localCheckpoint()
    if max_df is not None:
        rare = (
            sets.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= F.lit(int(max_df)))
            .select("fp")
        )
        sets = sets.join(rare, "fp", "left_semi")
    sizes = sets.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))
    a = sets.alias("a")
    b = sets.alias("b")
    shared = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.__id") < F.col("b.__id")))
        .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= F.lit(int(min_shared)))
    )
    na = sizes.select(F.col("__id").alias("id_a"), F.col("__n").alias("__na"))
    nb = sizes.select(F.col("__id").alias("id_b"), F.col("__n").alias("__nb"))
    return (
        shared.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            "shared_fps",
            # unrounded exact-int division: tie-free cross-engine
            (
                F.col("shared_fps").cast("double")
                / F.least("__na", "__nb").cast("double")
            ).alias("overlap"),
        )
    )

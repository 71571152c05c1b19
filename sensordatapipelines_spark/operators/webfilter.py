"""Web-corpus curation filters: URL/domain blocklists and banned-term
scoring — the two standard "remove it before it trains" gates every
web-scale pipeline runs (C4's badwords filter, Raffel et al. 2020 §2.2;
RefinedWeb's URL filtering, Penedo et al. 2023 §3.1; the UT1-style
domain blocklists both cite). Reference has no equivalent; charter
extension per the training-data-pipeline brief (SURVEY.md §2.7).

Scale shapes:

- ``url_host_filter`` — host extraction is one regexp (map-side); the
  blocklist match is REGISTRABLE-SUFFIX semantics (``ads.example.com``
  is blocked by ``example.com``) implemented as an equi-join on the
  exploded host-suffix set (bounded by label depth, ≤ ``max_labels``
  rows per url), never a ``LIKE '%…'`` scan — a per-pattern wildcard
  scan against a 100k-domain blocklist would be O(rows × patterns).
  The blocklist side carries no hint: real blocklists are ~10⁵ rows and
  the planner (then AQE, from runtime sizes) broadcasts them by size, so
  nothing OOMs if someone feeds a corpus-sized "blocklist" and building
  the plan runs no Spark job.
- ``term_blocklist_score`` — pure map-side expressions over the token
  array (zero shuffle, scan-bandwidth bound). Term lists are small and
  bounded (C4's list is a few hundred entries), so they enter the plan
  as a literal array; a corpus-sized term table should go through
  ``url_host_filter``-style join instead.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sensordatapipelines_spark.registry import register
from sensordatapipelines_spark.operators.text import (
    lower_ascii_expr,
    lower_ascii_py,
    tokens_expr,
)

# scheme://host[:port]/…  →  host (lowercased, port and userinfo stripped)
_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)"


def url_host_expr(url: Column) -> Column:
    """Lowercased host of an absolute URL ('' when no scheme/host —
    callers treat non-URLs as unblockable rather than erroring)."""
    return lower_ascii_expr(F.regexp_extract(url, _HOST_RE, 1))


def host_suffixes_expr(host: Column, max_labels: int = 5) -> Column:
    """The dot-suffix set of a host, shortest last: ``a.b.example.com`` →
    ``[a.b.example.com, b.example.com, example.com, com]`` (capped at the
    last ``max_labels`` labels — blocklists list registrable domains, so
    deeper prefixes can't match anything). This is the join key set that
    turns suffix matching into an equi-join."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    start = F.greatest(F.lit(1), n - F.lit(max_labels) + 1)
    return F.when(host == "", F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(start, n),
            lambda i: F.array_join(F.slice(labels, i, n - i + 1), "."),
        )
    )


@register("url_host_filter")
def url_host_filter(
    df: DataFrame,
    blocklist: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
    domain_col: str = "domain",
    mode: str = "annotate",
    max_labels: int = 5,
) -> DataFrame:
    """Domain-blocklist filtering with registrable-suffix semantics: a row
    is blocked when its URL's host equals a blocklisted domain OR is a
    subdomain of one. ``mode='annotate'`` adds ``host`` and ``blocked_by``
    (the SHORTEST matching blocklist domain, NULL when clean);
    ``mode='drop'`` keeps only clean rows (plus ``host``);
    ``mode='quarantine'`` keeps only blocked rows.

    Candidate generation is an equi-join between the exploded host-suffix
    set and the (normalized, distinct) blocklist — keyed, skew-bounded by
    label depth. Only ``(id, suffix)`` pairs ever shuffle: the verdict is
    computed on the slim projection and equi-joined back on ``id_col``,
    so document payloads never ride the match shuffle. The planner picks
    the blocklist join strategy by size (``autoBroadcastJoinThreshold``)."""
    if mode not in ("annotate", "drop", "quarantine"):
        raise ValueError(f"mode must be annotate|drop|quarantine, got {mode!r}")
    host = url_host_expr(F.col(url_col))
    with_host = df.withColumn("host", host)
    suffixes = with_host.select(
        F.col(id_col).alias("__id"),
        F.explode(host_suffixes_expr(F.col("host"), max_labels)).alias("__sfx"),
    )
    bl = blocklist.select(
        lower_ascii_expr(F.trim(F.col(domain_col))).alias("__sfx")
    ).distinct()
    # shortest match = the registrable domain actually listed; min_by over
    # (len, sfx) struct is deterministic on length ties
    verdict = (
        suffixes.join(bl, "__sfx")
        .groupBy("__id")
        .agg(
            F.min(F.struct(F.length("__sfx").alias("l"), F.col("__sfx").alias("s")))[
                "s"
            ].alias("blocked_by")
        )
    )
    out = with_host.join(
        verdict, on=with_host[id_col] == verdict["__id"], how="left"
    ).drop("__id")
    if mode == "quarantine":
        return out.filter(F.col("blocked_by").isNotNull())
    if mode == "drop":
        return out.filter(F.col("blocked_by").isNull()).drop("blocked_by")
    return out


@register("term_blocklist_score")
def term_blocklist_score(
    df: DataFrame,
    terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    max_banned_frac: float = 0.0,
) -> DataFrame:
    """C4-style banned-term gate, one row per document: ``n_tokens``,
    ``n_banned`` (token occurrences whose lowercase form is in ``terms``),
    ``banned_frac``, ``n_banned_distinct`` (distinct banned terms present)
    and ``keep`` (= ``banned_frac <= max_banned_frac``; C4 drops on ANY
    hit — the default 0.0). Pure map-side expressions, zero shuffle; the
    term list enters the plan as one literal array (bounded — real lists
    are a few hundred terms)."""
    terms_lit = F.array(*[F.lit(lower_ascii_py(t)) for t in terms])
    toks = tokens_expr(lower_ascii_expr(F.col(text_col)))
    n = F.size(toks)
    banned = F.filter(toks, lambda t: F.array_contains(terms_lit, t))
    n_banned = F.size(banned)
    frac = F.when(n > 0, n_banned.cast("double") / n.cast("double")).otherwise(
        F.lit(0.0)
    )
    return df.select(
        F.col(id_col),
        n.alias("n_tokens"),
        n_banned.alias("n_banned"),
        frac.alias("banned_frac"),
        F.size(F.array_distinct(banned)).alias("n_banned_distinct"),
        (frac <= F.lit(float(max_banned_frac))).alias("keep"),
    )


DEFAULT_TRACKING_PARAMS = ("utm_[^&]*", "fbclid=[^&]*", "gclid=[^&]*")


def canonical_url_expr(
    url: Column, tracking: "Sequence[str]" = DEFAULT_TRACKING_PARAMS
) -> Column:
    """Canonical URL form for URL-level dedup — the normalization every
    web-crawl pipeline runs before grouping by URL: drop the fragment,
    lowercase the scheme://host[:port] prefix, strip default ports
    (http:80, https:443), remove tracking query params, and drop one
    trailing slash. Pure expressions, every regex restricted to
    constructs whose semantics match between Java regex (Spark) and RE2
    (DuckDB): no lookarounds, no backreference tricks.

    Global-replace portability: Spark's ``regexp_replace`` is always
    global, so the "first separator" fix-up uses an ANCHORED pattern
    (only one possible match). The chain unifies ``?`` to ``&`` first so
    every tracking param carries its own separator, strips them in one
    global pass, then restores the first separator to ``?``."""
    # 1. fragment
    u = F.regexp_replace(url, "#.*", "")
    # 2. lowercase scheme://authority, strip default ports
    prefix = F.regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?&#]*", 0)
    rest = F.substring(u, F.length(prefix) + 1, F.length(u))
    p = lower_ascii_expr(prefix)
    p = F.regexp_replace(p, "^(http://[^/:]+):80$", "$1")
    p = F.regexp_replace(p, "^(https://[^/:]+):443$", "$1")
    u = F.concat(p, rest)
    # 3-5. unify separators, strip tracking params, restore the first '?'
    u = F.replace(u, F.lit("?"), F.lit("&"))
    u = F.regexp_replace(u, "&(" + "|".join(tracking) + ")", "")
    u = F.regexp_replace(u, "^([^&]*)&", "$1?")
    # 6-7. trailing separator, then one trailing slash
    u = F.regexp_replace(u, "[?&]$", "")
    return F.regexp_replace(u, "([^/])/$", "$1")


@register("canonicalize_url")
def canonicalize_url(
    df: DataFrame,
    url_col: str = "url",
    out_col: str = "url_canon",
    tracking: "Sequence[str]" = DEFAULT_TRACKING_PARAMS,
) -> DataFrame:
    """Attach the canonical URL (see ``canonical_url_expr``) — feed it to
    ``dedup_keep_first``/``duplicate_groups`` for URL-level dedup, the
    cheapest dedup pass a crawl pipeline runs (before any content hash).
    Map-side, zero shuffle."""
    return df.withColumn(out_col, canonical_url_expr(F.col(url_col), tracking))

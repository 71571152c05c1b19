import pytest
from pyspark.sql import functions as F

from sensordatapipelines_spark.operators.webfilter import (
    host_suffixes_expr,
    term_blocklist_score,
    url_host_expr,
    url_host_filter,
)


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "https://docs.example.com/a"),
            (2, "http://user:pw@CDN.AdSite.io:8080/x?q=1"),
            (3, "https://example.com.evil.org/phish"),  # suffix trick: clean
            (4, "https://example.com/root"),
            (5, "not a url at all"),
            (6, "https://blog.sample.net/p"),
        ],
        "doc_id long, url string",
    )


def _bl(spark):
    return spark.createDataFrame(
        [("example.com",), ("cdn.adsite.io",)], "domain string"
    )


def test_url_host_expr_and_suffixes(spark):
    rows = spark.range(1).select(
        url_host_expr(F.lit("https://User@Sub.Host.COM:443/p?a#f")).alias("h"),
        host_suffixes_expr(F.lit("a.b.c.d.e.f.com"), max_labels=3).alias("s"),
        host_suffixes_expr(F.lit("")).alias("empty"),
    ).collect()[0]
    assert rows.h == "sub.host.com"  # userinfo, port, path stripped; lowercased
    assert rows.s == ["e.f.com", "f.com", "com"]  # capped at last 3 labels
    assert rows.empty == []


def test_url_host_filter_modes_and_suffix_semantics(spark):
    out = {
        r.doc_id: r
        for r in url_host_filter(_docs(spark), _bl(spark), id_col="doc_id").collect()
    }
    assert out[1].blocked_by == "example.com"  # subdomain match
    assert out[2].blocked_by == "cdn.adsite.io"  # exact, case/port/userinfo-proof
    assert out[3].blocked_by is None  # example.com.evil.org must NOT match
    assert out[4].blocked_by == "example.com"  # exact registrable domain
    assert out[5].blocked_by is None and out[5].host == ""  # non-URL: clean
    assert out[6].blocked_by is None

    kept = url_host_filter(_docs(spark), _bl(spark), id_col="doc_id", mode="drop")
    assert sorted(r.doc_id for r in kept.collect()) == [3, 5, 6]
    assert "blocked_by" not in kept.columns
    quarantined = url_host_filter(
        _docs(spark), _bl(spark), id_col="doc_id", mode="quarantine"
    )
    assert sorted(r.doc_id for r in quarantined.collect()) == [1, 2, 4]
    with pytest.raises(ValueError, match="mode"):
        url_host_filter(_docs(spark), _bl(spark), mode="bogus")


def test_url_host_filter_shortest_match_and_no_build_job(spark):
    # host matching two entries -> blocked_by is the SHORTEST (registrable)
    docs = spark.createDataFrame(
        [(1, "https://a.b.example.com/x")], "doc_id long, url string"
    )
    bl = spark.createDataFrame(
        [("b.example.com",), ("example.com",)], "domain string"
    )
    # building the plan runs no Spark job: the join strategy is the
    # planner's choice, not bought with a count of the blocklist
    sc = spark.sparkContext
    sc.setJobGroup("url_host_filter_build", "plan build only")
    try:
        out = url_host_filter(docs, bl, id_col="doc_id")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("url_host_filter_build") == []
    assert out.collect()[0].blocked_by == "example.com"
    # unhinted, the small blocklist still broadcasts into the suffix join
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ResolvedHint" not in out._jdf.queryExecution().analyzed().toString()
    assert any(
        "BroadcastHashJoin [__sfx" in ln for ln in plan.splitlines()
    ), plan


def test_term_blocklist_score_counts_and_gate(spark):
    docs = spark.createDataFrame(
        [
            (1, "Slow drip slow LEAK here"),
            (2, "all clean words only"),
            (3, ""),
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in term_blocklist_score(
            docs, terms=("slow", "leak"), max_banned_frac=0.25
        ).collect()
    }
    assert (out[1].n_tokens, out[1].n_banned, out[1].n_banned_distinct) == (5, 3, 2)
    assert out[1].banned_frac == 0.6 and out[1].keep is False
    assert out[2].n_banned == 0 and out[2].keep is True
    assert out[3].n_tokens == 0 and out[3].banned_frac == 0.0 and out[3].keep is True
    assert out[4].n_tokens is None or out[4].n_tokens == 0  # null text tolerated


def test_canonical_url_expr_edges(spark):
    from sensordatapipelines_spark.operators.webfilter import canonicalize_url

    cases = {
        1: ("https://Example.COM:443/Path/?utm_source=x&q=1&utm_b=2#frag",
            "https://example.com/Path/?q=1"),
        2: ("http://Host.com:80/a/b/", "http://host.com/a/b"),
        3: ("https://h.io/p?utm_only=1", "https://h.io/p"),
        4: ("https://h.io/p?a=1&fbclid=zzz&b=2", "https://h.io/p?a=1&b=2"),
        5: ("https://h.io/", "https://h.io"),
        6: ("not a url ? with & stuff", "not a url ? with & stuff"),
        7: ("https://h.io/p?q=utm_fake", "https://h.io/p?q=utm_fake"),
        8: ("https://h.io:8443/p", "https://h.io:8443/p"),  # non-default port kept
    }
    df = spark.createDataFrame(
        [(k, v[0]) for k, v in cases.items()], "i long, url string"
    )
    got = {r.i: r.url_canon for r in canonicalize_url(df).collect()}
    assert got == {k: v[1] for k, v in cases.items()}


def test_canonical_url_idempotent(spark):
    """canon(canon(u)) == canon(u) — a normalizer that isn't idempotent
    would dedup differently depending on how many times it ran."""
    from sensordatapipelines_spark.operators.webfilter import canonical_url_expr

    urls = [
        "https://Example.COM:443/Path/?utm_source=x&q=1&utm_b=2#frag",
        "http://Host.com:80/a/b/",
        "https://h.io/p?utm_only=1",
        "https://h.io/p?a=1&fbclid=zzz&b=2",
        "https://h.io/",
        "not a url ? with & stuff",
        "https://h.io/p?q=utm_fake",
        "https://user@h.io:8443/p/?x=1&utm_z=2#f",
        "ftp://files.example.org/pub/",
        "",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select(
        canonical_url_expr(F.col("url")).alias("once"),
    ).select(
        "once", canonical_url_expr(F.col("once")).alias("twice")
    ).collect()
    for r in rows:
        assert r.once == r.twice, (r.once, r.twice)

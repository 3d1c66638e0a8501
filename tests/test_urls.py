"""URL canonicalization + domain curation (operators/urls.py).

Unit semantics of the canonicalizer (case folding scope, default ports,
tracking params, fragments, empty paths) and the curate_urls funnel
flags; cross-engine value parity is owned by the domain_curation oracle
(queries/curation.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tower_parse_spark.operators import urls as U


def _canon(spark, raw: list[str]) -> list[str]:
    df = spark.createDataFrame([(i, u) for i, u in enumerate(raw)], "i long, url string")
    rows = (
        df.select("i", U.canonical_url(F.col("url")).alias("c"))
        .orderBy("i")
        .collect()
    )
    return [r["c"] for r in rows]


def test_canonical_case_folds_scheme_and_host_only(spark):
    c = _canon(spark, ["HTTPS://WWW.Example.COM/Path/File?Q=Abc"])
    assert c == ["https://www.example.com/Path/File?Q=Abc"]


def test_canonical_strips_default_ports_keeps_custom(spark):
    c = _canon(
        spark,
        [
            "https://example.com:443/a",
            "http://example.com:80/a",
            "https://example.com:8443/a",
        ],
    )
    assert c == [
        "https://example.com/a",
        "http://example.com/a",
        "https://example.com:8443/a",
    ]


def test_canonical_strips_tracking_params_preserves_order(spark):
    c = _canon(
        spark,
        [
            "https://e.com/a?utm_source=x&b=2&a=1&fbclid=zz&gclid=q&ref=hn",
            "https://e.com/a?utm_campaign=x",
            "https://e.com/a?b=2&a=1",
        ],
    )
    assert c == [
        "https://e.com/a?b=2&a=1",  # order preserved, trackers gone
        "https://e.com/a",  # tracking-only query -> no '?'
        "https://e.com/a?b=2&a=1",  # param order NOT sorted
    ]


def test_canonical_drops_fragment_and_normalizes_empty_path(spark):
    c = _canon(
        spark,
        [
            "https://e.com/a/b#section-2",
            "https://e.com",
            "https://e.com?a=1#frag",
        ],
    )
    assert c == ["https://e.com/a/b", "https://e.com/", "https://e.com/?a=1"]


def test_url_domain_strips_www_and_port(spark):
    df = spark.createDataFrame(
        [(1, "HTTPS://WWW.News.Example.ORG:443/x"), (2, "https://cdn.e.net/y")],
        "i long, url string",
    )
    got = [
        r["d"]
        for r in df.select(U.url_domain(F.col("url")).alias("d"))
        .orderBy("i")
        .collect()
    ]
    assert got == ["news.example.org", "cdn.e.net"]


def test_curate_urls_funnel_flags(spark):
    rows = [
        # canonical dup pair: 1 keeps (min id), 2 is_url_dup
        (1, "https://a.com/x?utm_source=s"),
        (2, "HTTPS://A.COM/x"),
        # blocked domain
        (3, "https://bad.com/y"),
        # cap: domain c.com cap=2 -> ids 4,5 kept, 6 over_cap
        (4, "https://c.com/p1"),
        (5, "https://c.com/p2"),
        (6, "https://c.com/p3"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {
        r["doc_id"]: r
        for r in U.curate_urls(
            df, blocklist=("bad.com",), domain_cap=2
        ).collect()
    }
    assert not out[1].is_url_dup and out[1].kept
    assert out[2].is_url_dup and not out[2].kept and not out[2].over_cap
    assert out[3].blocked and not out[3].kept and not out[3].over_cap
    assert out[4].kept and out[5].kept
    assert out[6].over_cap and not out[6].kept
    assert out[2].canon_url == out[1].canon_url == "https://a.com/x"


def test_curate_urls_dup_flag_is_agg_not_window(spark):
    """The survivor rule is min(id) per canonical URL via an aggregate
    (map-side combinable at scale) — every copy beyond the min flags."""
    df = spark.createDataFrame(
        [(i, "https://hot.com/same") for i in range(7, 0, -1)],
        "doc_id long, url string",
    )
    out = U.curate_urls(df, domain_cap=10).collect()
    kept = [r.doc_id for r in out if not r.is_url_dup]
    assert kept == [1]


def test_curate_urls_retains_malformed_rows(spark):
    """NULL/unparseable URLs surface as malformed verdict rows instead
    of silently vanishing (the ingest family's malformed-routing rule);
    they never count as duplicates and never block other stages."""
    rows = [
        (1, "https://ok.com/x"),
        (2, None),
        (3, "not a url at all"),
        (4, "https://ok.com/x?utm_source=s"),  # dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r.doc_id: r for r in U.curate_urls(df, domain_cap=5).collect()}
    assert len(out) == 4
    assert out[2].malformed and not out[2].kept and not out[2].is_url_dup
    assert out[3].malformed and not out[3].kept
    assert not out[1].malformed and out[1].kept
    assert out[4].is_url_dup and not out[4].malformed

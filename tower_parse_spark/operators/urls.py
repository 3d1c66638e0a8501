"""URL canonicalization and domain-level corpus curation.

Web-corpus pipelines (C4 — Raffel et al. 2020; RefinedWeb — Penedo et
al. 2023; both public methodology) lead with URL hygiene before any
content-level filtering: canonicalize the URL, dedup at the URL level,
drop blocklisted domains, and cap how many documents any one domain may
contribute. The reference engine has no URL surface at all (its inputs
are sensor lines, readport.py:122-149); this family is part of the
LLM-data-pipeline extension the engine adds on top.

Everything here is built for the 100 TB shape:

- canonicalization and domain extraction are row-local JVM regexp
  projections (zero shuffle, pushes into the scan projection);
- URL-level dedup is ONE hash aggregation keyed on the canonical URL
  (``min(id)`` partial-aggregates map-side, so a URL crawled 10^8 times
  reduces before the shuffle — the passage_dedup rule) plus an
  equi-join back;
- the per-domain cap is the only ranking step and it runs over DEDUP
  SURVIVORS only; a pathologically hot domain is one task's window —
  AQE skew-split handles moderate skew, and a deployment that caps
  domains orders of magnitude over the cap should pre-filter with a
  domain-count aggregate so only over-cap domains enter the window
  (noted in :func:`curate_urls`).

Regex syntax is the RE2-compatible subset (no lookaround, no
backreferences) so the DuckDB oracle runs the literally identical
patterns.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

#: query parameters that never identify content: analytics/click
#: trackers (the C4/RefinedWeb strip set)
TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|ref)="
#: well-known default ports, stripped regardless of scheme (a
#: documented simplification: http on :443 is pathological)
DEFAULT_PORT_RE = r":(80|443)$"

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOSTPORT_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
# first '?' up to the fragment; [^#?]* (not greedy [^#]*) so a '?'
# inside the query never shifts the capture start
_QUERY_RE = r"^[^#?]*\?([^#]*)"


def _host(url: Column) -> Column:
    """Lowercased host with any well-known default port stripped."""
    return F.regexp_replace(
        F.lower(F.regexp_extract(url, _HOSTPORT_RE, 1)), DEFAULT_PORT_RE, ""
    )


def _clean_query(url: Column) -> Column:
    """Query string with tracking parameters removed, original order
    preserved (canonicalizers that SORT parameters conflate ?a=1&b=2
    with ?b=2&a=1 — kept distinct here, the conservative choice)."""
    params = F.split(F.regexp_extract(url, _QUERY_RE, 1), "&")
    kept = F.filter(
        params, lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE)
    )
    return F.array_join(kept, "&")


def canonical_url(url: Column) -> Column:
    """Canonical form of *url*: lowercase scheme and host, default port
    stripped, fragment dropped, tracking query parameters removed,
    empty path normalized to ``/``. Path and query VALUE case are
    preserved (case-significant on most servers). Pure row-local
    expression — no UDF, no shuffle."""
    scheme = F.lower(F.regexp_extract(url, _SCHEME_RE, 1))
    path = F.regexp_extract(url, _PATH_RE, 1)
    q = _clean_query(url)
    return F.concat(
        scheme,
        F.lit("://"),
        _host(url),
        F.when(path == "", F.lit("/")).otherwise(path),
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )


def url_domain(url: Column) -> Column:
    """Registrable-domain approximation: the canonical host with a
    leading ``www.`` stripped. (A public-suffix-aware eTLD+1 would be a
    broadcast join that does not change the plan shape; this cheap form
    is what the oracle-checked query mirrors.)"""
    return F.regexp_replace(_host(url), r"^www\.", "")


def curate_urls(
    df: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
    blocklist: Sequence[str] = (),
    domain_cap: int = 10,
) -> DataFrame:
    """Full URL-curation funnel, one pass, per-document verdict rows:

    1. canonicalize (:func:`canonical_url`) and extract the domain;
    2. URL-level exact dedup — ``is_url_dup`` unless the row holds the
       min *id_col* for its canonical URL (the exact_dedup survivor
       rule). Agg + join-back, NOT a window: ``min(id)`` partial-
       aggregates map-side, so a boilerplate URL with 10^8 crawls
       reduces to one row before the shuffle;
    3. domain blocklist — ``blocked`` when the domain is listed (the
       literal list folds into the scan filter; a large blocklist
       becomes a broadcast left-semi join, same plan shape);
    4. per-domain cap — among rows surviving 2–3, ``over_cap`` when the
       row ranks past *domain_cap* within its domain (rank by *id_col*,
       deterministic). The rank window is COUNT-PREFILTERED: a
       map-side-combinable per-domain count first identifies the
       over-cap domains, and only THEIR rows enter the sort-based
       window — on a real web corpus the vast majority of domains sit
       under the cap and bypass the sort entirely, and a pathologically
       hot domain is confined to its own (AQE-splittable) partition of
       a much smaller relation.

    ``kept`` = passed every stage. Returns one row per input row with
    (id, canon_url, domain, malformed, is_url_dup, blocked, over_cap,
    kept) — INCLUDING rows whose URL is NULL/unparseable: those carry
    ``malformed = true`` and ``kept = false`` instead of silently
    vanishing (the malformed-record routing philosophy of the ingest
    family, readport.py:353-364's skip-and-continue re-expressed as a
    verdict row).

    Fan-out barriers (the passage_dedup rule): the canonical relation
    feeds the survivor agg and the join-back; the flagged relation
    feeds the domain counts, the window leg and the final output — each
    is localCheckpointed so its upstream work runs once per row, not
    once per consumer.
    """
    url = F.col(url_col)
    canon = (
        df.select(
            F.col(id_col),
            canonical_url(url).alias("canon_url"),
            url_domain(url).alias("domain"),
        )
        .localCheckpoint(eager=False)
    )
    keepers = canon.groupBy("canon_url").agg(
        F.min(id_col).alias("_keep_id")
    )
    blocked_expr = (
        F.coalesce(F.col("domain").isin(*blocklist), F.lit(False))
        if blocklist
        else F.lit(False)
    )
    flagged = (
        canon.join(keepers, "canon_url", "left")
        .select(
            F.col(id_col),
            "canon_url",
            "domain",
            (
                F.col("canon_url").isNull()
                | ~F.col("canon_url").rlike(_SCHEME_RE)
            ).alias("malformed"),
            (
                F.col("canon_url").isNotNull()
                & F.col("canon_url").rlike(_SCHEME_RE)
                & (F.col(id_col) != F.col("_keep_id"))
            ).alias("is_url_dup"),
            blocked_expr.alias("blocked"),
        )
        .localCheckpoint(eager=False)
    )
    surv = flagged.filter(
        ~F.col("malformed") & ~F.col("is_url_dup") & ~F.col("blocked")
    )
    over_cap_domains = (
        surv.groupBy("domain")
        .agg(F.count(F.lit(1)).alias("_dn"))
        .filter(F.col("_dn") > domain_cap)
        .select("domain")
    )
    # only over-cap domains pay the rank sort; a row absent from this
    # relation is a survivor in an under-cap domain (kept by definition)
    capped = (
        surv.join(over_cap_domains, "domain")
        .withColumn(
            "_rnk",
            F.row_number().over(W.partitionBy("domain").orderBy(id_col)),
        )
        .filter(F.col("_rnk") > domain_cap)
        .select(id_col, F.lit(True).alias("_over"))
    )
    survived = (
        ~F.col("malformed") & ~F.col("is_url_dup") & ~F.col("blocked")
    )
    over = F.coalesce(F.col("_over"), F.lit(False))
    return flagged.join(capped, id_col, "left").select(
        F.col(id_col),
        "canon_url",
        "domain",
        "malformed",
        "is_url_dup",
        "blocked",
        (survived & over).alias("over_cap"),
        (survived & ~over).alias("kept"),
    )

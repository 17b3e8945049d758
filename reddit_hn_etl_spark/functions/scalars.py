"""Scalar-function layer (SURVEY.md §2.4 F1-F10).

Every scalar the reference uses, as composable Column expressions —
all native (JVM, whole-stage-codegen'd), zero Python UDFs in the data
path (100 TB posture, SURVEY.md §2.10).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def domain_from_url(url: str | Column, no_domain: str = "(no_domain)") -> Column:
    """Domain extraction pipeline after `sql/mart/02_marts.sql:56-65`
    — same operator composition (nested ``replace`` F2 + ``lower`` F1
    + ``split_part`` F3 + CASE F4), with ONE deliberate divergence in
    operation order:

    * reference: ``lower(split_part(replace(replace(url, 'https://',
      ''), 'http://', ''), '/', 1))`` — strips the scheme
      CASE-SENSITIVELY, so ``HTTPS://Example.com/x`` keeps its scheme
      and yields ``https:`` (scheme-cased URLs leak through as junk
      domains);
    * here: ``lower`` FIRST, then strip, then split — the same input
      yields ``example.com``.

    The divergence is intentional (uppercase-scheme URLs exist in the
    wild; a junk ``https:`` domain row is a data bug) and pinned by
    ``tests/test_queries_misc.py::test_domain_from_url_scheme_case``.
    For lowercase-scheme URLs — every row the reference test corpus
    contains — the two compositions are identical, and the mart
    oracles mirror this form.
    """
    u = F.col(url) if isinstance(url, str) else url
    stripped = F.replace(
        F.replace(F.lower(u), F.lit("https://"), F.lit("")),
        F.lit("http://"),
        F.lit(""),
    )
    host = F.split_part(stripped, F.lit("/"), F.lit(1))
    return F.when(u.isNull() | (u == ""), F.lit(no_domain)).otherwise(host)


def coalesce_default(col: str | Column, default) -> Column:
    """F5: COALESCE(x, default) (`sql/mart/02_marts.sql:14-15,66,100-101`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c, F.lit(default))


def to_metric_date(ts: str | Column) -> Column:
    """F6: ``time_utc::date`` day bucketing (`sql/mart/02_marts.sql:13`).

    Correct only under a UTC session timezone (see session.py).
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.to_date(c)


def money2(col: Column) -> Column:
    """F7: numeric(10,2) output typing (`sql/mart/01_schema.sql:15,17`)."""
    return col.cast("decimal(10,2)")


def epoch_to_ts(col: str | Column) -> Column:
    """P7: epoch seconds → UTC timestamp
    (`src/transform/hn_transform.py:88`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_seconds(c)


_TRACKING_PARAM_RE = r"(?i)^(utm_|gclid=|fbclid=|ref=)"


def canonical_url(url: str | Column) -> Column:
    """URL canonicalization for URL-level dedup — the crawl-dedup
    normalization step (RefinedWeb-style URL dedup), extending F1-F4's
    `domain_from_url` from host extraction to a full canonical key.

    Rules (each mirrored verbatim by the DuckDB oracle of the
    `url_canonical_dedup` query — a drift in any rule flips its hash):

    1. scheme and host lowercased;
    2. a leading ``www.`` dropped from the host;
    3. the port is everything after the FIRST colon of the authority
       (a malformed or userinfo-bearing multi-colon authority keeps
       its full tail verbatim, so distinct spellings stay distinct);
       the default port stripped (``:80`` for http, ``:443`` for
       https); any other explicit port kept;
    4. the ``#fragment`` dropped;
    5. query params split on ``&``; empty params and tracking params
       matching ``(?i)^(utm_|gclid=|fbclid=|ref=)`` dropped
       (case-INSENSITIVELY — ``?UTM_SOURCE=x`` and ``?utm_source=x``
       collapse to the same key, matching the case-normalized
       scheme/host); survivors sorted lexicographically as whole
       ``k=v`` strings and re-joined — param order never
       discriminates;
    6. trailing ``/`` runs stripped from the path (the canonical root
       is the bare authority).

    Pure native column expressions (regexp_extract / split_part /
    filter / array_sort / concat_ws) — whole-stage-codegen eligible,
    no UDF, so the 100 TB shape is scan → project → hash-agg on the
    canonical key. NULL/empty input stays NULL. IPv6 bracket hosts
    are out of scope (the ``:`` port split would mangle them).
    """
    u = F.col(url) if isinstance(url, str) else url
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    nofrag = F.regexp_extract(rest, r"^([^#]*)", 1)
    authority = F.regexp_extract(nofrag, r"^([^/?]*)", 1)
    host = F.regexp_replace(
        F.lower(F.split_part(authority, F.lit(":"), F.lit(1))), r"^www\.", ""
    )
    port = F.regexp_extract(authority, r"^[^:]*:(.*)$", 1)
    keep_port = (
        (port != "")
        & ~((scheme == F.lit("http")) & (port == F.lit("80")))
        & ~((scheme == F.lit("https")) & (port == F.lit("443")))
    )
    port_part = F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(
        F.lit("")
    )
    pathquery = F.substr(nofrag, F.length(authority) + F.lit(1))
    path = F.regexp_replace(
        F.regexp_extract(pathquery, r"^([^?]*)", 1), r"/+$", ""
    )
    query = F.regexp_extract(pathquery, r"\?(.*)$", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(_TRACKING_PARAM_RE),
        )
    )
    query_part = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.concat_ws("&", params))
    ).otherwise(F.lit(""))
    out = F.concat(scheme, F.lit("://"), host, port_part, path, query_part)
    return F.when(u.isNull() | (u == ""), F.lit(None).cast("string")).otherwise(
        out
    )

"""URL featurization for crawl curation: scheme/host/domain/path
features as pure JVM regexp columns (one codegen projection, zero
Python, zero shuffle) and the domain-mix aggregate a data-mixing
plan consumes (``split.mixture_sample`` takes target shares; THIS
is where a crawl's achievable per-domain shares come from — C4,
RefinedWeb and Dolma all curate by registered domain before any
content filter runs).

Portability rules (module contract, same as ``operators/text``):
every expression is RE2-safe (no backrefs/lookaround) and replayed
verbatim by the DuckDB oracle. ``registered_domain`` is the NAIVE
last-two-labels rule, deliberately: the real Public Suffix List is
a mutable external artifact (co.uk vs com), so this module trades
eTLD+1 exactness for a deterministic, dependency-free, oracle-exact
rule and says so — swap in a PSL lookup via a broadcast map column
when the deployment ships one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: RE2-portable pieces shared verbatim with the oracle
SCHEME_RE = "^([a-z][a-z0-9+.-]*)://"
HOST_RE = "^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)"
PATH_RE = "^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)"
QUERY_RE = "\\?([^#]*)"
#: path INCLUDING the query (robots matching per RFC 9309), minus
#: any fragment
PATHQUERY_RE = "^[a-z][a-z0-9+.-]*://[^/?#]*([^#]*)"


def url_scheme(col: str = "url") -> Column:
    return F.regexp_extract(F.col(col), SCHEME_RE, 1) \
        .alias("scheme")


def url_host(col: str = "url") -> Column:
    """Hostname with userinfo and port stripped, lowercased."""
    return F.lower(F.regexp_extract(F.col(col), HOST_RE, 1)) \
        .alias("host")


def registered_domain(col: str = "url") -> Column:
    """Naive registered domain: the last two dot-labels of the host
    (see module docstring for the deliberate no-PSL contract)."""
    host = F.lower(F.regexp_extract(F.col(col), HOST_RE, 1))
    parts = F.split(host, "\\.")
    n = F.size(parts)
    return F.when(
        n >= 2,
        F.concat_ws(".", F.element_at(parts, -2),
                    F.element_at(parts, -1)),
    ).otherwise(host).alias("domain")


def url_path_depth(col: str = "url") -> Column:
    """Number of non-empty path segments."""
    path = F.regexp_extract(F.col(col), PATH_RE, 1)
    return F.size(F.filter(F.split(path, "/"),
                           lambda x: x != "")).alias("path_depth")


def url_n_params(col: str = "url") -> Column:
    """Number of &-separated query parameters (0 when no query)."""
    q = F.regexp_extract(F.col(col), QUERY_RE, 1)
    return F.when(q == "", F.lit(0)).otherwise(
        F.size(F.split(q, "&"))).alias("n_params")


def url_features(col: str = "url") -> list[Column]:
    """The full feature family, one codegen projection."""
    return [url_scheme(col), url_host(col), registered_domain(col),
            url_path_depth(col), url_n_params(col)]


def domain_mix(
    df: DataFrame,
    *,
    url_col: str = "url",
    min_pages: int = 1,
) -> DataFrame:
    """Per-registered-domain page counts and corpus share —
    the achievable-share report a domain-curation plan feeds into
    :func:`~cerberus_cpp_spark.operators.split.mixture_sample`
    (group col = ``domain``). NULL/unparseable URLs aggregate under
    domain '' so the report always accounts for every row.

    Scale shape: one scan, one hash aggregate with map-side partial
    aggregation (the Exchange ships O(domains), not O(pages)); the
    share denominator is a 1-row grand total broadcast back over the
    reduced frame. An unpartitioned window would move ALL O(domains)
    rows through ONE task — at web scale registered domains are
    10^8+, a straggler by design — where the 1-row agg + broadcast
    cross-join computes the same denominator with no
    single-partition Exchange, and exchange reuse keeps the
    domain aggregate computed once."""
    if min_pages < 1:
        raise ValueError("min_pages must be >= 1")
    counts = (
        df.select(F.coalesce(registered_domain(url_col),
                             F.lit("")).alias("domain"))
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )
    total = counts.agg(F.sum("n_pages").alias("__total_pages"))
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("share",
                    F.col("n_pages") / F.col("__total_pages"))
        .drop("__total_pages")
        .where(F.col("n_pages") >= min_pages)
    )


def robots_rules(
    robots: DataFrame,
    *,
    agent: str,
    host_col: str = "host",
    text_col: str = "robots_txt",
) -> DataFrame:
    """Parse per-host robots.txt bodies (sources/robots.py — the
    pinned RFC 9309 + de-facto REP contract) and emit the rule rows
    of the group selected for ``agent``: ``(host_col, allow,
    pattern, regex, plen)``. ``regex`` is the portable anchored
    translation (``robots.rule_regex``) so downstream matching and
    the DuckDB oracle share the identical pattern string. Hosts
    whose body is NULL, unparsable, or selects no group (or a group
    with no rules) emit NO rows — the allow-all default. One narrow
    Arrow stage over the robots frame (domain-scale, tiny next to
    the URL corpus)."""
    from pyspark.sql import types as SQT

    hc, tc = host_col, text_col
    host_dtype = robots.schema[hc].dataType
    schema = SQT.StructType([
        SQT.StructField(hc, host_dtype, True),
        SQT.StructField("allow", SQT.BooleanType(), False),
        SQT.StructField("pattern", SQT.StringType(), False),
        SQT.StructField("regex", SQT.StringType(), False),
        SQT.StructField("plen", SQT.IntegerType(), False),
    ])
    agent_l = str(agent)

    from ..functions.shipping import PKG_PARENT

    pkg_parent = PKG_PARENT

    def work(batches):
        import importlib.util
        import sys

        import pandas as pd

        if (importlib.util.find_spec("cerberus_cpp_spark") is None
                and pkg_parent not in sys.path):
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.robots import (
            parse_robots,
            rule_regex,
            select_group,
        )
        from cerberus_cpp_spark.functions.shipping import task_prelude

        task_prelude()

        for pdf in batches:
            hosts, allows, pats, rxs, lens = [], [], [], [], []
            for h, t in zip(pdf[hc], pdf[tc]):
                if t is None:
                    continue
                g = select_group(parse_robots(t), agent_l)
                if g is None:
                    continue
                for allow, pat in g.rules:
                    hosts.append(h)
                    allows.append(allow)
                    pats.append(pat)
                    rxs.append(rule_regex(pat))
                    lens.append(len(pat))
            yield pd.DataFrame({
                hc: pd.Series(hosts, dtype=object),
                "allow": pd.Series(allows, dtype=bool),
                "pattern": pd.Series(pats, dtype=object),
                "regex": pd.Series(rxs, dtype=object),
                "plen": pd.Series(lens, dtype="int32"),
            })

    return robots.select(hc, tc).mapInPandas(work, schema)


def robots_audit(
    urls: DataFrame,
    robots: DataFrame,
    *,
    agent: str,
    url_col: str = "url",
    host_col: str = "host",
    text_col: str = "robots_txt",
) -> DataFrame:
    """Crawl-policy audit: for every URL row, is fetching it
    allowed for ``agent`` under its host's robots.txt? Matching is
    the pinned REP contract — among the selected group's rules
    whose pattern matches the path (empty path = '/'), the LONGEST
    pattern wins and allow wins length ties (final tie on the
    pattern string itself, lexicographic max, for determinism);
    no applicable rule, no group, or no robots row = allowed.
    Returns one row per input URL row: ``(url, host, path,
    allowed, matched_pattern)`` — NULL/unparsable URLs come back
    with NULL host/path and allowed=true (nothing forbids them;
    route them through url_features for shape validation instead).

    Scale shape: the rules frame is domain-scale and joins
    host-keyed against the distinct (host, path) set (AQE
    broadcasts it in any real crawl); the per-candidate regex match
    runs inside the join projection; one aggregate folds candidates
    to the winner; one final join hangs verdicts back on the URL
    rows. Nothing data-proportional is collected or broadcast
    by force."""
    uc = url_col
    rules = robots_rules(
        robots, agent=agent, host_col=host_col, text_col=text_col
    )
    host = F.lower(F.regexp_extract(F.col(uc), HOST_RE, 1))
    # RFC 9309 patterns match against path PLUS query ('?' is a
    # literal in the translation; 'Disallow: /*?sid=*' must fire on
    # '/p?sid=1') — capture everything up to the fragment
    rawpath = F.regexp_extract(F.col(uc), PATHQUERY_RE, 1)
    path = F.when(
        host == "", F.lit(None).cast("string")
    ).otherwise(F.when(rawpath == "", F.lit("/")).otherwise(rawpath))
    host = F.when(host == "", F.lit(None).cast("string")) \
        .otherwise(host)
    pages = urls.select(
        F.col(uc).alias("url"),
        host.alias("_host"),
        path.alias("_path"),
    )
    cand = (
        pages.where(F.col("_host").isNotNull()).distinct()
        .join(rules,
              F.col("_host") == F.col(host_col), "inner")
        .where(F.expr("_path rlike regex"))
    )
    best = cand.groupBy("url").agg(
        F.max(
            F.struct(
                F.col("plen"),
                F.col("allow").cast("int").alias("a"),
                F.col("pattern"),
                F.col("allow"),
            )
        ).alias("b")
    )
    return (
        pages.join(best, "url", "left")
        .select(
            "url",
            F.col("_host").alias("host"),
            F.col("_path").alias("path"),
            F.coalesce(F.col("b.allow"), F.lit(True))
            .alias("allowed"),
            F.col("b.pattern").alias("matched_pattern"),
        )
    )

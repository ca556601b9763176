"""URL canonicalization and domain-grain corpus operators — the first
things a CommonCrawl-style web ingest does after WARC framing (X153
normalizes *content* — this family normalizes the ADDRESS):

- :func:`canonical_url` — one deterministic canonical form per URL, as
  a pure Column expression: scheme/host lowercased, userinfo dropped,
  default ports (http:80 / https:443) stripped, empty path → ``/``,
  percent-encoding normalized in path and query (RFC 3986 §6.2.2:
  ``%XX`` hex uppercased, unreserved octets — ALPHA / DIGIT /
  ``-._~`` — decoded, malformed ``%`` left verbatim), path
  dot-segments resolved and duplicate slashes collapsed (§6.2.2.3:
  ``/a/./b`` → ``/a/b``, ``/a/../b`` → ``/b``, ``//a//b`` → ``/a/b``;
  a trailing ``/``, ``/.`` or ``/..`` keeps the directory form's
  trailing slash), query parameters tracking-stripped (``utm_*``
  prefix + the click-id set) and SORTED, fragment dropped. Case
  variants, ``%7e``/``%7E``/``~`` spellings, dot-segments, param
  order, tracking junk, ``#fragments`` and redundant ``:443`` all
  collapse to one string — the crawl dedup key (a re-crawl of the
  same resource through an ad link must hash identically).
  The HOST is normalized too (r12): percent-encoding normalized the
  same way (``%73ite.com`` → ``site.com``), lowercased AFTER the
  decode, trailing root-label dots stripped (``example.com.`` →
  ``example.com``).
  DECLARED BOUNDARIES, address axis: IPv6 literal authorities
  (``[::1]:8080``) canonicalize to NULL — the colon-split port rule
  cannot parse them, so they route to the caller's bad-row frame
  (sources/wind.py stance) rather than emit a corrupt key;
  punycode↔Unicode host equivalence (``xn--`` IDNA) is NOT resolved —
  like the PSL boundary on :func:`registrable_domain`, callers who
  need it bring the codec; non-unreserved ``%XX`` octets remaining in
  a host keep lowercase hex (see ``_norm_host``).
- :func:`registrable_domain` — last-two-label heuristic with an
  optional caller-supplied multi-label public-suffix set. DECLARED
  BOUNDARY: without a Public Suffix List, ``foo.co.uk`` collapses to
  ``co.uk``; callers with PSL data pass the two-label suffixes they
  care about via ``extra_suffixes`` (checked before the default).
- :func:`host_suffix_chain` — every dot-suffix of a host
  (``a.b.c → [a.b.c, b.c, c]``), the expansion that turns "host is
  under blocked domain" into an EQUI-join: ≤ label-count rows per
  host, so a blocklist of any size joins hash-partitioned or
  broadcast — never a theta/nested-loop join over |corpus|×|rules|.
- :func:`domain_rollup` — registrable-domain-grain corpus report
  (pages, distinct canonical URLs, distinct hosts, duplicate share).
- :func:`path_prefix_chain` — host+path prefixes at ``/``
  boundaries, the path-axis twin (robots/section-level rules).
- :func:`blocklist_audit` — per-rule match counts + corpus share;
  rules carry a ``kind`` (``domain`` or ``path_prefix``) and both
  kinds ride ONE kind-tagged equi-join.
- :func:`parse_robots` / :func:`robots_check` /
  :func:`robots_directives` — RFC 9309 robots.txt politeness:
  per-host bodies → agent-applicable rules (UA-group windows,
  exact-agent-beats-star at GROUP grain — an empty named group means
  unrestricted, same-UA groups merged), per-URL verdicts by
  most-octets matching pattern with allow winning ties; rule paths
  percent-normalized (+ dot-segment folded in the plain lane) before
  matching, ``*``/``$`` wildcards matched via anchored-regex
  translation (r11 X181, upgraded r12); Sitemap/Crawl-delay metadata
  surfaced separately.
- :func:`sitemap_urls` — sitemaps.org ``<loc>`` extraction (urlset vs
  sitemapindex kinds), entries canonicalized, malformed → bad-row
  (r11, X182) — the discovery loop's third leg.

Everything is built from shared string/array primitives (regexp
extraction with RE2-safe patterns, split/sort/filter/join) so DuckDB
replays each step bit-for-bit — the whole family is exactly oracled
(qr3/qr4/qr5/qs0).

Scale shape: canonicalization is a per-row projection (codegen, no
UDF); the rollup is one hash aggregate on the domain key; the
blocklist join explodes one row per host-suffix level plus one per path segment (≈5–10 per URL) and equi-joins. At
100 TB the only shuffle is the rollup's domain key — web corpora skew
on big domains, which is exactly what the salting/AQE-skew machinery
(operators/skew.py) exists for; counts here are distinct-aggregates
per domain, which Spark executes as partial expand + two-level
aggregate (no single hot reducer holds raw rows).

Reference parity: the reference repo has no web-corpus layer; this is
part of the BASELINE.md training-data extension family (VERDICT r9
Missing #2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from alaska_etl_spark.functions.fixedpoint import div_half_up

__all__ = [
    "TRACKING_PARAM_KEYS",
    "canonical_url",
    "url_host",
    "registrable_domain",
    "psl_registrable_domain",
    "host_suffix_chain",
    "path_prefix_chain",
    "domain_rollup",
    "blocklist_audit",
    "parse_robots",
    "robots_directives",
    "robots_check",
    "sitemap_urls",
]

# Exact-match click/campaign identifier keys stripped by
# canonical_url, on top of the utm_ prefix family. Deliberately short
# and conservative: stripping a content-bearing param changes the
# resource; these are pure attribution noise by specification.
TRACKING_PARAM_KEYS = ("gclid", "fbclid", "msclkid", "igshid", "mc_eid")

# RE2- and Java-regex-safe URL part patterns (no lookaround, no
# backrefs) — the SQL oracles use the same literals.
_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_AUTH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
# [^#?]* before the \? pins the FIRST ? outside the fragment (greedy
# [^#]* would pin the last).
_QUERY_RE = r"^[^#?]*\?([^#]*)"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _auth(url: Column) -> Column:
    # authority minus userinfo: everything after the last '@'
    return F.element_at(F.split(F.regexp_extract(url, _AUTH_RE, 1), "@"), -1)


def _norm_host(raw: Column) -> Column:
    """Host normalization (r12, VERDICT r11 Missing #3): percent-
    normalize (unreserved octets decode — ``%73ite`` → ``site``),
    lowercase, strip trailing dots (the FQDN root-label spelling).
    Ordering note: lowercasing runs AFTER the decode so a ``%53``
    (``S``) collapses to ``s``; any REMAINING ``%XX`` octet (non-
    unreserved — the UTF-8 bytes of an IDN host) therefore ends with
    lowercase hex in the host, a deterministic, idempotent spelling
    that deviates from the path's uppercase-hex rule only where full
    IDNA handling is already the declared boundary."""
    return F.regexp_replace(F.lower(_pct_normalize(raw)), r"\.+$", "")


def url_host(col: Column | str) -> Column:
    """Normalized lowercase host of a URL (userinfo and port dropped,
    percent-encoding normalized, trailing dots stripped); empty string
    when the value does not look like a scheme://… URL."""
    url = _c(col)
    return _norm_host(F.element_at(F.split(_auth(url), ":"), 1))


# Hex pairs of the RFC 3986 unreserved set (ALPHA / DIGIT / -._~):
# 2D 2E (-.), 30-39 (DIGIT), 41-5A + 5F (ALPHA upper + _),
# 61-7A + 7E (ALPHA lower + ~). Anchored full-match on the UPPERCASED
# two-hex-digit prefix of a %-piece.
_UNRESERVED_HEX_RE = r"^(2[DE]|3[0-9]|4[1-9A-F]|5[0-9A]|5F|6[1-9A-F]|7[0-9A]|7E)$"


def _pct_normalize(s: Column) -> Column:
    """RFC 3986 §6.2.2 percent-encoding normalization as a pure Column
    over ASCII URL text: split on ``%``; every piece opening with two
    hex digits either decodes (when the octet is unreserved) or keeps
    the ``%`` with the hex UPPERCASED; pieces without a valid hex
    prefix keep their ``%`` verbatim (malformed input round-trips).
    The SQL twin replays the identical split/transform/join."""
    parts = F.split(s, "%")

    def _piece(p: Column) -> Column:
        hx = F.upper(F.substring(p, 1, 2))
        rest = F.substring(p, 3, 2147483647)
        return (
            F.when(~p.rlike(r"^[0-9A-Fa-f]{2}"), F.concat(F.lit("%"), p))
            .when(
                hx.rlike(_UNRESERVED_HEX_RE),
                F.concat(F.char(F.conv(hx, 16, 10).cast("int")), rest),
            )
            .otherwise(F.concat(F.lit("%"), hx, rest))
        )

    normed = F.transform(
        parts, lambda p, i: F.when(i == F.lit(0), p).otherwise(_piece(p))
    )
    return F.array_join(normed, "")


def _norm_path(rawpath: Column) -> Column:
    """RFC 3986 §6.2.2.3 remove_dot_segments plus duplicate-slash
    collapse, as one string fold: split on ``/``; empty and ``.``
    segments vanish, ``..`` pops the previous segment (excess ``..``
    at the root is dropped — absolute-path semantics), everything else
    appends. A path ending in ``/``, ``/.`` or ``/..`` keeps a
    trailing slash (the directory form); an empty result is ``/``."""
    segs = F.split(rawpath, "/")
    folded = F.aggregate(
        segs,
        F.lit(""),
        lambda acc, x: F.when((x == "") | (x == "."), acc)
        .when(x == "..", F.regexp_replace(acc, "/[^/]*$", ""))
        .otherwise(F.concat(acc, F.lit("/"), x)),
    )
    trailing = rawpath.rlike(r"/(\.\.?)?$")
    return F.when(folded == "", F.lit("/")).otherwise(
        F.concat(folded, F.when(trailing, F.lit("/")).otherwise(F.lit("")))
    )


def canonical_url(col: Column | str) -> Column:
    """Canonical form of a URL (see module docstring for the exact
    rule set). NULL for NULL input, for strings without a
    ``scheme://`` prefix, and for IPv6 literal authorities (``[…]`` —
    unparseable by the colon port rule) — a crawl frame routes those
    to its bad-row side, it does not guess."""
    url = _c(col)
    scheme = F.lower(F.regexp_extract(url, _SCHEME_RE, 1))
    auth = _auth(url)
    host = _norm_host(F.element_at(F.split(auth, ":"), 1))
    port = F.when(
        F.size(F.split(auth, ":")) > 1, F.element_at(F.split(auth, ":"), 2)
    ).otherwise(F.lit(""))
    default_port = ((scheme == "http") & (port == "80")) | (
        (scheme == "https") & (port == "443")
    )
    portpart = F.when(
        (port == "") | default_port, F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))
    rawpath = F.regexp_extract(url, _PATH_RE, 1)
    path = _norm_path(_pct_normalize(rawpath))
    rawq = _pct_normalize(F.regexp_extract(url, _QUERY_RE, 1))
    keep = F.array_sort(
        F.filter(
            F.split(rawq, "&"),
            lambda p: (p != "")
            & (F.substring(p, 1, 4) != "utm_")
            & ~F.element_at(F.split(p, "="), 1).isin(*TRACKING_PARAM_KEYS),
        )
    )
    qpart = F.when(
        F.size(keep) > 0, F.concat(F.lit("?"), F.array_join(keep, "&"))
    ).otherwise(F.lit(""))
    return F.when(
        url.rlike(_SCHEME_RE) & ~auth.contains("["),
        F.concat(scheme, F.lit("://"), host, portpart, path, qpart),
    )


def registrable_domain(
    host: Column | str, *, extra_suffixes: "tuple[str, ...]" = ()
) -> Column:
    """Registrable domain of a lowercase host: last two dot-labels,
    or last THREE when the last two equal a caller-supplied multi-label
    public suffix (``extra_suffixes=("co.uk", ...)``). Hosts with one
    label pass through. Heuristic boundary documented in the module
    docstring."""
    h = _c(host)
    labels = F.split(h, r"\.")
    nlab = F.size(labels)
    last2 = F.when(nlab >= 2, F.array_join(F.slice(labels, -2, 2), ".")).otherwise(h)
    if not extra_suffixes:
        return last2
    last3 = F.when(nlab >= 3, F.array_join(F.slice(labels, -3, 3), ".")).otherwise(
        last2
    )
    return F.when(last2.isin(*extra_suffixes), last3).otherwise(last2)


def psl_registrable_domain(
    df: DataFrame,
    host_col: str,
    rules: DataFrame,
    *,
    pattern_col: str = "pattern",
) -> DataFrame:
    """FULL Public Suffix List semantics for the registrable domain —
    the closure of :func:`registrable_domain`'s declared PSL boundary
    (r12): the caller brings the PSL as a DATA FRAME of patterns
    (publicsuffix.org rule syntax — plain ``co.uk``, wildcard
    ``*.ck``, exception ``!www.ck``) and every host resolves by the
    published algorithm:

    - a rule matches when its labels equal the host's trailing labels
      (``*`` consumes exactly one extra label, so ``*.ck`` matches
      ``foo.ck`` but not ``ck``);
    - an exception match wins outright, and its public suffix is the
      exception minus its leftmost label (``!www.ck`` ⇒ ``www.ck`` is
      registrable, public suffix ``ck``);
    - otherwise the matching rule with the MOST labels wins; no match
      falls back to the default ``*`` rule (public suffix = last
      label);
    - registrable domain = public suffix + one label; a host that IS a
      public suffix has none (NULL).

    Scale shape: the host's suffix chain explodes to ≤ label-count
    rows and meets the rules in two EQUI-joins (plain+exception on the
    suffix itself, wildcard on the suffix minus its first label) — a
    PSL of any size joins hash-partitioned or broadcast, never a
    per-row loop over rules. Resolution runs at DISTINCT-host grain
    and joins back to the input, so a hot host never re-resolves.

    Returns ``df`` with ``public_suffix`` and ``registrable_domain``
    appended (NULL host / empty host ⇒ both NULL)."""
    h = _c(host_col)
    hosts = (
        df.select(h.alias("_h"))
        .filter(F.col("_h").isNotNull() & (F.col("_h") != ""))
        .distinct()
    )
    nlab = F.size(F.split(F.col("_h"), r"\."))
    ex = hosts.select(
        "_h",
        nlab.alias("_n"),
        F.posexplode(host_suffix_chain(F.col("_h"))).alias("_i", "_s"),
    ).select(
        "_h",
        "_n",
        "_s",
        (F.col("_n") - F.col("_i")).alias("_sl"),
        F.when(
            F.col("_n") - F.col("_i") >= 2,
            F.regexp_replace(F.col("_s"), r"^[^.]*\.", ""),
        ).alias("_t"),
    )
    p = F.lower(F.trim(_c(pattern_col)))
    prepped = rules.select(
        F.when(p.startswith("!"), F.lit("exception"))
        .when(p.startswith("*."), F.lit("wildcard"))
        .otherwise(F.lit("plain"))
        .alias("_kind"),
        F.when(p.startswith("!"), F.substring(p, 2, 2147483647))
        .when(p.startswith("*."), F.substring(p, 3, 2147483647))
        .otherwise(p)
        .alias("_key"),
    ).select(
        "_kind",
        "_key",
        F.when(
            F.col("_kind") == "wildcard",
            F.size(F.split(F.col("_key"), r"\.")) + 1,
        )
        .when(
            F.col("_kind") == "exception",
            F.size(F.split(F.col("_key"), r"\.")) - 1,
        )
        .otherwise(F.size(F.split(F.col("_key"), r"\.")))
        .alias("_pl"),
        (F.col("_kind") == "exception").cast("int").alias("_exc"),
    )
    m_direct = ex.join(
        prepped.filter(F.col("_kind") != "wildcard"),
        ex["_s"] == prepped["_key"],
    ).select("_h", "_exc", "_pl")
    m_wild = ex.join(
        prepped.filter(F.col("_kind") == "wildcard"),
        ex["_t"] == prepped["_key"],
    ).select("_h", "_exc", "_pl")
    best = (
        m_direct.unionByName(m_wild)
        .groupBy("_h")
        .agg(F.max(F.struct(F.col("_exc"), F.col("_pl"))).alias("_b"))
        .select("_h", F.col("_b._pl").alias("_pl"))
    )
    labels = F.split(F.col("_h"), r"\.")
    mapping = (
        hosts.join(best, "_h", "left")
        .select(
            "_h",
            F.size(labels).alias("_n"),
            F.coalesce(F.col("_pl"), F.lit(1)).alias("_pl"),
        )
        .select(
            "_h",
            F.when(
                F.col("_pl") >= 1,
                F.array_join(
                    F.slice(F.split(F.col("_h"), r"\."), -F.col("_pl"), F.col("_pl")),
                    ".",
                ),
            ).otherwise(F.lit("")).alias("public_suffix"),
            F.when(
                F.col("_n") > F.col("_pl"),
                F.array_join(
                    F.slice(
                        F.split(F.col("_h"), r"\."),
                        -(F.col("_pl") + 1),
                        F.col("_pl") + 1,
                    ),
                    ".",
                ),
            ).alias("registrable_domain"),
        )
    )
    return df.join(mapping, h == mapping["_h"], "left").drop("_h")


def host_suffix_chain(host: Column | str) -> Column:
    """Array of every dot-suffix of a host, longest first:
    ``a.b.c → [a.b.c, b.c, c]``. Empty host → empty array."""
    h = _c(host)
    labels = F.split(h, r"\.")
    chain = F.transform(
        F.sequence(F.lit(1), F.size(labels)),
        lambda i: F.array_join(F.slice(labels, i, F.size(labels) - i + 1), "."),
    )
    return F.when(h == "", F.array().cast("array<string>")).otherwise(chain)


def domain_rollup(
    df: DataFrame,
    url_col: str,
    *,
    extra_suffixes: "tuple[str, ...]" = (),
) -> DataFrame:
    """Registrable-domain-grain corpus report: per domain the page
    count, distinct canonical URLs, distinct hosts, and the duplicate
    share ``dup_bp`` = round-half-up 10⁴·(pages − urls)/pages — the
    re-crawl/alias mass URL canonicalization reclaims before any
    content pass runs. Rows whose URL fails to canonicalize (NULL —
    no scheme) are EXCLUDED; a crawl pipeline routes those to its
    bad-row frame (sources/wind.py stance), they have no domain.

    One projection + one hash aggregate on the domain key; distinct
    counts ride Spark's two-level distinct-aggregate expansion, so a
    hot domain never concentrates raw rows on one reducer. Returns
    (domain, n_pages, n_urls, n_hosts, dup_bp) ordered by domain."""
    canon = canonical_url(url_col)
    base = (
        df.select(canon.alias("_cu"))
        .filter(F.col("_cu").isNotNull())
        .select(
            "_cu",
            F.element_at(
                F.split(F.regexp_extract(F.col("_cu"), _AUTH_RE, 1), ":"), 1
            ).alias("_h"),
        )
        .select(
            "_cu",
            "_h",
            registrable_domain("_h", extra_suffixes=extra_suffixes).alias("_d"),
        )
    )
    agg = base.groupBy("_d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pages"),
        F.count_distinct(F.col("_cu")).cast("bigint").alias("n_urls"),
        F.count_distinct(F.col("_h")).cast("bigint").alias("n_hosts"),
    )
    return agg.select(
        F.col("_d").alias("domain"),
        "n_pages",
        "n_urls",
        "n_hosts",
        div_half_up("10000 * (n_pages - n_urls)", "n_pages").alias("dup_bp"),
    ).orderBy("domain")


def path_prefix_chain(host: Column | str, path: Column | str) -> Column:
    """Array of host+path prefixes at ``/`` boundaries:
    ``(a.com, /x/y) → [a.com, a.com/x, a.com/x/y]`` — the expansion
    that turns "URL is under a blocked path" into an EQUI-join, the
    path-axis twin of :func:`host_suffix_chain`. Path-prefix patterns
    anchor at the FULL host (no subdomain wildcard — pair with a
    ``domain`` rule for that); the bare host is level one, so a
    host-only pattern matches every path under exactly that host."""
    h = _c(host)
    segs = F.filter(F.split(_c(path), "/"), lambda x: x != "")
    deeper = F.transform(
        F.sequence(F.lit(1), F.size(segs)),
        lambda i: F.concat(h, F.lit("/"), F.array_join(F.slice(segs, 1, i), "/")),
    )
    return F.when(F.size(segs) > 0, F.concat(F.array(h), deeper)).otherwise(
        F.array(h)
    )


def _with_kind(rules: DataFrame) -> DataFrame:
    """Rules frame with the ``kind`` column defaulted to ``domain``
    (backward compatible: the r10 blocklist began domain-only) and the
    pattern aliased to one name regardless of which axis a rule uses."""
    if "kind" not in rules.columns:
        rules = rules.withColumn("kind", F.lit("domain"))
    pat = F.col("pattern") if "pattern" in rules.columns else F.col("domain")
    return rules.select("rule", "kind", pat.alias("pattern"))


def _matched(df: DataFrame, id_col: str, url_col: str, rules: DataFrame) -> DataFrame:
    """(id, host, rule) rows for every page matching a blocklist rule —
    BOTH rule kinds ride ONE equi-join: ``domain`` rules match the
    host suffix-chain, ``path_prefix`` rules the host+path prefix
    chain; each page explodes both chains kind-tagged and joins the
    (kind, pattern) frame (broadcast: a blocklist is config-scale)."""
    base = (
        df.select(F.col(id_col).alias("_bid"), canonical_url(url_col).alias("_cu"))
        .filter(F.col("_cu").isNotNull())
        .select(
            "_bid",
            F.element_at(
                F.split(F.regexp_extract(F.col("_cu"), _AUTH_RE, 1), ":"), 1
            ).alias("_h"),
            F.regexp_extract(F.col("_cu"), _PATH_RE, 1).alias("_p"),
        )
    )
    keys = base.select(
        "_bid",
        "_h",
        F.explode(
            F.concat(
                F.transform(
                    host_suffix_chain("_h"),
                    lambda s: F.struct(F.lit("domain").alias("kind"), s.alias("pattern")),
                ),
                F.transform(
                    path_prefix_chain("_h", "_p"),
                    lambda s: F.struct(
                        F.lit("path_prefix").alias("kind"), s.alias("pattern")
                    ),
                ),
            )
        ).alias("_k"),
    ).select("_bid", "_h", F.col("_k.kind").alias("kind"), F.col("_k.pattern").alias("pattern"))
    return keys.join(F.broadcast(_with_kind(rules)), ["kind", "pattern"])


def blocklist_audit(
    df: DataFrame,
    id_col: str,
    url_col: str,
    rules: DataFrame,
) -> DataFrame:
    """Per-rule blocklist match report over a URL-bearing frame: for
    each rule — ``kind`` ``domain`` (host suffix match, subdomains
    included) or ``path_prefix`` (host + path-at-/-boundaries match,
    exact host) — the matched page count, distinct matched hosts, and
    corpus share in round-half-up basis points; plus one leading
    ``_total`` row with the DISTINCT blocked page count (a page
    matching two rules is blocked once). Rules that match nothing emit
    0-rows — an auditor needs to see dead rules. Rules frames without
    a ``kind`` column are domain-only (``domain`` is then the pattern
    column name — the r10 original form). Returns (rule, kind,
    pattern, n_pages, n_hosts, share_bp) ordered by
    ``(rule != '_total', rule)`` — the ``_total`` row first BY
    CONSTRUCTION, for any rule naming (ADVICE r10: ``_`` 0x5F sorts
    AFTER digits and uppercase in binary collation, so a rule named
    ``0-ads`` or ``Ads`` would otherwise displace the total row)."""
    rk = _with_kind(rules)
    m = _matched(df, id_col, url_col, rules)
    total = df.select(canonical_url(url_col).alias("_cu")).filter(
        F.col("_cu").isNotNull()
    ).agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    per_rule = (
        rk.join(
            m.groupBy("rule").agg(
                F.count_distinct("_bid").cast("bigint").alias("n_pages"),
                F.count_distinct("_h").cast("bigint").alias("n_hosts"),
            ),
            "rule",
            "left",
        )
        .select(
            "rule",
            "kind",
            "pattern",
            F.coalesce("n_pages", F.lit(0)).cast("bigint").alias("n_pages"),
            F.coalesce("n_hosts", F.lit(0)).cast("bigint").alias("n_hosts"),
        )
    )
    tot_row = m.agg(
        F.count_distinct("_bid").cast("bigint").alias("n_pages"),
        F.count_distinct("_h").cast("bigint").alias("n_hosts"),
    ).select(
        F.lit("_total").alias("rule"),
        F.lit("").alias("kind"),
        F.lit("").alias("pattern"),
        "n_pages",
        "n_hosts",
    )
    out = per_rule.unionByName(tot_row).crossJoin(F.broadcast(total))
    return out.select(
        "rule",
        "kind",
        "pattern",
        "n_pages",
        "n_hosts",
        div_half_up("10000 * n_pages", "nullif(_n, 0)").alias("share_bp"),
    ).orderBy(F.col("rule") != "_total", "rule")


# Directive keys that belong to a UA group (RFC 9309 rules plus the
# de-facto Crawl-delay extension): any of these after a User-agent run
# ENDS the run — the next User-agent line starts a new group. Sitemap
# is host-global (§2.3 "other records") and never breaks a run.
_ROBOTS_GROUP_KEYS = ("allow", "disallow", "crawl-delay")


def _robots_lines(df: DataFrame, host_col: str, text_col: str) -> DataFrame:
    """Per-host robots.txt bodies → one directive row per parseable
    line: (host, _ln, _key lowercased, _val trimmed). ``#`` comments
    stripped first; lines without a ``key: value`` shape drop."""
    h = F.col(host_col)
    lines = df.select(
        F.lower(h).alias("host"),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")).alias(
            "_ln", "_raw"
        ),
    ).select(
        "host",
        "_ln",
        F.trim(F.regexp_replace(F.col("_raw"), r"#.*$", "")).alias("_line"),
    )
    return lines.select(
        "host",
        "_ln",
        F.lower(F.regexp_extract(F.col("_line"), r"^([A-Za-z-]+)\s*:", 1)).alias(
            "_key"
        ),
        F.trim(F.regexp_extract(F.col("_line"), r"^[A-Za-z-]+\s*:(.*)$", 1)).alias(
            "_val"
        ),
    ).filter(F.col("_key") != "")


def _resolved_rules(
    d: DataFrame, keys: "tuple[str, ...]", agent: str
) -> DataFrame:
    """Group-member rows of the UA groups that apply to ``agent``
    under RFC 9309 §2.2.1 resolution, from a :func:`_robots_lines`
    frame: GROUPS (one or more consecutive ``User-agent`` lines
    followed by group-member directives; a UA line after a member
    line starts a new group — one lag + one running sum per host) →
    groups naming the agent EXACTLY (case-insensitive product token)
    are merged and win; only when NO group names it do the ``*``
    groups apply. The named-group test is at GROUP grain, not rule
    grain: a named group with zero rules still claims the agent and
    means "unrestricted" (r11 verdict bug — deriving named hosts from
    rule rows let the ``*`` rules leak into empty named groups).
    Returns (host, _key, _val) filtered to ``keys``."""
    from pyspark.sql import Window

    member = d.filter(F.col("_key").isin("user-agent", *_ROBOTS_GROUP_KEYS))
    wl = Window.partitionBy("host").orderBy("_ln")
    ua = F.col("_key") == "user-agent"
    grouped = member.withColumn(
        "_gid",
        F.sum(
            F.when(
                ua & ~F.coalesce(F.lag(ua).over(wl), F.lit(False)), 1
            ).otherwise(0)
        ).over(wl),
    )
    # group → agents named in it (lowercased product tokens)
    agents = (
        grouped.filter(ua)
        .groupBy("host", "_gid")
        .agg(F.collect_set(F.lower(F.col("_val"))).alias("_agents"))
    )
    rules = grouped.filter(F.col("_key").isin(*keys)).join(
        agents, ["host", "_gid"]
    )
    target = agent.lower()
    if target == "*":
        return rules.filter(F.array_contains("_agents", "*")).select(
            "host", "_key", "_val"
        )
    # hosts with at least one GROUP naming the agent: star groups lose
    # there even when the named group carries no rules of `keys` kind
    named_hosts = (
        agents.filter(F.array_contains("_agents", target))
        .select("host")
        .distinct()
    )
    named = rules.filter(F.array_contains("_agents", target))
    star = rules.filter(F.array_contains("_agents", "*")).join(
        named_hosts, "host", "left_anti"
    )
    return named.unionByName(star).select("host", "_key", "_val")


def parse_robots(
    df: DataFrame,
    host_col: str,
    text_col: str,
    *,
    agent: str = "*",
) -> DataFrame:
    """Parse per-host robots.txt content into the rule rows that apply
    to ``agent`` — the crawl-politeness input the URL family's
    blocklists come from in a real pipeline (RFC 9309). Pure
    Column/window relational form, no UDF: lines → strip ``#``
    comments → ``key: value`` directives → UA-group formation and
    §2.2.1 agent resolution (:func:`_resolved_rules`; exact-agent
    groups merged and beating ``*``, a named group with ZERO rules
    still claiming the agent).

    DECLARED BOUNDARIES: UA matching is exact-token-or-star (no
    longest-prefix product-token matching — pass the product token you
    crawl with); non-rule directives are not emitted here — Sitemap
    and Crawl-delay surface through :func:`robots_directives`.

    Returns (host, rule_kind 'allow'|'disallow', path, is_wildcard),
    one row per applicable rule; empty-path rules are kept (an empty
    ``Disallow:`` matches nothing by RFC — :func:`robots_check`
    implements that); ``*``/``$`` wildcard paths (RFC 9309 §2.2.3)
    are flagged ``is_wildcard=true`` and MATCHED by
    :func:`robots_check` via anchored-regex translation (r12 — they
    were verdict-excluded in r11). Scale shape: one explode + two
    windows keyed on (host, line), one tiny group join — robots files
    are KB-sized, so everything is host-keyed and narrow."""
    d = _robots_lines(df, host_col, text_col)
    applicable = _resolved_rules(d, ("allow", "disallow"), agent)
    return applicable.select(
        "host",
        F.col("_key").alias("rule_kind"),
        F.col("_val").alias("path"),
        F.col("_val").rlike(r"[*$]").alias("is_wildcard"),
    ).distinct()


def robots_directives(
    df: DataFrame,
    host_col: str,
    text_col: str,
    *,
    agent: str = "*",
) -> DataFrame:
    """Non-rule robots.txt metadata (host, directive, value): every
    ``Sitemap:`` record (host-global per RFC 9309 §2.3 — they live
    outside UA groups, so they surface for ANY agent) plus the
    ``Crawl-delay:`` values of the UA groups that apply to ``agent``
    (the de-facto extension most large crawlers honor; group-resolved
    exactly like :func:`parse_robots` rules). parse_robots sees and
    drops both — this is their surfacing point; consumers are the
    politeness throttle (X131's per-host admission quota — see
    qt1_crawl_delay_budget) and the sitemap fetch leg (X182).
    Duplicate (host, directive, value) rows collapse."""
    d = _robots_lines(df, host_col, text_col)
    sitemaps = d.filter(F.col("_key") == "sitemap").select(
        "host",
        F.lit("sitemap").alias("directive"),
        F.col("_val").alias("value"),
    )
    delays = _resolved_rules(d, ("crawl-delay",), agent).select(
        "host",
        F.lit("crawl-delay").alias("directive"),
        F.col("_val").alias("value"),
    )
    return sitemaps.unionByName(delays).distinct()


def _rule_regex(rpn: Column) -> Column:
    """RE2- and Java-safe anchored regex of a percent-normalized
    wildcard rule path (RFC 9309 §2.2.3): ``*`` → ``.*`` (any char
    run, ``/`` included), a TRAILING ``$`` anchors at end-of-path
    (elsewhere it is literal), every other char is literal via
    ``\\Q…\\E`` quoting (an embedded literal ``\\E`` is re-quoted as
    ``\\E\\\\E\\Q`` — the standard escape). The regex is ``^``-anchored
    and right-open, so a non-anchored pattern prefix-matches exactly
    like the plain-rule lane."""
    anchor = rpn.endswith("$")
    body = F.when(anchor, rpn.substr(F.lit(1), F.length(rpn) - 1)).otherwise(rpn)
    quoted = F.transform(
        F.split(body, r"\*"),
        lambda p: F.concat(
            F.lit("\\Q"),
            F.replace(p, F.lit("\\E"), F.lit("\\E\\\\E\\Q")),
            F.lit("\\E"),
        ),
    )
    return F.concat(
        F.lit("^"),
        F.array_join(quoted, ".*"),
        F.when(anchor, F.lit("$")).otherwise(F.lit("")),
    )


def robots_check(
    df: DataFrame,
    id_col: str,
    url_col: str,
    rules: DataFrame,
) -> DataFrame:
    """Per-URL robots verdict against :func:`parse_robots` output —
    RFC 9309 §2.2.2 precedence: the rule with the MOST-OCTETS matching
    path pattern decides; ``allow`` wins exact ties; no matching rule
    (or an empty-path rule, which matches nothing) means allowed.

    Rule paths are normalized before matching the way the URL side
    already is (RFC 9309 §2.2.2 requires comparing after consistent
    percent-encoding normalization — r12, closing the r11 fail-open
    where ``Disallow: /a%7Eb`` never matched the canonical ``/a~b``):
    every rule is percent-normalized (:func:`_pct_normalize`), and
    plain rules are additionally dot-segment/duplicate-slash folded
    (:func:`_norm_path` — the same fold :func:`canonical_url` applies
    to the URL path). Plain rules then match by string prefix (RFC
    semantics — ``/p`` matches ``/page``); ``*``/``$`` wildcard rules
    (§2.2.3) match via :func:`_rule_regex` anchored-regex translation
    (r12 — verdict-excluded in r11). Precedence length is measured in
    octets of the normalized pattern (wildcard chars count, per the
    common Googlebot convention). DECLARED BOUNDARY: dot-segments
    INSIDE a wildcard pattern are not folded (fold semantics across
    ``*`` are undefined); rules not opening with ``/`` fold to a
    ``/``-rooted form in the plain lane but match nothing in the
    wildcard lane.

    URLs that fail to canonicalize route to the bad-row side (NULL
    verdict row is NOT emitted — they never reach a fetcher anyway).
    Plan: one host-keyed equi-join (per-host rule lists are KB-scale)
    + a prefix/regex filter, one max-struct aggregate per URL — no
    theta join, no window. Returns (``id_col``, host, path,
    allowed)."""
    base = (
        df.select(F.col(id_col).alias("_uid"), canonical_url(url_col).alias("_cu"))
        .filter(F.col("_cu").isNotNull())
        .select(
            "_uid",
            F.element_at(
                F.split(F.regexp_extract(F.col("_cu"), _AUTH_RE, 1), ":"), 1
            ).alias("host"),
            F.regexp_extract(F.col("_cu"), _PATH_RE, 1).alias("path"),
        )
    )
    r = (
        rules.filter(F.col("path") != "")
        .select(
            "host",
            F.col("rule_kind").alias("_rk"),
            F.col("is_wildcard").alias("_w"),
            _pct_normalize(F.col("path")).alias("_rpn"),
        )
        .select(
            "host",
            "_rk",
            "_w",
            F.when(F.col("_w"), F.col("_rpn"))
            .otherwise(_norm_path(F.col("_rpn")))
            .alias("_rp"),
        )
        .withColumn("_rx", F.when(F.col("_w"), _rule_regex(F.col("_rp"))))
        .distinct()  # normalization can collapse spellings
    )
    m = (
        base.join(r, "host")
        .filter(
            F.when(F.col("_w"), F.regexp_like(F.col("path"), F.col("_rx")))
            .otherwise(F.col("path").startswith(F.col("_rp")))
        )
        .groupBy("_uid", "host", "path")
        .agg(
            F.max(
                F.struct(
                    F.octet_length("_rp").alias("l"),
                    (F.col("_rk") == "allow").alias("a"),
                )
            ).alias("_best")
        )
        .select("_uid", "host", "path", F.col("_best.a").alias("_allowed"))
    )
    return (
        base.join(m.select("_uid", "_allowed"), "_uid", "left")
        .select(
            F.col("_uid").alias(id_col),
            "host",
            "path",
            F.coalesce("_allowed", F.lit(True)).alias("allowed"),
        )
        .orderBy(id_col)
    )


def sitemap_urls(
    df: DataFrame,
    host_col: str,
    text_col: str,
) -> DataFrame:
    """Extract URL entries from sitemap XML bodies (sitemaps.org
    protocol) — the third leg of the discovery path next to
    :func:`parse_robots` (what may be fetched) and the canonical-URL
    frontier (what has been fetched): one ``<loc>`` value per row,
    with the entry kind (``url`` from urlset files, ``sitemap`` from
    sitemapindex files — index entries point at MORE sitemaps and go
    back to the fetch queue, not the frontier) and the canonical form
    of the location (NULL = malformed, the bad-row side).

    Pure Column form: one ``regexp_extract_all`` over the body for
    ``<loc>`` values (the protocol requires entity-escaped URLs, so
    ``[^<]*`` is exact), the document kind from the ROOT element
    (first real tag after comment stripping — ``contains`` anywhere
    misclassified a urlset whose text mentions ``<sitemapindex`` in a
    comment; r12), one explode. Extracted values are XML-entity
    unescaped (the five predefined entities, ``&amp;`` LAST so
    ``&amp;lt;`` round-trips to the literal ``&lt;`` — the protocol
    REQUIRES ``&`` in URLs to arrive as ``&amp;``, so a multi-param
    query would otherwise canonicalize with a bogus ``amp;b=…`` key;
    r12). DECLARED BOUNDARY: per-URL metadata (``<lastmod>``,
    ``<priority>``) and XML namespace validation are not parsed —
    published crawl pipelines treat sitemaps as untrusted URL hints,
    and the gate that matters (robots, blocklist, quota) runs
    downstream on the canonical key anyway.

    Returns (host, kind, loc, canonical_url) ordered by (host, loc)."""
    h = F.lower(_c(host_col))
    body = F.coalesce(_c(text_col), F.lit(""))
    # root element: strip <!-- … --> comments ((?s): dot spans lines),
    # then the first <tag whose name starts alphabetic — <?xml and
    # <!DOCTYPE don't match, stripped comments can't fool it
    root = F.lower(
        F.regexp_extract(
            F.regexp_replace(body, r"(?s)<!--.*?-->", ""),
            r"<\s*([A-Za-z][A-Za-z0-9]*)",
            1,
        )
    )
    kind = F.when(root == "sitemapindex", F.lit("sitemap")).otherwise(F.lit("url"))
    locs = F.regexp_extract_all(body, F.lit("<loc>([^<]*)</loc>"), 1)

    def _unescape(s: Column) -> Column:
        for ent, ch in (
            ("&lt;", "<"),
            ("&gt;", ">"),
            ("&quot;", '"'),
            ("&apos;", "'"),
            ("&amp;", "&"),
        ):
            s = F.replace(s, F.lit(ent), F.lit(ch))
        return s

    out = (
        df.select(h.alias("host"), kind.alias("kind"), F.explode(locs).alias("_l"))
        .select("host", "kind", _unescape(F.trim(F.col("_l"))).alias("loc"))
        .select("host", "kind", "loc", canonical_url("loc").alias("canonical_url"))
    )
    return out.orderBy("host", "loc")

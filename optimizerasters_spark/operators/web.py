"""Web-corpus operators: geoparse, URL anatomy, per-domain caps,
deterministic sampling.

The north-rule pipeline assumes every page carries (lon, lat) — these
are the operators that PRODUCE them and the companion hygiene rules a
Common-Crawl-style corpus needs before tiling:

  * ``geoparse`` — extract decimal coordinates from page text
    ("lat=12.345 lon=-67.89", "12.345,-67.89", "12.345° N 67.89° E")
    into integer millidegrees. Regex + integer math only (the pattern
    matrix is where a real geoparser/NER model slots in as a pandas
    UDF; the column contract stays identical).
  * ``url_parts`` — host / registered-domain-ish / path depth from the
    url column (parse_url is JVM-side; the DuckDB oracle re-derives
    with a regex, pinning the semantics to simple absolute URLs).
  * ``domain_cap`` — keep at most K pages per host (rank by doc_id) —
    the standard anti-boilerplate / anti-SEO-farm corpus rule. Window
    per host; hosts are high-cardinality so the partition spec is safe
    (the few-huge-hosts case swaps in skew.salted_topk_per_group).
  * ``hash_sample`` — deterministic md5-threshold sampling: the
    reproducible "1 % CI sample" knob (BASELINE.json metric) that
    selects the SAME rows on any engine or cluster size, unlike
    rand()-based sampling.
  * ``pii_scrub`` — email/phone redaction with per-doc counts and a
    byte-exact scrubbed-text hash (the C4/RefinedWeb hygiene pass).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

# the pattern matrix, tried in priority order; captured parts: lat
# sign-or-hemisphere + int + frac, lon ditto
# 1. "lat=12.345 lon=-67.89"
_COORD_RX = (r"lat=(-?\d{1,2})\.(\d{1,6}) lon=(-?\d{1,3})\.(\d{1,6})")
# 2. "12.345° N 67.89° E" (hemisphere letters carry the sign)
_COORD_DEG_RX = (r"(\d{1,2})\.(\d{1,6})° ([NS]) "
                 r"(\d{1,3})\.(\d{1,6})° ([EW])")
# 3. bare "12.345,-67.89" decimal pair (most generic — tried last)
_COORD_PAIR_RX = (r"(-?\d{1,2})\.(\d{1,6}),(-?\d{1,3})\.(\d{1,6})")


def _md(int_part: Column, frac_part: Column) -> Column:
    """(sign-carrying integer part, fraction digits) -> millidegrees:
    value * 1000 with the fraction padded/truncated to 3 digits —
    integer-exact, no float parse."""
    sign = F.when(int_part.startswith("-"), -1).otherwise(1)
    mag = F.abs(int_part.cast("bigint")) * 1000 + \
        F.rpad(frac_part, 3, "0").substr(1, 3).cast("bigint")
    return sign * mag


def geoparse(docs: DataFrame) -> DataFrame:
    """Extract the first coordinate pair into (geo_lat_md, geo_lon_md)
    millidegrees; NULL when no pattern matches. Three formats, first
    match in priority order wins: "lat=12.345 lon=-67.89", then
    "12.345° N 67.89° E" (hemisphere letters), then a bare
    "12.345,-67.89" decimal pair. All parsing is regex + integer math
    (codegen); a model-based geoparser replaces the pattern matrix
    behind the same two columns."""
    t = F.col("text")
    # format 1: lat=/lon= labels, sign on the number
    la1_i = F.regexp_extract(t, _COORD_RX, 1)
    lat1 = _md(la1_i, F.regexp_extract(t, _COORD_RX, 2))
    lon1 = _md(F.regexp_extract(t, _COORD_RX, 3),
               F.regexp_extract(t, _COORD_RX, 4))
    # format 2: degree symbol + hemisphere letter carries the sign
    la2_i = F.regexp_extract(t, _COORD_DEG_RX, 1)
    ns = F.regexp_extract(t, _COORD_DEG_RX, 3)
    ew = F.regexp_extract(t, _COORD_DEG_RX, 6)
    lat2 = F.when(ns == "S", -1).otherwise(1) * \
        _md(la2_i, F.regexp_extract(t, _COORD_DEG_RX, 2))
    lon2 = F.when(ew == "W", -1).otherwise(1) * \
        _md(F.regexp_extract(t, _COORD_DEG_RX, 4),
            F.regexp_extract(t, _COORD_DEG_RX, 5))
    # format 3: bare comma pair
    la3_i = F.regexp_extract(t, _COORD_PAIR_RX, 1)
    lat3 = _md(la3_i, F.regexp_extract(t, _COORD_PAIR_RX, 2))
    lon3 = _md(F.regexp_extract(t, _COORD_PAIR_RX, 3),
               F.regexp_extract(t, _COORD_PAIR_RX, 4))
    lat = (F.when(la1_i != "", lat1)
            .when(la2_i != "", lat2)
            .when(la3_i != "", lat3))
    lon = (F.when(la1_i != "", lon1)
            .when(la2_i != "", lon2)
            .when(la3_i != "", lon3))
    return (docs
            .withColumn("geo_lat_md", lat.cast("bigint"))
            .withColumn("geo_lon_md", lon.cast("bigint")))


def url_parts(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """host, top-two-label domain, path segment depth. parse_url stays
    JVM-side; semantics pinned by the oracle for absolute http(s) URLs."""
    u = F.col(url_col)
    host = F.parse_url(u, F.lit("HOST"))
    labels = F.split(host, "\\.")
    domain = F.when(
        F.size(labels) >= 2,
        F.concat_ws(".", F.element_at(labels, -2), F.element_at(labels, -1))
    ).otherwise(host)
    path = F.parse_url(u, F.lit("PATH"))
    depth = F.when(path.isNull() | (path == ""), F.lit(0)) \
        .otherwise(F.size(F.split(path, "/")) - 1)
    return (pages.withColumn("host", host)
                 .withColumn("domain", domain)
                 .withColumn("path_depth", depth.cast("int")))


def domain_cap(pages: DataFrame, k: int) -> DataFrame:
    """Keep at most k pages per host (lowest doc_id first) — bounds any
    single site's contribution to the corpus."""
    with_host = url_parts(pages)
    w = Window.partitionBy("host").orderBy(F.col("doc_id").asc())
    return (with_host.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= k).drop("_r", "domain", "path_depth"))


def hash_sample(df: DataFrame, rate_milli: int,
                key_col: str = "doc_id") -> DataFrame:
    """Deterministic ~rate_milli/1000 sample: keep rows whose
    md5(key) bucket (first 8 hex digits mod 1000) falls below the rate.
    Engine-independent (md5 is md5 everywhere) and stable across
    partitionings — the reproducible-CI-sample primitive."""
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8),
               16, 10).cast("bigint"),
        F.lit(1000))
    return df.where(bucket < rate_milli)


# PII patterns for the scrub pass. Both regexes are deliberately in the
# common subset of Java regex (Spark) and RE2 (DuckDB/Go scrubbers):
# character classes + bounded repetition only — no lookaround, so the
# same pattern string runs identically on any engine in the fleet.
EMAIL_RX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RX = r"\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}"


def scrubbed_col(t: Column) -> Column:
    """The redacted form of a text column — emails first, then phones
    (an email's digits can't then be half-matched as a phone)."""
    return F.regexp_replace(
        F.regexp_replace(t, EMAIL_RX, "<EMAIL>"), PHONE_RX, "<PHONE>")


def pii_scrub(docs: DataFrame) -> DataFrame:
    """Redact emails and phone numbers from web text before training —
    the standard corpus-hygiene pass (C4/RefinedWeb-style). Emits the
    per-doc match counts, the scrubbed text, and its sha256 (the
    byte-exact parity surface). Pure regexp_replace/extract_all —
    JVM-side codegen, no UDF; a learned PII tagger slots in behind the
    same columns."""
    t = F.col("text")
    n_emails = F.size(F.regexp_extract_all(t, F.lit(EMAIL_RX), F.lit(0)))
    n_phones = F.size(F.regexp_extract_all(t, F.lit(PHONE_RX), F.lit(0)))
    scrubbed = scrubbed_col(t)
    return docs.select(
        "doc_id",
        n_emails.cast("bigint").alias("n_emails"),
        n_phones.cast("bigint").alias("n_phones"),
        scrubbed.alias("scrubbed"),
        F.sha2(scrubbed, 256).alias("scrub_sha"))


def blocklist_filter(pages: DataFrame, blocked: DataFrame) -> DataFrame:
    """Drop pages whose registered domain is on a blocklist (``blocked``'s
    ``bdom`` column) — exact host match OR any subdomain (host ends with
    ".domain"). The spam / adult / known-pirated domain list every crawl
    corpus applies. A blocklist is tiny by definition, so this is a
    broadcast anti-join on the suffix predicate (nested-loop on the
    broadcast side — rows scale with |pages| * |blocklist|, the standard
    shape); pages never shuffle. Returns the surviving pages with their
    host attached."""
    withh = url_parts(pages)
    cond = (withh["host"] == blocked["bdom"]) | \
        withh["host"].endswith(F.concat(F.lit("."), blocked["bdom"]))
    return (withh.join(F.broadcast(blocked), cond, "left_anti")
            .drop("domain", "path_depth"))


def stratified_hash_sample(df: DataFrame, rates_milli: dict[str, int]
                           ) -> DataFrame:
    """Deterministic per-language sampling — the training-MIX knob: each
    ``lang`` gets its own md5(doc_id)-threshold rate out of 1000, so a
    corpus can up/down-weight languages reproducibly (the same rows
    survive on any engine, cluster size, or partitioning — unlike
    rand()-based stratified sampling). Languages absent from
    ``rates_milli`` are dropped (rate 0). Pure column
    expression: the rate lookup is a plan-time CASE chain, the bucket
    the same md5 primitive as hash_sample."""
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("bigint"),
        F.lit(1000))
    rate = F.lit(0)
    for stratum, milli in sorted(rates_milli.items()):
        rate = F.when(F.col("lang") == stratum,
                      F.lit(milli)).otherwise(rate)
    return df.where(bucket < rate)


# click-id / referral params every canonicalizer strips (plus any
# key with the utm_ prefix)
TRACKING_PARAMS = ["fbclid", "gclid", "msclkid", "ref"]


def url_canonicalize(pages: DataFrame) -> DataFrame:
    """Canonical URL for crawl-level dedup — the normalization pass
    that makes byte-different URLs of the same resource collide
    BEFORE content hashing (every crawler's first dedup lever):

      * scheme and host lowercased,
      * default ports stripped (http :80, https :443),
      * fragment dropped,
      * tracking params removed (``utm_*`` prefix + known click ids),
      * surviving query params sorted bytewise,
      * empty path becomes ``/``.

    Pure regexp + array functions (codegen, zero shuffle — folds into
    the scan). Emits canon_url and a changed flag; downstream exact
    dedup groups on canon_url instead of url."""
    u = F.col("url")
    scheme = F.lower(F.regexp_extract(
        u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    auth = F.lower(F.regexp_extract(
        u, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]+)", 1))
    host = (F.when(scheme == "http", F.regexp_replace(auth, ":80$", ""))
            .when(scheme == "https",
                  F.regexp_replace(auth, ":443$", ""))
            .otherwise(auth))
    path0 = F.regexp_extract(
        u, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]+([^?#]*)", 1)
    path = F.when(path0 == "", F.lit("/")).otherwise(path0)
    qs = F.regexp_extract(u, r"\?([^#]*)", 1)
    tracking = F.array(*[F.lit(t) for t in TRACKING_PARAMS])
    kept = F.array_sort(F.filter(
        F.split(qs, "&"),
        lambda p: (p != "") &
        ~F.lower(p).startswith("utm_") &
        ~F.array_contains(tracking,
                          F.lower(F.get(F.split(p, "="), 0)))))
    q_str = F.array_join(kept, "&")
    canon = F.concat(
        scheme, F.lit("://"), host, path,
        F.when(q_str == "", F.lit(""))
         .otherwise(F.concat(F.lit("?"), q_str)))
    return (pages.withColumn("canon_url", canon)
            .withColumn("changed", canon != u))


def robots_wildcard_rules(robots: DataFrame) -> DataFrame:
    """Parse robots.txt bodies into
    (host, rules: array<struct<prefix, allow>>) for the wildcard
    agent: split into User-agent blocks, keep blocks whose agent line
    is '*', collect their Disallow AND Allow path prefixes. RFC 9309
    field names are case-insensitive — the body is canonicalized with
    (?i) regexes before splitting, so 'user-agent:'/'DISALLOW:' parse
    identically. Entirely array functions (codegen) — a 100 TB crawl
    parses millions of robots bodies in the scan stage. Group
    semantics are the standard simplification (wildcard group only;
    per-agent overrides belong to the fetcher, not the corpus
    filter)."""
    body = F.regexp_replace(F.col("robots_txt"), "(?i)user-agent:",
                            "User-agent:")
    blocks = F.split(body, "User-agent:")
    wc = F.filter(
        blocks,
        lambda b: F.trim(F.get(F.split(b, "\n"), 0)) == "*")

    def field_rules(b, rx, allow):
        return F.transform(
            F.filter(F.split(b, "\n"),
                     lambda ln: F.trim(ln).rlike(rx)),
            lambda ln: F.struct(
                F.trim(F.regexp_replace(F.trim(ln), rx, ""))
                 .alias("prefix"),
                F.lit(allow).alias("allow")))

    rules = F.flatten(F.transform(
        wc,
        lambda b: F.concat(field_rules(b, "(?i)^disallow:", False),
                           field_rules(b, "(?i)^allow:", True))))
    # an empty prefix ("Disallow:" with no value = allow everything)
    # matches nothing in the longest-match model — drop it
    return robots.select(
        F.col("host"),
        F.filter(rules, lambda r: r["prefix"] != "").alias("rules"))


def robots_filter(pages: DataFrame, robots: DataFrame) -> DataFrame:
    """Drop pages whose URL path is governed by a wildcard-agent
    Disallow rule for their host — the crawl-politeness filter
    re-applied at corpus build (hosts' robots bodies ride as a table).
    RFC 9309 precedence: among matching rules the LONGEST prefix wins;
    on an exact length tie Allow wins. Rules are a per-host prefix
    array, broadcast; pages never shuffle. Pages whose host has no
    robots row pass through, and a malformed URL (NULL path) is
    treated as the empty path — governed only by an empty-prefix rule,
    never silently dropped."""
    withh = url_parts(pages).withColumn(
        "_path",
        F.coalesce(F.parse_url(F.col("url"), F.lit("PATH")), F.lit("")))
    rules = robots_wildcard_rules(robots)
    joined = withh.join(F.broadcast(rules), "host", "left")
    matched = F.filter(F.col("rules"),
                       lambda r: F.col("_path").startswith(r["prefix"]))
    # lexicographic struct max = longest prefix first, Allow on ties
    best = F.array_max(F.transform(
        matched,
        lambda r: F.struct(F.length(r["prefix"]).alias("l"),
                           r["allow"].cast("int").alias("a"))))
    blocked = F.when(F.col("rules").isNull(), F.lit(False)) \
        .otherwise(F.coalesce(best["a"] == 0, F.lit(False)))
    return (joined.where(~blocked)
            .drop("rules", "_path", "domain", "path_depth"))

"""URL / host-level curation operators (web-scale corpus staple).

The reference streams JSON/web data (reference network_nodes.py:172-241)
but ships no domain tooling; a CCNet/RefinedWeb-style pipeline needs
host extraction, URL canonicalization, per-domain aggregates, and
blacklist/allowlist filtering *before* any content-level dedup, because
the cheapest duplicate to drop is the one you never tokenize.

Everything here is pure codegen column expressions — Java-regex
extracts, HOF filter/sort over the query string, string reassembly — no
UDFs and no shuffle beyond the aggregate's own, so at 100 TB the whole
family rides the scan.  The regexes avoid lookaround so the DuckDB
oracle can run the *same* patterns under RE2.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metalpipe_spark.materialize import materialize

# One regex family, shared with the SQL oracles (catalog/web_queries.py).
SCHEME_RE = r"^([a-zA-Z][a-zA-Z0-9+.\-]*)://"
HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://(?:[^/@?#]*@)?([^/:?#]+)"
PORT_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://(?:[^/@?#]*@)?[^/:?#]+:([0-9]+)"
PATH_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*([^?#]*)"
QUERY_RE = r"\?([^#]*)"
# Tracking parameters dropped by normalization (the CCNet/RefinedWeb
# staple set): utm_*, click ids, mail-merge ids.
TRACKING_RE = r"^(utm_[^=]*|fbclid|gclid|msclkid|mc_eid)(=.*)?$"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def extract_host(url: Column | str, strip_www: bool = True) -> Column:
    """Lower-cased host of a URL ('' when the value is not URL-shaped;
    NULL propagates).  ``strip_www`` folds the ``www.`` alias into the
    registered host — per-domain statistics should not split a site in
    two because half its links carry the prefix."""
    host = F.lower(F.regexp_extract(_col(url), HOST_RE, 1))
    if strip_www:
        host = F.regexp_replace(host, r"^www\.", "")
    return host


def url_normalize(url: Column | str, strip_www: bool = True) -> Column:
    """Canonical form of a URL, as a pure codegen expression:

    * scheme and host lower-cased; ``www.`` folded (``strip_www``);
    * userinfo (``user:pass@``) stripped;
    * default ports dropped (``http:80`` / ``https:443``), others kept;
    * path: empty → ``/``; trailing slashes trimmed (``/a/`` == ``/a``);
    * query: tracking params removed (:data:`TRACKING_RE`), remaining
      params sorted bytewise so param order never splits a URL, empty
      query dropped;
    * fragment dropped.

    Values that are not URL-shaped (no ``scheme://host``) pass through
    unchanged, so the expression is total over dirty corpora.
    """
    u = _col(url)
    scheme = F.lower(F.regexp_extract(u, SCHEME_RE, 1))
    host = extract_host(u, strip_www=strip_www)
    port = F.regexp_extract(u, PORT_RE, 1)
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    port_part = F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit(""))
    raw_path = F.regexp_extract(u, PATH_RE, 1)
    trimmed = F.regexp_replace(raw_path, r"/+$", "")
    path = F.when(trimmed == "", F.lit("/")).otherwise(trimmed)
    q = F.regexp_extract(u, QUERY_RE, 1)
    kept = F.array_sort(
        F.filter(
            F.split(q, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_RE),
        )
    )
    qn = F.array_join(kept, "&")
    q_part = F.when(qn != "", F.concat(F.lit("?"), qn)).otherwise(F.lit(""))
    assembled = F.concat(scheme, F.lit("://"), host, port_part, path, q_part)
    return F.when(host != "", assembled).otherwise(u)


def domain_stats(
    df: DataFrame,
    url_col: str = "url",
    size_col: str | None = None,
    strip_www: bool = True,
) -> DataFrame:
    """Per-domain aggregates: ``host, n_docs, n_urls, [total_size]`` —
    ``n_urls`` counts distinct *canonical* URLs (post-normalization), so
    tracking-param noise never inflates a domain's page count.

    One map-side-combined shuffle on the host; the host cardinality of a
    web corpus (~10^7) is tiny next to its row count, so the aggregate
    output is always broadcast-class — exactly what
    ``domain_mix_sample`` joins against (operators/curation.py)."""
    u = _col(url_col)
    out = (
        df.select(
            extract_host(u, strip_www=strip_www).alias("host"),
            url_normalize(u, strip_www=strip_www).alias("__url_norm"),
            *([F.col(size_col)] if size_col else []),
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("__url_norm").alias("n_urls"),
            *(
                [F.sum(size_col).alias("total_size")]
                if size_col
                else []
            ),
        )
    )
    return out


def host_filter(
    df: DataFrame,
    url_col: str = "url",
    allowlist: list[str] | None = None,
    blacklist: list[str] | None = None,
    strip_www: bool = True,
) -> DataFrame:
    """Keep rows whose host passes the allow/block lists (both optional;
    allow applied first).  List membership is an ``isin`` against plan
    literals — pure scan-side codegen, no join — which is right for the
    hand-curated list sizes (10^2..10^5) this form targets.  For
    million-host block lists use :func:`host_filter_table`."""
    host = extract_host(_col(url_col), strip_www=strip_www)
    out = df
    if allowlist is not None:
        out = out.where(host.isin([h.lower() for h in allowlist]))
    if blacklist is not None:
        out = out.where(~host.isin([h.lower() for h in blacklist]))
    return out


def host_filter_table(
    df: DataFrame,
    hosts: DataFrame,
    url_col: str = "url",
    host_col: str = "host",
    mode: str = "block",
    use_bloom: bool = False,
    strip_www: bool = True,
    m_bits: int = 1 << 18,
    k: int = 4,
) -> DataFrame:
    """Filter against a host *table* (e.g. a crawled blocklist too large
    to inline).  ``mode='block'`` drops listed hosts, ``'allow'`` keeps
    only listed hosts.

    Exact path: broadcast ``left_anti``/``left_semi`` join — the host
    table is aggregate-output-class, so the fact scan never shuffles.
    ``use_bloom=True`` replaces the join with a fixed-size packed-mask
    probe (sketches.bloom_build — 32 KiB of state at the default
    geometry regardless of list size).  The Bloom form is one-sided:
    false positives make ``block`` drop extra rows and ``allow`` keep
    extra rows — safe for contamination-style blocking (never admits a
    listed host), wrong where under-dropping must be impossible."""
    if mode not in ("block", "allow"):
        raise ValueError(f"mode must be 'block' or 'allow', got {mode!r}")
    out = df.withColumn("__host", extract_host(_col(url_col), strip_www=strip_www))
    listed = hosts.select(F.lower(F.col(host_col)).alias("__host"))
    if use_bloom:
        from metalpipe_spark.operators.sketches import bloom_build, bloom_probe

        bloom = bloom_build(listed, "__host", m_bits=m_bits, k=k)
        probed = bloom_probe(out, "__host", bloom, out_col="__listed")
        cond = F.col("__listed") if mode == "allow" else ~F.col("__listed")
        return probed.where(cond).drop("__host", "__listed")
    how = "left_semi" if mode == "allow" else "left_anti"
    return out.join(F.broadcast(listed), on="__host", how=how).drop("__host")


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    strip_www: bool = True,
) -> DataFrame:
    """URL-normalized exact dedup: keep the lowest-id row per canonical
    URL — the same min-id contract as ``exact_dedup``
    (operators/dedup.py:23), keyed on :func:`url_normalize` instead of
    the content fingerprint.  One map-side-combined shuffle on the
    canonical URL."""
    return (
        df.withColumn("__url_norm", url_normalize(_col(url_col), strip_www=strip_www))
        .groupBy("__url_norm")
        .agg(F.min(id_col).alias(id_col))
        .withColumnRenamed("__url_norm", "url_norm")
    )


# -- HTML -> text extraction (the WARC response path's first stage) ----------
#
# One regex family, shared verbatim with the DuckDB oracle
# (catalog/warc_queries.py): inline (?is) flags only — no lookaround,
# no backreferences — so Java regex and RE2 agree byte-for-byte.
HTML_COMMENT_RE = r"(?is)<!--.*?-->"
HTML_SCRIPT_RE = r"(?is)<script\b[^>]*>.*?</script[^>]*>"
HTML_STYLE_RE = r"(?is)<style\b[^>]*>.*?</style[^>]*>"
# Tags that end a visual block: their boundary becomes a newline so
# downstream paragraph-level ops (paragraph dedup, boilerplate removal)
# still see document structure after the strip.
HTML_BLOCK_RE = (
    r"(?is)<(?:br|hr|/?p|/?div|/?li|/?ul|/?ol|/?h[1-6]|/?tr|/?table|"
    r"/?blockquote|/?section|/?article|/?header|/?footer|/?nav)\b[^>]*>"
)
HTML_TAG_RE = r"(?s)<[^>]*>"
# Minimal entity set (the ones that matter for token statistics);
# &amp; decodes LAST so "&amp;lt;" round-trips as the literal "&lt;".
HTML_ENTITIES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&amp;", "&"),
]


def html_extract_text(html: Column | str) -> Column:
    """Visible text of an HTML document, as one codegen expression —
    the first stage of a WARC ``response`` -> training-text pipeline
    (sources/warc.py:read_warc feeds this; WET files arrive already
    extracted).

    Comments and ``script``/``style`` subtrees are dropped, block-tag
    boundaries become newlines, remaining tags become spaces, the
    core entities decode, and whitespace collapses (single spaces,
    single newlines, trimmed).  Pure ``regexp_replace``/``replace``
    chain: no UDF, rides the scan at any corpus size, and the DuckDB
    oracle replays the same patterns under RE2.  This is a regex
    extractor, not an HTML5 parser — malformed markup degrades to
    extra whitespace, never to an error, which is the right trade for
    corpus work (trafilatura-grade extraction plugs in behind the same
    column contract via the UDF registry when fidelity matters more
    than throughput).
    """
    c = _col(html)
    for pat in (HTML_COMMENT_RE, HTML_SCRIPT_RE, HTML_STYLE_RE):
        c = F.regexp_replace(c, pat, " ")
    c = F.regexp_replace(c, HTML_BLOCK_RE, "\n")
    c = F.regexp_replace(c, HTML_TAG_RE, " ")
    for ent, rep in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(rep))
    c = F.regexp_replace(c, r"[ \t\r\f]+", " ")
    c = F.regexp_replace(c, r" ?\n ?", "\n")
    c = F.regexp_replace(c, r"\n+", "\n")
    # trim() strips spaces only; the edges may hold newlines too.
    return F.regexp_replace(c, r"^\s+|\s+$", "")


def host_rank(
    edges: DataFrame,
    src: str = "src_host",
    dst: str = "dst_host",
    damping: float = 0.85,
    iterations: int = 3,
    fixed_point_scale: int | None = None,
) -> DataFrame:
    """PageRank over a host-link graph -> (host, rank): the crawl-
    curation staple for domain-quality weighting (rank-weighted
    sampling, frontier prioritization) — no reference analogue,
    brief-driven like the rest of the web family.

    The classic power-iteration formulation (the one Spark's own
    examples use): ``r0 = 1/N``; each step sends ``rank/outdegree``
    down every edge and sets ``r' = (1-d)/N + d * inflow``.  Dangling
    hosts (no outlinks) keep receiving but send nothing — their mass
    decays rather than redistributing, the documented behavior of this
    variant.

    Scale shape: the rank table is HOST-sized (tiny next to the edge
    list), so each iteration is one broadcast-ish hash join edges x
    ranks plus one map-side-combined sum shuffled on the destination
    host; iterations are fixed and few (rank stabilizes in a handful of
    steps for curation purposes).  At web scale (~10^8 hosts) write the
    edge list bucketed on ``src`` so every iteration's join co-locates
    without reshuffling the edges; ranks then shuffle host-sized per
    step, never edge-sized.  The single driver-side value is N (one
    count — metadata scale).

    ``fixed_point_scale`` switches every rank to a scaled BIGINT
    (``rank * scale``) with pure integer arithmetic — ``div`` per-edge
    splits, exact integer sums, damping as an integer percentage — so
    the result is BIT-REPRODUCIBLE across engines and summation orders
    (double sums are order-sensitive in the last ulp; the oracle and
    any cross-run diff need exactness — same posture as the
    decimal-aggregated KMeans fit, operators/similarity.py).  The
    emitted ``rank`` is then ``scaled / scale``: one IEEE division of
    exact integers, still deterministic.  Floor-rounding loses at most
    ``1/scale`` per edge per iteration — at the default 10^15 scale,
    noise 10 orders below any ranking decision.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # Iterative lineage hygiene (r17, guide §5): without materialization
    # every power iteration re-derives the host universe (an edge-scale
    # union+distinct), the degree-annotated edge list, AND the whole
    # lineage of the previous iteration's ranks — the final action
    # replayed 13 edge scans at 3 iterations
    # (plans/r17/q_host_rank_before.txt).  `hosts` and `ed` are
    # checkpointed once (the count below materializes them), and each
    # iteration's host-scale rank table is checkpointed to truncate the
    # growing lineage.  Values are unchanged: the fixed-point path is
    # exact integer arithmetic, and the double path's join/agg structure
    # is identical per iteration.
    hosts = materialize(
        e.select(F.col("src").alias("host"))
        .unionByName(e.select(F.col("dst").alias("host")))
        .distinct()
    )
    n = hosts.count()
    if n == 0:
        raise ValueError("host_rank: empty edge list")
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ed = materialize(e.join(deg, "src"))

    if fixed_point_scale is not None:
        s = int(fixed_point_scale)
        dnum = int(round(damping * 100))
        if not 0 <= dnum <= 100:
            raise ValueError(f"damping must be in [0, 1], got {damping}")
        # 100 * scale must stay far under 2^63: cap the scale at 10^16.
        if not 10**6 <= s <= 10**16:
            raise ValueError(f"fixed_point_scale out of range: {s}")
        base_i = ((100 - dnum) * s) // (100 * n)
        ranks = hosts.withColumn("r", F.lit(s // n).cast("long"))
        for _ in range(iterations):
            contrib = (
                ed.join(ranks.withColumnRenamed("host", "src"), "src")
                .select(
                    F.col("dst").alias("host"),
                    F.expr("r div outdeg").alias("c"),
                )
                .groupBy("host")
                .agg(F.sum("c").alias("c"))
            )
            ranks = materialize(
                hosts.join(contrib, "host", "left").select(
                    "host",
                    (
                        F.lit(base_i)
                        + F.expr(f"({dnum} * coalesce(c, 0L)) div 100")
                    ).alias("r"),
                )
            )
        return ranks.select("host", (F.col("r") / F.lit(float(s))).alias("rank"))

    ranks = hosts.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for _ in range(iterations):
        contrib = (
            ed.join(ranks.withColumnRenamed("host", "src"), "src")
            .select(
                F.col("dst").alias("host"),
                (F.col("rank") / F.col("outdeg")).alias("c"),
            )
            .groupBy("host")
            .agg(F.sum("c").alias("c"))
        )
        ranks = materialize(
            hosts.join(contrib, "host", "left").select(
                "host",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks


# ---------------------------------------------------------------------------
# robots.txt: crawl-politeness rules (RFC 9309)
# ---------------------------------------------------------------------------
#
# The missing half of the WARC/WET crawl family (sources/warc.py): a
# crawl pipeline that re-fetches or re-filters a frontier must honor
# per-host robots rules.  Common Crawl publishes robotstxt captures as
# their own WARC segments, so the natural 100 TB shape is: read the
# robots captures -> parse_robots into a HOST-SCALE rule table ->
# broadcast it against the URL frontier.  The parse is one bounded
# window per host (RFC caps a robots.txt parse at 500 KiB, so per-host
# line counts are bounded by spec); the filter is a broadcast join plus
# a JVM higher-order fold — the URL side never shuffles.


def parse_robots(
    df: DataFrame,
    host_col: str = "host",
    body_col: str = "body",
    agent: str = "*",
) -> DataFrame:
    """robots.txt bodies → one rule table ``(host, rule, prefix, wild,
    pattern)`` for a given user-agent product token, per RFC 9309:

    - groups: a contiguous run of ``User-agent:`` lines shares the
      rule lines that follow it (until the next run); rules before any
      group are ignored;
    - group selection: groups naming ``agent`` (case-insensitive token
      match) win; only when none exists do the ``*`` groups apply —
      and ALL matching groups combine (RFC 9309 §2.2.1);
    - lines: comments (``#…``) stripped, field names case-insensitive,
      CRLF tolerated (WARC payloads are CRLF by spec), empty
      ``Disallow:`` is the no-op the RFC says it is, unknown directives
      (``Crawl-delay`` etc.) are skipped;
    - wildcards: ``*`` in a path and the ``$`` end anchor (the de-facto
      extension every major crawler honors) compile to an anchored Java
      regex in ``pattern`` with ``wild = true``; plain prefixes keep
      ``wild = false`` so the filter's hot path stays ``startswith``.

    Plan shape: two window passes partitioned by host over the
    exploded lines (bounded per host by the RFC's 500 KiB parse cap),
    one small aggregate for group selection.  Output is host-scale —
    broadcast-class next to any real frontier."""
    host = F.col(host_col)
    lines = df.select(
        host.alias("host"),
        F.posexplode(F.split(F.col(body_col), "\n")).alias("pos", "raw"),
    )
    # CRLF + comment strip, then split at the FIRST colon.
    line = F.trim(F.regexp_replace(F.regexp_replace("raw", "\r$", ""), "#.*$", ""))
    has_colon = F.instr(line, ":") > 0
    field = F.lower(F.trim(F.substring_index(line, ":", 1)))
    value = F.when(
        has_colon, F.trim(F.expr("substring(__line, instr(__line, ':') + 1)"))
    ).otherwise(F.lit(""))
    parsed = lines.withColumn("__line", line).select(
        "host",
        "pos",
        (has_colon & (field == "user-agent")).alias("is_ua"),
        (has_colon & field.isin("allow", "disallow") & (value != "")).alias(
            "is_rule"
        ),
        field.alias("field"),
        value.alias("value"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("host").orderBy("pos")
    ua_start = F.col("is_ua") & ~F.lag("is_ua", 1, False).over(w)
    runs = parsed.withColumn(
        "run_id",
        F.sum(ua_start.cast("int")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    agent_lc = agent.lower()
    groups = (
        runs.where("is_ua")
        .groupBy("host", "run_id")
        .agg(
            F.max((F.lower("value") == agent_lc).cast("int")).alias("m_exact"),
            F.max((F.col("value") == "*").cast("int")).alias("m_star"),
        )
        .withColumn(
            "has_exact", F.max("m_exact").over(Window.partitionBy("host"))
        )
        .where(
            (F.col("has_exact") == 1) & (F.col("m_exact") == 1)
            | (F.col("has_exact") == 0) & (F.col("m_star") == 1)
        )
        .select("host", "run_id")
    )
    rules = runs.where("is_rule").join(groups, ["host", "run_id"]).select(
        "host", F.col("field").alias("rule"), F.col("value").alias("prefix")
    ).distinct()
    # Wildcard compilation: escape regex metachars in the pattern BODY
    # (everything but a trailing '$', which the RFC extension reserves
    # for end-of-path), then '*' -> '.*', anchored at the start.
    ends_dollar = F.col("prefix").endswith("$")
    body = F.when(
        ends_dollar, F.expr("substring(prefix, 1, length(prefix) - 1)")
    ).otherwise(F.col("prefix"))
    escaped = F.regexp_replace(
        body, r"([\\.\[\]{}()^$+?|])", r"\\$1"
    )
    regex = F.regexp_replace(escaped, r"\*", ".*")
    wild = F.col("prefix").contains("*") | ends_dollar
    return rules.select(
        "host",
        "rule",
        "prefix",
        wild.alias("wild"),
        F.concat(
            F.lit("^"), regex, F.when(ends_dollar, F.lit("$")).otherwise(F.lit(""))
        ).alias("pattern"),
    )


def robots_filter(
    df: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    keep: str = "allowed",
    strip_www: bool = True,
) -> DataFrame:
    """Apply a :func:`parse_robots` rule table to a URL frontier:
    RFC 9309 longest-match — the matching rule with the longest prefix
    decides, allow winning exact ties (the least-restrictive reading
    every major implementation uses); hosts with no rules, and URLs
    matching no rule, are allowed.

    ``keep="allowed"`` filters; ``keep="all"`` returns every row with a
    ``crawl_allowed`` boolean.  Plan shape: the rule table collapses to
    one array row per host and BROADCASTS; the verdict is a JVM
    higher-order filter + array_max over (prefix_len, is_allow) structs
    — lexicographic struct ordering IS the longest-match tiebreak — so
    the frontier side never shuffles and never leaves codegen.  Plain
    prefixes match via ``startswith``; only ``wild`` rules pay the
    per-row regex."""
    if keep not in ("allowed", "all"):
        raise ValueError(f"keep must be 'allowed' or 'all', got {keep!r}")
    u = F.col(url_col)
    # Normalize the rule side's host the same way the frontier side is
    # normalized: extract_host always LOWERCASES (so a rule row keyed
    # 'Example.COM' must fold case regardless of strip_www) and strips
    # 'www.' when asked — otherwise the broadcast join silently misses
    # and every URL on that host reads as allowed.
    host_n = F.lower("host")
    if strip_www:
        host_n = F.regexp_replace(host_n, r"^www\.", "")
    rules = rules.withColumn("host", host_n)
    per_host = rules.groupBy("host").agg(
        F.collect_list(
            F.struct(
                F.length("prefix").alias("plen"),
                (F.col("rule") == "allow").cast("int").alias("is_allow"),
                F.col("prefix").alias("prefix"),
                F.col("wild").alias("wild"),
                F.col("pattern").alias("pattern"),
            )
        ).alias("__rules")
    )
    raw_path = F.regexp_extract(u, PATH_RE, 1)
    path = F.when(raw_path == "", F.lit("/")).otherwise(raw_path)
    # Rules match against path + query (every major crawler's reading
    # of RFC 9309 §2.2.2): 'Disallow: /search?q=' and '/*?*'-style
    # rules are ubiquitous and would never fire on a bare path.
    q = F.regexp_extract(u, QUERY_RE, 1)
    path_q = F.concat(
        path, F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit(""))
    )
    joined = (
        df.withColumn("__host", extract_host(u, strip_www=strip_www))
        .withColumn("__path", path_q)
        .join(F.broadcast(per_host), F.col("__host") == per_host["host"], "left")
        # Drop the rule side's join key SPECIFICALLY — a frontier that
        # carries its own `host` column must keep it.
        .drop(per_host["host"])
    )
    verdict = F.expr(
        """
        CASE WHEN __rules IS NULL THEN true ELSE COALESCE(
          array_max(transform(
            filter(__rules, r -> CASE WHEN r.wild THEN __path RLIKE r.pattern
                                 ELSE startswith(__path, r.prefix) END),
            r -> struct(r.plen AS plen, r.is_allow AS is_allow)
          )).is_allow = 1, true) END
        """
    )
    out = joined.withColumn("crawl_allowed", verdict).drop(
        "__host", "__path", "__rules"
    )
    return out.where("crawl_allowed").drop("crawl_allowed") if keep == "allowed" else out


def _xml_unescape(c: Column) -> Column:
    """The five predefined XML entities, longest-first so '&amp;lt;'
    decodes to '&lt;' (one pass per entity, amp LAST so freshly decoded
    ampersands never re-decode)."""
    c = F.regexp_replace(c, "&lt;", "<")
    c = F.regexp_replace(c, "&gt;", ">")
    c = F.regexp_replace(c, "&quot;", '"')
    c = F.regexp_replace(c, "&apos;", "'")
    return F.regexp_replace(c, "&amp;", "&")


def parse_sitemap(df: DataFrame, body_col: str = "body") -> DataFrame:
    """sitemap.xml bodies → one frontier row per entry: every input
    column (minus the body) plus ``kind`` (``url`` for ``<urlset>``
    entries, ``sitemap`` for ``<sitemapindex>`` children — fetch those
    and parse again), ``url`` and ``lastmod`` (raw W3C datetime string,
    empty when absent).

    The parse is regex-shaped rather than a full XML reader — sitemaps
    are machine-generated with a fixed vocabulary (sitemaps.org
    protocol), so entry blocks split on the closing tags and ``<loc>``
    / ``<lastmod>`` extract per block; CDATA wrappers and the five
    predefined XML entities decode.  Everything is codegen
    split/explode/extract over the body column: no UDFs, no shuffle —
    at crawl scale the parse rides the scan exactly like
    ``html_extract_text``."""
    carried = [c for c in df.columns if c != body_col]
    # Two loc forms, tried CDATA-first: a single combined class that
    # excluded ']' from the URL body would silently drop legitimate
    # bracket URLs (IPv6-literal hosts like https://[2001:db8::1]/).
    loc_cdata_re = r"<loc>\s*<!\[CDATA\[\s*(.*?)\s*\]\]>\s*</loc>"
    loc_plain_re = r"<loc>\s*([^<]+?)\s*</loc>"
    lastmod_re = r"<lastmod>\s*([^<]+?)\s*</lastmod>"
    out = None
    for kind, close_tag in (("url", "</url>"), ("sitemap", "</sitemap>")):
        blocks = df.select(
            *carried,
            F.explode(F.split(F.col(body_col), close_tag)).alias("__block"),
        )
        part = (
            blocks
            # A real entry block contains its OPEN tag ('<url>'/'<url '
            # — '<urlset' does not match, nor '<sitemapindex'): without
            # this, a urlset body read by the sitemap pass (one
            # unsplit block) would leak its first <loc> as a phantom
            # index entry, and vice versa.
            .where(F.col("__block").rlike(f"<{kind}[\\s>]"))
            .select(
                *carried,
                F.lit(kind).alias("kind"),
                F.when(
                    F.regexp_extract("__block", loc_cdata_re, 1) != "",
                    # CDATA content is raw by definition: no entity decode
                    F.regexp_extract("__block", loc_cdata_re, 1),
                ).otherwise(
                    _xml_unescape(
                        F.regexp_extract("__block", loc_plain_re, 1)
                    )
                ).alias("url"),
                F.regexp_extract("__block", lastmod_re, 1).alias("lastmod"),
            )
            .where(F.col("url") != "")
        )
        out = part if out is None else out.unionByName(part)
    return out

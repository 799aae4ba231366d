"""Web-crawl ingestion operators: the steps that sit BETWEEN the raw crawl
and every text operator in this package (HTML -> text extraction, WARC
record splitting, per-domain curation stats).

A production pre-training pipeline reads CommonCrawl-shaped data: WARC/WET
record streams whose payloads are HTML. The existing curation/textstats
operators all assume a clean ``documents(doc_id, text)`` table; this module
supplies the crawl-facing edge that produces it. Same engine discipline as
the rest of the repo (reference hygiene: ``utils/preprocessor.py:6-68``
pins byte-deterministic preprocessing; we pin engine-deterministic regex
chains): every transformation is a pure JVM column expression — RE2- and
java.util.regex-compatible patterns evaluated identically by Spark and the
DuckDB oracle, no Python in the hot path, no UDFs.

Scale notes (100 TB crawl):
- ``html_extract`` is per-row map work — no shuffle at all; it runs inside
  whole-stage codegen fused with the parquet scan.
- ``warc_split`` is split+posexplode per blob — also shuffle-free; blobs
  are crawl chunk files (~1 GiB gzip members in real WARC), so the explode
  fan-out is bounded per input row and rows stay within partition budgets
  set by ``spark.sql.files.maxPartitionBytes``.
- ``domain_stats`` aggregates on registered host — a dim orders of
  magnitude smaller than the page table; the blocklist joins broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .curation import canonicalize_url

# decode order matters and is pinned: &amp; must be decoded LAST —
# decoding it first turns "&amp;lt;" into "&lt;" which the later &lt;
# replace then double-decodes to "<"; with &amp; last, "&amp;lt;" never
# matches the earlier "&lt;" pattern (the '&' is followed by 'a') and
# correctly yields the TEXT "&lt;" — html.unescape's single-pass
# semantics for this subset. Same order in the DuckDB oracle.
_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]


def html_extract(pages: DataFrame, keep: tuple = ()) -> DataFrame:
    """``html`` -> text extraction (trafilatura/jusText-lite): drop
    script/style subtrees, pull the <title>, strip remaining tags, decode
    the six entities that dominate web text, collapse whitespace.

    The chain order is load-bearing and identical in the DuckDB oracle:
    script/style removal BEFORE tag-strip (their bodies are not text),
    tag-strip BEFORE entity decode (a decoded ``&lt;b&gt;`` is literal text
    and must survive), whitespace collapse last. All patterns avoid
    lookaround so java.util.regex and RE2 agree; ``(?s).*?`` lazy spans are
    supported and verified identical on both engines.

    Returns (doc_id, *keep, title, body, body_chars) — per-row map work,
    zero shuffle, fused with the scan under whole-stage codegen. ``keep``
    carries extra input columns through (e.g. the fetch URI) so callers
    never need a re-attach join against the pre-extraction table.
    """
    u = F.regexp_replace(F.col("html"), "(?s)<script[^>]*>.*?</script>", " ")
    u = F.regexp_replace(u, "(?s)<style[^>]*>.*?</style>", " ")
    title = F.regexp_extract(u, "(?s)<title>(.*?)</title>", 1)
    body = F.regexp_replace(u, "<[^>]+>", " ")
    for ent, ch in _ENTITIES:
        title = F.replace(title, F.lit(ent), F.lit(ch))
        body = F.replace(body, F.lit(ent), F.lit(ch))
    body = F.trim(F.regexp_replace(body, "\\s+", " "))
    return pages.select(
        "doc_id",
        *keep,
        title.alias("title"),
        body.alias("body"),
        F.length(body).alias("body_chars"),
    )


def warc_split(blobs: DataFrame) -> DataFrame:
    """Split concatenated WARC-style crawl chunks into records.

    Input rows are (blob_id, payload) where payload is a concatenation of
    records ``WARC/1.0\\nWARC-Target-URI: <uri>\\nContent-Length: <n>\\n\\n
    <body>\\n\\n`` — the WARC/1.0 framing (ISO 28500) reduced to the two
    headers a text pipeline reads. Split on the version line, posexplode
    for a stable in-blob record index, header fields via regexp_extract.

    Emits (blob_id, rec_idx, uri, declared_len, body, body_chars);
    ``declared_len`` vs ``body_chars`` is the record-integrity check a real
    ingest would quarantine on. Shuffle-free: split+explode fan-out is
    bounded by records-per-chunk; real WARC chunks are ~1 GiB and would be
    further split upstream by the file reader.
    """
    recs = blobs.select(
        "blob_id",
        F.posexplode(F.split(F.col("payload"), "WARC/1\\.0\\n")).alias(
            "pos", "rec"
        ),
    ).filter(F.col("rec") != "")
    body = F.regexp_extract(F.col("rec"), "(?s)\\n\\n(.*?)\\n\\n", 1)
    return recs.select(
        "blob_id",
        # pos 0 is the empty pre-delimiter split; records start at pos 1
        (F.col("pos") - 1).alias("rec_idx"),
        F.regexp_extract(F.col("rec"), "WARC-Target-URI: ([^\\n]+)", 1).alias(
            "uri"
        ),
        F.regexp_extract(F.col("rec"), "Content-Length: ([0-9]+)", 1)
        .cast("bigint")
        .alias("declared_len"),
        body.alias("body"),
        F.length(body).alias("body_chars"),
    )


def domain_stats(pages: DataFrame, blocklist: DataFrame) -> DataFrame:
    """Per-registered-host curation stats + blocklist flag (the UT1/URL-
    blocklist shape every crawl pipeline applies before content work).

    Canonicalizes URLs (shared chain with ``url_canonical_dedup``), groups
    by host, and reports per domain: page count, distinct canonical URLs,
    and the duplicate-fetch rate in exact integer ppm. ``blocklist`` is a
    (host) DataFrame — at real scale a few-MB list, always broadcastable.

    One aggregate keyed by host (a dim orders smaller than the page table;
    per-host fan-in is bounded by per-site crawl frequency — the same
    boundedness argument as ``url_canonical_dedup``), then one broadcast
    left join for the flag. No window, no skew funnel.
    """
    canon = pages.select(canonicalize_url(F.col("url")).alias("canonical_url"))
    hosts = canon.select(
        F.regexp_extract(F.col("canonical_url"), "^https?://([^/]+)", 1).alias(
            "host"
        ),
        "canonical_url",
    )
    agg = hosts.groupBy("host").agg(
        F.count("*").alias("n_pages"),
        F.countDistinct("canonical_url").alias("n_urls"),
        F.expr(
            "(count(*) - count(DISTINCT canonical_url)) * 1000000"
            " div count(*)"
        ).alias("dup_ppm"),
    )
    bl = blocklist.select(F.col("host"), F.lit(True).alias("blocked"))
    return agg.join(F.broadcast(bl), "host", "left").select(
        "host",
        "n_pages",
        "n_urls",
        "dup_ppm",
        F.coalesce(F.col("blocked"), F.lit(False)).alias("blocked"),
    )


def robots_filter(pages: DataFrame, rules: DataFrame) -> DataFrame:
    """Robots/blocklist PATH-PREFIX filtering: drop any page whose
    canonical URL's host has a rule whose ``path_prefix`` prefixes the
    page's path (the robots.txt ``Disallow:`` semantics, also the shape of
    licensing/opt-out lists).

    Engine shape: ``rules`` is (host, path_prefix) — a crawl-policy dim
    that is KBs-to-MBs at any corpus size, so the anti-join broadcasts and
    the prefix test runs map-side: Spark plans the host equi-key as a
    BroadcastHashJoin and evaluates ``startswith`` as the residual join
    condition — never a nested-loop over the corpus. Returns the ALLOWED
    pages (doc_id, canonical_url, host, path).
    """
    canon = pages.select(
        "doc_id", canonicalize_url(F.col("url")).alias("canonical_url")
    ).select(
        "doc_id",
        "canonical_url",
        F.regexp_extract(F.col("canonical_url"), "^https?://([^/]+)", 1).alias(
            "host"
        ),
        F.regexp_replace(F.col("canonical_url"), "^https?://[^/]+", "").alias(
            "path"
        ),
    )
    r = F.broadcast(rules.select("host", "path_prefix"))
    cond = (canon["host"] == r["host"]) & (
        canon["path"].startswith(r["path_prefix"])
    )
    return canon.join(r, cond, "left_anti")


def outlink_extract(pages: DataFrame, with_src_host: bool = False) -> DataFrame:
    """Outlink + anchor-text extraction: the web-graph edge source every
    crawl pipeline derives (CommonCrawl publishes exactly this as its
    host/domain graph inputs; anchor text is a classic relevance signal).

    Per page (``url``, ``html``): pull every ``<a ... href="...">...</a>`` element with
    ``regexp_extract_all``, posexplode for a stable in-page link index,
    then per element extract the href and the TAG-STRIPPED, whitespace-
    collapsed anchor text (nested ``<b>``/``<i>`` markup inside anchors is
    common and must not leak into the signal). Link resolution follows the
    deterministic subset of RFC 3986 a text pipeline needs: absolute
    http(s) hrefs pass through, root-relative ``/path`` hrefs resolve
    against the page's scheme+host, everything else (fragments,
    javascript:, mailto:, protocol-relative) is dropped.

    All patterns are lazy-span regexes valid identically under
    java.util.regex and RE2 (no lookaround) — the same engine-parity
    discipline as ``html_extract``. Returns (doc_id, link_idx, dst_url,
    anchor_text), plus a leading ``src_host`` column when ``with_src_host``
    (for host-graph aggregation — carried through the explode so callers
    never re-join the page table). Pure per-row map work: explode fan-out
    is bounded by links-per-page; no shuffle, fused with the scan."""
    # case-insensitive scheme/host match (URLs in the wild carry
    # 'HTTPS://HOST' variants — a lowercase-only pattern yields base=''
    # and root-relative hrefs would "resolve" to bare '/path' strings),
    # normalized to lowercase for stable host keys downstream
    base = F.lower(F.regexp_extract(F.col("url"), "(?i)^https?://[^/]+", 0))
    elems = F.regexp_extract_all(
        F.col("html"),
        F.lit('(?s)<a [^>]*href="[^"]*"[^>]*>.*?</a>'),
        F.lit(0),
    )
    ex = pages.select(
        "doc_id",
        base.alias("base"),
        F.posexplode(elems).alias("link_idx", "elem"),
    )
    href = F.regexp_extract(F.col("elem"), 'href="([^"]*)"', 1)
    anchor = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_extract(F.col("elem"), "(?s)>(.*?)</a>", 1),
                "<[^>]+>",
                " ",
            ),
            "\\s+",
            " ",
        )
    )
    # absolute hrefs get the same scheme+host lowercasing as `base`, so a
    # destination host never appears under multiple case variants in the
    # host graph ('HTTPS://Example.com/x' and 'https://example.com/x' are
    # the same authority per RFC 3986 §6.2.2.1; paths stay case-sensitive)
    resolved = (
        F.when(
            href.rlike("(?i)^https?://"),
            F.concat(
                F.lower(F.regexp_extract(href, "(?i)^https?://[^/]+", 0)),
                F.regexp_replace(href, "(?i)^https?://[^/]+", ""),
            ),
        )
        .when(
            href.startswith("/") & (F.col("base") != ""),
            F.concat(F.col("base"), href),
        )
        .otherwise(F.lit(None))  # incl. root-relative under an unparseable base
    )
    src_cols = (
        [F.regexp_replace(F.col("base"), "^https?://", "").alias("src_host")]
        if with_src_host
        else []
    )
    return (
        ex.select(
            *src_cols,
            "doc_id",
            "link_idx",
            resolved.alias("dst_url"),
            anchor.alias("anchor_text"),
        )
        .filter(F.col("dst_url").isNotNull())
    )


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Crawl snapshot diffing: classify every URL across two crawl
    snapshots as added / removed / changed / unchanged — the re-crawl
    scheduling + incremental-corpus primitive (only 'added'+'changed'
    pages need re-extraction; 'removed' pages need tombstoning in the
    training corpus).

    One full-outer shuffle join on the page key, then a pure map-side
    CASE over fingerprint presence/equality. At 100 TB both sides are
    url-keyed page tables of the same corpus — the join keys are unique
    per side (canonical urls), so there is no fan-out and no skew funnel;
    AQE handles residual partition imbalance. Both sides carry (url, fp);
    returns (url, status, old_fp, new_fp)."""
    o = old.select(F.col("url").alias("k"), F.col("fp").alias("old_fp"))
    n = new.select(F.col("url").alias("k"), F.col("fp").alias("new_fp"))
    st = (
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") == F.col("new_fp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return o.join(n, "k", "full_outer").select(
        F.col("k").alias("url"), st.alias("status"), "old_fp", "new_fp"
    )


def anchor_text_index(links: DataFrame) -> DataFrame:
    """Anchor-text aggregation per link target — the classic anchor index
    (how OTHER pages describe a URL: a relevance/description signal search
    and corpus-labeling pipelines both consume): per dst_url the inbound
    link count, distinct anchor phrasings, and the modal anchor with a
    deterministic tie-break (highest count, then lexicographically
    smallest — ``min_by`` over the (-count, anchor) struct, so the gate
    hash is order-exact; the modal anchor's count is then just
    ``max(count)``).

    Two stacked aggregates: (dst, anchor) counts, then the dst rollup —
    both partial-aggregate-friendly, no window over the link table, no
    join. At crawl scale the hot keys are mega-linked URLs; they collapse
    to one row per distinct anchor in pass 1, bounding pass-2 fan-in by
    anchor vocabulary, not inbound degree."""
    per = links.groupBy("dst_url", "anchor_text").agg(F.count("*").alias("cnt"))
    return per.groupBy("dst_url").agg(
        F.sum("cnt").alias("n_links"),
        F.count("*").alias("n_anchors"),
        F.expr(
            "min_by(anchor_text, struct(-cnt, anchor_text))"
        ).alias("top_anchor"),
        F.max("cnt").alias("top_anchor_links"),
    )


def crawl_schedule(frontier: DataFrame, budget: int = 5) -> DataFrame:
    """Politeness-aware crawl-frontier scheduling: per host, keep the top
    ``budget`` URLs by (priority desc, url asc) and assign each a fetch
    offset on the host's own clock — ``(rank - 1) * delay`` — so no host
    is hit faster than its crawl delay while hosts proceed in parallel
    (the per-host-queue discipline of every polite crawler: Heritrix's
    host queues, Nutch's ``generate`` step).

    ``frontier`` carries (url, priority) and optionally a per-host
    ``delay_ms`` (e.g. from robots.txt ``Crawl-delay``); missing delays
    fall back to 1000 ms. The host is derived from the URL
    map-side — no join against a page table.

    One window per host (rank) + a filter: the shuffle is keyed by host,
    and the per-host budget cap means output is bounded by
    ``n_hosts * budget`` regardless of frontier size — the frontier can
    be billions of URLs; the schedule is dim-sized. Skewed mega-hosts
    cost one partition's top-k, not a cross-host straggler."""
    host = F.regexp_extract(F.col("url"), "^https?://([^/]+)", 1)
    # the delay is a property of the HOST, not of the frontier row: rows
    # of one host can carry different delay_ms (stale robots snapshots,
    # per-path hints), and using each row's own value lets a low-delay row
    # fire inside a high-delay neighbor's window. Resolve the host's
    # effective delay as the MAX over its rows (the conservative polite
    # choice) over the same host window the rank already shuffles on —
    # no extra exchange.
    delay_row = (
        F.coalesce(F.col("delay_ms"), F.lit(1000))
        if "delay_ms" in frontier.columns
        else F.lit(1000)
    )
    w = Window.partitionBy("host").orderBy(
        F.col("priority").desc(), F.col("url").asc()
    )
    whost = Window.partitionBy("host")
    return (
        frontier.withColumn("host", host)
        .withColumn("host_delay", F.max(delay_row).over(whost))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= budget)
        .select(
            "host",
            F.col("rnk").cast("int").alias("rnk"),
            "url",
            F.col("priority").cast("long").alias("priority"),
            ((F.col("rnk") - 1) * F.col("host_delay")).cast("long").alias("fetch_offset_ms"),
        )
    )


def recrawl_priority(fetches: DataFrame) -> DataFrame:
    """Change-rate estimation across k crawl snapshots — the freshness
    model behind recrawl scheduling (Cho & Garcia-Molina 2003's change-
    frequency estimator, reduced to its integer core): per URL, compare
    each (url, snap, fp) fetch's fingerprint to the previous snapshot's
    via ``lag`` and report observed transitions, changes, and the change
    rate in exact integer ppm (``changes * 1e6 div transitions``). URLs
    that change every snapshot rank first for re-crawl; never-changed
    URLs decay to the bottom.

    One window (lag over snap within url) + one aggregate — both keyed
    by url, one shuffle reused across the two (the window's hash
    partitioning satisfies the aggregate's distribution). At crawl scale
    k is small (snapshot count), so rows-per-key is bounded and there is
    no skew funnel."""
    w = Window.partitionBy("url").orderBy(F.col("snap").asc())
    lagged = fetches.withColumn("prev_fp", F.lag("fp").over(w))
    chg = F.when(
        F.col("prev_fp").isNull(), F.lit(None).cast("int")
    ).otherwise((F.col("prev_fp") != F.col("fp")).cast("int"))
    return (
        lagged.withColumn("chg", chg)
        .groupBy("url")
        .agg(
            F.count("*").cast("long").alias("n_fetches"),
            F.count("chg").cast("long").alias("n_transitions"),
            F.coalesce(F.sum("chg"), F.lit(0)).cast("long").alias("n_changes"),
        )
        .withColumn(
            "change_ppm",
            F.when(F.col("n_transitions") == 0, F.lit(0).cast("long"))
            .otherwise(
                F.expr("n_changes * 1000000 div n_transitions").cast("long")
            ),
        )
    )


def host_templates(pages: DataFrame) -> DataFrame:
    """Host-scoped template (boilerplate) detection — the per-domain
    paragraph-dedup CCNet applies before global dedup: a sentence of the
    (url, text) ``pages`` that appears on at least half of a host's pages
    (hosts of 2 pages or more) is chrome
    (nav, footer, cookie banner), not content. Global df-cuts miss this
    (a template is rare globally but universal within its host).

    Pipeline: sentence-split each page map-side ('. ' boundaries), hash
    each sentence, count distinct pages per (host, sentence-hash), join
    the per-host page count, flag sentences over the share threshold, and
    roll up per host: template count and the template share of total
    sentence occurrences in exact integer ppm.

    Two aggregates + one host-keyed join (the page-count dim is host-
    sized — broadcastable). The per-(host, hash) aggregate collapses
    template repetition before the rollup, so hot template sentences on
    mega-hosts cost one row each downstream."""
    host = F.regexp_extract(F.col("url"), "^https?://([^/]+)", 1)
    sent = pages.select(
        host.alias("host"),
        F.col("url").alias("u"),
        F.explode(F.split(F.col("text"), "\\. ")).alias("s"),
    ).filter(F.col("s") != "")
    per = sent.groupBy("host", F.xxhash64("s").alias("sh")).agg(
        F.count_distinct("u").alias("n_pages_with"),
        F.count("*").alias("n_occ"),
    )
    hp = pages.groupBy(host.alias("host")).agg(
        F.count_distinct(F.col("url")).alias("n_pages")
    )
    flagged = per.join(F.broadcast(hp), "host").withColumn(
        "is_template",
        (F.col("n_pages") >= 2)
        & (F.expr("n_pages_with * 1000000 div n_pages") >= F.lit(500_000)),
    )
    return (
        flagged.groupBy("host")
        .agg(
            F.max("n_pages").cast("long").alias("n_pages"),
            F.sum(F.col("is_template").cast("long"))
            .cast("long")
            .alias("n_templates"),
            F.sum("n_occ").cast("long").alias("n_sentences"),
            F.sum(F.when(F.col("is_template"), F.col("n_occ")).otherwise(0))
            .cast("long")
            .alias("template_occ"),
        )
        .withColumn(
            "template_ppm",
            F.expr("template_occ * 1000000 div n_sentences").cast("long"),
        )
    )


def wet_export(recs: DataFrame) -> DataFrame:
    """WET-style chunk serialization — the inverse of ``warc_split``: each
    record re-framed as ``WARC/1.0\\nWARC-Target-URI: <uri>\\n
    Content-Length: <n>\\n\\n<body>\\n\\n`` and concatenated per chunk in
    record order (the sink side of a crawl re-export / corpus shard
    writer). ``wet_export(warc_split(blobs)) == blobs`` is the round-trip
    contract the gate checks by md5.

    One groupBy per chunk with an order-restoring ``array_sort`` over
    (rec_idx, frame) structs — the same deterministic-reassembly idiom as
    ``strip_boilerplate``; records-per-chunk is bounded (real WARC chunks
    are ~1 GiB), so the per-group collect is bounded by construction.
    Emits (blob_id, n_records, payload_chars, payload_md5) — the payload
    digest rather than the payload itself, so the gate row stays scalar
    while still pinning every byte."""
    frame = F.format_string(
        "WARC/1.0\nWARC-Target-URI: %s\nContent-Length: %d\n\n%s\n\n",
        F.col("uri"), F.length("body"), F.col("body"),
    )
    payload = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("rec_idx").alias("i"), frame.alias("rec"))
                )
            ),
            lambda s: s["rec"],
        ),
        "",
    )
    return (
        recs.groupBy("blob_id")
        .agg(
            F.count("*").cast("long").alias("n_records"),
            payload.alias("_payload"),
        )
        .select(
            "blob_id",
            "n_records",
            F.length("_payload").cast("long").alias("payload_chars"),
            F.md5("_payload").alias("payload_md5"),
        )
    )


def url_templates(pages: DataFrame) -> DataFrame:
    """URL path-template mining: strip scheme/host/query/fragment, split
    the path into segments, replace purely-numeric segments with ``{n}``,
    and count pages + distinct URLs per (host, template) — the sitemap-
    structure signal crawl scheduling and boilerplate-URL pruning both
    consume (e.g. ``/cat/{n}/item/{n}`` identifies a product-listing
    generator; millions of URLs, one template row).

    Segmentation is split/transform/array_join — no lookaround regex, so
    java.util.regex and RE2/DuckDB agree. Map-side projection + one
    (host, template)-keyed aggregate; output is bounded by the site's
    template vocabulary, not its URL count."""
    host = F.regexp_extract(F.col("url"), "^https?://([^/]+)", 1)
    path = F.regexp_replace(
        F.regexp_extract(F.col("url"), "^https?://[^/]+(/[^?#]*)", 1),
        "/+$", "",
    )
    template = F.array_join(
        F.transform(
            F.split(path, "/"),
            lambda s: F.when(s.rlike("^[0-9]+$"), F.lit("{n}")).otherwise(s),
        ),
        "/",
    )
    return pages.select(
        host.alias("host"),
        template.alias("template"),
        F.col("url").alias("u"),
    ).groupBy("host", "template").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.count_distinct("u").cast("long").alias("n_urls"),
    )


def robots_parse(robots: DataFrame) -> DataFrame:
    """robots.txt parsing into the (host, agent, rule_type, value) rules
    dim that ``robots_filter`` applies — the parse side of the crawl-
    politeness pair. Implements the core of RFC 9309 grouping: lines
    belong to the most recent ``User-agent:`` group above them;
    consecutive User-agent lines share the following rules (a group can
    name several agents); Disallow/Allow/Crawl-delay records are emitted
    per (agent, rule); comments (#) and blank lines are skipped.

    The stateful \"current group\" line-parser becomes two windows over
    (host, line_no): a running count of group BOUNDARIES (a User-agent
    line whose predecessor is not itself a User-agent line) assigns each
    line its group id, then rules join to their group's agents through a
    (host, group)-keyed equi-join (agents-per-group is bounded tiny).
    robots.txt files are KBs — the per-host window partitions are bounded
    by file line count, so the window shuffle is dim-sized, never
    corpus-sized."""
    lines = robots.select(
        "host",
        F.posexplode(F.split(F.col("payload"), "\n")).alias("line_no", "ln"),
    ).select(
        "host", "line_no",
        F.trim(F.regexp_replace("ln", "#.*$", "")).alias("ln"),
    ).filter(F.col("ln") != "")
    kind = (
        F.when(F.lower("ln").startswith("user-agent:"), F.lit("agent"))
        .when(F.lower("ln").startswith("disallow:"), F.lit("disallow"))
        .when(F.lower("ln").startswith("allow:"), F.lit("allow"))
        .when(F.lower("ln").startswith("crawl-delay:"), F.lit("crawl-delay"))
    )
    value = F.trim(F.regexp_extract("ln", "^[^:]+:(.*)$", 1))
    typed = lines.select(
        "host", "line_no", kind.alias("kind"), value.alias("value")
    ).filter(F.col("kind").isNotNull())
    w = Window.partitionBy("host").orderBy("line_no")
    boundary = (
        (F.col("kind") == "agent")
        & (F.coalesce(F.lag("kind").over(w), F.lit("")) != "agent")
    ).cast("int")
    grouped = typed.withColumn("grp", F.sum(boundary).over(w))
    agents = grouped.filter(F.col("kind") == "agent").select(
        "host", "grp", F.col("value").alias("agent")
    )
    # RFC 9309: an EMPTY Disallow/Allow value means "no rule" (the
    # canonical allow-all file is `Disallow:`); emitting it would give
    # robots_filter an empty path_prefix that startswith-matches EVERY
    # page — the exact inverse. Drop empty-value path rules.
    rules = grouped.filter(
        (F.col("kind") != "agent")
        & ((F.col("kind") == "crawl-delay") | (F.col("value") != ""))
    ).select(
        "host", "grp", F.col("kind").alias("rule_type"), "value", "line_no"
    )
    return agents.join(rules, ["host", "grp"]).select(
        "host", "agent", "rule_type", "value",
        F.col("line_no").cast("long").alias("line_no"),
    )

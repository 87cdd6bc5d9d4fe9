"""Outlink extraction over interleaved documents — the crawl-frontier /
link-graph side of a web-scale extraction engine.

The reference's pipeline consumes pages a crawler fetched; a production
deployment of the same engine also has to FEED that crawler: every page's
anchors, resolved to absolute URLs, become the next frontier, and the
host-to-host aggregate of those edges drives scheduling and per-host
quality priors. This module extracts both from the same interleaved span
representation the extraction kernel reads (reconstruct -> parse ->
anchor walk, `dom.py`'s jsoup-style ``absUrl`` resolution, cf.
reference `Extractor.java:17-26` where jsoup's Document carries the
fetch URL as its base URI).

Scale shape:

* `extract_outlinks` is ONE `mapInPandas` stage — Arrow-batched,
  tree-at-a-time inside, zero per-row Python at the Spark layer, and a
  narrow map (no shuffle: output partitioning = input partitioning).
  The same oversize guard as the extraction kernel applies, and
  ``max_links_per_doc`` caps the fan-out so a pathological 10^6-anchor
  page cannot blow up one batch's memory.
* `host_link_graph` is a single groupBy over (src_host, dst_host) —
  hosts are short strings with heavy map-side combine (a host appears
  once per shuffle key regardless of how many billions of links it
  receives), so the exchange carries the DISTINCT host-pair space, not
  the edge volume.
* `anchor_text_topk` pre-aggregates to the DISTINCT (target, anchor)
  space before any window touches a row, then ranks through the exact
  salted two-phase top-k (`relational.salted_topk`) so a mega-host with
  millions of distinct anchors never funnels through one window task.
* `host_pagerank` iterates the canonical O(E)-per-round distributed
  power method over the host-pair table: one equi-join + one partially
  aggregated groupBy per round, a once-built lazily-checkpointed
  transition table, dangling mass as a broadcast one-row aggregate, and
  a single driver action (the node count) for the whole fixed-round job.
* `crawl_frontier` reduces the edge volume to distinct canonical URLs
  FIRST (groupBy with map-side combine), anti-joins the (possibly
  10^12-row) crawled set on the canonical-URL key only — no page
  payload ever rides the join — and caps the per-host output through
  the same salted top-k.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..dom import parse
from .extract import map_documents

OUTLINKS_SCHEMA = (
    "doc_id string, link_no int, url string, anchor string, rel string"
)


def _outlinks(row, html, base_uri, max_links):
    if html is None:
        return
    doc = parse(html, base_uri=base_uri)
    link_no = 0
    for a in doc.get_elements_by_tag("a", include_self=False):
        if link_no >= max_links:
            break
        if not a.attr("href"):
            continue  # anchors without a target aren't links
        url = a.abs_url("href")
        if not url:
            continue  # unresolvable (no base + relative href)
        yield (row.doc_id, link_no, url, a.text(), a.attr("rel"))
        link_no += 1


def _host(url_col: str) -> F.Column:
    """The lowercased host of a URL column, NULL for a malformed URL.
    try_parse_url, not parse_url: a malformed URL must become NULL (the
    callers drop it), not an [INVALID_URL] job failure — one bad row in
    10^12 cannot be allowed to kill the aggregation."""
    return F.lower(F.try_parse_url(F.col(url_col), F.lit("HOST")))


def extract_outlinks(df: DataFrame, max_links_per_doc: int = 10_000) -> DataFrame:
    """documents(doc_id, spans[, base_uri]) ->
    (doc_id, link_no, url, anchor, rel): every resolvable anchor, in
    document (DOM pre-order) position, href resolved against the page's
    base URI (jsoup ``absUrl`` semantics — relative hrefs with no base
    resolve to '' and are dropped). ``link_no`` numbers the EMITTED
    links 0..k-1. ``rel`` is the raw attribute ('' when absent) so the
    caller can apply nofollow policy — dropping is policy, not
    extraction.
    """
    if max_links_per_doc < 1:
        raise ValueError(
            f"max_links_per_doc must be >= 1, got {max_links_per_doc}"
        )

    # doc_id keeps the INPUT's type: a bigint documents table used to
    # hit an Arrow int->string conversion error because the schema
    # hardcoded string (round-6 advice); values pass through verbatim
    id_type = df.schema["doc_id"].dataType.simpleString()
    schema = (
        f"doc_id {id_type}, link_no int, url string, anchor string,"
        " rel string"
    )
    return map_documents(
        df, partial(_outlinks, max_links=max_links_per_doc), schema
    )


def host_link_graph(
    outlinks: DataFrame, src_url_col: str = "base_uri"
) -> DataFrame:
    """(src_host, dst_host, n_links): the host-level aggregate of an
    outlink table that carries the page URL in ``src_url_col``. Hosts
    are lowercased; rows whose src or dst host cannot be parsed are
    dropped (a graph edge needs both ends).
    """
    src = _host(src_url_col)
    dst = _host("url")
    return (
        outlinks.select(src.alias("src_host"), dst.alias("dst_host"))
        .filter(F.col("src_host").isNotNull() & F.col("dst_host").isNotNull())
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


def anchor_text_topk(
    outlinks: DataFrame,
    k: int = 5,
    by: str = "host",
    salt_buckets: int = 16,
) -> DataFrame:
    """(dst, anchor, n_links, rank): the ``k`` most frequent anchor
    texts pointing at each destination — the classic link-graph quality
    signal (incoming anchor text describes a page better than the page
    does). ``by='host'`` aggregates targets to the lowercased URL host;
    ``by='url'`` keeps exact URLs. Ties rank by anchor text ascending so
    the result is deterministic. Anchors are trimmed; empty anchors
    carry no signal and are dropped, and in host mode so are targets
    whose host cannot be parsed (in url mode the raw URL IS the target,
    so nothing needs parsing and every non-empty one counts).

    Scale shape: one groupBy over (dst, anchor) with map-side combine
    collapses the edge volume (billions of links into a big host) to
    the DISTINCT pair space before any window runs, then the exact
    salted two-phase top-k ranks per destination — a host with millions
    of distinct anchors is ranked per (dst, salt) first, so no single
    window task sees more than ~its salt share (cf. salted_topk).
    """
    from .relational import salted_topk

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if by not in ("host", "url"):
        raise ValueError(f"by must be 'host' or 'url', got {by!r}")
    if by == "host":
        dst = _host("url")
    else:
        dst = F.col("url")
    agg = (
        outlinks.select(
            dst.alias("dst"), F.trim(F.col("anchor")).alias("anchor")
        )
        .filter(
            F.col("dst").isNotNull()
            & (F.col("dst") != "")
            & (F.col("anchor") != "")
        )
        .groupBy("dst", "anchor")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )
    return salted_topk(
        agg,
        group_col="dst",
        order_exprs=[F.desc("n_links"), F.asc("anchor")],
        k=k,
        salt_key_col="anchor",
        salt_buckets=salt_buckets,
    )


def crawl_frontier(
    outlinks: DataFrame,
    crawled: DataFrame,
    crawled_url_col: str = "url",
    per_host_cap: int = 1_000,
    salt_buckets: int = 16,
) -> DataFrame:
    """(url, host, n_inlinks, rank): the next crawl frontier — every
    DISTINCT canonical outlink URL not already in ``crawled``, ranked
    inside its host by in-link count (descending, URL ascending on
    ties) and capped at ``per_host_cap`` so one mega-site cannot
    monopolize the next wave (per-host politeness is also why the cap
    is per HOST, not global). URLs are canonicalized with the same
    normalization as the ``url_normalize`` scalar (fragment stripped,
    scheme/host lowercased, default ports dropped), so ``page#section``
    anchors collapse onto their already-crawled page and self-links
    never re-enter the frontier.

    ``crawled`` is any DataFrame carrying the fetched URL in
    ``crawled_url_col`` (e.g. the documents table's ``base_uri``); it
    is normalized with the same rules before the anti-join.

    Scale shape: the outlink volume collapses to distinct canonical
    URLs through ONE groupBy (map-side combine — a URL linked a billion
    times shuffles its count partials, not a billion rows); the
    anti-join against the 10^12-row crawled set keys on the canonical
    URL string only (sort-merge/shuffled-hash on the URL — the crawled
    side is far too big to broadcast, and no payload travels); the
    per-host cap is the exact salted two-phase top-k, so giant hosts
    never funnel one window task.
    """
    from ..functions.sqlgen import SPARK, url_normalize_sql
    from .relational import salted_topk

    if per_host_cap < 1:
        raise ValueError(f"per_host_cap must be >= 1, got {per_host_cap}")
    if crawled_url_col not in crawled.columns:
        raise ValueError(
            f"crawled url column {crawled_url_col!r} not in crawled; "
            f"columns: {crawled.columns}"
        )
    norm = F.expr(url_normalize_sql("_u", SPARK))
    cand = (
        outlinks.select(F.col("url").alias("_u"))
        .select(norm.alias("url"))
        .filter(F.col("url").isNotNull() & (F.col("url") != ""))
        .groupBy("url")
        .agg(F.count(F.lit(1)).alias("n_inlinks"))
    )
    seen = (
        crawled.select(F.col(crawled_url_col).alias("_u"))
        .select(norm.alias("url"))
        .filter(F.col("url").isNotNull())
    )
    fresh = cand.join(seen, "url", "left_anti").withColumn("host", _host("url"))
    # an unparsable candidate (no host) cannot be fetched: drop it here
    # rather than hand the crawler a NULL-host partition
    fresh = fresh.filter(F.col("host").isNotNull() & (F.col("host") != ""))
    return salted_topk(
        fresh,
        group_col="host",
        order_exprs=[F.desc("n_inlinks"), F.asc("url")],
        k=per_host_cap,
        salt_key_col="url",
        salt_buckets=salt_buckets,
    ).select("url", "host", "n_inlinks", "rank")


def host_pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    weight_col: str | None = "n_links",
) -> DataFrame:
    """(host, pr): PageRank over the host link graph after a FIXED
    number of synchronous power-method rounds — the crawl-scheduling /
    per-host quality prior that `host_link_graph`'s edges feed. Edges
    are weighted by ``weight_col`` (link multiplicity; pass ``None`` to
    count each distinct host pair once); a host's rank flows to its
    targets in proportion to edge weight. Dangling hosts (in-links
    only — the frontier's unfetched hosts always are) redistribute
    their mass uniformly, so ``sum(pr) == 1`` holds every round.
    Fixed ``iterations`` rather than an epsilon test keeps the result
    deterministic and the job a SINGLE action — convergence probing
    would cost a driver action per round for a quantity the caller of
    a scheduling prior rarely needs exactly.

    Scale shape: the transition table is built once (two groupBys with
    map-side combine over the DISTINCT host-pair space) and lazily
    localCheckpoint-ed, so each round reuses its blocks instead of
    recomputing the normalization. A round is ONE equi-join of the
    rank vector with the transition table on src plus ONE groupBy(dst)
    with partial aggregation — the canonical O(E)-per-round
    distributed PageRank; a mega-host's million in-edges collapse
    map-side. The dangling mass is a one-row aggregate broadcast back
    over the node set. Each round's rank vector references the
    previous round TWICE (contrib and dangling branches), so every
    round is lazily localCheckpoint-ed: both branches then read one
    cached block set instead of doubling the plan per round. The only
    driver action is the node count (a control-plane scalar needed for
    the uniform prior). Executor-loss durability follows the repo's
    localCheckpoint discipline (cf. `graph.py`): a lost executor
    restarts the job, acceptable for a fixed-round batch prior.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    for c in (src_col, dst_col) + (
        (weight_col,) if weight_col is not None else ()
    ):
        if c not in edges.columns:
            raise ValueError(
                f"host_pagerank: column {c!r} not in edges; "
                f"columns: {edges.columns}"
            )
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    e = (
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            w.alias("w"),
        )
        .filter(
            F.col("src").isNotNull()
            & (F.col("src") != "")
            & F.col("dst").isNotNull()
            & (F.col("dst") != "")
            & F.col("w").isNotNull()
            & (F.col("w") > 0)
        )
        # parallel edges fold so the transition probability is defined
        # per DISTINCT pair; map-side combine keeps this narrow-ish.
        # Unweighted mode maxes the constant 1.0 instead of summing it,
        # so a duplicated pair really does count once as documented.
        .groupBy("src", "dst")
        .agg(
            (F.sum("w") if weight_col is not None else F.max("w")).alias("w")
        )
    )
    out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    trans = (
        e.join(out_w, "src")
        .select("src", "dst", (F.col("w") / F.col("out_w")).alias("w"))
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("src").alias("host"))
        .union(e.select(F.col("dst").alias("host")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    spark = edges.sparkSession
    n = nodes.count()  # the one control-plane action (uniform prior)
    if n == 0:
        return spark.createDataFrame([], "host string, pr double")
    src_set = trans.select("src").distinct().localCheckpoint(eager=False)
    d = float(damping)
    pr = nodes.select("host", F.lit(1.0 / n).alias("pr"))
    for i in range(iterations):
        contrib = (
            trans.join(pr, trans["src"] == pr["host"])
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("w")).alias("contrib"))
            .withColumnRenamed("dst", "host")
        )
        dang = pr.join(
            src_set, pr["host"] == src_set["src"], "left_anti"
        ).agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("mass"))
        # build side is the ONE-row dangling aggregate: a broadcast of
        # a single row, not a data-sized nested loop
        pr = (
            nodes.join(contrib, "host", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "host",
                (
                    F.lit((1.0 - d) / n)
                    + F.lit(d)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("mass") / F.lit(float(n))
                    )
                ).alias("pr"),
            )
        )
        if i + 1 < iterations:
            pr = pr.localCheckpoint(eager=False)
    return pr


def registrable_domain(url_col: str, labels: int = 2) -> F.Column:
    """The last ``labels`` dot-labels of the URL's host, lowercased —
    the blocklist join key. With the default 2 this is the registrable
    domain for generic TLDs (example.com); ccTLD second-level registries
    (co.uk) need ``labels=3`` or a public-suffix table — a real PSL is a
    data file, not an algorithm, so it is the caller's plug point.
    Malformed URLs yield NULL."""
    if labels < 1:
        raise ValueError(f"labels must be >= 1, got {labels}")
    host = _host(url_col)
    # drop empty labels: a trailing-dot FQDN ('example.com.') splits to
    # ['example','com',''] and would key as 'com.', silently escaping
    # the blocklist (round-6 advice)
    parts = F.filter(F.split(host, r"\."), lambda x: x != "")
    n = F.size(parts)
    start = F.greatest(n - F.lit(labels) + 1, F.lit(1))
    return F.array_join(F.slice(parts, start, F.lit(labels)), ".")


def filter_blocked_domains(
    df: DataFrame,
    blocked: DataFrame,
    url_col: str = "url",
    labels: int = 2,
    mode: str = "drop",
) -> DataFrame:
    """Drop (``mode='drop'``) or keep-only (``mode='keep'``) rows whose
    URL's registrable domain appears in ``blocked`` (a one-column
    DataFrame of domains, matched case-insensitively). Rows with an
    unparsable URL are KEPT under 'drop' (an unparsable URL proves
    nothing against the row) and dropped under 'keep'.

    Scale shape: one narrow domain projection + ONE broadcast hash
    anti/semi-join — the corpus never shuffles and the blocklist (even
    millions of domains) broadcasts once per executor. This is the C4 /
    CommonCrawl-style domain-blocklist gate as a join, not a per-row
    regex scan over the list.
    """
    if mode not in ("drop", "keep"):
        raise ValueError(f"mode must be 'drop' or 'keep', got {mode!r}")
    if len(blocked.columns) != 1:
        raise ValueError(
            f"blocked must have exactly one column, got {blocked.columns}"
        )
    if url_col not in df.columns:
        raise ValueError(
            f"url column {url_col!r} not in input; columns: {df.columns}"
        )
    key = blocked.columns[0]
    # no distinct(): semi/anti join semantics ignore duplicate build
    # keys, and dropping it keeps the ENTIRE plan exchange-free apart
    # from the broadcast itself
    bl = blocked.select(
        F.lower(F.trim(F.col(key))).alias("_blocked_domain")
    )
    tagged = df.withColumn("_dom", registrable_domain(url_col, labels))
    how = "left_anti" if mode == "drop" else "left_semi"
    out = tagged.join(
        F.broadcast(bl),
        tagged["_dom"] == F.col("_blocked_domain"),
        how,
    )
    return out.drop("_dom")

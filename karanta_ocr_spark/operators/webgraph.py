"""Web-link-graph operators: link extraction, host graph, PageRank,
anchor-text aggregation.

A web-scale training corpus is not a bag of independent pages — the
LINK STRUCTURE is a first-class quality signal (Common Crawl ships
host- and domain-level web graphs alongside each crawl; CCNet/
RefinedWeb-style pipelines use link-derived host scores to pick what
to keep, and anchor text is a classic relevance/labeling signal,
e.g. DORIS-MAE / anchor-as-query pretraining sets). This module
derives that structure from the pages themselves, Spark-first:

- :func:`extract_links` — per-row Catalyst regexes pull every
  ``<a href>`` + its anchor text out of the raw html (zero shuffle,
  no Python), then resolve each href against the page URL (absolute /
  protocol-relative / root-relative / path-relative, bounded
  dot-segment normalization, fragment strip; ``mailto:``/
  ``javascript:``/data URLs dropped).
- :func:`host_link_graph` — (src_host, dst_host, weight) edges by a
  single partial-agg shuffle keyed on the host PAIR (never page
  text); self-loops optional.
- :func:`pagerank` — damped power iteration with dangling-mass
  redistribution. Per round: one join on ``src`` + one partial agg on
  ``dst``; the two global scalars (node count, dangling mass) travel
  as broadcast one-row frames — NO driver collect in the loop. Plan
  lineage is truncated per round with a lazy ``localCheckpoint`` so a
  50-round run at cluster scale doesn't build a 50-deep plan.
- :func:`anchor_texts` — per-target anchor profile: total in-links,
  distinct source hosts, and the dominant anchor string by
  (count desc, text asc) — a deterministic argmax via one
  ``max(struct)`` partial agg, not a window sort.

All four are DuckDB-replayable: the extraction regexes are RE2-safe
(no lookarounds/backrefs; explicit ``[ \\t\\n\\r]`` instead of
``\\s`` — Java's ``\\s`` includes VT, RE2's does not), and the
PageRank oracle unrolls the exact per-iteration formula.

Reference parity: karanta-ocr extracts documents one-by-one and has
no graph stage; this is part of the "operations a large-scale
training-data pipeline would need" mandate (brief), not a reference
port.

Scale notes (100 TB): link extraction is map-only over the page scan
and prunes to (url, html) — predicate/column pushdown reaches the
parquet reader. The host graph is hosts², orders of magnitude smaller
than the page table; PageRank over the host graph (~10⁷-10⁸ nodes at
full-crawl scale) runs comfortably with per-round shuffles keyed on
host; skewed in-degree hubs (google.com) are partial-aggregated
map-side before the exchange since the agg is a plain sum.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: One <a ...> element through its anchor text (up to the next tag).
#: Groups: 1/2/3 = double-quoted / single-quoted / unquoted href
#: value (exactly one participates per match), 4 = anchor text.
#: RE2-safe: no lookarounds, no backrefs, explicit whitespace class.
A_TAG_RE = (
    r"(?i)<a[ \t\n\r][^>]*href[ \t]*=[ \t]*"
    r"(?:\"([^\"]*)\"|'([^']*)'|([^\"' >]+))"
    r"[^>]*>([^<]*)"
)

#: Schemes a corpus pipeline follows. Anything else (mailto:,
#: javascript:, data:, tel:, ftp:) is dropped at resolution time.
_SCHEME_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*:"


def host_expr(url: Column) -> Column:
    """Lowercased authority of an absolute URL ('' if not absolute)."""
    return F.lower(
        F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/]+)", 1)
    )


def resolve_href(base: Column, href: Column) -> Column:
    """RFC-3986-lite reference resolution, pure Catalyst.

    Handles the four shapes that cover crawled html: absolute
    (``https://…`` kept, other schemes → NULL), protocol-relative
    (``//host/p`` → page scheme), root-relative (``/p`` →
    ``scheme://host/p``), and path-relative (joined to the base
    directory). Fragments are stripped first; dot segments are
    normalized by a BOUNDED rewrite (4 passes of ``/x/../`` → ``/``
    and ``/./`` → ``/`` — beyond 4 levels of ``..`` a real resolver
    differs, documented, and crawled pages essentially never nest
    deeper). Empty hrefs and bare fragments resolve to NULL (a
    self-link carries no graph information).
    """
    h = F.regexp_replace(F.trim(href), r"#.*$", "")
    scheme = F.regexp_extract(base, r"^([a-zA-Z][a-zA-Z0-9+.-]*):", 1)
    origin = F.regexp_extract(base, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]+)", 1)
    # Base directory: origin + path up to (and incl.) the last '/'.
    # An origin-only base ('https://h') acts as 'https://h/'.
    path = F.substring(base, F.length(origin) + F.lit(1), F.length(base))
    dirpath = F.regexp_extract(path, r"^(.*/)", 1)
    basedir = F.concat(
        origin, F.when(dirpath == "", F.lit("/")).otherwise(dirpath)
    )
    resolved = (
        F.when(h == "", F.lit(None).cast("string"))
        .when(
            h.rlike(_SCHEME_RE),
            F.when(h.rlike(r"^https?://"), h).otherwise(
                F.lit(None).cast("string")
            ),
        )
        .when(h.startswith("//"), F.concat(scheme, F.lit(":"), h))
        .when(h.startswith("/"), F.concat(origin, h))
        .otherwise(F.concat(basedir, h))
    )
    for _ in range(4):
        resolved = F.regexp_replace(
            resolved, r"(://[^/]+[^:]*?)/[^/.][^/]*/\.\./", r"$1/"
        )
    resolved = F.regexp_replace(resolved, r"(://[^/]+[^:]*?)/\./", r"$1/")
    return resolved


def extract_links(
    df: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Explode every resolvable ``<a href>`` of every page.

    Returns ``(url, link_url, anchor)`` — one row per link occurrence
    (duplicates preserved: repeat links are real weight). ``html`` may
    be binary (decoded UTF-8) or string. Map-side only: the regex
    scan, per-element group extraction (a ``transform`` HOF — still
    Catalyst), resolution, and the explode all happen before any
    exchange; column pruning keeps the scan at (url, html).
    """
    html = (
        F.decode(F.col(html_col), "UTF-8")
        if dict(df.dtypes)[html_col] == "binary"
        else F.col(html_col).cast("string")
    )
    tags = F.regexp_extract_all(html, F.lit(A_TAG_RE), F.lit(0))
    links = F.transform(
        tags,
        lambda t: F.struct(
            # Exactly one quoting alternative participates; the other
            # two extract '' — concat coalesces them.
            F.concat(
                F.regexp_extract(t, A_TAG_RE, 1),
                F.regexp_extract(t, A_TAG_RE, 2),
                F.regexp_extract(t, A_TAG_RE, 3),
            ).alias("href"),
            F.trim(F.regexp_extract(t, A_TAG_RE, 4)).alias("anchor"),
        ),
    )
    out = df.select(F.col(url_col).alias("url"), F.explode(links).alias("l"))
    return (
        out.select(
            "url",
            resolve_href(F.col("url"), F.col("l.href")).alias("link_url"),
            F.col("l.anchor").alias("anchor"),
        )
        .filter(F.col("link_url").isNotNull())
    )


def host_link_graph(
    links: DataFrame, keep_self_loops: bool = False
) -> DataFrame:
    """(src_host, dst_host, weight) host-level edges from page links.

    One partial-agg shuffle keyed on the 2-host pair. Self-host links
    (intra-site navigation — the vast majority of crawled links) are
    dropped by default; they carry no cross-site signal and removing
    them shrinks the edge set dramatically."""
    e = links.select(
        host_expr(F.col("url")).alias("src_host"),
        host_expr(F.col("link_url")).alias("dst_host"),
    ).filter(F.col("dst_host") != "")
    if not keep_self_loops:
        e = e.filter(F.col("src_host") != F.col("dst_host"))
    return e.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).alias("weight")
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src_host",
    dst: str = "dst_host",
    weight: str | None = "weight",
    checkpoint: bool = True,
) -> DataFrame:
    """Weighted PageRank by damped power iteration.

    ``rank'(v) = (1-d)/N + d * (Σ_{u→v} rank(u)·w(u,v)/outw(u)
    + dangling/N)`` where ``dangling = Σ rank(u) over sink nodes``
    (no out-edges) — the standard redistribution, so Σ rank == 1
    every round (pytest-pinned).

    Distribution shape per round: ranks ⋈ edges on *src* (one
    shuffle), partial-agg sum on *dst* (one shuffle), and the
    dangling mass rides a BROADCAST one-row aggregate — the loop
    never touches the driver. ``checkpoint`` truncates lineage per
    round (lazy ``localCheckpoint``: no forced action, the truncation
    lands with the next computation).
    """
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    # Persist the edge distillate FIRST: nodes, out-degrees and
    # shares all derive from it, and without the cache each one
    # re-executes the whole upstream plan (for a graph built from
    # raw HTML, that is one full regex link-extraction pass of the
    # corpus EACH — plus more inside the loop).
    e_cached = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w")
    ).persist()
    e = e_cached
    # Size-adaptive partitioning of the loop tables (guide §2: derive
    # partitioning from data size, not a constant): the host graph is
    # the small distillate of the crawl, and every iteration pays per-
    # partition task overhead on it. Count the cached edges (this also
    # materializes the cache before the fan-out below) and coalesce —
    # a narrow, shuffle-free merge — so a bench-scale graph runs its
    # iterations on 1 task while a 10^8-edge production graph keeps
    # full parallelism. Rows-per-task is env-tunable.
    import math
    import os

    rows_per_task = int(
        os.environ.get("SPARK_GRAFT_GRAPH_ROWS_PER_TASK", "250000")
    )
    n_edges = e_cached.count()
    npart = max(
        1,
        min(
            e_cached.sparkSession.sparkContext.defaultParallelism,
            math.ceil(n_edges / rows_per_task),
        ),
    )
    if npart < e_cached.rdd.getNumPartitions():
        e = e_cached.coalesce(npart)
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.sum("w").alias("outw"))
    # Normalized edges, built ONCE: share(u→v) = w/outw(u). Reused
    # every round, so the out-degree join is outside the loop.
    shares = e.join(deg, "src").select(
        F.col("src").alias("id"),
        "dst",
        (F.col("w") / F.col("outw")).alias("share"),
    )
    linkers = shares.select("id").distinct()
    # The loop-invariant relations stay cached too (tiny host-level
    # tables; re-deriving them from cached e is cheap but re-joining
    # every round is not free either). Measured at sf0.1: 22.8 s
    # uncached → ~6 s with e + these persisted, 3 iterations. The
    # host graph is the SMALL distillate of the crawl (hosts, not
    # pages), so caching it is the production choice at 100 TB too.
    shares = shares.persist()
    # Sink membership is loop-invariant, so resolve it ONCE into a
    # node flag instead of an anti-join against `linkers` inside every
    # round: the per-round dangling mass becomes a filter+sum over the
    # rank table itself (one aggregation, no join). Same node set,
    # same mass; the flag rides the loop table as one boolean.
    nodes = nodes.join(
        linkers.withColumn("_lk", F.lit(True)), "id", "left"
    ).select("id", F.col("_lk").isNull().alias("_sink")).persist()
    n_nodes = F.broadcast(nodes.agg(F.count(F.lit(1)).alias("nc")))
    ranks = nodes.crossJoin(n_nodes).select(
        "id", "_sink", (F.lit(1.0) / F.col("nc")).alias("rank")
    )
    for _ in range(iters):
        dangling = F.broadcast(
            ranks.filter(F.col("_sink")).agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
            )
        )
        recv = (
            ranks.join(shares, "id")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("rank") * F.col("share")).alias("recv"))
        )
        ranks = (
            nodes.join(recv, "id", "left")
            .crossJoin(n_nodes)
            .crossJoin(dangling)
            .select(
                "id",
                "_sink",
                (
                    (1.0 - damping) / F.col("nc")
                    + damping
                    * (
                        F.coalesce(F.col("recv"), F.lit(0.0))
                        + F.col("dm") / F.col("nc")
                    )
                ).alias("rank"),
            )
        )
        if checkpoint:
            ranks = ranks.localCheckpoint(eager=False)
    ranks = ranks.select("id", "rank")
    if checkpoint:
        # Materialize the final ranks, then drop the helper caches —
        # the returned frame no longer references them. Without the
        # checkpoint flag the lazy plan still does, so they stay
        # cached (bounded: host-level tables).
        ranks = ranks.localCheckpoint(eager=True)
        for helper in (e_cached, shares, nodes):
            helper.unpersist()
    return ranks


def anchor_texts(links: DataFrame, min_links: int = 1) -> DataFrame:
    """Per-target anchor profile: how the web DESCRIBES each URL.

    Returns ``(link_url, n_links, n_src_hosts, top_anchor,
    top_anchor_count)``. Two independent partial aggs joined on the
    target (both shuffles keyed on the target URL, never page text;
    anchors are short by construction): per-target totals + distinct
    source hosts, and the dominant anchor as a deterministic argmax
    ``max(struct(cnt, anchor))`` over the (target, anchor)
    pre-aggregate — no window funnel, no collected lists. Ties at
    equal count break toward the lexicographically LARGEST anchor
    (the struct comparison's natural order; the oracle replays the
    identical struct compare). Empty anchors (image links) count
    under the sentinel ``(none)``.
    """
    # Persisted: both aggregates below consume `base`; for links that
    # come straight from extract_links, an uncached plan re-runs the
    # full regex link-extraction pass of the corpus once per branch
    # (4-scan / 10-Exchange plan, plans/r06/anchor_profile_before.txt).
    # The cached frame is the (target, anchor, src_host) distillate —
    # the light proxy of the page table (guide §8), never the html.
    base = links.select(
        "link_url",
        F.when(F.trim(F.col("anchor")) == "", F.lit("(none)"))
        .otherwise(F.trim(F.col("anchor")))
        .alias("anchor"),
        host_expr(F.col("url")).alias("src_host"),
    ).persist()
    stats = base.groupBy("link_url").agg(
        F.count(F.lit(1)).alias("n_links"),
        F.count_distinct(F.col("src_host")).alias("n_src_hosts"),
    )
    top = (
        base.groupBy("link_url", "anchor")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("link_url")
        .agg(F.max(F.struct(F.col("cnt"), F.col("anchor"))).alias("_top"))
    )
    return (
        stats.join(top, "link_url")
        .filter(F.col("n_links") >= min_links)
        .select(
            "link_url",
            "n_links",
            "n_src_hosts",
            F.col("_top.anchor").alias("top_anchor"),
            F.col("_top.cnt").alias("top_anchor_count"),
        )
    )

"""Web-corpus hygiene operators: URL canonicalization, per-domain
stats, and PII scrubbing — the steps a Common-Crawl-style pipeline
(CCNet/C4/Dolma lineage) runs between raw capture and training text.
All pure native column expressions (zero Python in the data path),
patterns restricted to the regex subset that Java (Spark) and RE2
(DuckDB) evaluate identically so every operator is oracle-checkable.

The reference has no web layer (it is an OSM parser); these operators
extend the engine's input side for the BASELINE.json input_hint table
(url, warc_ts, html, text, lang).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# scheme://host[:port]/...  -> host, any scheme case. (?i) and no
# lookarounds/backrefs: the pattern must mean the same thing to Java
# regex (Spark) and RE2 (DuckDB).
_HOST_RE = r"(?i)^[a-z][a-z0-9+.-]*://([^/?#]+)"

# conservative email shape; intentionally no TLD validation (a scrub
# that misses is worse than one that over-matches a fake address)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# international-ish phone runs: 7+ digits allowing separators, with a
# leading digit/+ so ordinary prose numbers (years, counts) survive
PHONE_RE = r"\+?[0-9][0-9()\[\] .-]{5,}[0-9]"
# IPv4 (the dotted-quad shape; range checking is overkill for a scrub)
IPV4_RE = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"

FETCH_DELAY_SEC = 15  # fetch_schedule's per-host crawl delay
FETCH_START_EPOCH = 1_700_000_000  # fetch_schedule's first fetch time


def url_host(url: Column | str) -> Column:
    """Lowercased host of a URL ('' when no scheme://host prefix).

    regexp_extract, not parse_url: parse_url has no DuckDB
    equivalent, and at scale both are the same codegen'd regex."""
    return F.lower(F.regexp_extract(url, _HOST_RE, 1))


def url_canonical(url: Column | str) -> Column:
    """Canonical URL for dedup keys: lowercase scheme+host, strip one
    trailing slash, drop fragments and common tracking params
    (utm_*), keep everything else. Deterministic, order-preserving
    for the remaining query params (full param re-sorting needs a
    sort over split parts — not worth a shuffle-adjacent expression
    for a dedup key; callers needing it can explode+sort).
    """
    c = F.col(url) if isinstance(url, str) else url
    # drop #fragment
    c = F.regexp_replace(c, r"#.*$", "")
    # drop utm_* params, in separator-correct order: non-first params
    # ('&utm_x=v') vanish outright; a FIRST-but-not-only utm hands its
    # '?' to the next param; a lone '?utm_x=v' leaves a clean path
    c = F.regexp_replace(c, r"&utm_[A-Za-z0-9_]*=[^&#]*", "")
    c = F.regexp_replace(c, r"\?utm_[A-Za-z0-9_]*=[^&#]*&", "?")
    c = F.regexp_replace(c, r"\?utm_[A-Za-z0-9_]*=[^&#]*$", "")
    # lowercase scheme://host only (path stays case-sensitive)
    head = F.lower(F.regexp_extract(c, r"(?i)^([a-z][a-z0-9+.-]*://[^/?#]*)", 1))
    tail = F.regexp_replace(c, r"(?i)^[a-z][a-z0-9+.-]*://[^/?#]*", "")
    c = F.concat(head, tail)
    # strip ONE trailing slash on a path (not the bare-host '//')
    return F.regexp_replace(c, r"([^/])/$", r"$1")


def scrub_pii(text: Column | str) -> Column:
    """Redact emails, long phone-number runs, and IPv4 addresses with
    typed placeholder tokens — the standard pre-training scrub. Order
    matters: emails first (their local parts contain digits a phone
    pass would mangle), then IPs (dotted digits would otherwise match
    the phone run), then phones."""
    c = F.col(text) if isinstance(text, str) else text
    c = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    c = F.regexp_replace(c, IPV4_RE, "<IP>")
    c = F.regexp_replace(c, PHONE_RE, "<PHONE>")
    return c


def pii_counts(text: Column | str) -> Column:
    """struct(n_email, n_ip, n_phone): how many redactions scrub_pii
    would make — the audit metric a pipeline logs per shard. Phone
    count is measured AFTER email/IP removal, mirroring scrub order.
    """
    c = F.col(text) if isinstance(text, str) else text
    no_email = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    no_ip = F.regexp_replace(no_email, IPV4_RE, "<IP>")
    return F.struct(
        F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), 0)).alias("n_email"),
        F.size(
            F.regexp_extract_all(no_email, F.lit(IPV4_RE), 0)
        ).alias("n_ip"),
        F.size(F.regexp_extract_all(no_ip, F.lit(PHONE_RE), 0)).alias(
            "n_phone"
        ),
    )


def domain_stats(pages: DataFrame) -> DataFrame:
    """(host, n_pages, total_chars, avg_chars) over (url, text)
    pages: per-domain corpus stats — the unit at which crawl pipelines
    apply allow/deny lists and per-domain caps. ONE shuffle on host with map-side partial
    aggregation; at 10^12 pages the host key is heavy-tailed, but the
    partial agg collapses each partition to its distinct hosts before
    the exchange, so hot domains cost one row per input partition."""
    return (
        pages.select(
            url_host("url").alias("host"),
            F.length("text").cast("long").alias("chars"),
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("chars").alias("total_chars"),
            (F.sum("chars") / F.count(F.lit(1))).alias("avg_chars"),
        )
    )


def blocklist_filter(
    docs: DataFrame,
    blocklist: DataFrame,
    keyword_rules: list[tuple[str, Column]] | None = None,
) -> DataFrame:
    """Domain allow/deny filtering — the step a crawl pipeline runs
    right after ``domain_stats`` decides which hosts to drop. Emits
    every input row of ``docs`` (keyed by its ``host`` column) with
    ``block_reason`` (NULL = clean) and ``keep``; host-level blocks
    take precedence over content ``keyword_rules`` (ordered (reason,
    predicate) pairs, first match wins).

    ``blocklist`` schema: ``(host: string, reason: string)`` —
    one row per blocked host, reason free-text. A missing reason
    column fails fast here with the expected schema rather than as an
    opaque analysis error inside the join.

    Plan: the blocklist is a dimension table — thousands-to-millions
    of hosts vs 10^12 pages — so it is explicitly ``F.broadcast`` LEFT
    joined: the fact side never shuffles, and the keyword predicates
    ride the same narrow projection. A blocklist too big to broadcast
    (site-level URL prefixes at CommonCrawl scale) would bucket both
    sides on host instead; the operator's contract doesn't change.
    """
    missing = {"host", "reason"} - set(blocklist.columns)
    if missing:
        raise ValueError(
            f"blocklist is missing column(s) {sorted(missing)}; "
            "expected schema (host: string, reason: string)"
        )
    # a host listed twice (two reasons) must not FAN OUT fact rows —
    # the operator's contract is row-preserving. Collapse the
    # dimension to one deterministic reason per host (min = first
    # alphabetically) before the join.
    bl = blocklist.groupBy(F.col("host").alias("_bl_host")).agg(
        F.min("reason").alias("_bl_reason")
    )
    joined = docs.join(
        F.broadcast(bl),
        docs["host"] == bl["_bl_host"],
        "left",
    )
    reason = F.col("_bl_reason")
    for name, pred in keyword_rules or []:
        reason = F.coalesce(reason, F.when(pred, F.lit(name)))
    return (
        joined.withColumn("block_reason", reason)
        .withColumn("keep", F.col("block_reason").isNull())
        .drop("_bl_host", "_bl_reason")
    )


def domain_cap(
    docs: DataFrame,
    max_per_host: int = 100,
) -> DataFrame:
    """Per-domain cap — keep each ``host``'s first ``max_per_host``
    documents by ``doc_id`` (CommonCrawl-style pipelines cap hot
    domains so one forum doesn't dominate the corpus). Deterministic:
    the kept set is exactly the top-N by doc_id per host, so any
    engine computing the same contract agrees row for row.

    Plan (the skew story): a single ``row_number() over (partition by
    host)`` would sort EVERY row of the hottest domain in one task —
    the classic window skew cliff at 10^12 pages. Instead the cap runs
    in two stages: (1) a row_number over (host, input-partition shard)
    keeps at most N rows per shard — uniform keys, bounded sort runs —
    then (2) the real row_number over host ranks the surviving
    ≤ N x shards rows. Stage 1 can never evict a stage-2 winner (a
    host's global top-N within one shard is also that shard's top-N),
    so the two-stage result is EXACTLY the one-window result, at two
    uniform exchanges instead of one skewed one.
    """
    shard = F.spark_partition_id().alias("_shard")
    w1 = Window.partitionBy("host", "_shard").orderBy("doc_id")
    w2 = Window.partitionBy("host").orderBy("doc_id")
    return (
        docs.withColumn("_shard", shard)
        .withColumn("_r1", F.row_number().over(w1))
        .where(F.col("_r1") <= max_per_host)
        .withColumn("host_rank", F.row_number().over(w2))
        .where(F.col("host_rank") <= max_per_host)
        .drop("_shard", "_r1")
    )


def approx_domain_stats(docs: DataFrame) -> DataFrame:
    """Per-``lang`` page counts + APPROXIMATE distinct-host cardinality
    via Datasketches HLL (``hll_sketch_agg``) — the corpus-census
    shape that runs where an exact count-distinct would shuffle every
    (group, host) pair: at 10^12 pages the sketch keeps the exchange
    at one fixed-size binary per group per input partition, the same
    map-side-combinable profile as a plain count.

    Approximation is engine-specific (no DuckDB oracle can match the
    estimate bit for bit), so the CONTRACT is pinned by pytest
    instead: relative error < 5% at 10^3-10^4 true cardinality, at
    more than one partition layout. The estimate itself is NOT
    layout-invariant (measured: 2538 vs 2525 on the same 2500-host
    set at 1 vs 16 partitions — sparse→dense sketch promotion depends
    on merge order), so never diff estimates across runs; diff the
    exact column or re-sketch both sides.
    """
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col("host"))
            ).alias("distinct_hosts_est"),
        )
    )


def fetch_schedule(frontier: DataFrame) -> DataFrame:
    """Per-host politeness scheduling — the crawl-frontier primitive
    between link extraction and fetching: over a (url, host, priority)
    frontier, each host's urls serialize ``FETCH_DELAY_SEC`` apart
    (crawl-delay), best-priority first. Returns (url, host, slot,
    fetch_at) with ``slot`` the 0-based per-host fetch order and
    ``fetch_at = FETCH_START_EPOCH + slot * FETCH_DELAY_SEC`` — exact
    integer arithmetic end to end.

    Semantics: the frontier may propose one url many times (every
    page linking it); urls dedup to their BEST (lowest) priority
    first — a map-side-combinable min — then order per host by
    (priority, url), ties lexicographic so the schedule is total and
    deterministic.

    Scale shape: one min-combine shuffle on (host, url), then one
    per-host window. The window puts each host's frontier in one
    task — bounded by that host's OWN frontier size, which politeness
    itself caps in practice (a host fetched every FETCH_DELAY_SEC
    seconds only ever has horizon/FETCH_DELAY_SEC urls worth
    scheduling; re-shard the frontier by fetch horizon before
    scheduling if a pathological host accumulates more). Same
    per-group-window bound as events_sessionize.
    """
    best = (
        frontier.groupBy("host", "url")
        .agg(F.min("priority").alias("_pri"))
    )
    w = Window.partitionBy("host").orderBy(
        F.col("_pri").asc(), F.col("url").asc()
    )
    slot = (F.row_number().over(w) - 1).cast("int")
    return (
        best.withColumn("slot", slot)
        .select(
            "url", "host", "slot",
            (F.lit(FETCH_START_EPOCH).cast("long")
             + F.col("slot").cast("long") * F.lit(FETCH_DELAY_SEC))
            .alias("fetch_at"),
        )
    )

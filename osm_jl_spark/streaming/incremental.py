"""Streaming-shaped operators.

The reference is strictly batch (SURVEY.md §2.10) — no watermarks or
state anywhere — so Structured Streaming is an ENGINE EXTENSION, not a
parity requirement. Two pieces:

- ``streaming_tile_counts``: the tiling aggregation as a Structured
  Streaming query (readStream on a parquet/events directory, windowed
  by event time with a watermark, grouped by cell) — the shape a live
  crawl-ingest deployment would run; exercised in tests with the
  rate/memory sinks at tiny scale.
- ``streaming_sessionize``: a CUSTOM stateful operator
  (applyInPandasWithState) — per-user session tracking whose gap rule
  no built-in windowed aggregation expresses; converges to the batch
  ``events_sessionize`` answer when events arrive in time order.
- ``streaming_exact_dedup`` / ``streaming_snapshot_latest``: ingest
  hygiene as stateful streams — first-seen content dedup and
  latest-capture-per-url (the input_hint's recrawl shape), both
  pinned equal to their batch counterparts across micro-batches.
- ``streaming_asof_enrich``: the temporal AS-OF join
  (operators/temporal.py) as a stateful stream — each capture
  enriched with the policy snapshot in force at its event time; one
  (epoch, value) state pair per key, batch parity pinned across
  micro-batch boundaries.
- ``streaming_bloom_filter``: live decontamination — each arriving
  document scored against a fixed Bloom filter of the eval set,
  embedded as a plan-constant word array; a pure STATELESS projection
  (no join, no state store), batch parity pinned.
- ``streaming_fetch_schedule``: crawl-frontier politeness scheduling
  as a stateful stream — one next-slot counter per host, batch parity
  pinned under once-per-url ordered arrival.
- Checkpointed incremental BATCH — the form the north rule's
  resumability actually requires — lives in plans/manifest.py
  (``run_with_manifest``: unit-sliced pipeline, idempotent overwrite,
  lineage records).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_jl_spark.functions.cells import PRECISION, cell_coord
from osm_jl_spark.functions.timeutil import epoch_sec
from osm_jl_spark.operators.web import FETCH_DELAY_SEC, FETCH_START_EPOCH

TILE_WINDOW = "1 minute"
TILE_WATERMARK = "2 minutes"
SESSION_GAP_SEC = 21600  # the batch events_sessionize gap (6 h)


def streaming_tile_counts(stream: DataFrame) -> DataFrame:
    """Event stream (lon, lat, ts) -> per-(window, cell) counts with
    late-data handling: ``TILE_WINDOW`` windows closed by a
    ``TILE_WATERMARK`` watermark, cells at ``PRECISION``.

    Usage: df = spark.readStream...; q = streaming_tile_counts(df)
           .writeStream.outputMode("append")... (append works because
           the watermark closes windows).
    """
    return (
        stream.withWatermark("ts", TILE_WATERMARK)
        .withColumn("cx", cell_coord("lon", PRECISION))
        .withColumn("cy", cell_coord("lat", PRECISION))
        .groupBy(F.window(F.col("ts"), TILE_WINDOW).alias("w"), "cx", "cy")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .select(
            F.col("w.start").alias("window_start"),
            "cx",
            "cy",
            "n_points",
        )
    )


def streaming_sessionize(stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: per-``user_id`` sessionization
    of ``ts`` events with a ``SESSION_GAP_SEC`` inactivity-gap rule, via
    ``applyInPandasWithState``.

    State per user = the OPEN session (session_id, n_events,
    start_epoch, end_epoch). Each micro-batch folds its (sorted) new
    events into the open session, emits every session it closed plus
    the updated open one — so in update mode the sink's latest row per
    (user_id, session_id) is that session's current truth, and once a
    later session appears the earlier ones are final.

    Equivalence to batch: if events arrive in event-time order per user
    (micro-batch boundaries anywhere), the union of latest emissions
    equals the batch ``events_sessionize`` query exactly — pinned by
    tests/test_streaming_sessionize.py. Out-of-order arrivals within a
    single micro-batch are handled (the batch is sorted before the
    fold); arrivals older than the open session's end are clamped, the
    documented limitation of gap sessionization over an unbounded
    stream (a watermark-delayed buffer would trade latency for
    reordering tolerance).

    The per-group Python runs over Arrow-batched pandas frames (one
    small frame per user per micro-batch) — there is no per-row Python
    in the hot path; rows reach the operator pre-shuffled by user_id.
    """
    import pandas as pd  # noqa: PLC0415 (worker-side import)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_cols = ["user_id", "session_id", "n_events", "start_epoch",
                "end_epoch"]

    def fold(key, pdf_iter, state: GroupState):
        secs: list[int] = []
        for pdf in pdf_iter:
            secs.extend(int(s) for s in pdf["sec"])
        secs.sort()
        if state.exists:
            sid, n, start, end = state.get
        else:
            sid, n, start, end = 0, 0, 0, 0
        closed = []
        for s in secs:
            if n == 0:
                sid, n, start, end = sid + 1, 1, s, s
            elif s - end > SESSION_GAP_SEC:
                closed.append((key[0], sid, n, start, end))
                sid, n, start, end = sid + 1, 1, s, s
            else:
                n += 1
                end = max(end, s)  # clamp out-of-order stragglers
        state.update((sid, n, start, end))
        if n > 0:
            closed.append((key[0], sid, n, start, end))
        if closed:
            yield pd.DataFrame(closed, columns=out_cols)

    with_sec = stream.withColumn("sec", epoch_sec("ts"))
    return with_sec.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=(
            "user_id BIGINT, session_id BIGINT, n_events BIGINT, "
            "start_epoch BIGINT, end_epoch BIGINT"
        ),
        stateStructType=(
            "session_id BIGINT, n_events BIGINT, start_epoch BIGINT, "
            "end_epoch BIGINT"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_exact_dedup(stream: DataFrame) -> DataFrame:
    """First-seen exact dedup over a document stream: emit each
    distinct content fingerprint's FIRST document, drop every later
    byte-identical repeat — the streaming form of
    ``operators/dedup.exact_dedup`` (an ingest pipeline dedups at the
    door instead of re-scanning the corpus per batch).

    State design: ``dropDuplicates`` on the md5 fingerprint keeps one
    compact key per distinct document in the state store — state size
    tracks UNIQUE content, not stream length. Unbounded retention is
    still unbounded state at 10^12 docs; bounding it means
    ``dropDuplicatesWithinWatermark`` (re-admits a duplicate only
    after its original has aged out of the watermark horizon — the
    standard trade for bounded state), which gives up the batch
    equality below.

    Equivalence contract (pinned by tests): when the stream delivers
    documents in id order, the kept set is exactly the batch
    ``exact_dedup`` keep-min-id answer, across micro-batch boundaries.
    """
    from osm_jl_spark.functions.text import fingerprint_col

    return stream.withColumn("fp", fingerprint_col("text")).dropDuplicates(
        ["fp"]
    )


def streaming_snapshot_latest(stream: DataFrame) -> DataFrame:
    """Live-recrawl form of ``operators/dedup.snapshot_latest``: as
    captures stream in, maintain the newest capture (``warc_ts``) per
    ``url``. The aggregation body IS the batch operator (one
    ``max_by(struct, ts)`` groupBy — Structured Streaming turns the
    same declarative plan into an incremental stateful one), so
    batch/stream parity is by construction; the test pins it across
    micro-batch boundaries.

    State: ONE compact row per key (the current winner struct + a
    count) — state tracks distinct keys, not stream length, exactly
    the property that makes the batch plan's map-side partial_max_by
    scale. Emit with ``outputMode("update")`` (changed keys per
    micro-batch; the production sink upserts) or ``"complete"`` for
    small result sets. Keys never expire: a url's next capture may
    arrive months later, so a watermark would silently resurrect old
    snapshots as fresh wins — bound state by key-partitioning the
    stream upstream instead.
    """
    from osm_jl_spark.operators.dedup import snapshot_latest

    return snapshot_latest(stream)


def streaming_asof_enrich(
    captures: DataFrame, policies: DataFrame
) -> DataFrame:
    """Streaming form of ``operators/temporal.asof_join`` (backward):
    as captures (url, warc_ts, fetch_h) stream in, attach the newest
    policy snapshot (url, warc_ts, policy_val) seen at-or-before each
    capture's event time, keyed by ``url``. The use case is the same
    live-recrawl shape as
    ``streaming_snapshot_latest`` — enrich every fetched page with the
    robots/policy version in force when it was fetched.

    State per key = ONE (policy_epoch, policy_val) pair — the newest
    policy so far — so state tracks distinct keys, not stream length.
    Each micro-batch sorts its rows by (event time, policy-first) and
    replays the batch operator's union+window scan incrementally: a
    policy row advances the state, a capture row emits with the state
    in force (NULL when it precedes every policy, matching the batch
    LEFT semantics).

    Equivalence contract (pinned by tests/test_streaming_asof.py):
    under per-key event-time-ordered delivery — micro-batch boundaries
    anywhere, captures and policies interleaved within a batch — the
    emitted rows equal the batch ``asof_join`` exactly. A capture
    arriving BEHIND a newer policy (cross-batch disorder) emits NULL
    rather than a wrong newer policy: the single-pair state cannot
    reconstruct history, the documented trade for O(1) state per key
    (a watermark-delayed buffer would trade latency for reordering
    tolerance).

    Per-group Python over Arrow-batched pandas frames, pre-shuffled by
    key — no per-row Python in the hot path, same operator class as
    ``streaming_sessionize``.
    """
    import pandas as pd  # noqa: PLC0415 (worker-side import)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_cols = ["url", "cap_epoch", "cap_id", "policy_epoch",
                "policy_val"]

    caps = captures.select(
        F.col("url").alias("k"),
        epoch_sec("warc_ts").alias("sec"),
        F.lit(1).alias("side"),
        F.col("fetch_h").cast("long").alias("val"),
    )
    pols = policies.select(
        F.col("url").alias("k"),
        epoch_sec("warc_ts").alias("sec"),
        F.lit(0).alias("side"),
        F.col("policy_val").cast("long").alias("val"),
    )

    def fold(key, pdf_iter, state: GroupState):
        rows: list[tuple[int, int, int]] = []
        for pdf in pdf_iter:
            # NULL event-time rows are dropped, not crashed on:
            # pd.notna guards the int() conversion (a NULL ts has no
            # position in an event-time scan; the batch operator's
            # NULL-payload convention needs an order, a stream fold
            # does not have one for them).
            rows.extend(
                (int(s), int(sd), int(v))
                for s, sd, v in zip(pdf["sec"], pdf["side"], pdf["val"])
                if pd.notna(s) and pd.notna(v)
            )
        rows.sort()  # (sec, side): policy (0) before capture (1) at ties
        if state.exists:
            pts, pval = state.get
        else:
            pts, pval = None, None
        emitted = []
        for sec, side, val in rows:
            if side == 0:
                pts, pval = sec, val
            elif pts is not None and pts <= sec:
                emitted.append((key[0], sec, val, pts, pval))
            else:
                emitted.append((key[0], sec, val, None, None))
        if pts is not None:
            state.update((pts, pval))
        if emitted:
            yield pd.DataFrame(emitted, columns=out_cols)

    return caps.unionByName(pols).groupBy("k").applyInPandasWithState(
        fold,
        outputStructType=(
            "url STRING, cap_epoch BIGINT, cap_id BIGINT, "
            "policy_epoch BIGINT, policy_val BIGINT"
        ),
        stateStructType="pol_epoch BIGINT, pol_val BIGINT",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_host_in_links(pages_stream: DataFrame) -> DataFrame:
    """Live form of ``operators/links.host_in_links`` over a page
    stream: hrefs are extracted per micro-batch (the same stateless
    zero-exchange narrow map as batch) and the per-host census is
    maintained incrementally.

    ``n_links`` is exact — one count state row per host, the same
    state shape as ``streaming_snapshot_latest``. The distinct-source
    count is ``approx_count_distinct`` (an HLL sketch per host):
    EXACT streaming distinct would require one state row per
    (host, url) PAIR — state proportional to the edge set, not the
    host set — the wrong trade on an unbounded crawl stream. The
    batch operator remains the exact path; the column is named
    ``n_src_docs_approx`` so consumers cannot mistake it. The test
    pins n_links equal to batch across micro-batch boundaries and
    the HLL estimate inside its standard error.

    Emit with ``outputMode("update")`` (changed hosts per
    micro-batch) or ``"complete"`` for dashboard-sized host sets.
    """
    from osm_jl_spark.operators.links import extract_links

    links = extract_links(pages_stream)
    return links.groupBy("dst_host").agg(
        F.count(F.lit(1)).alias("n_links"),
        F.approx_count_distinct("url").alias("n_src_docs_approx"),
    )


def streaming_bloom_filter(
    stream: DataFrame, bitmap_words: list[int]
) -> DataFrame:
    """Live decontamination: score a (doc_id, text) stream against a FIXED
    Bloom filter of the eval set (operators/dedup.py:
    bloom_contamination's streaming form) — per doc (id, n_shingles,
    bloom_hits, contaminated), identical to the batch operator on the
    same rows (pinned in tests/test_streaming_bloom.py).

    The bitmap arrives as the ``BLOOM_M_BITS/64``-long word list of a
    :func:`~osm_jl_spark.operators.dedup.bloom_bitmap`
    (:func:`~osm_jl_spark.operators.dedup.bloom_words`), and embeds as
    a PLAN CONSTANT array literal — the same unrolled-constant style
    as the polygon cell covers — so the whole operator is ONE
    stateless narrow projection: shingles, k probe positions, and the
    getbit membership test all evaluate per row with zero joins, zero
    aggregation, zero state. That is the right streaming trade: the
    batch operator broadcasts the bitmap as a dim table because its
    per-doc count re-aggregates after an explode; a stream scoring
    docs as they arrive wants append mode with no state store at all,
    which the array-fold form delivers (a streaming groupBy on doc_id
    would pin one state row per document forever). 2 KiB of literal
    at m = 2^14; zero-shingle docs drop, matching the batch
    operator's explode semantics.
    """
    from osm_jl_spark.functions.text import shingles_col
    from osm_jl_spark.operators.dedup import (
        BLOOM_M_BITS, SHINGLE_N, _bloom_positions,
    )

    if len(bitmap_words) != BLOOM_M_BITS // 64:
        raise ValueError(
            f"bitmap_words must have BLOOM_M_BITS/64 = {BLOOM_M_BITS // 64}"
            f" entries, got {len(bitmap_words)} (use dedup.bloom_words)")

    arr = F.lit([int(w) for w in bitmap_words])

    def might(s):
        probes = F.array(*[
            F.struct(
                F.shiftright(p, 6).alias("w"),
                F.pmod(p, F.lit(64)).cast("int").alias("b"),
            )
            for p in _bloom_positions(s)
        ])
        return F.forall(
            probes,
            lambda pr: F.getbit(
                F.element_at(arr, (pr["w"] + 1).cast("int")), pr["b"]
            ) == 1,
        )

    sh = shingles_col("text", SHINGLE_N)
    n = F.size(sh)
    hits = F.size(F.filter(sh, might))
    return (
        stream.select(
            "doc_id",
            n.cast("long").alias("n_shingles"),
            hits.cast("long").alias("bloom_hits"),
            (F.lit(2) * hits >= n).cast("int").alias("contaminated"),
        )
        .where(F.col("n_shingles") > 0)
    )


def streaming_fetch_schedule(frontier: DataFrame) -> DataFrame:
    """Streaming form of ``operators/web.fetch_schedule`` — the shape
    a live crawler actually runs: (url, host, priority) frontier urls
    stream in, each host's next fetch slots assign incrementally,
    ``FETCH_DELAY_SEC`` apart from ``FETCH_START_EPOCH``.

    State per host = ONE next_slot counter, no seen-url set: state
    tracks hosts, not urls. The batch
    operator's cross-source dedup-min is therefore scoped to WITHIN a
    micro-batch here (each batch sorts its new urls by (priority,
    url), dedups to min priority, then appends to the host's running
    schedule): exact url-level dedup across the whole stream would
    need one state row per URL — state proportional to the frontier,
    the wrong trade on an unbounded crawl (the same argument as
    ``streaming_host_in_links``' HLL). Upstream ``streaming_exact_
    dedup`` on the url column is the composition that restores full
    dedup when the frontier fits the state budget.

    Equivalence contract (pinned by tests/test_streaming_schedule.py):
    when each url arrives exactly once and per-host arrivals are
    (priority, url)-ordered across batch boundaries, the emitted
    schedule equals batch ``fetch_schedule(frontier)`` row-for-row.
    """
    import pandas as pd  # noqa: PLC0415 (worker-side import)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = frontier.select(
        "host", "url", F.col("priority").cast("long").alias("pri")
    )

    def fold(key, pdf_iter, state: GroupState):
        # batch semantics: min() is NULL only when every proposal is
        # NULL, and ascending order puts NULLs first
        best: dict[str, int | None] = {}
        for pdf in pdf_iter:
            for u, p in zip(pdf["url"], pdf["pri"]):
                p = int(p) if pd.notna(p) else None
                if best.get(u) is None or (p is not None and p < best[u]):
                    best[u] = p
        next_slot = state.get[0] if state.exists else 0
        emitted = []
        for u, p in sorted(best.items(),
                           key=lambda kv: (kv[1] is not None, kv[1], kv[0])):
            emitted.append((
                u, key[0], next_slot,
                FETCH_START_EPOCH + next_slot * FETCH_DELAY_SEC,
            ))
            next_slot += 1
        state.update((next_slot,))
        if emitted:
            yield pd.DataFrame(
                emitted, columns=["url", "host", "slot", "fetch_at"]
            )

    return src.groupBy("host").applyInPandasWithState(
        fold,
        outputStructType=(
            "url STRING, host STRING, slot INT, fetch_at BIGINT"
        ),
        stateStructType="next_slot INT",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

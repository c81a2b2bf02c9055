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

from osm_jl_spark.functions.cells import cell_coord
from osm_jl_spark.functions.timeutil import epoch_sec


def streaming_tile_counts(
    stream: DataFrame,
    precision: int = 2,
    lon: str = "lon",
    lat: str = "lat",
    ts: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Event stream -> per-(window, cell) counts with late-data handling.

    Usage: df = spark.readStream...; q = streaming_tile_counts(df)
           .writeStream.outputMode("append")... (append works because
           the watermark closes windows).
    """
    return (
        stream.withWatermark(ts, watermark)
        .withColumn("cx", cell_coord(lon, precision))
        .withColumn("cy", cell_coord(lat, precision))
        .groupBy(F.window(F.col(ts), window).alias("w"), "cx", "cy")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .select(
            F.col("w.start").alias("window_start"),
            "cx",
            "cy",
            "n_points",
        )
    )


def streaming_sessionize(
    stream: DataFrame,
    gap_sec: int = 21600,
    ts: str = "ts",
    user: str = "user_id",
) -> DataFrame:
    """Custom stateful streaming operator: per-user sessionization with
    an inactivity-gap rule, via ``applyInPandasWithState``.

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
            elif s - end > gap_sec:
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

    with_sec = stream.withColumn("sec", epoch_sec(ts))
    return with_sec.groupBy(user).applyInPandasWithState(
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


def streaming_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    ts: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """First-seen exact dedup over a document stream: emit each
    distinct content fingerprint's FIRST document, drop every later
    byte-identical repeat — the streaming form of
    ``operators/dedup.exact_dedup`` (an ingest pipeline dedups at the
    door instead of re-scanning the corpus per batch).

    State design: ``dropDuplicates`` on the md5 fingerprint keeps one
    compact key per distinct document in the state store — state size
    tracks UNIQUE content, not stream length. Unbounded retention is
    still unbounded state at 10^12 docs, so production passes
    ``ts``/``watermark`` to switch to
    ``dropDuplicatesWithinWatermark`` (re-admits a duplicate only
    after its original has aged out of the watermark horizon — the
    standard trade for bounded state).

    Equivalence contract (pinned by tests): when the stream delivers
    documents in id order, the kept set is exactly the batch
    ``exact_dedup`` keep-min-id answer, across micro-batch boundaries.
    """
    from osm_jl_spark.functions.text import fingerprint_col

    d = stream.withColumn("fp", fingerprint_col(text_col))
    if ts is not None and watermark is not None:
        return d.withWatermark(ts, watermark).dropDuplicatesWithinWatermark(
            ["fp"]
        )
    return d.dropDuplicates(["fp"])


def streaming_snapshot_latest(
    stream: DataFrame,
    key: str = "url",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Live-recrawl form of ``operators/dedup.snapshot_latest``: as
    captures stream in, maintain the newest capture per key. The
    aggregation body IS the batch operator (one ``max_by(struct, ts)``
    groupBy — Structured Streaming turns the same declarative plan
    into an incremental stateful one), so batch/stream parity is by
    construction; the test pins it across micro-batch boundaries.

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

    return snapshot_latest(stream, key=key, ts_col=ts_col)


def streaming_asof_enrich(
    captures: DataFrame,
    policies: DataFrame,
    on: str = "url",
    cap_ts: str = "warc_ts",
    pol_ts: str = "warc_ts",
    cap_id_col: str = "fetch_h",
    pol_val_col: str = "policy_val",
) -> DataFrame:
    """Streaming form of ``operators/temporal.asof_join`` (backward):
    as captures stream in, attach the newest policy snapshot seen
    at-or-before each capture's event time, keyed by ``on``. The use
    case is the same live-recrawl shape as
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

    # the key output column is named after the join key (``on``), not
    # hardcoded — a caller keying on e.g. ``host`` gets a ``host``
    # column back. The key is carried as STRING (the crawl-key shape).
    out_cols = [on, "cap_epoch", "cap_id", "policy_epoch",
                "policy_val"]

    caps = captures.select(
        F.col(on).alias("k"),
        epoch_sec(cap_ts).alias("sec"),
        F.lit(1).alias("side"),
        F.col(cap_id_col).cast("long").alias("val"),
    )
    pols = policies.select(
        F.col(on).alias("k"),
        epoch_sec(pol_ts).alias("sec"),
        F.lit(0).alias("side"),
        F.col(pol_val_col).cast("long").alias("val"),
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
            f"{on} STRING, cap_epoch BIGINT, cap_id BIGINT, "
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
    stream: DataFrame,
    bitmap_words: list[int],
    m_bits: int = 1 << 18,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Live decontamination: score a document stream against a FIXED
    Bloom filter of the eval set (operators/dedup.py:
    bloom_contamination's streaming form) — per doc (id, n_shingles,
    bloom_hits, contaminated), identical to the batch operator on the
    same rows (pinned in tests/test_streaming_bloom.py).

    The bitmap arrives as the ``m_bits/64``-long word list
    (:func:`~osm_jl_spark.operators.dedup.bloom_words`) and embeds as
    a PLAN CONSTANT array literal — the same unrolled-constant style
    as the polygon cell covers — so the whole operator is ONE
    stateless narrow projection: shingles, k probe positions, and the
    getbit membership test all evaluate per row with zero joins, zero
    aggregation, zero state. That is the right streaming trade: the
    batch operator broadcasts the bitmap as a dim table because its
    per-doc count re-aggregates after an explode; a stream scoring
    docs as they arrive wants append mode with no state store at all,
    which the array-fold form delivers (a streaming groupBy on doc_id
    would pin one state row per document forever). 32 KiB of literal
    at the 2^18 default; zero-shingle docs drop, matching the batch
    operator's explode semantics.
    """
    n_words = int(m_bits) // 64
    if len(bitmap_words) != n_words:
        raise ValueError(
            f"bitmap_words must have m_bits/64 = {n_words} entries, "
            f"got {len(bitmap_words)} (use dedup.bloom_words)")
    from osm_jl_spark.functions.text import shingles_col
    from osm_jl_spark.operators.dedup import _bloom_positions

    arr = F.lit([int(w) for w in bitmap_words])

    def might(s):
        probes = F.array(*[
            F.struct(
                F.shiftright(p, 6).alias("w"),
                F.pmod(p, F.lit(64)).cast("int").alias("b"),
            )
            for p in _bloom_positions(s, int(m_bits), k)
        ])
        return F.forall(
            probes,
            lambda pr: F.getbit(
                F.element_at(arr, (pr["w"] + 1).cast("int")), pr["b"]
            ) == 1,
        )

    sh = shingles_col(text_col, shingle_n)
    n = F.size(sh)
    hits = F.size(F.filter(sh, might))
    return (
        stream.select(
            F.col(id_col).alias("doc_id"),
            n.cast("long").alias("n_shingles"),
            hits.cast("long").alias("bloom_hits"),
            (F.lit(2) * hits >= n).cast("int").alias("contaminated"),
        )
        .where(F.col("n_shingles") > 0)
    )


def streaming_fetch_schedule(
    frontier: DataFrame,
    delay_sec: int = 1,
    start_epoch: int = 0,
    url_col: str = "url",
    host_col: str = "host",
    priority_col: str = "priority",
) -> DataFrame:
    """Streaming form of ``operators/web.fetch_schedule`` — the shape
    a live crawler actually runs: frontier urls stream in, each host's
    next fetch slots assign incrementally, ``delay_sec`` apart.

    State per host = ONE (next_slot, seen-url hash set? NO —) just the
    next_slot counter: state tracks hosts, not urls. The batch
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
    schedule equals batch ``fetch_schedule`` row-for-row.
    """
    import pandas as pd  # noqa: PLC0415 (worker-side import)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = frontier.select(
        F.col(host_col).alias("host"),
        F.col(url_col).alias("url"),
        F.col(priority_col).cast("long").alias("pri"),
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
                int(start_epoch) + next_slot * int(delay_sec),
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

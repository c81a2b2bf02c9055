"""Deduplication operators for web-scale training-data pipelines.

All hot paths are native Column expressions (hash, explode, groupBy);
no Python executes per row anywhere. Pair generation is always
bucket-limited (LSH band buckets / identical-hash groups), never a
global cross join — the O(n^2) blowup is confined to within-bucket
candidates, which is the standard MinHash-LSH design.

Scale notes: the exact/fingerprint paths are single-shuffle groupBys on
a hash key (uniform — no skew). MinHash banding shuffles once on
(band, band_hash); an adversarially hot bucket (e.g. boilerplate pages)
is capped with a per-bucket limit before pairing.

Every operator reads the corpus schema the registry feeds: documents
as (doc_id, text), embeddings as (vec_id, embedding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm_jl_spark.functions.text import fingerprint_col, shingles_col

MERSENNE31 = (1 << 31) - 1
SHINGLE_N = 3  # word n-gram size of every shingle set but simhash's
SIMHASH_SHINGLE_N = 2
NUM_HASHES = 32  # MinHash signature length
BANDS = 8  # LSH bands of NUM_HASHES // BANDS signature values each
LSH_BUCKET_CAP = 200  # docs kept per LSH bucket: at most cap^2 pairs
MINHASH_SEED = 42
EMBED_PLANES = 16  # random hyperplanes per embedding LSH bucket key
EMBED_SEED = 7
LINE_MIN_LEN = 1  # shorter (trimmed) lines are never deduped: blank lines
LINE_MIN_DF = 3  # docs a line must occur in to count as boilerplate
BLOOM_K = 3  # Bloom probes per shingle
BLOOM_M_BITS = 1 << 14  # Bloom filter bits, a power of two
JACCARD_THRESHOLD = 0.5  # ngram_jaccard_pairs keeps pairs at or above
SIMHASH_MAX_HAMMING = 3  # simhash pairs within this many differing bits
SIMHASH_BUCKET_CAP: int | None = None  # docs kept per simhash block bucket
EMBED_THRESHOLD = 0.95  # embedding_near_dups keeps cosine at or above
CONTAMINATION_THRESHOLD = 0.8  # eval shingle share that counts as leaked
WINDOW_TOKENS = 8  # token window of the window-dedup operators
WINDOW_MIN_DF = 2  # docs a window must occur in to count as duplicated


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Groups of byte-identical (normalized) documents: (fp, n_docs,
    keep_id = min doc_id) for groups with n_docs >= 2. One shuffle on
    md5."""
    return (
        docs.select("doc_id", fingerprint_col("text").alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Keep one representative (min id) per fingerprint group — the
    canonical exact-dedup pass. Window-free: min-id per group then
    semi-join, so the big table shuffles once."""
    keep = (
        docs.select("doc_id", fingerprint_col("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return docs.join(keep, "doc_id", "left_semi")


def _hash60(col):
    """60-bit positive hash from the top 15 md5 hex digits — exactly
    reproducible in DuckDB as CAST('0x' || substr(md5(s),1,15) AS
    BIGINT), which is what makes minhash/simhash oracle-checkable."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _shingle_hashes(docs: DataFrame) -> DataFrame:
    """(id, sh) exploded distinct xxhash64 shingle hashes, JVM-side.

    NO distinct here: ``shingles_col`` already array_distincts per
    document BEFORE the explode, so (id, sh) is unique map-side and a
    post-explode distinct would be a pure extra shuffle of the whole
    shingle set (it was, until the plan audit caught it). Hash
    collisions inside one doc could in principle re-merge two
    shingles; at 60/64 bits that is ~(grams²)/2⁶⁴ per doc — ignored,
    like every other use of these hashes.
    """
    return (
        docs.select(
            F.col("doc_id").alias("id"),
            F.explode(shingles_col("text", SHINGLE_N)).alias("shingle"),
        )
        .select("id", F.xxhash64("shingle").alias("sh"))
    )


def minhash_signatures(
    docs: DataFrame, hash_fn: str = "xxhash64"
) -> DataFrame:
    """(id, sig ARRAY<BIGINT>[NUM_HASHES]) MinHash signatures.

    hash_fn: 'xxhash64' (default — fastest, Spark-only) or 'md5_60'
    (cross-engine: bit-identical in DuckDB, used by the oracle-checked
    query registrations; ~2x slower per shingle, same plan shape).

    Permutation family: h_i(x) = (a_i * x + b_i) mod M31 over a 31-bit
    reduction of the shingle hash — 31-bit so a*x + b stays within
    int64 under ANSI overflow checking.

    Computed as a pure NARROW map — zero shuffle: each doc keeps its
    shingle hashes as an array column and every signature position is
    ``array_min(transform(hs, x -> (a*x+b) mod M31))``, all inside
    whole-stage codegen. The previous formulation (explode shingles,
    build a NUM_HASHES array per shingle ROW, groupBy(id) +
    collect_list fold) shuffled NUM_HASHES longs PER SHINGLE with no
    map-side reduction (collect_list combines nothing) — ~300 GB of
    shuffle at 8M docs, which is what actually filled the bench host's
    disk; at 10^12 docs it is a non-starter. Same values, same
    permutation family, no exchange at all.

    Docs whose shingle set is empty (shorter than ``SHINGLE_N``
    tokens) are dropped, matching the exploded formulation where they
    produced no rows.
    """
    import random

    rng = random.Random(MINHASH_SEED)
    ab = [(rng.randrange(1, MERSENNE31), rng.randrange(0, MERSENNE31))
          for _ in range(NUM_HASHES)]

    def h(s):
        return (
            F.xxhash64(s) if hash_fn == "xxhash64" else _hash60(s)
        )

    # positive 31-bit base hash per distinct shingle, per doc — one
    # array column, never exploded
    hs = F.transform(
        shingles_col("text", SHINGLE_N),
        lambda s: F.pmod(h(s), F.lit(MERSENNE31)),
    )
    d = docs.select(F.col("doc_id").alias("id"), hs.alias("hs")).filter(
        F.size("hs") > 0
    )
    def perm_min(a, b):
        # closure factory: pyspark counts the lambda's parameters, so
        # the permutation constants cannot ride in as defaults
        return F.array_min(
            F.transform(
                F.col("hs"),
                lambda x: F.pmod(F.lit(a) * x + F.lit(b),
                                 F.lit(MERSENNE31)),
            )
        )

    sig = F.array(*[perm_min(a, b) for a, b in ab])
    return d.select("id", sig.alias("sig"))


def minhash_lsh_candidates(signatures: DataFrame) -> DataFrame:
    """LSH banding: (id_a, id_b) candidate pairs sharing >= 1 band.

    Each signature splits into ``BANDS`` bands of ``NUM_HASHES //
    BANDS`` values; docs agreeing on a whole band land in one bucket.
    Pairs are emitted per bucket via a min-id representative join,
    deduped. The per-bucket cap ``LSH_BUCKET_CAP`` bounds adversarial
    buckets (cap^2 pairs max).
    """
    rows_per_band = NUM_HASHES // BANDS
    b = signatures.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.slice(F.col("sig"), i * rows_per_band + 1, rows_per_band)
                    )
                    for i in range(BANDS)
                ]
            )
        ).alias("band", "bh"),
    )
    w = Window.partitionBy("band", "bh").orderBy("id")
    b = b.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= LSH_BUCKET_CAP
    )
    pairs = (
        b.alias("x")
        .join(
            b.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bh") == F.col("y.bh"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b")
        )
        .distinct()
    )
    return pairs


def minhash_dedup_pairs(
    docs: DataFrame,
    threshold: float = 0.7,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures -> banded
    candidates -> signature-estimated Jaccard filter.
    (id_a, id_b, est_jaccard >= threshold).

    The signature subtree appears three times in this plan (banding +
    both sides of the estimate join) and, being a pure narrow map, is
    RECOMPUTED per consumer — there is no exchange for Spark to reuse.
    That is the right trade at scale: the alternatives are caching the
    signature table (10^12 x ~280 B does not fit a cluster's storage
    memory) or carrying the 32-long sig through the 8-way band explode
    (~17x the band-join shuffle bytes). Three sequential scans of the
    source beat both; a long-lived deployment can do even better by
    materializing ``minhash_signatures`` to a table once (one scan)
    and running banding + verification against that — the
    plans/manifest checkpoint pattern.
    """
    sigs = minhash_signatures(docs, hash_fn=hash_fn)
    cand = minhash_lsh_candidates(sigs)
    a = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    bb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
            lambda v: v,
        )
    ) / F.lit(float(NUM_HASHES))
    return (
        cand.join(a, "id_a").join(bb, "id_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def ngram_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """EXACT n-gram Jaccard near-dup: (id_a, id_b, jaccard) for
    jaccard >= ``JACCARD_THRESHOLD``.

    Inverted-index join: explode shingle hashes, self-join per shingle
    (min-id < other-id), count shared shingles per pair, then
    |A∩B| / (|A| + |B| - |A∩B|).

    Scale honesty: this is the EXACT path, and it carries quadratic
    risk on hot shingles — a shingle shared by d documents emits
    d*(d-1)/2 join rows, so one ubiquitous stopword run can dominate
    the shuffle. No document-frequency pruning is applied, because
    dropping a hot shingle changes the intersection count and would
    silently under-report jaccard (unsound). Use this operator for
    exact verification at moderate scale; at web scale the declared
    path is minhash_dedup_pairs, whose banded join is bucketed and
    per-bucket-capped (volume evidence: the "MinHash-LSH volume
    ladder" section of BASELINE.md; rerun with
    ``python tools/ladder.py minhash``).
    """
    sh = _shingle_hashes(docs)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        sh.alias("x")
        .join(sh.alias("y"), (F.col("x.sh") == F.col("y.sh"))
              & (F.col("x.id") < F.col("y.id")))
        .groupBy(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(id, simhash BIGINT): 64-bit SimHash over ``SIMHASH_SHINGLE_N``-
    gram shingles hashed with :func:`_hash60` (bit-identical in
    DuckDB, so the fingerprints are oracle-checkable) — a pure NARROW
    map.

    Votes: for bit j, sum over shingles of (bit_j(h) ? 1 : -1); sign
    of the sum sets bit j. The doc keeps its shingle hashes as an
    array column and folds them into a 64-long vote vector with one
    ``aggregate``/``zip_with`` pass, then assembles the fingerprint
    from the vote signs — all inside whole-stage codegen, ZERO
    exchanges. The previous formulation exploded shingles x 64 bit
    positions and ran two groupBy shuffles; map-side partial sums kept
    the exchanged volume at 64 rows per doc, but that is still ~1 KB
    of shuffle per document — a petabyte at the 10^12-doc design point
    — for a value computable where the text already is.

    Bit semantics preserved exactly (oracle-pinned): arithmetic
    shiftright over the signed 64-bit hash, and bit 63 contributes
    Long.MIN_VALUE (== 1L << 63 wrapped, no ANSI overflow since it is
    added to a sum of non-negative lower bits).
    """
    hs = F.transform(shingles_col("text", SIMHASH_SHINGLE_N), _hash60)

    def signs(x):
        # per-shingle ±1 vote vector over the 64 bit positions
        return F.array(
            *[
                (
                    F.shiftright(x, j).bitwiseAND(F.lit(1)) * F.lit(2)
                    - F.lit(1)
                ).cast("long")
                for j in range(64)
            ]
        )

    votes = F.aggregate(
        F.col("hs"),
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, x: F.zip_with(acc, signs(x), lambda a, b: a + b),
    )
    d = docs.select(F.col("doc_id").alias("id"), hs.alias("hs")).filter(
        F.size("hs") > 0
    )
    bit_terms = [
        F.when(
            F.element_at(F.col("votes"), j + 1) > 0,
            F.lit((1 << j) if j < 63 else -(1 << 63)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for j in range(64)
    ]
    fingerprint = bit_terms[0]
    for t in bit_terms[1:]:
        fingerprint = fingerprint + t
    return d.select("id", votes.alias("votes")).select(
        "id", fingerprint.alias("simhash")
    )


def simhash_near_dups(docs: DataFrame) -> DataFrame:
    """(id_a, id_b, hamming <= SIMHASH_MAX_HAMMING) via 4-block banding:
    two 64-bit hashes within hamming distance <=3 agree on at least one
    16-bit block (pigeonhole) -> block-bucket join, then exact hamming
    check with bit_count (native).

    Hot-bucket honesty: a (block, value) bucket shared by d docs emits
    d*(d-1)/2 join rows, and unlike the minhash path there is NO
    default cap, because capping would break the "provably complete
    for hamming <= SIMHASH_MAX_HAMMING" contract — near-identical template
    pages really do share blocks, and those pairs are the answer. At
    web scale, where a boilerplate block value can collect millions of
    docs, set ``SIMHASH_BUCKET_CAP`` to bound each bucket (pairs within
    a capped bucket are still exact; pairs BETWEEN the dropped overflow
    docs may be missed — the same bounded-recall trade
    minhash_lsh_candidates makes), or exact-dedup boilerplate first.
    """
    sigs = simhash_signatures(docs)
    blocks = sigs.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), 16 * i).bitwiseAND(F.lit(0xFFFF))
                    for i in range(4)
                ]
            )
        ).alias("blk", "bv"),
    )
    if SIMHASH_BUCKET_CAP is not None:
        w = Window.partitionBy("blk", "bv").orderBy("id")
        blocks = blocks.withColumn(
            "_rn", F.row_number().over(w)
        ).filter(F.col("_rn") <= SIMHASH_BUCKET_CAP).drop("_rn")
    cand = (
        blocks.alias("x")
        .join(
            blocks.alias("y"),
            (F.col("x.blk") == F.col("y.blk"))
            & (F.col("x.bv") == F.col("y.bv"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.col("x.simhash").alias("ha"),
            F.col("y.simhash").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("id_a", "id_b", "hamming")
    )


def embedding_near_dups(embeddings: DataFrame) -> DataFrame:
    """Embedding-cosine near-dup via random-hyperplane LSH buckets
    (``EMBED_PLANES`` bits) + exact cosine check against
    ``EMBED_THRESHOLD`` (native
    F.aggregate/zip_with math; the plane matrix is a literal array
    baked into the plan).

    A one-row probe reads the first vector's length (array columns
    carry no length in the schema)."""
    import random

    dim = embeddings.select(F.size("embedding").alias("d")).first()["d"]
    rng = random.Random(EMBED_SEED)
    planes = [
        [rng.gauss(0.0, 1.0) for _ in range(dim)]
        for _ in range(EMBED_PLANES)
    ]
    sig = None
    for j, pl in enumerate(planes):
        plane = F.array(*[F.lit(v) for v in pl])
        dot = F.aggregate(
            F.zip_with(F.col("embedding"), plane, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bit = F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    e = embeddings.select(F.col("vec_id").alias("id"),
                          F.col("embedding").alias("v"), sig.alias("bucket"))
    norm = F.sqrt(
        F.aggregate(F.transform("v", lambda x: x * x), F.lit(0.0),
                    lambda a, x: a + x)
    )
    e = e.withColumn("norm", norm)
    cand = (
        e.alias("x")
        .join(e.alias("y"), (F.col("x.bucket") == F.col("y.bucket"))
              & (F.col("x.id") < F.col("y.id")))
    )
    dot = F.aggregate(
        F.zip_with(F.col("x.v"), F.col("y.v"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )
    return (
        cand.withColumn("cosine", dot / (F.col("x.norm") * F.col("y.norm")))
        .filter(F.col("cosine") >= EMBED_THRESHOLD)
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            "cosine",
        )
    )


def contamination_pairs(train: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """Train/eval decontamination: (train_id, eval_id, containment)
    where containment = |shingles(eval) ∩ shingles(train)| /
    |shingles(eval)| >= ``CONTAMINATION_THRESHOLD`` — the standard
    benchmark-contamination test a training pipeline runs before a
    corpus ships (an eval item counts
    as leaked into a training doc when most of its n-grams appear
    there, even if the training doc is much longer, which is why this
    is containment and not jaccard).

    Plan: inverted-index join on shingle hash — the same index shape
    as :func:`ngram_jaccard_pairs`, but ASYMMETRIC: only
    (train x eval) shingle matches pair up, never train x train, so
    the hot-shingle blowup is bounded by the EVAL side's document
    frequency. Benchmark sets are dimension-sized (10^3-10^6 items vs
    10^9+ training docs), so the eval side always broadcasts: the join
    is a broadcast hash join over the streaming train scan — zero shuffle
    of the 100 TB side; the per-pair count is a map-side-combinable
    groupBy on (train_id, eval_id), which only carries matched pairs.
    """
    tr = _shingle_hashes(train)
    ev = _shingle_hashes(eval_docs)
    ev_sizes = ev.groupBy("id").agg(F.count(F.lit(1)).alias("ev_sz"))
    ev, ev_sizes = F.broadcast(ev), F.broadcast(ev_sizes)
    inter = (
        tr.alias("t")
        .join(ev.alias("e"), F.col("t.sh") == F.col("e.sh"))
        .groupBy(
            F.col("t.id").alias("train_id"),
            F.col("e.id").alias("eval_id"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(ev_sizes.select(F.col("id").alias("eval_id"), "ev_sz"),
                   "eval_id")
        .withColumn("containment", F.col("inter") / F.col("ev_sz"))
        .filter(F.col("containment") >= CONTAMINATION_THRESHOLD)
        .select("train_id", "eval_id", "containment")
    )


def snapshot_latest(df: DataFrame) -> DataFrame:
    """Crawl-snapshot dedup: keep the newest ``warc_ts`` capture per
    ``url`` (the
    canonical first step over a Common-Crawl-style table whose urls are
    recrawled — the input_hint's (url, warc_ts, ...) shape). Output is
    one row per url with every payload column from the winning capture
    plus ``n_caps``, the capture count.

    Plan: ONE shuffle on the key with map-side partial aggregation —
    ``max_by(struct(payload), ts)`` folds each input partition down to
    one candidate row per key BEFORE the exchange. The equivalent
    window formulation (``row_number() over (partition by key order by
    ts desc) = 1``) must shuffle and sort EVERY capture. The map-side
    reduction is LAYOUT-DEPENDENT: when captures of a key co-locate
    within input partitions (a WARC segment, a url-clustered Iceberg
    table — and the bench datagen, which generates captures
    contiguously), ~10 captures/url shrink to 1 candidate row per key
    before the exchange, cutting shuffled rows ~10x; on a layout that
    scatters a url's captures across partitions the plan SHAPE is the
    same but the partial agg reduces little. Catalyst plans it as
    SortAggregate (a struct buffer is not hash-aggregable) — the
    per-partition sort is by key only, over the already-reduced
    partial rows on the final side.

    Edge semantics: ties on ``warc_ts`` pick an unspecified capture —
    callers needing determinism under ties should order by a composite
    struct. ``max_by`` SKIPS rows whose ``warc_ts`` is NULL: a url whose
    captures ALL have NULL ``warc_ts`` still emits a row (n_caps > 0)
    but with NULL payload columns — matching DuckDB ``arg_max``, which
    is what the oracle parity relies on.
    """
    payload = [c for c in df.columns if c != "url"]
    agg = df.groupBy("url").agg(
        F.max_by(F.struct(*payload), F.col("warc_ts")).alias("_latest"),
        F.count(F.lit(1)).alias("n_caps"),
    )
    return agg.select(
        "url",
        *[F.col(f"_latest.{c}").alias(c) for c in payload],
        "n_caps",
    )


def line_dedup(docs: DataFrame) -> DataFrame:
    """Line-level dedup (CCNet/C4-style boilerplate stripping): remove
    every line that occurs in at least ``LINE_MIN_DF`` DISTINCT docs —
    navigation menus, cookie banners, copyright footers — while
    preserving each document's surviving lines in order. The standard
    pretraining-hygiene pass a corpus pipeline runs between crawl
    snapshotting and document-level dedup.

    Output: one row per input document (docs with ALL lines removed
    keep a row with empty text) — (doc_id, clean_text, n_lines,
    n_kept).

    Semantics:
    - A line's document frequency counts documents, not occurrences: a
      line repeated 50x inside ONE doc has df=1 and is kept.
    - Lines whose trimmed length is below ``LINE_MIN_LEN`` (blank
      lines) never participate in dedup and are always kept — they
      are structure, not boilerplate, and a corpus-wide blank-line df
      would strip every paragraph break.
    - Line identity is the EXACT line string (no normalization); the
      64-bit hash collision risk is the same ~n²/2⁶⁴ accepted by every
      other hash in this module.

    Plan (zero per-row Python, two shuffles, both on uniform keys):
    1. Document frequency: each doc reduces to its DISTINCT eligible
       line hashes as a narrow map (``array_distinct`` BEFORE the
       explode — the same map-side trick as ``_shingle_hashes``, so the
       groupBy input is already (doc, line)-unique), then ONE map-side
       combinable count per line hash. No count_distinct expand, no
       second exchange.
    2. Removal + reassembly: posexplode lines, left-join the hot-line
       dim (df >= LINE_MIN_DF — at web scale a tiny fraction of distinct
       lines, so AQE broadcasts it; the join key is the uniform hash
       either way), then ONE groupBy on the doc id rebuilding the text
       with sort_array + array_join. The regroup shuffles the corpus
       text once — the price of exact in-order reassembly; the
       bounded-memory alternative at 10^12 docs is writing the hot-line
       dim to a table once and applying this second stage as a narrow
       broadcast-filter over ``F.filter(lines, ...)`` — possible only
       when the hot set fits a broadcast, which LINE_MIN_DF thresholds are
       designed to make true.
    """
    # NULL text behaves as empty (one blank line, kept): posexplode of
    # a NULL array would silently DROP the document row otherwise
    lines = F.split(F.coalesce(F.col("text"), F.lit("")), "\n")
    eligible = F.filter(
        lines, lambda ln: F.length(F.trim(ln)) >= LINE_MIN_LEN
    )
    hot = (
        docs.select(
            F.explode(
                F.array_distinct(
                    F.transform(eligible, lambda ln: F.xxhash64(ln))
                )
            ).alias("lh")
        )
        .groupBy("lh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= LINE_MIN_DF)
        .withColumn("is_hot", F.lit(True))
        .select("lh", "is_hot")
    )
    ex = docs.select(
        "doc_id", F.posexplode(lines).alias("pos", "line")
    ).withColumn(
        "lh",
        F.when(
            F.length(F.trim("line")) >= LINE_MIN_LEN, F.xxhash64("line")
        ),  # ineligible lines get NULL -> never match the hot dim
    )
    joined = ex.join(hot, "lh", "left")
    kept_struct = F.when(
        F.col("is_hot").isNull(), F.struct("pos", "line")
    )  # collect_list skips NULLs: hot lines drop out here
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count(kept_struct).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("clean_text"),
        )
        .select("doc_id", "clean_text", "n_lines", "n_kept")
    )


def neardup_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    score,
) -> DataFrame:
    """(cluster_id, keep_id): collapse a near-duplicate pair graph to
    one representative per cluster — the doc with the highest
    ``score`` (a Column over ``docs``; ties broken by smallest id).
    This is the step that turns pair generation (minhash / jaccard /
    simhash output) into the corpus a pipeline actually ships: unlike
    exact dedup, the kept doc should be the BEST of its cluster
    (longest, highest quality), not the lowest id.

    Plan: mirror the pairs, label clusters with
    :func:`osm_jl_spark.operators.graph.connected_components` (labels
    stay in DataFrames), left-join labels onto the corpus (singletons
    become their own cluster), then one groupBy taking
    ``max(struct(score, -id))`` — argmax as a single map-side
    combinable aggregate, no window over the corpus.
    """
    from osm_jl_spark.operators.graph import connected_components

    e = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    cc = connected_components(edges)
    labeled = (
        docs.select(F.col("doc_id").alias("id"), score.alias("s"))
        .join(cc.withColumnRenamed("node", "id"), "id", "left")
        .withColumn("comp", F.coalesce("comp", F.col("id")))
    )
    best = labeled.groupBy("comp").agg(
        F.max(F.struct(F.col("s"), (-F.col("id")).alias("nid"))).alias("b")
    )
    return best.select(
        F.col("comp").alias("cluster_id"),
        (-F.col("b.nid")).alias("keep_id"),
    )

def duplicated_window_stats(docs: DataFrame) -> DataFrame:
    """Exact-substring duplication profile (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    approximated at token-window granularity): for every document,
    how many of its distinct ``WINDOW_TOKENS``-token windows also
    appear in at least ``WINDOW_MIN_DF - 1`` OTHER documents. The per-doc
    ``n_dup_windows / n_windows`` ratio is the standard signal for
    cross-document boilerplate/quotation load, one level finer than
    ``line_dedup`` (which needs exact line boundaries) and one level
    coarser than a suffix array (which this sandbox-scale engine
    deliberately does not build — windows are the distributed-friendly
    approximation the paper itself uses for its NearDup comparison).

    Output: (doc_id, n_windows, n_dup_windows) — one row per document
    having at least one window (docs shorter than a window carry
    no signal and emit nothing). Integer columns only: the ratio is
    left to the caller so the result stays engine-exact.

    Plan (zero per-row Python): windows are hashed map-side
    (concat_ws over a token slice -> xxhash64) and array_distinct'd
    BEFORE the explode — the same narrow-map shape as
    ``_shingle_hashes`` — so the document-frequency groupBy input is
    already (doc, window)-unique and the count is map-side
    combinable on a uniform 64-bit key. The hot-window dim
    (df >= WINDOW_MIN_DF) is a small fraction of distinct windows at corpus
    scale, so AQE broadcasts the left join back; the final per-doc
    regroup shuffles (id, hash) pairs only — never the text. At
    10^12 docs the window set is ~doc_tokens rows of 8+8
    bytes through ONE uniform-key exchange; no collect, no skew key
    (hashes are uniform by construction).
    """
    toks = F.filter(
        F.split(F.col("text"), r"\s+"), lambda t: t != F.lit("")
    )
    nwin = F.size(toks) - F.lit(WINDOW_TOKENS - 1)
    wins = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), nwin),
            lambda i: F.xxhash64(
                F.concat_ws(" ", F.slice(toks, i, WINDOW_TOKENS))
            ),
        )
    )
    ex = docs.select(
        "doc_id",
        F.explode(
            F.when(nwin >= 1, wins)  # sequence(1,0) would DESCEND
        ).alias("wh"),
    )
    hot = (
        ex.groupBy("wh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= WINDOW_MIN_DF)
        .select("wh", F.lit(True).alias("is_hot"))
    )
    return (
        ex.join(hot, "wh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.count(F.col("is_hot")).alias("n_dup_windows"),
        )
    )


def remove_duplicated_windows(docs: DataFrame) -> DataFrame:
    """The REMOVAL counterpart of ``duplicated_window_stats`` — Lee et
    al. 2022's exact-substring deduplication at token-window
    granularity: every ``WINDOW_TOKENS``-token window occurring in at
    least ``WINDOW_MIN_DF`` documents is cut from each document's text
    (a token is dropped iff at least one duplicated window covers it;
    survivors are re-joined with single spaces, the standard
    normalization for this transform). Docs shorter than a window pass through
    untouched. Returns (doc_id, clean_text, n_tokens, n_removed).

    Plan (zero per-row Python, three uniform-key exchanges):

    1. window hashes are computed AND array_distinct'd map-side (the
       ``duplicated_window_stats`` narrow map), so the document-
       frequency groupBy ships one (doc, hash) pair per distinct
       window — exchange 1, uniform 64-bit key;
    2. the hot-window dim (df >= WINDOW_MIN_DF — a small fraction of distinct
       windows at corpus scale) semi-joins back (AQE broadcast) and
       regroups to one hot-hash array per affected doc — exchange 2;
    3. that per-doc array joins the original text — exchange 3, on the
       doc id (only docs that HAVE duplicated windows carry a row on
       the build side; while that side is small the planner broadcasts
       it instead, and the plan has two exchanges) — and the cut
       itself is a pure narrow map:
       window hashes are RECOMPUTED against the hot array to recover
       positions (the same recompute-over-materialize trade argued at
       ``minhash_signatures``), and a higher-order filter keeps tokens
       no duplicated window covers.

    At 10^12 docs nothing in this plan holds more than one document's
    tokens at a time, and no stage keys on anything skewed: window
    hashes are uniform by construction and the doc id is the corpus
    key. The clean_text re-join is the only output materialization.
    """
    toks = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
        lambda t: t != F.lit(""),
    )
    nwin = F.size(toks) - F.lit(WINDOW_TOKENS - 1)

    def winh(i):
        return F.xxhash64(F.concat_ws(" ", F.slice(toks, i, WINDOW_TOKENS)))

    wins = F.array_distinct(
        F.transform(F.sequence(F.lit(1), nwin), winh)
    )
    ex = docs.select(
        "doc_id",
        F.explode(F.when(nwin >= 1, wins)).alias("wh"),  # guard: desc seq
    )
    hot = (
        ex.groupBy("wh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= WINDOW_MIN_DF)
        .select("wh")
    )
    doc_hot = (
        ex.join(hot, "wh", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_list("wh").alias("hot_whs"))
    )
    joined = docs.join(doc_hot, "doc_id", "left")
    hot_arr = F.coalesce(
        F.col("hot_whs"), F.array().cast("array<bigint>")
    )
    starts = F.when(
        nwin >= 1,
        F.filter(
            F.sequence(F.lit(1), nwin),
            lambda i: F.array_contains(hot_arr, winh(i)),
        ),
    ).otherwise(F.array().cast("array<int>"))
    # token at 1-based position p survives iff no dup window starting
    # at s covers it (s <= p <= s + WINDOW_TOKENS - 1)
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            starts,
            lambda s: (i + 1 >= s) & (i + 1 <= s + F.lit(WINDOW_TOKENS - 1)),
        ),
    )
    return joined.select(
        "doc_id",
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size(toks).cast("long").alias("n_tokens"),
        (F.size(toks) - F.size(kept)).cast("long").alias("n_removed"),
    )


# ------------------------------------------------------------ bloom

def _bloom_positions(shingle) -> list:
    """``BLOOM_K`` Bloom bit positions for one shingle string, via
    double hashing on two disjoint md5 substrings: ``pos_i = (h1 +
    i*h2) % m`` with h1 = 60-bit md5 prefix (hex chars 1-15) and h2 =
    the 49-bit odd value ``2*prefix(16..27) + 1`` (odd keeps the probe
    stride coprime to the power-of-two ``BLOOM_M_BITS``). Everything is
    positive BIGINT arithmetic bounded by 2^60 + k*2^50 — ANSI-safe
    and bit-identical in DuckDB via the same substr(md5(s)) casts,
    which is what makes the bloom queries oracle-checkable (same
    scheme as :func:`_hash60`).
    """
    md5 = F.md5(shingle)
    h1 = F.conv(F.substring(md5, 1, 15), 16, 10).cast("long")
    h2 = (
        F.conv(F.substring(md5, 16, 12), 16, 10).cast("long")
        * F.lit(2) + F.lit(1)
    )
    return [
        F.pmod(h1 + F.lit(i) * h2, F.lit(BLOOM_M_BITS))
        for i in range(BLOOM_K)
    ]


def bloom_bitmap(eval_docs: DataFrame) -> DataFrame:
    """Build a Bloom filter over the eval set's shingles as (word,
    bits) rows — ``BLOOM_M_BITS`` bits packed into ``BLOOM_M_BITS/64``
    BIGINT words, each the bit_or of the masks that land in it.

    The bitmap is FIXED-SIZE regardless of eval volume (like the HLL
    census, web.py): where :func:`contamination_pairs` broadcasts
    every eval shingle hash — fine for benchmark-sized eval sets, but
    linear in them — the bloom form caps the broadcast at m/8 bytes
    (2 KiB at m = 2^14) no matter how many shingles feed it, trading
    exactness for a quantified false-positive rate
    fpr = (1 - exp(-k*n/m))^k. One small shuffle over eval positions;
    at most m/64 output rows.
    """
    sh = eval_docs.select(
        F.explode(shingles_col("text", SHINGLE_N)).alias("shingle")
    )
    pos = sh.select(
        F.explode(
            F.array(*_bloom_positions(F.col("shingle")))
        ).alias("pos")
    )
    return (
        pos.select(
            F.shiftright("pos", 6).alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_contamination(train: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """Approximate decontamination against a Bloom filter of the eval
    set: per train doc, how many of its distinct shingles MIGHT be in
    the eval set, and an integer containment verdict.

    Returns (doc_id, n_shingles, bloom_hits, contaminated) where
    ``contaminated = 1`` iff ``2*bloom_hits >= n_shingles`` (bloom
    containment >= 0.5) — pure integer compare, no float in any
    oracle-hashed column. ``bloom_hits`` OVERCOUNTS true hits by the
    filter's false-positive rate; it never undercounts (no false
    negatives), so contaminated=0 is a safe keep-verdict, which is
    the direction a decontamination pass must not get wrong.

    Plan (the 100 TB shape): the bitmap builds from the eval side
    (dimension-sized) and BROADCASTS as a fixed <= m/64-row dim;
    the train side explodes its per-doc-distinct shingles in the scan
    projection, computes its k (word, bit) probes natively, and
    hash-joins the broadcast k times — the 100 TB fact side never
    shuffles until the final map-side-combinable per-doc count. Zero
    Python anywhere.
    """
    bitmap = F.broadcast(bloom_bitmap(eval_docs))
    tr = train.select(
        "doc_id",
        F.explode(shingles_col("text", SHINGLE_N)).alias("shingle"),
    )
    probes = _bloom_positions(F.col("shingle"))
    proj = tr.select(
        "doc_id",
        *[F.shiftright(p, 6).alias(f"w{i}") for i, p in enumerate(probes)],
        *[F.pmod(p, F.lit(64)).cast("int").alias(f"b{i}")
          for i, p in enumerate(probes)],
    )
    joined = proj
    for i in range(BLOOM_K):
        joined = joined.join(
            bitmap.select(
                F.col("word").alias(f"w{i}"), F.col("bits").alias(f"_bits{i}")
            ),
            f"w{i}",
            "left",
        )
    might = F.lit(True)
    for i in range(BLOOM_K):
        # arithmetic shiftright keeps bit b of the original word at
        # position 0 even when bit 63 (sign) is set in the bitmap word
        might = might & F.expr(
            f"coalesce((shiftright(_bits{i}, b{i}) & 1) = 1, false)"
        )
    return (
        joined.select("doc_id", might.cast("int").alias("might"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum("might").alias("bloom_hits"),
            F.max("might").alias("contaminated"),
        )
        .withColumn(
            "contaminated",
            (F.lit(2) * F.col("bloom_hits") >= F.col("n_shingles"))
            .cast("int"),
        )
    )


def bloom_words(bitmap: DataFrame) -> list[int]:
    """Densify a :func:`bloom_bitmap` result into the full
    ``BLOOM_M_BITS/64``-long word list (missing words zero) — the plan-
    constant form :func:`osm_jl_spark.streaming.incremental.
    streaming_bloom_filter` embeds. The collect is FIXED-size
    (m/8 bytes, 2 KiB at m = 2^14) regardless of eval volume — the
    same bounded-driver-transfer argument as the HLL census, not a
    data-sized collect."""
    words = [0] * (BLOOM_M_BITS // 64)
    for r in bitmap.collect():
        words[r["word"]] = r["bits"]
    return words

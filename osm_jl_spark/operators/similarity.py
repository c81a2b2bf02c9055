"""Similarity search over embedding columns (array<float>).

Two paths:
- ``cosine_topk``: exact brute-force top-k — the correctness baseline.
  Dot products are native ``zip_with``/``aggregate`` column math (JVM,
  codegen) against a BROADCAST query set; ranking is a per-query
  window. Cost O(N*Q) but with no Python and no shuffle of the corpus.
- ``ivf_topk``: the scale path — a one-pass IVF-style index: assign
  every vector to its nearest of C centroids (derived deterministically
  from hashed sample vectors), search only the ``nprobe`` closest
  centroids' buckets. At 10^12 rows the bucket assignment is the
  partition key, so a query touches nprobe partitions instead of N.

Corpora are (vec_id, embedding) and query sets (query_id, qvec), the
schema the registry feeds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SEMDEDUP_THRESHOLD = 0.95  # cosine at or above which a pair is a near-dup
CENTROID_STEP = 125  # semdedup's default medoids: ids divisible by this
PQ_SUBSPACES = 8  # pq_train_codebooks: m subspaces
PQ_CODEWORDS = 16  # pq_train_codebooks: k codewords per subspace
PQ_TOPK = 5  # pq_adc_topk: neighbors returned per query
TOPK = 5  # cosine_topk and ivf_topk: neighbors returned per query


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                       lambda acc, v: acc + v)


def _norm(v):
    return F.sqrt(_dot(v, v))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    rank_round: int | None = None,
) -> DataFrame:
    """Exact cosine top-``TOPK``: (query_id, neighbor_id, rank, cosine).

    Ties broken by (cosine desc, neighbor_id asc) — deterministic.
    ``rank_round`` ranks on round(cosine, d) instead (cross-engine
    reproducible ordering for oracle comparison).
    """
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("v"),
        _norm(F.col("embedding")).alias("vn"),
    )
    q = queries.select(
        "query_id",
        F.col("qvec").alias("qv"),
        _norm(F.col("qvec")).alias("qn"),
    )
    scored = c.crossJoin(F.broadcast(q)).withColumn(
        "cosine", _dot(F.col("v"), F.col("qv")) / (F.col("vn") * F.col("qn"))
    )
    rank_key = (
        F.round(F.col("cosine"), rank_round) if rank_round is not None
        else F.col("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        rank_key.desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _nearest_centroid(vec_col, centroids: list[list[float]]):
    """struct(d, c) of the squared-L2-nearest centroid, as pure in-plan
    literal array math (ties -> lowest centroid id via struct order)."""
    best = None
    for ci, cvec in enumerate(centroids):
        arr = F.array(*[F.lit(float(x)) for x in cvec])
        diff = F.zip_with(vec_col, arr, lambda a, b: a - b)
        d = _dot(diff, diff)
        cand = F.struct(d.alias("d"), F.lit(ci).alias("c"))
        best = cand if best is None else F.least(best, cand)
    return best


def _group_means(df: DataFrame, g_col: str, vec_col: str) -> dict[int, list[float]]:
    """Per-group elementwise mean of an array column: posexplode ->
    two map-side-combinable aggs; returns {group: mean vector} (groups
    with no rows are simply absent)."""
    rows = (
        df.select(g_col, F.posexplode(vec_col).alias("i", "x"))
        .groupBy(g_col, "i")
        .agg(F.avg("x").alias("m"))
        .groupBy(g_col)
        .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).alias("ms"))
        .select(g_col, F.transform("ms", lambda s: s["m"]).alias("centroid"))
        .collect()
    )
    return {r[g_col]: list(r["centroid"]) for r in rows}


def build_ivf(
    corpus: DataFrame,
    n_centroids: int = 16,
    refine: int = 0,
) -> tuple[DataFrame, list[list[float]]]:
    """Deterministic IVF index: centroids seeded as the means of
    hash-assigned groups (no RNG), then ``refine`` Lloyd iterations —
    assign every vector to its nearest centroid, recompute each
    centroid as its bucket's mean. Lloyd's step never increases the
    within-cluster SSE (pinned by tests/test_dedup_similarity.py), so
    ``refine>0`` strictly tightens the index toward production k-means
    quality while staying bit-deterministic. Empty buckets keep their
    previous centroid. Returns (assigned corpus with ``bucket``
    column, centroid list).

    Scale shape: each iteration is ONE posexplode + two map-side
    combinable aggregations over the corpus; the only driver action is
    collecting the C x dim centroid table (16 rows here) — the same
    bounded collect the seeding step already does. On a real
    deployment the assigned corpus is written bucketed by ``bucket``
    so probes prune partitions.
    """
    seeded = corpus.withColumn(
        "_g", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_centroids))
    )
    means = _group_means(seeded, "_g", "embedding")
    centroids = [means[g] for g in sorted(means)]
    for _ in range(refine):
        assigned = corpus.withColumn(
            "_g", _nearest_centroid(F.col("embedding"), centroids)["c"]
        )
        means = _group_means(assigned, "_g", "embedding")
        centroids = [
            means.get(ci, centroids[ci]) for ci in range(len(centroids))
        ]
    assigned = corpus.withColumn(
        "bucket",
        _nearest_centroid(F.col("embedding"), centroids)["c"].cast("int"),
    )
    return assigned, centroids


def ivf_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    nprobe: int = 4,
    rank_round: int | None = None,
) -> DataFrame:
    """Approximate cosine top-``TOPK`` probing only the nprobe nearest
    centroid buckets per query. Join is (bucket == query_probe_bucket)
    — on a bucket-partitioned corpus this prunes to nprobe/C of data.

    With ``nprobe == n_centroids`` every bucket is probed and the
    result is EXACTLY the brute-force answer (bucketing prunes, never
    rescores) — the no-loss invariant the oracle checks.
    ``rank_round`` as in cosine_topk (cross-engine tie stability).

    Probe selection is fully native: the centroid table is already a
    small in-plan literal (array of structs), so each query ranks its
    centroids via explode + window top-nprobe — zero driver collects,
    and a fact-table-sized query side never touches the driver."""
    cent_lit = F.array(*[
        F.struct(
            F.lit(ci).alias("c"),
            F.array(*[F.lit(float(x)) for x in cv]).alias("cv"),
        )
        for ci, cv in enumerate(centroids)
    ])
    # mirror the zero-vector guard (`or 1.0`) of the brute-force path;
    # under ANSI mode a bare /0 would error instead of yielding nan
    def _safe_norm(v):
        n = _norm(v)
        return F.when(n == 0.0, F.lit(1.0)).otherwise(n)

    qc = queries.select(
        "query_id",
        F.col("qvec").cast("array<double>").alias("qv"),
    ).withColumn("_c", F.explode(cent_lit))
    ccos = _dot(F.col("qv"), F.col("_c.cv")) / (
        _safe_norm(F.col("qv")) * _safe_norm(F.col("_c.cv"))
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("_ccos").desc(), F.col("_c.c").asc()
    )
    probes = (
        qc.withColumn("_ccos", ccos)
        .withColumn("_pr", F.row_number().over(wp))
        .filter(F.col("_pr") <= nprobe)
        .select("query_id", F.col("_c.c").alias("bucket"), "qv")
    )
    cand = assigned.join(F.broadcast(probes), "bucket", "inner")
    cos = _dot(F.col("embedding"), F.col("qv")) / (
        _norm(F.col("embedding")) * _norm(F.col("qv"))
    )
    rank_key = (
        F.round(F.col("cosine"), rank_round) if rank_round is not None
        else F.col("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        rank_key.desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("cosine", cos)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "cosine",
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def semdedup(
    corpus: DataFrame,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    embedding space, then search for near-duplicate pairs ONLY inside
    each cluster — the clustering bounds the otherwise-quadratic pair
    search, which is the whole point of the method at corpus scale.
    Returns (id, cluster, keep): ``cluster`` is the assigned medoid's
    id, ``keep`` = false iff SOME lower-id vector in the same cluster
    is a near-duplicate (cosine >= ``SEMDEDUP_THRESHOLD``; the
    deterministic stand-in for the paper's keep-one-representative
    policy: the lowest id of every duplicate group always survives).

    Determinism / oracle story (unlike ``build_ivf``'s Lloyd means,
    which are float averages and therefore ulp-fragile across
    engines): centroids here are MEDOIDS — the actual stored vectors
    of ids divisible by ``CENTROID_STEP`` unless ``centroids`` are
    given — and every distance is a
    LEFT-TO-RIGHT ``F.aggregate`` fold, which DuckDB reproduces
    bit-exactly with ``list_reduce`` over the identical stored
    doubles. Assignment argmin ties break on centroid id. No rounding
    anywhere; the oracle replays assignment, pair search, and keep
    policy exactly (query ``semdedup_clusters``).

    Scale shape (10^12 rows): the medoid table is a broadcast
    dimension (corpus/CENTROID_STEP rows — pick the medoids so it
    stays one); assignment is the broadcast cross product + ONE
    map-side-combinable min_by shuffle on the uniform vector id; the
    pair search self-joins ON THE CLUSTER KEY, so each task's
    candidate set is one cluster's rows (raise the centroid count to
    shrink clusters), and the keep anti-join rides the same key.
    Zero Python anywhere.
    """
    if centroids is None:
        # default medoid pick: ids divisible by the step (callers with
        # a curated medoid set — k-means++ seeds, per-shard samples —
        # pass it explicitly)
        centroids = corpus.where(F.col("vec_id") % CENTROID_STEP == 0)
    cents = F.broadcast(
        centroids.select(
            F.col("vec_id").alias("_cid"), F.col("embedding").alias("_cv")
        )
    )
    d2 = F.aggregate(
        F.zip_with(F.col("v"), F.col("_cv"),
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, v: acc + v,
    )
    assigned = (
        corpus.select(F.col("vec_id").alias("id"),
                      F.col("embedding").alias("v"))
        .crossJoin(cents)
        .select("id", "v", F.struct(d2.alias("d"), F.col("_cid").alias("c"),
                                    ).alias("_dc"))
        .groupBy("id")
        .agg(F.min_by(F.col("_dc.c"), F.col("_dc")).alias("cluster"),
             F.first("v").alias("v"))
    )
    a = assigned.select(F.col("id").alias("id_a"), "cluster",
                        F.col("v").alias("va"))
    b = assigned.select(F.col("id").alias("id_b"), "cluster",
                        F.col("v").alias("vb"))
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0), lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(
        F.zip_with(F.col("va"), F.col("va"), lambda x, y: x * y),
        F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(
        F.zip_with(F.col("vb"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0), lambda acc, v: acc + v))
    # zero-vector guard (ANSI mode errors on /0): a zero norm makes
    # the pair cosine 0, never a near-dup — same contract as ivf_topk
    den = na * nb
    safe_den = F.when(den == 0.0, F.lit(1.0)).otherwise(den)
    pairs = (
        a.join(b, "cluster")
        .where(F.col("id_a") < F.col("id_b"))
        .where(dot / safe_den >= F.lit(SEMDEDUP_THRESHOLD))
        .select("cluster", "id_a", "id_b")
    )
    dropped = pairs.select(F.col("id_b").alias("id")).distinct()
    return (
        assigned.join(dropped.withColumn("_drop", F.lit(True)), "id", "left")
        .select("id", "cluster",
                F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep"))
    )


# ------------------------------------------------ product quantization

def pq_codebooks_from_samples(
    samples: list[list[float]], m: int
) -> list[list[list[float]]]:
    """Codebooks as sub-slices of k deterministic sample vectors —
    the classic sampling baseline (and the replayable form the
    oracle-checked query uses: a DuckDB oracle can list_slice the
    same samples; it cannot replay xxhash-seeded k-means). Returns
    ``codebooks[j][c]`` = codeword c of subspace j."""
    d = len(samples[0])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    s = d // m
    return [
        [list(v[j * s:(j + 1) * s]) for v in samples] for j in range(m)
    ]


def pq_train_codebooks(
    corpus: DataFrame,
    refine: int = 0,
) -> list[list[list[float]]]:
    """Trained PQ codebooks: per each of ``PQ_SUBSPACES`` subspaces,
    ``PQ_CODEWORDS`` centroids seeded as
    hash-group means of the sub-vectors (per-subspace hash salt so
    subspaces seed independently), then ``refine`` Lloyd iterations —
    the identical deterministic machinery as :func:`build_ivf`, run m
    times on slices. Per-subspace distortion is non-increasing in
    ``refine`` (pinned in tests/test_pq.py). Driver transfer per
    iteration is the m*k*(d/m) = k*d codeword table — fixed size."""
    m, k = PQ_SUBSPACES, PQ_CODEWORDS
    n_dim = len(corpus.select("embedding").first()[0])
    if n_dim % m:
        raise ValueError(f"dim {n_dim} not divisible by m={m} subspaces")
    s = n_dim // m
    books: list[list[list[float]]] = []
    for j in range(m):
        sub = corpus.select(
            F.col("vec_id").alias("id"),
            F.slice(F.col("embedding").cast("array<double>"),
                    j * s + 1, s).alias("sv"),
        )
        seeded = sub.withColumn(
            "_g", F.pmod(F.xxhash64(F.col("id"), F.lit(j)), F.lit(k))
        )
        means = _group_means(seeded, "_g", "sv")
        cents = [means[g] for g in sorted(means)]
        for _ in range(refine):
            assigned = sub.withColumn(
                "_g", _nearest_centroid(F.col("sv"), cents)["c"]
            )
            means = _group_means(assigned, "_g", "sv")
            cents = [means.get(ci, cents[ci]) for ci in range(len(cents))]
        books.append(cents)
    return books


def _argmin_codeword(sub_col, codebook_j: list[list[float]]):
    """Codeword id of the squared-L2-nearest codeword — ONE fold over
    the literal codeword array (ties -> lowest id, the
    _nearest_centroid contract). Unrolling one expression per codeword
    (what _nearest_centroid does, fine at IVF's 16 centroids) blows
    the expression tree quadratically at PQ codebook sizes: 65
    codewords x 8 subspaces measured 26 s of analysis/codegen for a
    2,000-row encode; this fold form keeps the tree O(subspaces) and
    the same plan shape."""
    cb = F.array(*[
        F.struct(
            F.lit(ci).alias("c"),
            F.array(*[F.lit(float(x)) for x in cw]).alias("cv"),
        )
        for ci, cw in enumerate(codebook_j)
    ])
    init = F.struct(
        F.lit(float("inf")).alias("d"), F.lit(-1).alias("c")
    )

    def step(best, e):
        diff = F.zip_with(sub_col, e["cv"], lambda a, b: a - b)
        cand = F.struct(_dot(diff, diff).alias("d"), e["c"].alias("c"))
        return F.least(best, cand)

    return F.aggregate(cb, init, step)


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """(id, codes ARRAY<INT>): each vector compressed to m subspace
    codeword ids — d floats become m small ints (16x at d=64, m=8,
    k<=256). Assignment is squared-L2 argmin per subspace against the
    in-plan literal codebooks (ties -> lowest code, the
    _nearest_centroid contract), so encoding is a ZERO-SHUFFLE narrow
    map over the corpus — the same scale signature as the minhash
    signatures (plan-pinned in tests/test_pq.py). At 10^12 vectors
    the codes column is what ships to the ANN serving tier; raw
    vectors stay in cold storage."""
    s = len(codebooks[0][0])
    v = F.col("embedding").cast("array<double>")
    codes = F.array(*[
        _argmin_codeword(F.slice(v, j * s + 1, s), codebooks[j])["c"]
        .cast("int")
        for j in range(len(codebooks))
    ])
    return corpus.select(
        F.col("vec_id").alias("id"), codes.alias("codes")
    )


def pq_adc_topk(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    queries: DataFrame,
) -> DataFrame:
    """Asymmetric-distance top-``PQ_TOPK`` over PQ codes: for each query,
    d2_adc = sum_j ||q_j - codeword(j, codes[j])||² — the exact
    squared L2 between the query and the RECONSTRUCTED corpus vector
    (an identity, pinned in tests/test_pq.py), computed WITHOUT ever
    touching the raw corpus vectors. Returns (query_id, neighbor_id,
    rank, d2_adc); ties break by (d2_adc asc, neighbor_id asc).

    Plan — the textbook ADC distance-table form: each QUERY builds
    its m*k table dtab[j][c] = ||q_j - codeword(j,c)||² once (a
    per-query-row projection against the in-plan literal codebooks),
    and the broadcast query side then crosses the codes column with
    per-pair cost of just m table LOOKUPS + (m-1) adds — no codeword
    arithmetic per pair, which is why real PQ implementations
    precompute dtab. (Measured on the registered query at sf0.1,
    warm min: per-pair codeword arithmetic 11.5 s; dtab UNROLLED one
    expression per entry 21.1 s — expression-tree blowup, the same
    failure the encode fix removed; dtab via per-subspace transform
    lambdas 9.8 s — this form.) No shuffle of the codes
    table, one window for the ranking. The per-entry subspace fold
    and the outer j-fold are both LEFT-TO-RIGHT from 0.0 and the
    table entries are the IDENTICAL doubles the per-pair form
    computed, so results are bit-identical and the DuckDB oracle
    replays the arithmetic exactly."""
    mm = len(codebooks)
    s = len(codebooks[0][0])

    def dtab_sub(j: int) -> F.Column:
        # ONE transform lambda over the literal codeword array —
        # unrolling one expression per entry (m*k copies of the fold)
        # re-created the tree blowup the encode fix removed
        qsub = F.slice(F.col("qv"), j * s + 1, s)
        cbj = F.array(*[
            F.array(*[F.lit(float(x)) for x in cw])
            for cw in codebooks[j]
        ])

        def entry(cw):
            diff = F.zip_with(qsub, cw, lambda a, b: a - b)
            return _dot(diff, diff)

        return F.transform(cbj, entry)

    dtab = F.array(*[dtab_sub(j) for j in range(mm)])
    q = queries.select(
        "query_id",
        F.col("qvec").cast("array<double>").alias("qv"),
    ).withColumn("_dtab", dtab).drop("qv")
    paired = codes.crossJoin(F.broadcast(q))

    def subdist(acc, j):
        return acc + F.element_at(
            F.element_at(F.col("_dtab"), (j + 1).cast("int")),
            (F.element_at(F.col("codes"), (j + 1).cast("int")) + 1)
            .cast("int"),
        )

    d2 = F.aggregate(
        F.sequence(F.lit(0), F.lit(mm - 1)), F.lit(0.0), subdist
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2_adc").asc(), F.col("neighbor_id").asc()
    )
    return (
        paired.select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            d2.alias("d2_adc"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_TOPK)
        .select("query_id", "neighbor_id", "rank", "d2_adc")
    )

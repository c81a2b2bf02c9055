"""Dedup + similarity operators on small constructed corpora."""

import math

from pyspark.sql import functions as F

from osm_jl_spark.operators import dedup as D
from osm_jl_spark.operators import similarity as S


def _corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river"),
        (2, "the quick brown fox jumps over the lazy dog near the river"),
        (3, "the quick brown fox jumps over the lazy dog near the sea"),
        (4, "completely different text about spark dataframes and shuffles"),
        (5, "another unrelated document mentioning tiles cells and joins"),
    ]
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


def test_exact_dedup(spark):
    docs = _corpus(spark)
    groups = D.exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 2 and groups[0]["keep_id"] == 1
    kept = {r["doc_id"] for r in D.exact_dedup(docs).collect()}
    assert kept == {1, 3, 4, 5}


def test_ngram_jaccard_exact_value(spark, monkeypatch):
    monkeypatch.setattr(D, "JACCARD_THRESHOLD", 0.2)
    docs = _corpus(spark)
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs).collect()
    }
    assert pairs[(1, 2)] == 1.0
    # doc1 vs doc3: 12 tokens -> 10 shingles each, 9 shared
    j13 = pairs[(1, 3)]
    assert math.isclose(j13, 9 / 11), j13


def test_minhash_finds_near_dups(spark):
    docs = _corpus(spark)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_dedup_pairs(docs, threshold=0.5).collect()
    }
    assert (1, 2) in pairs
    assert (1, 4) not in pairs and (4, 5) not in pairs


def test_simhash_near_dups(spark, monkeypatch):
    monkeypatch.setattr(D, "SIMHASH_MAX_HAMMING", 10)
    docs = _corpus(spark)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_near_dups(docs).collect()
    }
    assert pairs.get((1, 2)) == 0
    assert (1, 4) not in pairs


def _vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.9, 0.2]),
        (4, [0.0, 0.0, 1.0]),
        (5, [0.5, 0.5, 0.5]),
    ]
    return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")


def test_cosine_topk_bruteforce(spark, monkeypatch):
    emb = _vectors(spark)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    monkeypatch.setattr(S, "TOPK", 3)
    rows = S.cosine_topk(emb, q).collect()
    order = [r["neighbor_id"] for r in sorted(rows, key=lambda r: r["rank"])]
    assert order == [0, 1, 5]


def test_embedding_near_dups(spark, monkeypatch):
    monkeypatch.setattr(D, "EMBED_THRESHOLD", 0.99)
    emb = _vectors(spark)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.embedding_near_dups(emb).collect()
    }
    assert pairs <= {(0, 1), (2, 3)}  # only near-parallel pairs survive


def test_ivf_self_is_rank1(spark, monkeypatch):
    emb = _vectors(spark)
    assigned, cents = S.build_ivf(emb, n_centroids=2)
    q = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    monkeypatch.setattr(S, "TOPK", 1)
    rows = S.ivf_topk(assigned, cents, q, nprobe=2).collect()
    for r in rows:
        assert r["neighbor_id"] == r["query_id"]


def test_contamination_pairs(spark):
    # eval item 100 is verbatim inside train doc 1 (containment 1.0
    # despite doc 1 being longer -> jaccard would miss it); eval 101
    # shares nothing
    train = spark.createDataFrame(
        [
            (1, "header text the quick brown fox jumps over the lazy "
                "dog trailer text"),
            (2, "completely different text about spark dataframes"),
        ],
        "doc_id BIGINT, text STRING",
    )
    ev = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),
            (101, "unrelated benchmark question about tiles"),
        ],
        "doc_id BIGINT, text STRING",
    )
    got = D.contamination_pairs(train, ev).collect()
    assert [(r["train_id"], r["eval_id"], r["containment"])
            for r in got] == [(1, 100, 1.0)]


def test_contamination_threshold_partial(spark, monkeypatch):
    # 4 tokens shared of eval's 6 -> 2 of 4 trigram shingles present
    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta other words here")],
        "doc_id BIGINT, text STRING",
    )
    ev = spark.createDataFrame(
        [(200, "alpha beta gamma delta epsilon zeta")],
        "doc_id BIGINT, text STRING",
    )
    monkeypatch.setattr(D, "CONTAMINATION_THRESHOLD", 0.4)
    out = D.contamination_pairs(train, ev).collect()
    assert len(out) == 1 and out[0]["containment"] == 0.5
    monkeypatch.setattr(D, "CONTAMINATION_THRESHOLD", 0.6)
    assert D.contamination_pairs(train, ev).count() == 0


def test_neardup_keep_best_argmax_not_min_id(spark):
    # cluster {1,2,3}: doc 2 is longest -> kept despite not min id;
    # doc 9 is a singleton -> own cluster
    docs = spark.createDataFrame(
        [
            (1, "a b c"),
            (2, "a b c d e"),
            (3, "a b c d"),
            (9, "unrelated text entirely"),
        ],
        "doc_id BIGINT, text STRING",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a BIGINT, id_b BIGINT"
    )
    from osm_jl_spark.functions.text import token_count_col

    got = {
        (r["cluster_id"], r["keep_id"])
        for r in D.neardup_keep_best(
            docs, pairs, token_count_col("text")
        ).collect()
    }
    assert got == {(1, 2), (9, 9)}


def test_snapshot_latest_keeps_newest_row(spark):
    import datetime as dt

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    crawls = spark.createDataFrame(
        [
            ("u1", t(1), 10),
            ("u1", t(3), 30),
            ("u1", t(2), 20),
            ("u2", t(5), 50),
        ],
        "url STRING, warc_ts TIMESTAMP_NTZ, fetch_h BIGINT",
    )
    got = {
        (r["url"], r["fetch_h"], r["n_caps"])
        for r in D.snapshot_latest(crawls).collect()
    }
    # the whole winning ROW is kept (fetch_h travels with the max ts)
    assert got == {("u1", 30, 3), ("u2", 50, 1)}


def test_snapshot_latest_single_exchange(spark):
    """max_by(struct, ts) must plan as ONE hash-partition shuffle on
    the key with a map-side partial aggregate — the scale argument vs
    the window row_number formulation (which sorts every capture)."""
    from osm_jl_spark.plans.digest import digest

    from osm_jl_spark import datagen as G

    crawls = G.load_crawls(spark, 200)
    d = digest(D.snapshot_latest(crawls))
    assert d.exchanges == 1, d.plan
    assert "partial_max_by" in d.plan, d.plan


def test_simhash_bucket_cap_bounds_hot_buckets(spark, monkeypatch):
    """SIMHASH_BUCKET_CAP bounds a hot block bucket's pair blowup while
    pairs among the kept (lowest-id) docs stay exact."""
    rows = [(i, "alpha beta gamma delta " * 6) for i in range(12)]
    rows += [(100 + i, f"unrelated text {i} " + "x y z " * 10)
             for i in range(3)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    full_pairs = {(r["id_a"], r["id_b"])
                  for r in D.simhash_near_dups(docs).collect()}
    monkeypatch.setattr(D, "SIMHASH_BUCKET_CAP", 5)
    capped_pairs = {(r["id_a"], r["id_b"])
                    for r in D.simhash_near_dups(docs).collect()}
    # identical docs 0..11 all pair up uncapped: 66 pairs
    assert {(a, b) for a, b in full_pairs if a < 12 and b < 12} == {
        (a, b) for a in range(12) for b in range(12) if a < b
    }
    # capped keeps exactly the pairs among the 5 lowest ids per bucket
    assert {(a, b) for a, b in capped_pairs if a < 12 and b < 12} == {
        (a, b) for a in range(5) for b in range(5) if a < b
    }
    assert capped_pairs <= full_pairs


def test_line_dedup_strips_cross_doc_lines_in_order(spark):
    """CCNet/C4-style boilerplate stripping: a line in >= LINE_MIN_DF
    distinct docs is removed everywhere; unique lines survive in their
    original order; blank lines (below min_len) never participate."""
    rows = [
        (1, "NAV MENU\nunique one\n\nbody of doc one\nCOPYRIGHT"),
        (2, "NAV MENU\nunique two\n\nbody of doc two\nCOPYRIGHT"),
        (3, "NAV MENU\nunique three\nCOPYRIGHT"),
        (4, "standalone document with no boilerplate at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = {r["doc_id"]: r for r in D.line_dedup(docs).collect()}
    assert out[1]["clean_text"] == "unique one\n\nbody of doc one"
    assert out[1]["n_lines"] == 5 and out[1]["n_kept"] == 3
    assert out[2]["clean_text"] == "unique two\n\nbody of doc two"
    assert out[3]["clean_text"] == "unique three"
    assert out[4]["clean_text"] == rows[3][1]  # untouched
    assert out[4]["n_lines"] == 1 and out[4]["n_kept"] == 1


def test_line_dedup_within_doc_repeats_have_df_1(spark, monkeypatch):
    """Document frequency counts DOCUMENTS: a line repeated 50x inside
    one doc is kept (df=1), and all 50 copies survive."""
    spam = "\n".join(["repeated line"] * 50)
    docs = spark.createDataFrame(
        [(1, spam), (2, "something else entirely")],
        "doc_id BIGINT, text STRING",
    )
    monkeypatch.setattr(D, "LINE_MIN_DF", 2)
    out = {r["doc_id"]: r for r in D.line_dedup(docs).collect()}
    assert out[1]["clean_text"] == spam
    assert out[1]["n_kept"] == 50


def test_line_dedup_all_removed_doc_keeps_empty_row(spark, monkeypatch):
    """A doc made ENTIRELY of boilerplate still emits a row (empty
    clean text) — dropping it would silently shrink the corpus row
    count, breaking downstream joins keyed on doc_id."""
    docs = spark.createDataFrame(
        [(1, "SAME"), (2, "SAME"), (3, "SAME\nplus extra")],
        "doc_id BIGINT, text STRING",
    )
    monkeypatch.setattr(D, "LINE_MIN_DF", 2)
    out = {r["doc_id"]: r for r in D.line_dedup(docs).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["clean_text"] == "" and out[1]["n_kept"] == 0
    assert out[3]["clean_text"] == "plus extra"


def test_line_dedup_blank_lines_exempt_and_null_text(spark, monkeypatch):
    """Blank lines appear in EVERY doc yet are never removed
    (min_len exempts them — they are structure, not boilerplate);
    NULL text behaves as empty instead of dropping the row."""
    docs = spark.createDataFrame(
        [(1, "a\n\nx y z"), (2, "b\n\nq r s"), (3, None), (4, "c\n\nt u")],
        "doc_id BIGINT, text STRING",
    )
    monkeypatch.setattr(D, "LINE_MIN_DF", 2)
    out = {r["doc_id"]: r for r in D.line_dedup(docs).collect()}
    assert out[1]["clean_text"] == "a\n\nx y z"
    assert out[3]["clean_text"] == "" and out[3]["n_lines"] == 1


def test_window_dup_stats_cross_doc_only(spark, monkeypatch):
    """Lee-et-al window dedup: a window shared by two docs is counted
    for both; a window repeated INSIDE one doc (df=1) is not; docs
    shorter than a window emit no row."""
    monkeypatch.setattr(D, "WINDOW_TOKENS", 4)
    shared = "alpha bravo charlie delta"  # one 4-token window
    rows = [
        (1, shared + " one two three"),
        (2, shared + " four five six"),
        (3, "hop skip hop skip hop skip hop skip"),  # internal repeat
        (4, "too short"),
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = {
        r["doc_id"]: r
        for r in D.duplicated_window_stats(docs).collect()
    }
    assert set(out) == {1, 2, 3}  # doc 4 < w tokens: no row
    # docs 1/2: 7 tokens -> 4 windows, only the leading one is shared
    assert out[1]["n_windows"] == 4 and out[1]["n_dup_windows"] == 1
    assert out[2]["n_windows"] == 4 and out[2]["n_dup_windows"] == 1
    # doc 3: 8 tokens -> 5 positional windows but only 2 DISTINCT
    # ("hop skip hop skip" / "skip hop skip hop"), both df=1 -> 0 dups
    assert out[3]["n_windows"] == 2 and out[3]["n_dup_windows"] == 0


def test_window_dup_stats_df_threshold(spark, monkeypatch):
    """WINDOW_MIN_DF=3: a window in exactly two docs stays below
    threshold."""
    monkeypatch.setattr(D, "WINDOW_TOKENS", 4)
    monkeypatch.setattr(D, "WINDOW_MIN_DF", 3)
    rows = [
        (1, "red green blue yellow tail1"),
        (2, "red green blue yellow tail2"),
        (3, "red green blue yellow tail3"),
        (4, "red green blue purple tail4"),
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out3 = {
        r["doc_id"]: r["n_dup_windows"]
        for r in D.duplicated_window_stats(docs).collect()
    }
    # "red green blue yellow" has df=3 -> dup for docs 1-3; doc 4's
    # windows all have df<3
    assert out3[1] == 1 and out3[2] == 1 and out3[3] == 1 and out3[4] == 0


def test_remove_duplicated_windows_semantics(spark, monkeypatch):
    """Exact-substring removal: a cross-doc window is cut from every
    doc carrying it; an internal repeat (df=1) survives; docs shorter
    than a window and null-text docs pass through untouched."""
    monkeypatch.setattr(D, "WINDOW_TOKENS", 4)
    rows = [
        (1, "alpha bravo charlie delta one two three"),
        (2, "alpha bravo charlie delta four five six"),
        (3, "hop skip hop skip hop skip hop skip"),
        (4, "too short"),
        (5, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = {
        r["doc_id"]: r
        for r in D.remove_duplicated_windows(docs).collect()
    }
    assert out[1]["clean_text"] == "one two three"
    assert out[1]["n_tokens"] == 7 and out[1]["n_removed"] == 4
    assert out[2]["clean_text"] == "four five six"
    assert out[3]["clean_text"] == rows[2][1]  # df=1: untouched
    assert out[3]["n_removed"] == 0
    assert out[4]["clean_text"] == "too short"
    assert out[5]["clean_text"] == "" and out[5]["n_tokens"] == 0


def test_remove_duplicated_windows_overlap_covers_union(spark, monkeypatch):
    """Overlapping dup windows remove the UNION of covered tokens: two
    docs sharing a 5-token run with 4-token windows have dup windows at
    starts 1 and 2, so all 5 tokens go."""
    monkeypatch.setattr(D, "WINDOW_TOKENS", 4)
    rows = [
        (1, "v w x y z tail1"),
        (2, "v w x y z tail2"),
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = {
        r["doc_id"]: r
        for r in D.remove_duplicated_windows(docs).collect()
    }
    assert out[1]["clean_text"] == "tail1" and out[1]["n_removed"] == 5
    assert out[2]["clean_text"] == "tail2" and out[2]["n_removed"] == 5


def _sse(spark, emb, centroids):
    from osm_jl_spark.operators.similarity import _nearest_centroid

    return (
        emb.select(
            _nearest_centroid(F.col("embedding"), centroids)["d"].alias("d")
        )
        .agg(F.sum("d").alias("s"))
        .first()["s"]
    )


def test_build_ivf_lloyd_refinement(spark, monkeypatch):
    # a larger deterministic cloud so refinement has something to move
    # +1 keeps every coordinate strictly positive: a zero vector would
    # hit ANSI DIVIDE_BY_ZERO in the unguarded brute-force cosine
    rows = [
        (i, [float((i * 2654435761) % 97 + 1) / 98.0,
             float((i * 40503) % 89 + 1) / 90.0,
             float((i * 69069) % 83 + 1) / 84.0])
        for i in range(300)
    ]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    a0, c0 = S.build_ivf(emb, n_centroids=8, refine=0)
    a2, c2 = S.build_ivf(emb, n_centroids=8, refine=2)
    # Lloyd's invariant: each assign+recenter step never increases SSE
    assert _sse(spark, emb, c2) <= _sse(spark, emb, c0) + 1e-9
    # determinism: same inputs, same centroids
    _, c2b = S.build_ivf(emb, n_centroids=8, refine=2)
    assert c2 == c2b
    # no-loss invariant survives refinement: probing ALL buckets of the
    # refined index equals brute force exactly
    q = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    monkeypatch.setattr(S, "TOPK", 3)
    brute = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in S.cosine_topk(emb, q, rank_round=9).collect()
    }
    ivf = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in S.ivf_topk(a2, c2, q, nprobe=8, rank_round=9).collect()
    }
    assert ivf == brute

"""Dedup and similarity queries on the driver's ``documents`` and
``embeddings`` views: exact, line and window dedup, shingle, MinHash
and SimHash near-dups, contamination, embedding kNN, IVF and PQ."""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_jl_spark.operators import dedup as D
from osm_jl_spark.operators import similarity as S
from registry.common import NORM, _pq, query


def _docs2x(docs: DataFrame) -> DataFrame:
    """documents unioned with an id-shifted copy -> guaranteed exact
    duplicates for the dedup operators."""
    return docs.select("doc_id", "text").unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )


_DOCS2X_SQL = """docs2x AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents
)"""


def _neardup_corpus(docs: DataFrame) -> DataFrame:
    """Small corpus with synthetic near-duplicates (one token appended)
    for the similarity-dedup operators."""
    base = docs.filter(F.col("doc_id") < 150).select("doc_id", "text")
    mod = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extratoken")).alias("text"),
    )
    return base.unionByName(mod)


_NEARDUP_SQL = """neardup AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 150
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, concat(text, ' extratoken') AS text
  FROM documents WHERE doc_id < 150
)"""


# exact_dedup's survivors (kind 'keep') and exact_duplicates' groups
# of two or more (kind 'group': fingerprint, size, kept id)
@query("dedup_exact_keep", f"""WITH {_DOCS2X_SQL},
g AS (SELECT md5({NORM}) AS fp, count(*) AS n_docs, min(doc_id) AS doc_id
      FROM docs2x GROUP BY 1)
SELECT 'keep' AS kind, doc_id, NULL::VARCHAR AS fp, NULL::BIGINT AS n_docs
FROM g
UNION ALL SELECT 'group', doc_id, fp, n_docs FROM g WHERE n_docs >= 2""")
def dedup_exact_keep_q(spark, sf_dir):
    docs = _docs2x(_pq(spark, sf_dir, "documents"))
    keep = D.exact_dedup(docs).select(
        F.lit("keep").alias("kind"), "doc_id",
        F.lit(None).cast("string").alias("fp"),
        F.lit(None).cast("long").alias("n_docs"),
    )
    groups = D.exact_duplicates(docs).select(
        F.lit("group").alias("kind"), F.col("keep_id").alias("doc_id"),
        "fp", "n_docs",
    )
    return keep.unionByName(groups)


# line_dedup: expected cleaned text constructed INDEPENDENTLY by
# arithmetic — at sf0.01 every boilerplate line (per-site header /
# footer: df ~ 500/17 ~ 29; cookie banner: df = 250) clears
# LINE_MIN_DF=3 and every doc-id-bearing line has df=1, so the clean
# text is exactly article + blank + body, in order.
@query("line_dedup", """
SELECT doc_id,
       md5('article ' || CAST(doc_id AS VARCHAR) || ' headline '
           || CAST((doc_id * 31 + 7) % 1000 AS VARCHAR)
           || chr(10) || chr(10)
           || 'body ' || CAST(doc_id AS VARCHAR) || ' '
           || substr(text, 1, 40)) AS clean_md5,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 6 ELSE 5 END AS BIGINT)
         AS n_lines,
       CAST(3 AS BIGINT) AS n_kept
FROM documents""")
def line_dedup_q(spark, sf_dir):
    # CCNet/C4-style line-level dedup (operators/dedup.py
    # line_dedup): strip lines occurring in >= LINE_MIN_DF distinct
    # docs. The corpus is built deterministically from documents:
    # every doc gets a per-site header + footer (site = doc_id %
    # 17, so each boilerplate line spans ~n/17 docs), a global
    # cookie banner on even ids (df = n/2), a blank separator
    # (ineligible: always kept), and two genuinely unique lines
    # (they embed doc_id). The DuckDB oracle CONSTRUCTS the
    # expected cleaned text independently by the same arithmetic —
    # it never runs a dedup — so a pass proves the operator
    # removed exactly the cross-document lines and nothing else,
    # in order, blank line preserved.
    docs = _pq(spark, sf_dir, "documents")
    d = F.col("doc_id")
    site = (d % 17).cast("string")
    txt = F.concat_ws(
        "\n",
        F.concat(F.lit("home about products site "), site),
        F.concat(
            F.lit("article "), d.cast("string"),
            F.lit(" headline "), ((d * 31 + 7) % 1000).cast("string"),
        ),
        F.lit(""),  # blank separator: below LINE_MIN_LEN, always kept
        F.concat(
            F.lit("body "), d.cast("string"), F.lit(" "),
            F.substring("text", 1, 40),
        ),
        # concat_ws SKIPS null args: odd docs get 5 lines, even 6
        F.when(d % 2 == 0, F.lit("accept all cookies")),
        F.concat(F.lit("copyright site "), site),
    )
    corpus = docs.select("doc_id", txt.alias("text"))
    out = D.line_dedup(corpus)
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        "n_lines",
        "n_kept",
    )


# window STRINGS, not hashes: the oracle replays the whole
# computation engine-independently (tokenize -> 8-token windows ->
# per-doc distinct -> cross-doc df -> per-doc counts)
@query("window_dup_stats", """WITH corpus AS (
  SELECT doc_id,
         'welcome to site ' || CAST(doc_id % 17 AS VARCHAR)
         || ' home of site ' || CAST(doc_id % 17 AS VARCHAR)
         || ' news and weather updates ' || text AS text
  FROM documents
),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ts
  FROM corpus
),
wins AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(ts) - 6),
           i -> array_to_string(ts[i:i+7], ' '))) AS ws
  FROM toks WHERE len(ts) >= 8
),
ex AS (SELECT doc_id, unnest(ws) AS wstr FROM wins),
hot AS (SELECT wstr FROM ex GROUP BY wstr HAVING count(*) >= 2)
SELECT e.doc_id, count(*) AS n_windows, count(h.wstr) AS n_dup_windows
FROM ex e LEFT JOIN hot h ON e.wstr = h.wstr
GROUP BY e.doc_id""")
def window_dup_stats_q(spark, sf_dir):
    # exact-substring duplication profile (operators/dedup.py:
    # duplicated_window_stats, Lee et al. 2022 window granularity).
    # Corpus: each doc is its text prefixed by a per-site
    # boilerplate sentence (site = doc_id % 17 -> every site
    # sentence spans ~n/17 docs, guaranteeing real cross-document
    # windows), so n_dup_windows is meaningfully nonzero. The
    # DuckDB oracle RUNS the full computation independently over
    # window STRINGS (no hashing) — an engine-independent replica,
    # not a re-derivation.
    docs = _pq(spark, sf_dir, "documents")
    site = (F.col("doc_id") % 17).cast("string")
    txt = F.concat(
        F.lit("welcome to site "), site,
        F.lit(" home of site "), site,
        F.lit(" news and weather updates "),
        F.col("text"),
    )
    corpus = docs.select("doc_id", txt.alias("text"))
    return D.duplicated_window_stats(corpus)


# the removal transform, replayed end to end over window STRINGS:
# hot windows -> per-doc duplicated start positions -> covered-
# token filter -> single-space re-join. Every stage recomputed
# independently; no hashing shared with the engine.
@query("window_dedup_clean", """WITH corpus AS (
  SELECT doc_id,
         'welcome to site ' || CAST(doc_id % 17 AS VARCHAR)
         || ' home of site ' || CAST(doc_id % 17 AS VARCHAR)
         || ' news and weather updates ' || text AS text
  FROM documents
),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ts
  FROM corpus
),
base AS (
  SELECT doc_id, ts, greatest(len(ts) - 7, 0) AS nw FROM toks
),
ex AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, nw + 1),
           i -> array_to_string(ts[i:i+7], ' ')))) AS wstr
  FROM base WHERE nw >= 1
),
hot AS (SELECT wstr FROM ex GROUP BY wstr HAVING count(*) >= 2),
doc_hot AS (
  SELECT e.doc_id, list(e.wstr) AS hws
  FROM ex e JOIN hot h ON e.wstr = h.wstr
  GROUP BY e.doc_id
),
j AS (
  SELECT b.doc_id, b.ts, b.nw, coalesce(d.hws, []) AS hws
  FROM base b LEFT JOIN doc_hot d ON b.doc_id = d.doc_id
),
s AS (
  SELECT doc_id, ts,
         list_filter(range(1, nw + 1),
           i -> list_contains(hws, array_to_string(ts[i:i+7], ' ')))
           AS starts
  FROM j
),
k AS (
  SELECT doc_id, ts,
         list_transform(
           list_filter(range(1, len(ts) + 1),
             p -> len(list_filter(starts,
                    st -> p >= st AND p <= st + 7)) = 0),
           p -> ts[p]) AS kept
  FROM s
)
SELECT doc_id,
       -- DuckDB's array_to_string([]) is NULL where Spark's
       -- concat_ws is '' — normalize the fully-scrubbed-doc case
       coalesce(array_to_string(kept, ' '), '') AS clean_text,
       len(ts) AS n_tokens,
       len(ts) - len(kept) AS n_removed
FROM k""")
def window_dedup_clean_q(spark, sf_dir):
    # the REMOVAL counterpart (operators/dedup.py:
    # remove_duplicated_windows): cut every cross-document 8-token
    # window out of the same boilerplate-prefixed corpus as
    # window_dup_stats — the per-site prefix is shared by ~n/17
    # docs, so whole-prefix removal is exercised on every doc.
    # Oracle: full engine-independent replay over window STRINGS
    # (tokenize -> hot windows -> per-doc covered positions ->
    # token filter -> re-join), no shared hashing.
    docs = _pq(spark, sf_dir, "documents")
    site = (F.col("doc_id") % 17).cast("string")
    txt = F.concat(
        F.lit("welcome to site "), site,
        F.lit(" home of site "), site,
        F.lit(" news and weather updates "),
        F.col("text"),
    )
    corpus = docs.select("doc_id", txt.alias("text"))
    return D.remove_duplicated_windows(corpus)


shingle_ctes = f"""{_NEARDUP_SQL},
toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM neardup
),
pos AS (SELECT range + 1 AS j FROM range(200)),
sh AS (
  SELECT DISTINCT t.doc_id, array_to_string(list_slice(t.tk, p.j, p.j + 2), ' ') AS s
  FROM toks t, pos p WHERE p.j <= len(t.tk) - 2
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS i
  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)"""


@query("ngram_jaccard_pairs", f"""WITH {shingle_ctes}
SELECT i.id_a, i.id_b,
       i.i / (sa.sz + sb.sz - i.i) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE i.i / (sa.sz + sb.sz - i.i) >= 0.5""")
def ngram_jaccard_q(spark, sf_dir):
    corpus = _neardup_corpus(_pq(spark, sf_dir, "documents"))
    return D.ngram_jaccard_pairs(corpus)


# same jaccard>=0.5 edge set, then min-reachable-id per node via a
# recursive CTE — the oracle for the iterative min-label
# propagation in operators/graph.py:connected_components
@query("dedup_clusters", f"""WITH RECURSIVE {shingle_ctes},
pairs AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
  WHERE i.i / (sa.sz + sb.sz - i.i) >= 0.5
),
und AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(n, m) AS (
  SELECT a, a FROM und
  UNION
  SELECT r.n, u.b FROM reach r JOIN und u ON r.m = u.a
)
SELECT CAST(n AS BIGINT) AS doc_id, CAST(min(m) AS BIGINT) AS cluster_id
FROM reach GROUP BY n""")
def dedup_clusters_q(spark, sf_dir):
    # near-dup pair graph -> cluster labels: the step a training
    # pipeline runs after pair generation (keep one doc per
    # cluster). Iterative min-label propagation, labels in
    # DataFrames end to end (operators/graph.py). Oracle: DuckDB
    # recursive CTE computing min reachable id over the same
    # exact-jaccard edge set.
    from osm_jl_spark.operators.graph import connected_components

    corpus = _neardup_corpus(_pq(spark, sf_dir, "documents"))
    pairs = D.ngram_jaccard_pairs(corpus)
    e = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    cc = connected_components(edges)
    return cc.select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("comp").cast("long").alias("cluster_id"),
    )


# same cluster labels, then argmax-by-(token count, min id) per
# cluster; singleton docs are their own cluster
@query("neardup_keep_best", f"""WITH RECURSIVE {shingle_ctes},
pairs AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
  WHERE i.i / (sa.sz + sb.sz - i.i) >= 0.5
),
und AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(n, m) AS (
  SELECT a, a FROM und
  UNION
  SELECT r.n, u.b FROM reach r JOIN und u ON r.m = u.a
),
labels AS (SELECT n AS doc_id, min(m) AS comp FROM reach GROUP BY n),
scored AS (
  SELECT nd.doc_id,
         COALESCE(l.comp, nd.doc_id) AS cluster_id,
         len(list_filter(string_split(nd.text, ' '), x -> x <> '')) AS s
  FROM neardup nd LEFT JOIN labels l ON l.doc_id = nd.doc_id
),
best AS (
  SELECT cluster_id, doc_id,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY s DESC, doc_id ASC) AS rk
  FROM scored
)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(doc_id AS BIGINT) AS keep_id
FROM best WHERE rk = 1""")
def neardup_keep_best_q(spark, sf_dir):
    # pair graph -> clusters -> keep the BEST doc per cluster
    # (most tokens, tie min id): the '+extratoken' variants are
    # one token longer than their sources, so the kept doc is the
    # HIGHER id of each pair — pins that this is argmax-by-score,
    # not exact dedup's min-id
    from osm_jl_spark.functions.text import token_count_col

    corpus = _neardup_corpus(_pq(spark, sf_dir, "documents"))
    pairs = D.ngram_jaccard_pairs(corpus)
    return D.neardup_keep_best(
        corpus, pairs, token_count_col("text")
    ).select(
        F.col("cluster_id").cast("long"),
        F.col("keep_id").cast("long"),
    )


# The registered queries hash shingles with md5_60 (minhash's
# hash_fn='md5_60', simhash's only hash): shingle hash = top 15
# md5 hex digits, reproduced here as CAST('0x'||substr(md5(s),1,15)
# AS BIGINT) — verified bit-identical to Spark's
# conv(substr(md5(s),1,15),16,10).

def _sh_cte(n: int) -> str:
    """Shingle-hash CTE over the neardup corpus for n-gram size n."""
    return f"""{_NEARDUP_SQL},
toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM neardup
),
pos AS (SELECT range + 1 AS j FROM range(200)),
sgs AS (
  SELECT DISTINCT t.doc_id,
         array_to_string(list_slice(t.tk, p.j, p.j + {n - 1}), ' ') AS s
  FROM toks t, pos p WHERE p.j <= len(t.tk) - {n - 1}
),
sh AS (
  SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h
  FROM sgs
)"""


_rng = random.Random(42)
_M31 = (1 << 31) - 1
_ab = [(_rng.randrange(1, _M31), _rng.randrange(0, _M31))
       for _ in range(32)]
perm_vals = ", ".join(f"({k}, {a}, {b})" for k, (a, b) in enumerate(_ab))


# engine semantics replicated exactly: 32 permutations (a*h'+b) mod
# M31 over h' = h mod M31, per-doc min per permutation; banding = a
# pair must agree on all 4 values of at least one of 8 bands (the
# engine buckets on xxhash64 of the band slice — equal slices iff
# equal hashes, collisions aside); est_jaccard = matches/32 >= 0.5.
@query("minhash_pairs", f"""WITH {_sh_cte(3)},
perm(k, a, b) AS (SELECT * FROM (VALUES {perm_vals}) v(k, a, b)),
sigs AS (
  SELECT doc_id, p.k, min((p.a * (h % {_M31}) + p.b) % {_M31}) AS sv
  FROM sh, perm p GROUP BY doc_id, p.k
),
bandeq AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, x.k // 4 AS band,
         sum(CASE WHEN x.sv = y.sv THEN 1 ELSE 0 END) AS eq
  FROM sigs x JOIN sigs y ON x.k = y.k AND x.doc_id < y.doc_id
  GROUP BY 1, 2, 3
),
pairs AS (
  SELECT id_a, id_b, sum(eq) AS matches,
         max(CASE WHEN eq = 4 THEN 1 ELSE 0 END) AS shares_band
  FROM bandeq GROUP BY 1, 2
)
SELECT id_a, id_b, matches / 32.0 AS est_jaccard
FROM pairs WHERE shares_band = 1 AND matches / 32.0 >= 0.5""")
def minhash_pairs_q(spark, sf_dir):
    # md5_60 hash variant: bit-identical shingle hashes in DuckDB,
    # so the full minhash pipeline (signatures -> banding -> est
    # jaccard) is value-checked by the oracle. Production default
    # stays xxhash64 (faster, same plan).
    corpus = _neardup_corpus(_pq(spark, sf_dir, "documents"))
    return D.minhash_dedup_pairs(corpus, threshold=0.5, hash_fn="md5_60")


# simhash: bit votes over the 60-bit hash (bits 60..63 are always 0
# so the vote loop stops at 60); hamming via bit_count(xor). The
# engine's 16-bit block banding is COMPLETE for hamming <= 3 by
# pigeonhole (4 blocks, <= 3 differing bits -> >= 1 equal block),
# so the brute-force pair scan here is exactly equivalent.
@query("simhash_pairs", f"""WITH {_sh_cte(2)},
bits AS (SELECT unnest(range(0, 60)) AS bit),
votes AS (
  SELECT doc_id, bit,
         sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM sh, bits GROUP BY 1, 2
),
sims AS (
  SELECT doc_id,
         sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS simhash
  FROM votes GROUP BY 1
)
SELECT x.doc_id AS id_a, y.doc_id AS id_b,
       bit_count(xor(x.simhash, y.simhash)) AS hamming
FROM sims x JOIN sims y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.simhash, y.simhash)) <= 3""")
def simhash_pairs_q(spark, sf_dir):
    corpus = _neardup_corpus(_pq(spark, sf_dir, "documents"))
    return D.simhash_near_dups(corpus)


# asymmetric containment over the same shingle machinery: eval
# items are 15-token prefixes of doc_id % 37 == 0 docs; a train
# doc is contaminated when it holds >=80% of the eval shingles
@query("contamination", f"""WITH {_NEARDUP_SQL},
toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM neardup
),
ev AS (
  SELECT doc_id AS eval_id,
         list_filter(list_slice(tk, 1, 15), t -> t <> '') AS tk
  FROM toks WHERE doc_id % 37 = 0 AND doc_id < 150
),
pos AS (SELECT range + 1 AS j FROM range(200)),
tsh AS (
  SELECT DISTINCT t.doc_id, array_to_string(list_slice(t.tk, p.j, p.j + 2), ' ') AS s
  FROM toks t, pos p WHERE p.j <= len(t.tk) - 2
),
esh AS (
  SELECT DISTINCT e.eval_id, array_to_string(list_slice(e.tk, p.j, p.j + 2), ' ') AS s
  FROM ev e, pos p WHERE p.j <= len(e.tk) - 2
),
esz AS (SELECT eval_id, count(*) AS sz FROM esh GROUP BY 1),
icnt AS (
  SELECT t.doc_id AS train_id, e.eval_id, count(*) AS i
  FROM tsh t JOIN esh e ON t.s = e.s GROUP BY 1, 2
)
SELECT i.train_id, i.eval_id, i.i / z.sz AS containment
FROM icnt i JOIN esz z ON z.eval_id = i.eval_id
WHERE i.i / z.sz >= 0.8""")
def contamination_q(spark, sf_dir):
    # train/eval decontamination: eval items are 15-token
    # prefixes of a sample of docs; flag train docs containing
    # >=80% of an eval item's trigram shingles. The near-dup
    # corpus makes the asymmetry visible: the '+extratoken'
    # variant has MORE shingles than the eval prefix (jaccard
    # would dilute below 1.0) yet containment stays 1.0.
    corpus = _neardup_corpus(_pq(spark, sf_dir, "documents"))
    from osm_jl_spark.functions.text import tokens_col

    ev = corpus.filter(
        (F.col("doc_id") % 37 == 0) & (F.col("doc_id") < 150)
    ).select(
        "doc_id",
        F.concat_ws(" ", F.slice(tokens_col("text"), 1, 15))
        .alias("text"),
    )
    return D.contamination_pairs(corpus, ev).select(
        "train_id", "eval_id", "containment"
    )


# bloom decontamination: replay every probe position with the
# identical md5-substring arithmetic, then use SET membership
# (pos IN eval positions) in place of the bitmap — the bits set
# in the filter are exactly the eval position set, so the two
# formulations are value-equal while sharing no structure
@query("bloom_contamination", f"""WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM documents
),
js AS (SELECT range + 1 AS j FROM range(200)),
tsh AS (
  SELECT DISTINCT t.doc_id,
         array_to_string(list_slice(t.tk, p.j, p.j + 2), ' ') AS s
  FROM toks t, js p WHERE p.j <= len(t.tk) - 2
),
probes AS (
  SELECT doc_id, s,
         (CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)
          + r.range * (CAST('0x' || substr(md5(s), 16, 12) AS BIGINT)
                       * 2 + 1)) % {D.BLOOM_M_BITS} AS pos
  FROM tsh, range({D.BLOOM_K}) r
),
ev_pos AS (
  SELECT DISTINCT pos FROM probes WHERE doc_id % 7 = 0
),
hit AS (
  SELECT p.doc_id, p.s,
         bool_and(e.pos IS NOT NULL) AS might
  FROM probes p LEFT JOIN ev_pos e ON e.pos = p.pos
  GROUP BY 1, 2
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN might THEN 1 ELSE 0 END) AS BIGINT)
         AS bloom_hits,
       CAST(CASE WHEN 2 * sum(CASE WHEN might THEN 1 ELSE 0 END)
                      >= count(*)
                 THEN 1 ELSE 0 END AS INT) AS contaminated
FROM hit GROUP BY doc_id""")
def bloom_contamination_q(spark, sf_dir):
    # approximate decontamination against a FIXED-SIZE Bloom
    # filter of the eval set (operators/dedup.py:
    # bloom_contamination): eval = every 7th document, m =
    # BLOOM_M_BITS (2^14) bits, k = BLOOM_K (3) double-hashed md5
    # probes. Per train doc:
    # (n_shingles, bloom_hits, contaminated) with contaminated =
    # integer containment >= 1/2. The 2^14 bitmap is deliberately
    # small at this corpus (~55% loaded) so FALSE POSITIVES are
    # exercised, not just the no-false-negative easy half; the
    # DuckDB oracle replays every probe position (same md5
    # substring arithmetic) and the SET-membership formulation —
    # semantically equal to the bitmap but structurally
    # independent, the anti-copy oracle style.
    docs = _pq(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 7 == 0).select("text")
    return D.bloom_contamination(docs, ev).select(
        "doc_id", "n_shingles", "bloom_hits", "contaminated"
    )


# SemDeDup replay: every distance and cosine is the SAME
# left-to-right fold as the Spark plan (list_reduce == F.aggregate
# element order; 0.0 + x1 == x1 exactly, so the missing init is
# immaterial) over the identical stored doubles — assignment
# argmin (d2, cid), intra-cluster pair search, and the
# lowest-id-survives keep policy are all bit-exact by construction
@query("semdedup_clusters", """WITH
e AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 10000, CAST(embedding AS DOUBLE[]) FROM embeddings
),
c AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id % 125 = 0
),
d AS (
  SELECT e.id, c.cid,
         list_reduce(list_transform(list_zip(e.v, c.cv),
           z -> (z[1] - z[2]) * (z[1] - z[2])),
           (acc, x) -> acc + x) AS d2
  FROM e CROSS JOIN c
),
a AS (
  SELECT id, cid AS cluster FROM (
    SELECT id, cid,
           row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
    FROM d
  ) WHERE rn = 1
),
av AS (SELECT a.id, a.cluster, e.v FROM a JOIN e USING (id)),
drp AS (
  SELECT DISTINCT y.id AS id_b
  FROM av x JOIN av y ON x.cluster = y.cluster AND x.id < y.id
  WHERE list_reduce(list_transform(list_zip(x.v, y.v),
          z -> z[1] * z[2]), (acc, w) -> acc + w)
        / (CASE WHEN
            sqrt(list_reduce(list_transform(list_zip(x.v, x.v),
              z -> z[1] * z[2]), (acc, w) -> acc + w))
          * sqrt(list_reduce(list_transform(list_zip(y.v, y.v),
              z -> z[1] * z[2]), (acc, w) -> acc + w)) = 0 THEN 1
           ELSE
            sqrt(list_reduce(list_transform(list_zip(x.v, x.v),
              z -> z[1] * z[2]), (acc, w) -> acc + w))
          * sqrt(list_reduce(list_transform(list_zip(y.v, y.v),
              z -> z[1] * z[2]), (acc, w) -> acc + w)) END)
        >= 0.95
)
SELECT av.id, av.cluster,
       av.id NOT IN (SELECT id_b FROM drp) AS keep
FROM av""")
def semdedup_q(spark, sf_dir):
    # SemDeDup-style cluster-bounded semantic dedup
    # (operators/similarity.py:semdedup): medoid centroids (the
    # stored vectors of ids % 125 == 0, originals only), assignment
    # by exact L2 argmin, near-dup pair search ONLY inside each
    # cluster, keep = lowest id of every duplicate group. The
    # corpus is the id-shifted union (copies at +10000 are exact
    # dups, cosine == 1 bit-for-bit) so the keep policy has real
    # work. Every distance/cosine is a LEFT-TO-RIGHT F.aggregate
    # fold that the DuckDB oracle replays bit-exactly with
    # list_reduce over the identical stored doubles — assignment,
    # pair search, and keep all hash-exact, no rounding anywhere.
    emb = _pq(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    emb2 = emb.select("vec_id", "embedding").unionByName(
        emb.select(
            (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
        )
    )
    centers = emb.where(F.col("vec_id") % 125 == 0)
    return S.semdedup(emb2, centroids=centers).select(
        "id", "cluster", "keep"
    )


_KNN_SQL = f"""WITH
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
s AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(e.v, q.qv) AS cosine
  FROM e, q
),
r AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY round(cosine, 4) DESC, neighbor_id
         ) AS knn_rank
  FROM s
)
SELECT query_id, neighbor_id, knn_rank FROM r WHERE knn_rank <= {S.TOPK}"""


@query("embedding_knn", _KNN_SQL)
def embedding_knn_q(spark, sf_dir):
    emb = _pq(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
    )
    return S.cosine_topk(emb, q, rank_round=4).select(
        "query_id", "neighbor_id", F.col("rank").alias("knn_rank")
    )


@query("embedding_near_dups", """WITH
e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 10000, CAST(embedding AS DOUBLE[]) FROM embeddings
)
SELECT x.vec_id AS id_a, y.vec_id AS id_b
FROM e x JOIN e y ON x.vec_id < y.vec_id
WHERE list_cosine_similarity(x.v, y.v) >= 0.95""")
def embedding_near_dups_q(spark, sf_dir):
    # The driver embeddings have no natural near-dups (max pairwise
    # cosine ~0.51), so union an id-shifted copy: the duplicate
    # pairs have cosine 1.0, every hyperplane dot is identical, so
    # LSH recall is exactly 1 and the brute-force oracle matches
    # deterministically. cosine itself is excluded from the output
    # (engines may differ in last-ulp float summation).
    emb = _pq(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    emb2 = emb.select("vec_id", "embedding").unionByName(
        emb.select(
            (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
        )
    )
    return D.embedding_near_dups(emb2).select(
        "id_a", "id_b"
    )


@query("ivf_knn", approx="probes 3 of 8 lists, so recall is below 1 by "
       "design; ivf_knn_exhaustive's oracle pins the no-loss invariant")
def ivf_knn_q(spark, sf_dir):
    # refine=2: two deterministic Lloyd iterations tighten the
    # hash-seeded centroids toward real k-means cells (SSE
    # non-increase + determinism pinned in tests) — the production
    # recall story, not just the index pattern.
    emb = _pq(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    assigned, cents = S.build_ivf(emb, n_centroids=8, refine=2)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
    )
    return S.ivf_topk(assigned, cents, q, nprobe=3).select(
        "query_id", "neighbor_id", F.col("rank").alias("knn_rank")
    )


# IVF probing every bucket == brute force (no-loss invariant)
@query("ivf_knn_exhaustive", _KNN_SQL)
def ivf_knn_exhaustive_q(spark, sf_dir):
    # IVF probing EVERY bucket (nprobe == n_centroids) must equal
    # brute force exactly — the index's no-loss invariant: the
    # bucket structure prunes candidates, never changes scores or
    # ranking. Oracle = the same SQL as embedding_knn.
    emb = _pq(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    assigned, cents = S.build_ivf(emb, n_centroids=8)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
    )
    return S.ivf_topk(
        assigned, cents, q, nprobe=8, rank_round=4
    ).select(
        "query_id", "neighbor_id", F.col("rank").alias("knn_rank")
    )


# PQ ANN: codeword assignment (per-subspace fold-L2 argmin over
# the 17 sample codewords), ADC distances (same folds), and the
# (d2, id) ranking all replayed bit-exactly — list_reduce folds
# run the identical IEEE adds in the identical order, and the
# j-ordered outer fold uses list(... ORDER BY j), never SUM()
@query("pq_topk", """WITH
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
smp AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v AS cv
  FROM e WHERE vec_id % 31 = 0 AND vec_id < 31 * 17
),
js AS (SELECT range AS j FROM range(8)),
sub AS (
  SELECT e.vec_id AS id, j.j, s.c,
         list_reduce(list_transform(list_zip(
             list_slice(e.v, j.j * 8 + 1, j.j * 8 + 8),
             list_slice(s.cv, j.j * 8 + 1, j.j * 8 + 8)),
           z -> (z[1] - z[2]) * (z[1] - z[2])),
           (a, b) -> a + b) AS d2
  FROM e, js j, smp s
),
code AS (
  SELECT id, j, c FROM (
    SELECT id, j, c,
           row_number() OVER (PARTITION BY id, j ORDER BY d2, c) AS rn
    FROM sub
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
qd AS (
  SELECT q.query_id, j.j, s.c,
         list_reduce(list_transform(list_zip(
             list_slice(q.qv, j.j * 8 + 1, j.j * 8 + 8),
             list_slice(s.cv, j.j * 8 + 1, j.j * 8 + 8)),
           z -> (z[1] - z[2]) * (z[1] - z[2])),
           (a, b) -> a + b) AS d2
  FROM q, js j, smp s
),
adc AS (
  SELECT qd.query_id, c2.id AS neighbor_id,
         list_reduce(list(qd.d2 ORDER BY qd.j), (a, b) -> a + b)
           AS d2_adc
  FROM code c2 JOIN qd ON qd.j = c2.j AND qd.c = c2.c
  GROUP BY qd.query_id, c2.id
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, d2_adc FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY d2_adc, neighbor_id) AS rank
  FROM adc
) WHERE rank <= 5""")
def pq_topk_q(spark, sf_dir):
    # product-quantization ANN (operators/similarity.py): vectors
    # compress to 8 codeword ids (zero-shuffle literal-codebook
    # argmin, plan-pinned); queries score by ADC — the exact L2^2
    # to the reconstruction, never touching raw corpus vectors.
    # Codebooks are sub-slices of the 17 deterministic sample
    # vectors (vec_id % 31 below 31 * 17, so the driver collects a
    # fixed count at any corpus size — the semdedup-style
    # replayable form;
    # xxhash-seeded k-means training exists in code with its
    # distortion invariant pinned in tests/test_pq.py, but a
    # DuckDB oracle cannot replay xxhash). The oracle replays
    # codeword assignment, the per-subspace folds, the j-ordered
    # outer fold, and the (d2, id) ranking bit-exactly.
    emb = _pq(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    samples = [
        list(r.embedding)
        for r in emb.filter("vec_id % 31 = 0 AND vec_id < 31 * 17")
        .orderBy("vec_id").collect()
    ]
    books = S.pq_codebooks_from_samples(samples, 8)
    codes = S.pq_encode(emb, books)
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
    )
    return S.pq_adc_topk(codes, books, qs)

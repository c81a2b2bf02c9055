"""Physical-plan audit: PLANS.md, one digest row per audited plan.

Each row holds what decides whether the same plan survives a 100x
scale-up on a 1000-executor cluster: its shuffles, its broadcasts
(every dimension join must broadcast; a shuffle of the 10^12-row fact
side is minutes against days), its Python operators (only operators
with no native form, such as Douglas-Peucker), the columns its scans
read (the pages scan must never read ``html``) and the filters pushed
into them. The fields come from osm_jl_spark/plans/digest.py, the
module every plan test asserts through.

Run: ``python tools/plan_audit.py`` rewrites PLANS.md at the repo root;
``python tools/plan_audit.py NAME`` prints the full formatted explain of
one audited plan, NAME being the first word of its row (``flagship``,
``write_jsonl``, ``tpch_q3``, ...).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# (query name, why it is audited / what to look for)
AUDITED = [
    ("geoparse_points", "ingest path: the html tag-strip chain is "
     "projected once, then two group regexp_extract_all casts to "
     "array<double>, arrays_zip and posexplode - no lambda, each "
     "coordinate parsed once inside the Generate; zero Python, all in "
     "one codegen stage"),
    ("pip_polygons", "cell encode native; the cover, with each "
     "polygon's edge slots on its rows, is the ONE broadcast; bbox "
     "pre-test and native even-odd slot test run in the join "
     "condition; zero fact shuffle"),
    ("bbox_vitoria_nodes", "node side: pure native range filter on the "
     "cell columns - no UDF, no join, no shuffle; the way side is the "
     "any-ref semi-join on the inside node ids, whose two id-keyed "
     "aggregations are the plan's (2 exchanges)"),
    ("tile_rollup", "multi-resolution rollup: ONE groupBy shuffle over "
     "exploded resolutions (partial aggregation map-side) plus the "
     "intentional second exchange that merges hot-cell SALT shards - "
     "2 exchanges total, both over already-aggregated tile rows"),
    ("waynodes_join", "posexplode + equi-join; AQE picks broadcast vs "
     "sort-merge from runtime stats"),
    ("knn_ring", "cached union of one local checkpoint per level; each "
     "level's 3x3-cell disk join against broadcast query cells and its "
     "one top-k window exchange ran inside its checkpoint, so neither "
     "shows here"),
    ("tpch_q3", "customer dimension broadcast; at this scale the "
     "orders-lineitem join broadcasts too (AQE re-plans it as a "
     "shuffle join when it grows), so the l_orderkey aggregation is "
     "the only shuffle (1 exchange); parquet scans carry PushedFilters"),
    ("events_sessionize", "both window functions share one (user_id) "
     "partitioning - exactly ONE shuffle for lag + running-sum + agg"),
    ("minhash_pairs", "band-bucket self-join: each side shuffles on "
     "the (band, band hash) bucket key only, plus the candidate-pair "
     "distinct (3 exchanges); signatures are a pure NARROW map "
     "(array_min over transform, zero shuffle), recomputed per "
     "consumer by design"),
    ("dedup_exact_keep", "hash-groupBy dedup: the keep pass (min id "
     "per content hash, then a semi-join) and the duplicate-group "
     "census (count per content hash), map-side partial aggregation"),
    ("orders_rollup", "grouping-sets rollup in one pass with map-side "
     "partial aggregation per grouping set; the per-segment rows join "
     "the customer dimension as a broadcast"),
    ("snapshot_latest", "crawl-snapshot dedup: max_by(struct, ts) is "
     "ONE shuffle on url with partial_max_by map-side - vs a window "
     "row_number sort over every capture"),
    ("bbox_store_nodes", "cell-clustered store: PartitionFilters on the "
     "lon-cell stripe (directory pruning) + PushedFilters on (cx, cy) "
     "(row-group skipping); zero shuffle, zero Python"),
    ("contamination", "asymmetric containment: eval shingles broadcast "
     "(both the index and the sizes dim) - the train side never "
     "shuffles before the map-side-combinable per-pair count, and "
     "the eval sizes aggregate under their broadcast (2 exchanges)"),
    ("hash_sample", "deterministic sampler is a pure narrow filter on "
     "md5 rank: no shuffle, no window, composes with the scan"),
    ("corpus_clean", "quality gates fuse into the scan projection; "
     "repetition join + fingerprint dedup are the only shuffles - the "
     "repetition score's two aggregations on both sides of its join "
     "plus the dedup (5 exchanges); the 50% sampler stays a filter"),
    ("pack_sequences", "two-level prefix sum: the ONLY unbounded "
     "(whole-relation) window runs over the B-row bucket table, never "
     "the corpus - corpus rows see a window PARTITIONED by bucket; "
     "greedy bin assignment stays native"),
    ("bfs_hops", "iterative frontier expansion: each round's frontier "
     "joins adjacency (one shuffle per round) inside that round's "
     "localCheckpoint, so the audited plan - the union of the "
     "checkpoints - shows none and lineage stays O(1) per round "
     "instead of O(rounds)"),
    ("shortest_paths", "weighted relaxation rounds: per-round "
     "min-distance aggregation is map-side combinable; checkpointed "
     "state keeps each round's plan constant-size"),
    ("way_areas", "order-preserving posexplode + one waynodes join; "
     "exact integer shoelace accumulates in a map-side combinable "
     "sum - no window over node sequences"),
    ("tfidf_top_terms", "log-free integer tf*N/df ranking: explode + "
     "two hash aggregations (term df, doc tf) + top-k window "
     "partitioned by doc - no global sort"),
    ("neardup_keep_best", "pair graph -> connected components (labels "
     "stay in DataFrames) -> one map-side-combinable max(struct) "
     "argmax per cluster; corpus never sees a window"),
    ("pii_scrub", "PII redaction is a pure narrow map: three chained "
     "regexp_replace kernels + count extraction fused into the scan "
     "projection - zero exchanges, zero Python"),
    ("domain_stats", "per-domain rollup: ONE shuffle on host with "
     "map-side partial aggregation; the host regex runs inside the "
     "scan-side codegen stage"),
    ("pip_grid_polygons", "96-polygon PIP: one broadcast cover whose "
     "rows carry the bbox and edge slots; bbox pre-test prunes "
     "candidates before the codegen even-odd slot test, whose size "
     "follows the widest ring; fact side never shuffles regardless of "
     "polygon count"),
    ("line_dedup", "CCNet-style line-level dedup: document frequency "
     "is ONE map-side-combinable shuffle on the line hash "
     "(array_distinct BEFORE the explode - no count_distinct expand); "
     "the hot-line dim broadcasts; in-order reassembly is the ONE "
     "unavoidable corpus shuffle (groupBy doc id) - 2 exchanges "
     "total, both uniform keys, zero Python"),
    ("window_dup_stats", "Lee-et-al window duplication profile: "
     "w-token window hashes are array_distinct'd map-side BEFORE the "
     "explode, so the df groupBy sees (doc, window)-unique uniform "
     "64-bit keys; hot-window dim joins back (AQE broadcast at dim "
     "scale); final per-doc regroup ships (id, hash) pairs only - "
     "never the text"),
    ("way_lengths", "great-circle way length: rides the single J1 "
     "waynodes shuffle; haversine + in-order F.aggregate fold are "
     "pure array math in the post-join project - no extra exchange, "
     "no window, zero Python"),
    ("quadkey_tiles", "web-mercator quadkey tiling: the z/x/y "
     "arithmetic and the unrolled bit-interleave run in the scan-side "
     "codegen stage; ONE map-side-combinable shuffle on the quadkey; "
     "the zoom-10 parent is a substring of the grouped key - rollup "
     "without re-encoding"),
    ("window_dedup_clean", "exact-substring removal: df count and "
     "per-doc hot-array regroup on uniform keys (2 exchanges); the "
     "hot-array table broadcasts into the text join at this scale; "
     "duplicated positions are RECOMPUTED against "
     "the broadcast-joined hot array in a narrow map and the cut is a "
     "higher-order token filter - zero Python"),
    ("tile_store_read", "tile-serving store read: stripe equality in "
     "PartitionFilters (directory pruning), StringStartsWith(qk) in "
     "PushedFilters (row-group skipping), ZERO exchanges - a map-tile "
     "request at 10^12 points touches one directory and the "
     "overlapping row groups"),
    ("crawl_asof", "temporal AS-OF join: union-tagged streams + keyed "
     "window scan = exactly ONE exchange on the url key; the naive "
     "range-join formulation would materialize captures x snapshots "
     "pairs per key - quadratic in recrawl depth at hot urls"),
    ("gopher_quality", "Gopher composite ruleset: every signal is a "
     "native string/array expression in ONE narrow projection - zero "
     "exchanges, zero Python; column-pruned to (doc_id, text)"),
    ("blocklist_filter", "domain deny-list: explicit BroadcastHashJoin "
     "of the host dimension; keyword predicates fuse into the same "
     "projection; the 10^12-page fact side never shuffles"),
    ("tpch_q5", "6-table join: region/nation/supplier broadcast "
     "explicitly; at this scale the planner broadcasts orders and "
     "customer too, so the n_name revenue aggregation is the only "
     "shuffle (1 exchange); the c_nationkey = s_nationkey condition "
     "rides the broadcast supplier join without an extra exchange"),
    ("doc_repetition", "within-doc line repetition: explode lines -> "
     "per-(doc,line) count -> per-doc fractions; two map-side "
     "combinable exchanges, groups bounded by one doc's lines - no "
     "hot keys at any corpus size"),
    ("domain_cap", "skew-safe per-host cap: two row_number windows - "
     "shard-local cap on uniform (host, shard) keys first, so the "
     "hottest domain never sorts in one task; equality with the "
     "single-window contract is what the ORACLE checks"),
    ("text_normalize", "unicode normalization is a narrow map: one "
     "translate + three regexp_replace fused into the scan "
     "projection - zero exchanges beyond the md5 projection's none"),
    ("pipeline_hygiene", "composite: blocklist broadcast join + gopher "
     "narrow map fuse into the scan stage; the only exchanges are the "
     "dim reason-dedup and domain_cap's two uniform-key windows - the "
     "whole pipeline is ONE Catalyst plan, no materialization between "
     "stages"),
    ("way_simplify", "Douglas-Peucker: ONE declared ArrowEvalPython "
     "over whole-way coordinate arrays (SURVEY 2.9 rule (b) - "
     "genuinely recursive), riding the J1 regroup shuffle; no "
     "exchange added, each DP bounded by its own way's length"),
    ("page_links", "href extraction from raw html: regexp_extract_all "
     "+ posexplode is a pure narrow map the scan fuses - zero "
     "exchanges, zero Python; one pass over the html column at any "
     "corpus size (plan-pinned in tests/test_links.py)"),
    ("host_in_links", "host-level in-link census: two "
     "map-side-combinable shuffles, the distinct-source count's "
     "(dst_host, url) one and the final dst_host one (2 exchanges) - "
     "hot hosts cost one partial row per input partition"),
    ("link_pagerank", "PageRank over the doc link graph: per "
     "iteration one src-keyed join shuffle + one dst-keyed "
     "map-side-combinable aggregation; localCheckpoint keeps the "
     "audited (final-round) plan constant-size like bfs_hops; exact "
     "integer scaling removes the float-oracle hazard"),
    ("length_quantiles", "exact quantiles WITHOUT a per-group sort: "
     "corpus rows hit one uniform (lang, length) histogram "
     "aggregation; the cumulative window and rank selection run over "
     "distinct lengths only - the hot `en` group never serializes "
     "(plan-pinned in tests/test_stats.py)"),
    ("indegree_quantiles", "composite through both new families: "
     "zero-exchange link extraction feeds the in-degree aggregation "
     "(uniform doc-id key), a left join restores unlinked docs, and "
     "the quantile histogram keeps the hot `en` group off any "
     "single-task sort - one Catalyst plan end to end"),
    ("campaign_windows", "interval containment via time-bucket cover: "
     "intervals explode into coarse buckets and BROADCAST; facts "
     "equi-join their own single bucket (exact-once, no dedup) - "
     "zero fact shuffles, never a NestedLoopJoin, candidate pairs "
     "bounded by interval density per bucket"),
    ("geohash_tiles", "geohash encode + multi-length prefix rollup: "
     "the base-32 interleave is unrolled codegen in the scan "
     "projection (like quadkey_tiles); the rollup reuses "
     "quadkey_rollup's two uniform salted exchanges - the prefix "
     "machinery is index-family-agnostic"),
    ("geojson_roundtrip", "GeoJSON emit -> read round trip: "
     "from_json against a fixed Feature schema fuses into the scan "
     "projection — zero UDF, zero exchange beyond the geometry "
     "assembly; malformed features yield NULL rows (PERMISSIVE), "
     "never a task failure, so one bad feature can't kill a planet "
     "ingest"),
    ("temperature_sample", "XLM-R temperature rebalancing: one "
     "map-side-combinable per-lang count (dimension-sized), planned "
     "again under the single-row max of the rates (3 exchanges), "
     "thresholds broadcast back, then the same zero-shuffle md5-rank "
     "keep filter as hash_sample — the corpus side never shuffles; "
     "alpha=0.5 thresholds use only correctly-rounded IEEE ops so "
     "membership is bit-reproducible cross-engine"),
    ("link_hits", "HITS hubs/authorities as unnormalized integer "
     "power iterations: one join shuffle + one map-side-combinable "
     "aggregation per direction per iteration (the pagerank shape "
     "twice), localCheckpointed, so the audited plan shows only the "
     "final hub/authority join on node (2 exchanges); normalization "
     "dropped "
     "because it is a positive scalar that never changes the ranking "
     "— every score stays an exact path-count BIGINT"),
    ("host_triangles", "triangle census via degree-ordered "
     "orientation: every edge points low-(degree,id) -> high, capping "
     "any vertex's out-degree at O(sqrt(m)) — the wedge self-join is "
     "bounded by m^1.5, never hub_degree^2; the degree table "
     "broadcasts (vertex-dimension-sized); wedges close with one "
     "left-semi equi-join; per-vertex counts map-side combine"),
    ("fetch_schedule", "crawl-frontier politeness scheduling: one "
     "min-combine shuffle on (host, url) dedups the frontier, one "
     "per-host window serializes fetches FETCH_DELAY_SEC apart (2 "
     "exchanges) — each "
     "host's window task is bounded by its own frontier, which "
     "politeness itself caps (horizon/delay urls); exact integer "
     "fetch_at arithmetic"),
    ("pq_topk", "product-quantization ANN: encode is a ZERO-SHUFFLE "
     "narrow map (literal-codebook argmin per subspace — the minhash-"
     "signature scale signature, plan-pinned); ADC scoring crosses "
     "the broadcast query side with the codes column only (raw "
     "vectors never read), m table lookups + small dot folds per "
     "pair, one ranking window; 16x column compression is what ships "
     "to the serving tier at 10^12 vectors"),
    ("osm_pbf_parse", "splittable OSM PBF ingest: the driver walks "
     "only the blob header chain (metadata, O(blob count) tiny "
     "reads); one decode task per independently-decodable zlib blob "
     "— planet files fan out to tens of thousands of tasks with zero "
     "coordination; binary varint decode is the sanctioned "
     "mapInPandas exception (SURVEY 2.9(b)), same class as the XML "
     "range parse"),
    ("route_lengths", "route-relation assembly: way lengths compute "
     "once (the J1 shuffle + in-order haversine fold); the member "
     "explode is dimension-sized and joins lengths on the uniform "
     "way-id key; per-relation reassembly is the standard sort_array-"
     "then-fold — order-deterministic floats, no extra exchange "
     "beyond the member regroup"),
    ("bbox_overlap_join", "rectangle-overlap spatial join (strict "
     "grid path): compact rectangles explode into <=2x2 cell covers "
     "and equi-join on the cell key — candidates bounded by local "
     "density, never all-pairs; exact-once via the reporting-cell "
     "comparison instead of a distinct (zero dedup exchange); the "
     "overlap predicate and exact BIGINT area run in the same "
     "codegen stage; no nested loop anywhere in strict mode"),
    ("bloom_contamination", "Bloom-filter decontamination: the eval "
     "side reduces to a FIXED-SIZE (m/64-row) bit-or'd bitmap that "
     "BROADCASTS — eval volume never grows the broadcast, unlike "
     "contamination_pairs' per-shingle dim; the train side computes "
     "its k md5 probes in the scan projection, hash-joins the "
     "broadcast k times, and shuffles exactly once (the map-side-"
     "combinable per-doc count); the bitmap's word aggregation is "
     "planned under each of the k = 3 broadcasts (4 exchanges); no "
     "false negatives by construction"),
    ("semdedup_clusters", "SemDeDup cluster-bounded semantic dedup: "
     "the medoid dimension broadcasts (deliberate broadcast cross "
     "product, like cosine_topk); assignment reduces in ONE "
     "map-side-combinable min_by shuffle on the uniform vector id, "
     "planned for each of its 3 consumers; the near-dup pair search "
     "self-joins ON THE CLUSTER KEY (one shuffle per side) so "
     "candidates are bounded per cluster, never all-pairs, and the "
     "dropped ids dedup once (6 exchanges); exact "
     "left-to-right folds keep the DuckDB oracle bit-identical"),
    ("radius_join", "all-pairs-within-d spatial join: centers explode "
     "into 3x3 radius-width cell rings and BROADCAST; the point side "
     "computes one cell in codegen and never shuffles (zero "
     "exchanges); the distance predicate is exact BIGINT arithmetic "
     "in the same stage - the polygon cell-cover join's shape applied "
     "to distance (pinned in tests/test_distance_join.py)"),
    ("lm_perplexity_filter", "CCNet-style trigram-LM scoring: the LM "
     "is a pruned DIMENSION - trigram/context/vocab counts broadcast, "
     "so the corpus-sized token stream joins without shuffling and "
     "aggregates once per doc; band thresholds (two longs per lang) "
     "broadcast back; no SortMergeJoin anywhere, integer surprisal "
     "keeps every expression in codegen (pinned in tests/test_lm.py)"),
    ("tile_serving", "the serving composite: stripe PartitionFilters + "
     "StringStartsWith(qk) pushdown survive UNDER the multi-zoom "
     "rollup; quadkey parents are substrings so no re-encode; exactly "
     "the rollup's two uniform exchanges (salted partial agg + final "
     "sum), zero before the partial agg (pinned in tests/test_store.py)"),
]


def _flagship(spark):
    """The flagship over a STORED pages table (the production shape):
    the scan must prune away the html binary column — at 100 TB the
    html payload is most of the table's bytes and must never be read."""
    import tempfile

    from osm_jl_spark import datagen as G
    from osm_jl_spark.operators.pipeline import flagship

    tmp = os.path.join(tempfile.gettempdir(), "plan_audit_pages.parquet")
    if not os.path.exists(tmp):
        G.load_pages(spark, 2000).write.mode("overwrite").parquet(tmp)
    return flagship(spark.read.parquet(tmp), G.POLYGONS, 2)


def _write_jsonl(spark):
    """write_jsonl (K2 scale sink): the audited plan is the sink's INPUT
    — .text() appends only a WriteFiles node at execution, so everything
    scale-relevant (the J1 geometry join, to_json, the name-tag dim
    join) is visible here. feature_collection's driver-side collect is
    the documented single-document parity path; THIS is what a
    production export runs."""
    from osm_jl_spark import datagen as G
    from osm_jl_spark.sources.geojson import way_features

    return way_features(
        G.load_ways(spark, 500, 2000),
        G.load_nodes(spark, 2000),
        coord_decimals=5,
    ).select("feature")


def audited() -> list[tuple]:
    """(row name, why, build(spark) -> DataFrame), in table order."""
    import __spark_entry__ as entry

    qs = entry.queries()
    return [
        ("flagship (stored pages table)",
         "parquet scan prunes to text - html binary never read; "
         "no lambda, the isnotnull filters read the Generate's parsed "
         "doubles; cells encoded once and reused by the tile agg; one "
         "broadcast (cover + edge slots); tile agg is the only fact "
         "shuffle", _flagship),
        ("write_jsonl (GeoJSON sink)",
         "one Feature per line: way_geometries is the single "
         "posexplode+join+sort_array shuffle pair (AQE picks broadcast "
         "for the dim side at this scale); to_json is native codegen - "
         "no Python, no extra exchange beyond J1's reassembly; the "
         ".text() write adds only WriteFiles", _write_jsonl),
    ] + [(name, why, lambda spark, q=qs[name]: q(spark, SF_DIR))
         for name, why in AUDITED]


def _cell(items) -> str:
    """Distinct non-empty entries, in plan order, as one code span."""
    text = "; ".join(dict.fromkeys(i for i in items if i.strip()))
    return f"`{text}`" if text else ""


def row(name: str, why: str, d) -> str:
    cells = [name, str(d.exchanges), str(d.broadcasts), str(d.python_ops),
             _cell(d.read_schemas), _cell(d.pushed_filters), why]
    return "| " + " | ".join(c.replace("|", "\\|") for c in cells) + " |"


HEADER = f"""# PLANS — physical-plan audit (scale evidence)

Generated by `python tools/plan_audit.py` against `{os.path.basename(SF_DIR)}`; \
`python tools/plan_audit.py NAME` prints the full formatted explain of one \
row's plan (NAME is the row's first word). Counts are nodes of the optimized \
physical plan before AQE re-plans it, read by `osm_jl_spark/plans/digest.py`: \
an `Exchange` is a shuffle, a `BroadcastExchange` a broadcast, a node named \
`*Python*`, `*InPandas*` or `*InArrow*` a Python operator. The invariants \
that matter are pinned in tests/test_plans.py.

| plan | exchanges | broadcasts | python ops | read schema | pushed filters | why |
|---|---|---|---|---|---|---|""".split("\n")


def main() -> None:
    from osm_jl_spark.plans.digest import digest, explain
    from osm_jl_spark.session import get_spark

    plans = audited()
    by_name = {name.split()[0]: build for name, _, build in plans}
    if len(sys.argv) > 1 and sys.argv[1] not in by_name:
        sys.exit(f"no audited plan {sys.argv[1]!r}; names: "
                 + ", ".join(by_name))
    spark = get_spark(app="plan-audit", cores=4, shuffle_partitions=8)
    if len(sys.argv) > 1:
        print(explain(by_name[sys.argv[1]](spark)))
    else:
        lines = list(HEADER)
        for name, why, build in plans:
            lines.append(row(name, why, digest(build(spark))))
            print(f"audited {name}", flush=True)
        with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()

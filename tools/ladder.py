"""Volume ladder: one operator timed at one or more input volumes.

Each rung stores its input once (parquet, or a .osm.pbf file) under
$SPARK_GRAFT_SCRATCH, times the operator min-of-2 (the first run pays
worker spawn, codegen and JIT) and prints one line per volume:

    LADDER name=<rung> n=<volume> wall=<s>s per_s=<volume/s> out=<rows>

per_s counts the volume argument: docs, urls, points, rects or PBF
elements. A flat or rising per_s from N to 4N is the evidence that the
operator's cost is linear in its input, with no volume cliff (an
accidental quadratic or a skewed key shows as falling per_s).

Usage:
    python tools/ladder.py NAME [N ...]
    SPARK_GRAFT_ASOF_CAPS=10 python tools/ladder.py asof  # recrawl depth

NAME is one of asof, envelope, links, pagerank, lm, minhash, pbf,
radius, window. The session runs on local[$SPARK_GRAFT_CPUS] (else every
core) with the host-fitted driver memory of perfbench/host.py.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from osm_jl_spark import datagen as G  # noqa: E402
from osm_jl_spark.operators.dedup import (  # noqa: E402
    duplicated_window_stats,
    minhash_dedup_pairs,
)
from osm_jl_spark.operators.joins import (  # noqa: E402
    _micro,
    envelope_join,
    within_distance_join,
)
from osm_jl_spark.operators.links import (  # noqa: E402
    extract_links,
    host_in_links,
    pagerank_scaled,
)
from osm_jl_spark.operators.lm import perplexity_filter  # noqa: E402
from osm_jl_spark.operators.temporal import asof_join  # noqa: E402
from osm_jl_spark.session import get_spark  # noqa: E402
from osm_jl_spark.sources.osm_pbf import parse_pbf, write_pbf  # noqa: E402
from perfbench import host  # noqa: E402

SCRATCH = os.environ.get("SPARK_GRAFT_SCRATCH", "/tmp/osm_jl_spark_bench")
CAPS = int(os.environ.get("SPARK_GRAFT_ASOF_CAPS", "3"))
BLOCK = 8000  # elements per blob — the ~real-world OSMData blob grain


def _stored(store: str, name: str, write) -> str:
    """``store/name``, made by ``write(path)`` on first use."""
    path = os.path.join(store, name)
    if not os.path.exists(path):
        os.makedirs(store, exist_ok=True)
        write(path)
    return path


def _nodes(spark, m: int, store: str):
    return spark.read.parquet(_stored(
        store, f"nodes_{m}.parquet",
        lambda p: G.load_nodes(spark, m).select("id", "lon", "lat")
        .write.mode("overwrite").parquet(p),
    ))


def _pages(spark, n: int, store: str):
    return spark.read.parquet(G.stored_pages(spark, n, store))


def _dim(nodes):
    # FIXED dimension (every 997th node among the first 2M ids, ~2,006
    # rows at full volume): letting it grow with the fact side makes
    # output pairs — and wall time — quadratic, which measures result
    # materialization, not the join; fixed, pairs grow linearly
    return nodes.filter((F.col("id") % 997 == 0) & (F.col("id") <= 2_000_000))


def asof(spark, n: int, store: str):
    """The registered ``crawl_asof`` shape: n urls x CAPS captures split
    into capture and policy streams by fetch hash."""
    crawls = spark.read.parquet(_stored(
        store, f"crawls_{n}x{CAPS}.parquet",
        lambda p: G.load_crawls(spark, n, caps=CAPS)
        .write.mode("overwrite").parquet(p),
    ))
    pol = crawls.where(F.col("fetch_h") % 3 == 0).select(
        "url",
        F.col("warc_ts").alias("pol_ts"),
        (F.col("fetch_h") % 1000).alias("policy_val"),
    )
    caps = crawls.where(F.col("fetch_h") % 3 != 0)
    return lambda: asof_join(
        caps, pol, on="url", left_ts="warc_ts", right_ts="pol_ts",
    )


def _rects(nodes, kx: int, ky: int):
    # half-widths 10..199 from id arithmetic, the registered
    # `bbox_overlap_join` shape
    rx = F.lit(10) + (F.col("id") * kx) % 190
    ry = F.lit(10) + (F.col("id") * ky) % 190
    x, y = _micro("lon"), _micro("lat")
    return nodes.select(
        "id",
        (x - rx).alias("minx"), (y - ry).alias("miny"),
        (x + rx).alias("maxx"), (y + ry).alias("maxy"),
    )


def envelope(spark, n: int, store: str):
    nodes = _nodes(spark, n, store)
    a, b = _rects(_dim(nodes), 37, 61), _rects(nodes, 53, 29)
    return lambda: envelope_join(a, b, cell_w=500)


def radius(spark, n: int, store: str):
    """Radius 300 micro-degree units, the registered `radius_join`."""
    nodes = _nodes(spark, n, store)
    centers = _dim(nodes)
    return lambda: within_distance_join(nodes, centers, 300)


def links(spark, n: int, store: str):
    pages = _pages(spark, n, store)
    return lambda: host_in_links(extract_links(pages))


def pagerank(spark, n: int, store: str):
    """3 exact-scaled iterations over the doc link graph."""
    pages = _pages(spark, n, store)
    edges = extract_links(pages).select(
        F.regexp_extract("url", r"/p/([0-9]+)$", 1).cast("long").alias("src"),
        F.regexp_extract("href", r"/d/([0-9]+)$", 1).cast("long").alias("dst"),
    )
    nodes = pages.select(
        F.regexp_extract("url", r"/p/([0-9]+)$", 1).cast("long").alias("node")
    )
    return lambda: pagerank_scaled(edges, nodes)


def lm(spark, n: int, store: str):
    """LM_MIN_COUNT=2 keeps the broadcast LM dimension pruned."""
    docs = _pages(spark, n, store).select(
        F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long").alias("doc_id"),
        "lang", "text",
    )
    return lambda: perplexity_filter(docs).where(
        F.col("keep") == 1)


def minhash(spark, n: int, store: str):
    docs = _pages(spark, n, store).select(
        F.col("url").alias("doc_id"), "text")
    return lambda: minhash_dedup_pairs(docs, threshold=0.7)


def window(spark, n: int, store: str):
    docs = _pages(spark, n, store).select(
        F.col("url").alias("doc_id"), "text")
    return lambda: duplicated_window_stats(docs)


def _write_nodes_pbf(path: str, n: int) -> None:
    # xor-shift-mixed coordinates: a pure multiplicative stride has
    # CONSTANT deltas between modular wraps and zlib crushes the delta
    # stream to nothing; the shift-xor breaks linearity so varint
    # widths and the compression ratio look like a real extract
    def mix(i: int, mult: int) -> int:
        x = (i * mult) & 0xFFFFFFFFFFFFFFFF
        return x ^ (x >> 31)

    els = [
        {
            "kind": "node",
            "id": i + 1,
            "lon": (mix(i, 0x9E3779B97F4A7C15) % 36000000 - 18000000) / 1e5,
            "lat": (mix(i, 0xC2B2AE3D27D4EB4F) % 17000000 - 8500000) / 1e5,
            "tags": {},
        }
        for i in range(n)
    ]
    write_pbf(path, els, block_size=BLOCK)


def pbf(spark, n: int, store: str):
    """n nodes in blobs of BLOCK; the timed run includes the driver's
    blob-index walk."""
    path = _stored(store, f"pbf_{n}.osm.pbf",
                   lambda p: _write_nodes_pbf(p, n))
    return lambda: parse_pbf(spark, path)


# name -> (default volumes, rung)
RUNGS = {
    "asof": ([1_000_000, 4_000_000], asof),
    "envelope": ([2_000_000, 8_000_000], envelope),
    "links": ([1_000_000, 4_000_000], links),
    "pagerank": ([1_000_000, 4_000_000], pagerank),
    "lm": ([1_000_000, 4_000_000], lm),
    "minhash": ([1_000_000, 8_000_000], minhash),
    "pbf": ([1_000_000, 4_000_000], pbf),
    "radius": ([2_000_000, 8_000_000], radius),
    "window": ([1_000_000, 4_000_000], window),
}


def run(spark, name: str, n: int, store: str = SCRATCH) -> str:
    """Time rung ``name`` at volume ``n``; returns its LADDER line."""
    build = RUNGS[name][1](spark, n, store)
    best, out = float("inf"), 0
    for _ in range(2):
        t0 = time.time()
        out = build().count()
        best = min(best, time.time() - t0)
    return (f"LADDER name={name} n={n} wall={best:.1f}s "
            f"per_s={n / best:,.0f} out={out}")


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in RUNGS:
        sys.exit(f"usage: ladder.py {{{','.join(RUNGS)}}} [N ...]")
    name = sys.argv[1]
    sizes = [int(a) for a in sys.argv[2:]] or RUNGS[name][0]
    spark = get_spark(app=f"ladder-{name}",
                      driver_memory=host.driver_memory(host.mem_gb()))
    for n in sizes:
        print(run(spark, name, n), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()

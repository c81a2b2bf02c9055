"""IVF recall evidence: quantify what Lloyd refinement buys.

The IVF index is only worth its pruning if the probed buckets contain
the true neighbors. This tool measures recall@k of ``ivf_topk``
against the brute-force truth on the driver's embeddings table, for a
grid of (refine, nprobe) — the two knobs a deployment tunes. Printed
per cell: mean fraction of the true top-k found.

The invariant tests pin the extremes (nprobe=all == brute exactly;
Lloyd never raises SSE); this is the middle of the curve, recorded in
BASELINE.md so the refine default is a measured choice, not a vibe.

Usage:
    python tools/ivf_recall.py [sf_dir]   # default /root/testdata/sf0.1
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from osm_jl_spark.operators import similarity as S  # noqa: E402
from osm_jl_spark.session import get_spark  # noqa: E402

N_CENT = 16
N_QUERIES = 100


def topk_sets(rows) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for r in rows:
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.filter(F.col("vec_id") % 20 == 0).limit(N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
    )
    truth = topk_sets(S.cosine_topk(emb, q).collect())
    for refine in (0, 2):
        assigned, cents = S.build_ivf(emb, n_centroids=N_CENT,
                                      refine=refine)
        sizes = assigned.groupBy("bucket").count().collect()
        imbalance = max(r["count"] for r in sizes) / (
            sum(r["count"] for r in sizes) / len(sizes)
        )
        for nprobe in (1, 2, 4):
            got = topk_sets(
                S.ivf_topk(assigned, cents, q, nprobe=nprobe).collect()
            )
            recall = sum(
                len(got.get(qid, set()) & t) / len(t)
                for qid, t in truth.items()
            ) / len(truth)
            print(
                f"IVF refine={refine} nprobe={nprobe}/{N_CENT} "
                f"recall@{S.TOPK}={recall:.3f} "
                f"max_bucket_x_mean={imbalance:.2f}",
                flush=True,
            )


if __name__ == "__main__":
    main()

"""Sequence packing: two-level prefix sum vs a flat Python oracle."""

import hashlib

from osm_jl_spark.operators import packing
from osm_jl_spark.operators.packing import pack_sequences


def _h60(i: int) -> int:
    return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)


def _docs(spark, n=200):
    rows = [(i, " ".join(["tok"] * (1 + i % 17))) for i in range(n)]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def _flat_oracle(n=200, budget=64):
    order = sorted(range(n), key=lambda i: (_h60(i), i))
    want, off = {}, 0
    for i in order:
        nt = 1 + i % 17
        want[i] = (nt, off, off // budget)
        off += nt
    return want


def test_pack_sequences_matches_flat_scan(spark):
    got = {
        r["doc_id"]: (r["n_tokens"], r["tok_offset"], r["seq_id"])
        for r in pack_sequences(_docs(spark), budget=64).collect()
    }
    assert got == _flat_oracle()


def test_pack_sequences_bucket_count_invariant(spark, monkeypatch):
    # the result must be identical for ANY bucket count — the
    # two-level scan is an implementation detail, not a semantic
    d = _docs(spark)
    offsets = []
    for buckets in (4, 512):
        monkeypatch.setattr(packing, "PACK_BUCKETS", buckets)
        offsets.append({r["doc_id"]: r["tok_offset"]
                        for r in pack_sequences(d, 64).collect()})
    assert offsets[0] == offsets[1]

"""Single-node pure-Python oracle: exact ports of the reference's
semantics-defining kernels, used by pytest as ground truth.

These are the only two places the reference's numeric behavior is
load-bearing (SURVEY.md §7.3):

- ``coord2index`` — trunc-TOWARD-ZERO cell quantization
  (/root/reference/src/index.jl:17). Note trunc != floor for negative
  coordinates: trunc(-20.2273*100) = -2022 but floor = -2023; the
  Vitória fixture (test.jl:3) pins this.
- ``point_in_polygon`` — even-odd ray casting with strict ``>`` / ``<``
  comparisons and the closing edge first
  (/root/reference/src/coords.jl:69-78). The polygon ring is OPEN
  (first vertex not repeated; /root/reference/README.md:63-64).

Plus the byte-identical text-extraction + geoparse pair used to verify
the native Spark text kernels (BASELINE.json input_hint:
"byte-identical extracted text per url").
"""

from __future__ import annotations

import math
import re

# ---------------------------------------------------------------- cells


def coord2index(p: float, precision: int) -> int:
    """Port of src/index.jl:17 — trunc toward zero of p * 10^precision."""
    return math.trunc(p * 10**precision)


def cell_of(lon: float, lat: float, precision: int) -> tuple[int, int]:
    return coord2index(lon, precision), coord2index(lat, precision)


# ------------------------------------------------------------------ PIP


def point_in_polygon(lon: float, lat: float, ring: list[tuple[float, float]]) -> bool:
    """Port of src/coords.jl:69-78 (even-odd rule, strict inequalities).

    ``ring`` is an open list of (lon, lat) vertices; the closing edge
    (last -> first) is iterated FIRST, exactly as the reference does via
    ``zip([P[end]; P[1:end-1]], P)``.
    """
    found = False
    n = len(ring)
    for i in range(n):
        a = ring[i - 1]  # i=0 -> ring[-1]: closing edge first
        b = ring[i]
        if (a[1] > lat) != (b[1] > lat):
            # division is guarded by the XOR above (a.lat != b.lat here)
            x = a[0] + (lat - a[1]) / (b[1] - a[1]) * (b[0] - a[0])
            if x < lon:
                found = not found
    return found


# ------------------------------------------------- text extract/geoparse

_TAG_RE = re.compile(rb"<[^>]*>")
_WS_RE = re.compile(rb"\s+")

# [0-9] not \d: Python-str \d matches Unicode digits while Java regex
# \d (the native geoparse kernel) matches ASCII only — spelling out the
# class makes UDF/native/oracle parity definitional on real web text.
GEO_RE = re.compile(r"lat (-?[0-9]+\.[0-9]{5}) lon (-?[0-9]+\.[0-9]{5})")


def extract_text(html: bytes) -> str:
    """Deterministic tag-strip text extraction from an HTML payload.

    The Spark-side native kernel (functions/text.py:extract_text_col)
    must produce byte-identical output for every url — pytest asserts
    it.
    """
    no_tags = _TAG_RE.sub(b" ", html)
    collapsed = _WS_RE.sub(b" ", no_tags).strip()
    return collapsed.decode("utf-8")


def geoparse(text: str) -> list[tuple[float, float]]:
    """Extract (lon, lat) mentions from text; order of appearance."""
    return [(float(lon), float(lat)) for lat, lon in GEO_RE.findall(text)]


# ----------------------------------------------------------- kNN oracle


def knn_bruteforce(
    qlon: float,
    qlat: float,
    points: list[tuple[int, float, float]],
    k: int,
) -> list[int]:
    """Top-k nearest node ids by squared planar degree distance,
    ties broken by id (deterministic)."""
    scored = sorted(
        ((p[1] - qlon) ** 2 + (p[2] - qlat) ** 2, p[0]) for p in points
    )
    return [pid for _, pid in scored[:k]]


# ------------------------------------------------------- multimodal fake


def media_feature_sum(payload: bytes, width: int, height: int) -> float:
    """Independent pure-Python (list-based, no NumPy) recomputation of
    operators/multimodal.decode_and_featurize's per-item feature sum:
    sha256-seeded fake decode -> block-mean resize to 8 x 8 (its
    FEATURE_SIZE) -> sum.
    Used to derive golden VALUES for the multimodal oracle SQL.

    Bin edges i*(height/oh), j*(width/ow) are exact integers for the
    synthetic fixture (dims are multiples of 8), so there is no float
    binning ambiguity to replicate.
    """
    import hashlib

    ow = oh = 8
    digest = hashlib.sha256(payload).digest()
    seed = [b / 255.0 for b in digest]
    n = width * height
    flat = [seed[k % len(seed)] for k in range(n)]

    def edge(total: int, parts: int, i: int) -> int:
        return int(i * (total / parts))

    total = 0.0
    for bi in range(oh):
        y0, y1 = edge(height, oh, bi), edge(height, oh, bi + 1)
        y1 = max(y1, y0 + 1)
        for bj in range(ow):
            x0, x1 = edge(width, ow, bj), edge(width, ow, bj + 1)
            x1 = max(x1, x0 + 1)
            vals = [
                flat[y * width + x]
                for y in range(y0, y1)
                for x in range(x0, x1)
            ]
            total += sum(vals) / len(vals)
    return total

"""osm_jl_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch distributed re-expression of the semantics of
ximonsson/OSM.jl (reference at /root/reference, cited per-module as
``src/<file>.jl:<line>``): element extraction (nodes/ways/relations),
tag predicates, grid-cell tiling, bbox queries, point-in-polygon joins,
kNN via ring expansion, GeoJSON emission — plus the web-scale
training-data operators (dedup, similarity search, text analysis) the
north rule requires, all over Parquet/Iceberg-style columnar tables
with no per-row Python.

Architecture is Spark-first: DataFrame/SQL plans optimized by Catalyst
(predicate pushdown, broadcast joins, AQE skew handling). The flagship
path is native end to end — regex geoparse and the exact ray-cast PIP
against a broadcast polygon set are both native Spark expressions. Vectorized
pandas/Arrow UDFs remain only where Spark cannot express the work
(PBF and XML decode, recursive line simplification, media features,
stateful streaming sessions); the native kernels' references are the
single-node functions in ``oracle.py``, run only by tests.
"""

__version__ = "0.1.0"

from osm_jl_spark.session import get_spark  # noqa: F401

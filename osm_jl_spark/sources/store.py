"""Storage layer: the canonical pages-table reader and the
cell-clustered points store.

Production shape (north rule): the input is an ICEBERG table of
Common-Crawl-style web pages and the working tables are clustered by
cell prefix so spatial range queries prune partitions instead of
scanning. This sandbox has no Iceberg runtime jar, so:

- ``read_pages`` speaks Iceberg when the runtime is on the classpath
  (``format("iceberg")`` / catalog table names) and falls back to
  parquet paths — the engine code above it is identical either way,
  because everything downstream consumes a plain DataFrame with the
  input_hint schema (url, warc_ts, html, text, lang).
- ``write_points_clustered`` / ``read_points_bbox`` implement the
  cell-clustered layout with plain parquet partitioning: points are
  striped by a low-cardinality lon-cell bucket (directory-level
  partition pruning) and sorted by (cx, cy) within files (parquet
  row-group min/max skipping). On Iceberg the same layout is
  ``PARTITIONED BY (bucket/truncate(cx))`` + a sort order — one commit
  replaces the write call, nothing else changes.

The bbox operator over this store is the physical realization of the
reference's index-slice query (src/OSM.jl:246-257, src/index.jl:74-87):
the grid-index matrix slice becomes directory pruning + row-group
skipping, with zero shuffle and zero Python.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from osm_jl_spark.functions.cells import (
    PRECISION, bbox_cell_range, with_cell,
)

PAGES_COLS = ["url", "warc_ts", "html", "text", "lang"]

# lon-cells per directory stripe at PRECISION (2): 100 stripes of 1 degree
# each span the globe in ~360 dirs; at 10^12 docs each stripe still
# holds thousands of files, so pruning saves real scan work without
# creating a small-file problem.
STRIPE = 100

# the quadkey store's layout, shared by its writer and reader: points
# sorted by their zoom-QK_ZOOM quadkey within directories partitioned on
# its QK_STRIPE_ZOOM-digit prefix (a reader pruning on another prefix
# length would miss every directory)
QK_ZOOM = 12
QK_STRIPE_ZOOM = 2

# (application id, location) -> (sorted file listing, schema) of the
# parquet locations read by the live Spark application. Inferring a
# parquet schema runs a Spark job on every read, a read with the schema
# given runs none: a repeat read_pages of 250k stored pages on 4 CPUs
# took 81-139 ms with the job and 24-38 ms without. Only the live
# application's entries are kept.
_parquet_schemas: dict[tuple[str, str], tuple[list[str], StructType]] = {}


def _read_parquet(spark: SparkSession, location: str) -> DataFrame:
    """``spark.read.parquet(location)`` that infers the schema only on
    the first read of ``location`` by this Spark application, and again
    whenever the location's file listing has changed since."""
    key = (spark.sparkContext.applicationId, location)
    if key in _parquet_schemas:
        files, schema = _parquet_schemas[key]
        df = spark.read.schema(schema).parquet(location)
        if sorted(df.inputFiles()) == files:
            return df
    df = spark.read.parquet(location)
    for old in [k for k in _parquet_schemas if k[0] != key[0]]:
        _parquet_schemas.pop(old, None)
    _parquet_schemas[key] = (sorted(df.inputFiles()), df.schema)
    return df


def read_pages(
    spark: SparkSession, location: str, fmt: str | None = None
) -> DataFrame:
    """Load the pages table from Iceberg (catalog table or path) or
    parquet, returning the canonical column set in canonical order.

    fmt=None autodetects: a location shaped like a (qualified) SQL
    identifier is treated as a catalog table name; anything else is a
    path, tried as Iceberg and falling back to parquet ONLY when the
    failure is the Iceberg format itself being unavailable — genuine
    read errors (permissions, corruption) propagate.
    """
    if fmt == "iceberg":
        df = spark.read.format("iceberg").load(location)
    elif fmt == "table":
        df = spark.read.table(location)
    elif fmt == "parquet":
        df = _read_parquet(spark, location)
    elif re.fullmatch(
        r"[A-Za-z_][\w]*(\.[A-Za-z_][\w]*)*", location
    ) and not location.lower().endswith(
        (".parquet", ".pq", ".orc", ".avro", ".json", ".csv", ".osm")
    ):
        # identifier (db.schema.table); a bare relative filename like
        # "pages.parquet" is path-shaped, not a table reference
        df = spark.read.table(location)
    else:
        try:
            df = spark.read.format("iceberg").load(location)
        except Exception as e:  # fall back ONLY on missing Iceberg
            msg = str(e)
            if (
                "DATA_SOURCE_NOT_FOUND" in msg
                or "Failed to find the data source: iceberg" in msg
                or "ClassNotFoundException" in msg
            ):
                df = _read_parquet(spark, location)
            else:
                raise
    missing = [c for c in PAGES_COLS if c not in df.columns]
    if missing:
        raise ValueError(
            f"pages table at {location} lacks required columns {missing}; "
            f"expected {PAGES_COLS}"
        )
    return df.select(*PAGES_COLS)


def write_points_clustered(points: DataFrame, path: str) -> None:
    """Persist a (lon, lat) points table in the cell-clustered layout.

    Directory partitioning on the lon-cell stripe of ``STRIPE``
    cells at ``PRECISION`` + (cx, cy) sorting within files.
    ``repartition`` by the stripe key co-locates each directory's rows
    into one task (no small-file explosion);
    ``sortWithinPartitions`` orders row groups so parquet min/max
    statistics skip non-matching groups inside a stripe.
    """
    pts = points if "cx" in points.columns else with_cell(points, PRECISION)
    # floor division (NOT trunc): keeps stripes contiguous across the
    # negative axis so a BETWEEN on the stripe id is a correct superset
    # of any cx range
    stripe = F.floor(F.col("cx") / F.lit(STRIPE)).cast("long")
    (
        pts.withColumn("cx_stripe", stripe)
        .repartition("cx_stripe")
        .sortWithinPartitions("cx", "cy")
        .write.mode("overwrite")
        .partitionBy("cx_stripe")
        .parquet(path)
    )


def read_points_bbox(
    spark: SparkSession,
    path: str,
    ul: tuple[float, float],
    lr: tuple[float, float],
) -> DataFrame:
    """Bbox query against the clustered store: stripe predicate prunes
    directories (PartitionFilters), cell predicates reach the parquet
    reader (PushedFilters -> row-group skipping). No shuffle, no UDF.
    """
    xlo, xhi, ylo, yhi = bbox_cell_range(ul, lr, PRECISION)
    slo, shi = xlo // STRIPE, xhi // STRIPE
    df = _read_parquet(spark, path)
    return df.filter(
        F.col("cx_stripe").between(slo, shi)
        & F.col("cx").between(xlo, xhi)
        & F.col("cy").between(ylo, yhi)
    )


def write_points_quadkey(points: DataFrame, path: str) -> None:
    """Persist a (lon, lat) points table in the TILE-SERVING layout: directory
    partitioning on the zoom-``QK_STRIPE_ZOOM`` quadkey prefix and full
    zoom-``QK_ZOOM`` quadkey sorting within files.

    Because a parent tile's quadkey is a string PREFIX of every
    descendant's (functions/cells.py:quadkey_col), any "give me tile
    X's subtree" request is a contiguous key range in this layout:
    the stripe prefix prunes directories, and parquet string min/max
    statistics skip row groups inside a stripe. On Iceberg the same
    layout is ``PARTITIONED BY truncate(QK_STRIPE_ZOOM, qk)`` + a sort
    order on qk.

    The stripe value is prefixed with a literal ``q`` so the
    partition directory reads back as a STRING (Spark's partition
    type inference would otherwise turn an all-digit prefix like
    ``21`` into an int and break prefix predicates).
    """
    from osm_jl_spark.functions.cells import with_quadkey

    pts = points if "qk" in points.columns else with_quadkey(points, QK_ZOOM)
    (
        pts.withColumn(
            "qk_stripe",
            F.concat(F.lit("q"), F.substring("qk", 1, QK_STRIPE_ZOOM)),
        )
        .repartition("qk_stripe")
        .sortWithinPartitions("qk")
        .write.mode("overwrite")
        .partitionBy("qk_stripe")
        .parquet(path)
    )


def read_points_tile(
    spark: SparkSession, path: str, tile_qk: str
) -> DataFrame:
    """All stored points inside one tile's subtree (every zoom level
    at or below the tile's): rows whose quadkey starts with
    ``tile_qk``. The stripe predicate is PartitionFilters (directory
    pruning: equality when the tile is at least stripe-deep, prefix
    otherwise); the ``startswith`` on qk is pushed to parquet as
    StringStartsWith (row-group skipping). No shuffle, no Python —
    serving a map tile at 10^12 points is a pruned scan.
    """
    df = _read_parquet(spark, path)
    if len(tile_qk) >= QK_STRIPE_ZOOM:
        part = F.col("qk_stripe") == "q" + tile_qk[:QK_STRIPE_ZOOM]
    else:
        part = F.col("qk_stripe").startswith("q" + tile_qk)
    return df.filter(part & F.col("qk").startswith(tile_qk))

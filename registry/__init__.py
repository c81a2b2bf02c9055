"""One module per query family; each query's Spark builder is
registered next to its DuckDB oracle. Importing the package fills
``REGISTRY``; ``__spark_entry__`` orders it for the driver."""

from registry import dedup, osm, spatial, tabular, text, web  # noqa: F401
from registry.common import REGISTRY

__all__ = ["REGISTRY"]

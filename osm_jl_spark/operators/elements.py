"""Element-level predicates and searches — the reference's filter
surface (SURVEY.md §2.2), expressed as native Column expressions so
Catalyst pushes them into the scan.

Citations map each operator to the Julia original:
  hastag        src/elements.jl:38
  gettag        src/elements.jl:46
  tag macros    src/utils.jl:7-52
  highways      src/OSM.jl:138
  buildings     src/OSM.jl:145
  search        src/OSM.jl:152-164  (missing-safe name equality)
  search_address src/OSM.jl:177-201 (street AND housenumber)
  is_closed/is_area/is_road src/elements.jl:234-250
  filternodes   src/OSM.jl:118-124  (generic predicate filter — just
                ``df.filter``; Catalyst parallelizes what the reference
                did with @Threads.threads)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NAME = "name"
HIGHWAY = "highway"
BUILDING = "building"
ADDR_STREET = "addr:street"
ADDR_HOUSENUMBER = "addr:housenumber"
ADDR_POSTCODE = "addr:postcode"
ADDR_CITY = "addr:city"


def hastag(key: str) -> Column:
    """Tag-key existence in the ``tags`` map (src/elements.jl:38)."""
    return F.map_contains_key(F.col("tags"), F.lit(key))


def gettag(key: str) -> Column:
    """Tag value, NULL when absent — the reference's ``missing``
    (src/elements.jl:46)."""
    return F.element_at(F.col("tags"), F.lit(key))


def tag_eq(key: str, value) -> Column:
    """Missing-safe equality: ``coalesce(tag == v, false)`` in the
    reference (src/OSM.jl:155) == SQL null-safe equal ``<=>``."""
    return gettag(key).eqNullSafe(F.lit(value))


def filternodes(df: DataFrame, predicate: Column) -> DataFrame:
    """src/OSM.jl:118-124 — generic parallel boolean-mask filter."""
    return df.filter(predicate)


def highways(ways: DataFrame) -> DataFrame:
    """Ways carrying a highway tag (src/OSM.jl:138)."""
    return ways.filter(hastag(HIGHWAY))


def buildings(ways: DataFrame) -> DataFrame:
    """Ways carrying a building tag (src/OSM.jl:145)."""
    return ways.filter(hastag(BUILDING))


def highways_of_class(ways: DataFrame, classes: list[str]) -> DataFrame:
    """Tag-value membership filter (test.jl:5-13 highway class list)."""
    return ways.filter(gettag(HIGHWAY).isin(classes))


def search(ways: DataFrame, nodes: DataFrame, name: str
           ) -> tuple[DataFrame, DataFrame]:
    """Name-equality over ways AND nodes (src/OSM.jl:152-164)."""
    pred = tag_eq(NAME, name)
    return ways.filter(pred), nodes.filter(pred)


def search_address(
    ways: DataFrame,
    nodes: DataFrame,
    street: str,
    housenumber: str,
) -> tuple[DataFrame, DataFrame]:
    """Conjunctive street AND housenumber equality (src/OSM.jl:177-201).

    The reference also accepts postcode/city but its predicate never
    reads them (src/OSM.jl:186-189), so they are not parameters here.
    """
    pred = tag_eq(ADDR_STREET, street) & tag_eq(ADDR_HOUSENUMBER, housenumber)
    return ways.filter(pred), nodes.filter(pred)


# --- F4 tag macro helpers (src/utils.jl:7-52): each Julia macro is a
# one-line Column factory here, so it composes into any filter/select.


def name_of() -> Column:
    """``@name`` (src/utils.jl:7-9)."""
    return gettag(NAME)


def isaddress() -> Column:
    """``@isaddress`` — has an addr:street tag (src/utils.jl:16-18)."""
    return hastag(ADDR_STREET)


def addr_street() -> Column:
    """``@addr_street`` (src/utils.jl:20-22)."""
    return gettag(ADDR_STREET)


def addr_housenumber() -> Column:
    """``@addr_housenumber`` (src/utils.jl:24-26)."""
    return gettag(ADDR_HOUSENUMBER)


def addr_postcode() -> Column:
    """``@addr_postcode`` (src/utils.jl:28-30)."""
    return gettag(ADDR_POSTCODE)


def addr_city() -> Column:
    """``@addr_city`` (src/utils.jl:32-34)."""
    return gettag(ADDR_CITY)


def is_closed() -> Column:
    """First ``node_refs`` entry == last (src/elements.jl:234). Uses
    element_at (1-based; -1 = last); NULL-safe for empty arrays."""
    c = F.col("node_refs")
    return F.when(
        F.size(c) > 0,
        F.element_at(c, 1) == F.element_at(c, -1),
    ).otherwise(F.lit(False))


def is_area() -> Column:
    """Closed way => area (src/elements.jl:241-243)."""
    return is_closed()


def is_road() -> Column:
    """Not an area => road (src/elements.jl:248-250)."""
    return ~is_closed()


def relation_type() -> Column:
    """Relation 'type' tag (src/elements.jl:318)."""
    return gettag("type")


def tag_set(key: str, value) -> Column:
    """C8 ``tag!(e, k, v)`` (src/elements.jl:53-58) as a functional
    map update: remove any existing entry for ``key``, append the new
    one. (map_concat is NOT usable here — Spark's default
    mapKeyDedupPolicy=EXCEPTION throws on duplicate keys.)"""
    val = value if isinstance(value, Column) else F.lit(value)
    kept = F.filter(
        F.map_entries(F.col("tags")), lambda e: e["key"] != F.lit(key)
    )
    entry = F.array(
        F.struct(F.lit(key).alias("key"), val.alias("value"))
    )
    return F.map_from_entries(F.concat(kept, entry))


def tags_canonical() -> Column:
    """Deterministic string form of a tags map: sorted 'k=v' entries
    joined with ';' — maps have no cross-engine canonical order, so
    comparisons (and the DuckDB oracle) use this."""
    return F.concat_ws(
        ";",
        F.array_sort(
            F.transform(
                F.map_entries(F.col("tags")),
                lambda e: F.concat(e["key"], F.lit("="), e["value"]),
            )
        ),
    )

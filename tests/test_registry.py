"""Registry meta-pins: every registered query stays oracle-checked.

The driver's correctness gate only exercises (queries() ∩ oracle_sql())
— a query that silently loses its oracle entry degrades to a weak
rows-only check without any test failing. This pins the contract:
the ONLY rows-only queries are the two that are approximate BY DESIGN,
each with its invariant checked elsewhere (ivf_knn via
ivf_knn_exhaustive's no-loss oracle; approx_domains via the pinned
HLL error bound in tests/test_web.py)."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry  # noqa: E402

ROWS_ONLY_BY_DESIGN = {"ivf_knn", "approx_domains"}


def test_every_query_has_an_oracle_or_is_declared_approximate():
    qs = set(entry.queries())
    oracles = set(entry.oracle_sql())
    missing = qs - oracles
    assert missing == ROWS_ONLY_BY_DESIGN, (
        f"queries without oracle_sql: {sorted(missing)}"
    )


def test_no_orphan_oracles():
    qs = set(entry.queries())
    orphans = set(entry.oracle_sql()) - qs
    assert not orphans, f"oracle_sql keys with no query: {sorted(orphans)}"


def test_registry_fits_two_driver_rounds():
    """The driver checks a 50-entry PREFIX of queries() in insertion
    order each round. The registry must fit two such rounds, and the
    order must leave no query's newest driver evidence two or more
    rounds old after the coming round (PENDING, never-checked queries
    are reported but allowed)."""
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from check_correctness import stale_report

    assert len(entry.queries()) <= 100
    assert stale_report(50) == 0


def test_index_lists_every_registered_query_once():
    from registry import REGISTRY

    assert len(entry.INDEX) == len(set(entry.INDEX))
    assert set(entry.INDEX) == set(REGISTRY)


def test_bench_list_is_a_registry_subset():
    """Every BENCH_QUERIES entry must be a registered query — a
    renamed or dropped registration would otherwise KeyError halfway
    through the driver's bench run."""
    import bench

    missing = [q for q in bench.BENCH_QUERIES if q not in entry.queries()]
    assert not missing, missing

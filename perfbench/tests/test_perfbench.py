"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(os.path.dirname(HERE)), os.path.dirname(HERE)]

import host  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
from stats import percentile, tail_percentile  # noqa: E402
from tracing import Tracer, op_metric, parse_event_log, task_skew  # noqa: E402


# ------------------------------------------------------------ host fit


def test_levels_four_cpus():
    assert host.levels({0, 1, 2, 3}) == ([0, 1, 2, 3], [0])


def test_levels_follow_the_affinity_set():
    assert host.levels({2, 3, 5, 7, 8, 9, 10, 11}) == ([2, 3, 5, 7, 8, 9, 10, 11], [2, 3])


@pytest.mark.parametrize("cpus", [{0}, {0, 1, 2}])
def test_levels_refuse_too_few_cpus(cpus):
    with pytest.raises(host.HostTooSmall):
        host.levels(cpus)


def test_driver_memory_scales_with_ram():
    assert host.driver_memory(4) == "1g"
    assert host.driver_memory(15.6) == "1g"
    assert host.driver_memory(16) == "2g"
    assert host.driver_memory(256) == "4g"


def test_end_to_end_metrics():
    res = {"ready": 110.0, "rows": 1000, "headline_s": [2.0, 1.0, 4.0]}
    assert run.end_to_end(res, 100.0, 512.0) == {
        "setup_s": 10.0, "rows_per_s": 500.0, "peak_rss_mb": 512.0}


# ------------------------------------------------------ tail percentile


@pytest.mark.parametrize("n,pct", [(5, None), (19, None), (20, 50.0), (39, 50.0),
                                   (40, 75.0), (100, 90.0), (200, 95.0),
                                   (1000, 99.0), (10_000, 99.0), (20_000, 99.9)])
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    assert tail_percentile(n) == pct


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(list(reversed(xs)), 99) == 99


# -------------------------------------------------------------- digests


def _pairs_digest(con, rel: str) -> tuple:
    return con.execute(inputs.pip_digest_sql(rel)).fetchone()


def test_digest_catches_a_one_row_change():
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT range AS id, range % 7 AS polygon_id FROM range(1000)")
    base = _pairs_digest(con, "t")
    changed = _pairs_digest(con, "(SELECT id, CASE WHEN id = 500 THEN 4 ELSE polygon_id END "
                                 "AS polygon_id FROM t)")
    dropped = _pairs_digest(con, "(SELECT * FROM t WHERE id <> 500)")
    duplicated = _pairs_digest(con, "(SELECT * FROM t UNION ALL SELECT * FROM t WHERE id = 1)")
    assert base != changed and base != dropped and base != duplicated
    assert base == _pairs_digest(con, "(SELECT * FROM t ORDER BY id DESC)")


def test_pip_oracle_uses_double_arithmetic():
    # a point exactly on the edge of the Vitória triangle: with the
    # edge literals as DECIMAL the crossing test rounds differently
    # from the engine's IEEE doubles
    con = duckdb.connect()
    sql = inputs._pip_pairs_sql("SELECT 1 AS id, -40.3475::DOUBLE AS lon, -20.2345::DOUBLE AS lat",
                                {2: inputs.G.VITORIA_TRI})
    assert con.execute(sql).fetchall() == [(1, -40.3475, -20.2345, 2)]


def test_seeds_give_distinct_inputs_and_a_seed_repeats():
    assert inputs.seed_offset(1) != inputs.seed_offset(2)
    assert inputs.seed_offset(7) == inputs.seed_offset(7)
    assert inputs.cache_key("polygon_tiles", 1) != inputs.cache_key("polygon_tiles", 2)
    assert inputs.cache_key("polygon_tiles", 1) == inputs.cache_key("polygon_tiles", 1)


def test_pip_polygon_ids_unique():
    polys = inputs.pip_polygons()
    assert len(polys) == 99 and sorted(polys)[:3] == [1, 2, 3]


# --------------------------------------------------------------- tracing

LOG = os.path.join(HERE, "data", "eventlog_scan.json")


def test_event_log_parser_on_captured_log():
    log = parse_event_log(LOG)
    g = log["groups"]["p1.scan"]
    assert (g["jobs"], g["stages"]) == (2, 2)
    assert g["executions"] == {6, 7}
    assert log["total"]["exec_cpu_s"] > 0 and log["total"]["spill_bytes"] == 0
    assert sum(len(v) for v in g["stage_tasks"].values()) == 34
    # two scans of the same 19.8 MB file
    assert op_metric(log, "p1.scan", None, "size of files read") == 2 * 19821595
    assert op_metric(log, "p1.scan", "Scan parquet ", "number of files read") == 2
    assert log["plan"]["exchanges"] == 0 and log["plan"]["python_ops"] == 0
    assert task_skew(g) >= 1.0


def test_spans_nest():
    tr = Tracer("t")
    with tr.span("outer"):
        with tr.span("inner"):
            time.sleep(0.02)
    inner = next(s for s in tr.spans if s["name"] == "inner")
    assert inner["parent"] == "outer" and inner["run_id"] == "t"
    assert tr.duration("outer") >= tr.duration("inner") >= 0.02

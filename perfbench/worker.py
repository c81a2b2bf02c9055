"""The Spark side of one benchmark run.

``run.py`` starts this file as a subprocess with a JSON spec and reads
the JSON result it writes. The worker starts one ``local[len(hi)]``
session, warms the workload's headline phase once, times the headline
phase back to back, then runs every other phase once. Every phase
checks its output against the expected digest; an exception or a
mismatch is a failed operation, not a crash.

With ``trace`` set it also measures the headline phase at the ``lo``
level, then, in a fresh context with the event log on, times prefixes
of each phase into the ``noop`` sink with spans around every call into
the engine, and derives the per-layer metrics.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

ROOT = os.getcwd()
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import host  # noqa: E402
import inputs as I  # noqa: E402
from osm_jl_spark import datagen as G  # noqa: E402
from osm_jl_spark.session import get_spark  # noqa: E402
from stats import percentile, tail_percentile  # noqa: E402
from tracing import Tracer, op_metric, parse_event_log, task_skew  # noqa: E402


class Mismatch(AssertionError):
    """A pass produced output that differs from the expected digest."""


def expect_eq(what: str, got, want) -> None:
    if got != want:
        raise Mismatch(f"{what}: got {got!r}, expected {want!r}")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def pmod_col(expr):
    return F.pmod(expr, F.lit(I.P))


# -------------------------------------------------------------- session


def start_session(spec: dict, cores: int, trace_dir: str | None = None):
    extra = {
        "spark.sql.files.maxPartitionBytes": str(spec["split_bytes"]),
        "spark.local.dir": spec["local_dir"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={spec['local_dir']}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace_dir:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": trace_dir,
            "spark.eventLog.compress": "false",
        })
    return get_spark(app=f"perfbench-{spec['workload']}", cores=cores,
                     shuffle_partitions=8, driver_memory=spec["driver_memory"],
                     extra=extra)


# ------------------------------------------------------------ workloads


class Workload:
    """One workload: ``headline`` names the phase whose input rows per
    second is reported (and which the scaling pair repeats); ``phases``
    are every phase an untraced run checks."""

    headline: str
    rows: int
    phases: tuple[str, ...]

    def __init__(self, spark, spec: dict, tr: Tracer | None = None, check: bool = True):
        self.spark = spark
        self.spec = spec
        self.inputs = spec["inputs"]
        self.check = check
        self.expect = spec["expect"]
        self.tr = tr
        self.extra: dict[str, list[float]] = {}

    def eq(self, what: str, got, want) -> None:
        if self.check:
            expect_eq(what, got, want)

    def span(self, name):
        return nullcontext() if self.tr is None else self.tr.span(name)

    def note(self, key: str, value: float) -> None:
        self.extra.setdefault(key, []).append(value)


class CrawlFlagship(Workload):
    headline = "flagship"
    phases = ("flagship",)

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.rows = self.expect["docs"]

    def pages(self):
        from osm_jl_spark.sources.store import read_pages

        with self.span("sources.store.read_pages"):
            return read_pages(self.spark, self.inputs["pages"], fmt="parquet")

    def flagship(self) -> None:
        from osm_jl_spark.operators.pipeline import flagship

        out = flagship(self.pages(), G.POLYGONS, I.FLAGSHIP_PRECISION)
        rows = sorted([r.polygon_id, r.cx, r.cy, r.n_points] for r in out.collect())
        self.eq("flagship tiles", rows, self.expect["flagship"])

    def trace(self, t: dict) -> None:
        from osm_jl_spark.functions.cells import with_cell
        from osm_jl_spark.functions.text import geoparse_col
        from osm_jl_spark.operators.pipeline import flagship, geoparse_points

        tr = self.tr
        pages = self.pages()
        t["store.scan_s"] = prefix(tr, "p1.scan", lambda: pages.select("url", "text"))
        t["p2"] = prefix(tr, "p2.geoparse", lambda: geoparse_points(pages))
        t["p3"] = prefix(tr, "p3.encode", lambda: with_cell(geoparse_points(pages), 2))
        t["p4"] = prefix(tr, "p4.pip", lambda: _pip_call(tr, geoparse_points(pages), G.POLYGONS))
        t["p5"] = prefix(tr, "p5.flagship", lambda: flagship(pages, G.POLYGONS, 2))
        t["text.geoparse_s"] = t["p2"] - t["store.scan_s"]
        t["cells.encode_s"] = t["p3"] - t["p2"]
        t["joins.pip_s"] = t["p4"] - t["p3"]
        t["pipeline.aggregate_s"] = t["p5"] - t["p4"]
        with tr.span("functions.text.geoparse_col"):
            hit = pages.select((F.size(geoparse_col("text")) > 0).cast("int").alias("h")) \
                .agg(F.count(F.lit(1)), F.sum("h")).first()
        tr.counts["text.doc_hit_ratio"] = hit[1] / hit[0]
        tr.counts.update(pip_counts(tr, geoparse_points(pages), G.POLYGONS))
        tr.counts["joins.pip_out"] = sum(r[3] for r in self.expect["flagship"])
        tr.counts["pip_group"] = "p4.pip"
        tr.counts["scan_group"] = "p1.scan"
        tr.counts["geoparse_group"] = "p2.geoparse"


def _pip_call(tr: Tracer, points, polys):
    """nodes_in_polygons, with its eager driver work (cover enumeration
    and the broadcast dimension) timed as the call itself."""
    from osm_jl_spark.operators.joins import nodes_in_polygons

    with tr.span("operators.joins.nodes_in_polygons"):
        return nodes_in_polygons(points, polys, 2)


def pip_counts(tr: Tracer, points, polys, precision: int = 2) -> dict:
    """Cover-join counts from outside the join: the cover cells are
    captured by wrapping ``joins.cell_cover`` during one call, then one
    job counts the (point, polygon) pairs whose cell is in the cover
    (``candidates``) and those a full cell or the polygon bbox keeps
    (``bbox_survivors``)."""
    from osm_jl_spark.functions.cells import with_cell
    from osm_jl_spark.operators import joins as J

    rows = []
    orig = J.cell_cover

    def spy(ring, precision, *a, **kw):
        full, boundary = orig(ring, precision, *a, **kw)
        pid = next(p for p, r in sorted(polys.items()) if r is ring)
        xs, ys = [v[0] for v in ring], [v[1] for v in ring]
        box = (min(xs), max(xs), min(ys), max(ys))
        rows.extend((pid, cx, cy, (cx, cy) in full, *box) for cx, cy in full | boundary)
        return full, boundary

    J.cell_cover = spy
    try:
        J.nodes_in_polygons(points, polys, precision)
    finally:
        J.cell_cover = orig
    cover = points.sparkSession.createDataFrame(
        rows, "polygon_id BIGINT, ccx BIGINT, ccy BIGINT, is_full BOOLEAN, "
              "bminx DOUBLE, bmaxx DOUBLE, bminy DOUBLE, bmaxy DOUBLE")
    pts = with_cell(points, precision)
    kept = F.col("is_full") | (F.col("lon").between(F.col("bminx"), F.col("bmaxx"))
                               & F.col("lat").between(F.col("bminy"), F.col("bmaxy")))
    with tr.span("pip.counts"):
        got = pts.join(F.broadcast(cover), (pts.cx == cover.ccx) & (pts.cy == cover.ccy)) \
            .agg(F.count(F.lit(1)), F.sum(kept.cast("long"))).first()
    return {"joins.cover_rows": len(rows), "joins.candidates": got[0],
            "joins.bbox_survivors": got[1]}


def prefix(tr: Tracer, name: str, build, reps: int = 2) -> float:
    """Fastest of ``reps`` runs of the prefix DataFrame ``build()`` into
    the noop sink, each under span ``name``."""
    best = float("inf")
    for _ in range(reps):
        with tr.span(name) as s:
            noop(build())
        best = min(best, s["end"] - s["start"])
    return best


class OsmPhases:
    """The OSM stage of ``polygon_tiles``, run in the traced run: one
    .osm file through XML decode, a tag predicate, the way-node join, a
    bbox extract and the GeoJSON sink; its nodes through manifest units
    into the quadkey store; then a closed loop of tile reads by one
    client. Every step is checked against the digest."""

    @staticmethod
    def _features(out: str) -> list[int]:
        got = duckdb.sql(
            f"SELECT count(*), coalesce(sum(id), 0) FROM read_json('{out}/part-*', "
            f"format='newline_delimited', columns={{'id': 'BIGINT'}})").fetchone()
        return [got[0], got[1]]

    # -- store: nodes through manifest units into the quadkey store,
    #    then a second call that resumes (skips every unit)
    def store(self) -> None:
        from osm_jl_spark.functions.cells import cell_coord
        from osm_jl_spark.plans.manifest import plan_units, run_with_manifest
        from osm_jl_spark.sources.store import write_points_quadkey

        root = os.path.join(self.work, "store")
        marks = os.path.join(self.work, "units")
        manifest = os.path.join(self.work, "manifest.jsonl")
        pts = self.nodes.select("id", "lon", "lat")
        spark = self.spark

        def run_unit(u, obs):
            # the unit writes its lon stripe into the quadkey store; the
            # manifest records rows per quadkey stripe read back from it
            path = os.path.join(root, f"unit={u.unit_id}")
            part = pts.filter(cell_coord("lon", 0).between(u.lo, u.hi))
            with self.span("sources.store.write_points_quadkey"):
                write_points_quadkey(part, path)
            return (spark.read.parquet(path).groupBy("qk_stripe").count()
                    .observe(obs, F.coalesce(F.sum("count"), F.lit(0)).alias("rows")))

        units = plan_units(-180, 179, I.STORE_UNITS)
        with self.span("plans.manifest.run_with_manifest"):
            res = run_with_manifest(spark, units, run_unit, marks, manifest)
        self.eq("units run", len(res["ran"]), len(units))
        with self.span("plans.manifest.resume"):
            again = run_with_manifest(spark, units, run_unit, marks, manifest)
        self.eq("units skipped on resume", len(again["skipped"]), len(units))
        got = duckdb.sql(
            f"SELECT count(*), coalesce(sum(id), 0) FROM read_parquet('{root}/*/*/*.parquet')"
        ).fetchone()
        self.eq("store rows", [got[0], got[1]], [self.expect["nodes"], self.expect["node_id_sum"]])
        self.store_root = root
        self.tiles_expected = self._tile_requests(root)

    def _tile_requests(self, root: str) -> list[tuple[str, int]]:
        """Tiles to request, drawn from the seed: quadkey prefixes (zoom
        4-10) of stored points chosen by a seeded hash, with the row
        count each must return according to the stored parquet."""
        seed = self.spec["seed"]
        con = duckdb.connect()
        try:
            qks = con.execute(
                f"SELECT qk FROM read_parquet('{root}/*/*/*.parquet') "
                f"ORDER BY hash(id + {seed}) LIMIT {I.TILE_READS}").fetchall()
            tiles = [qk[: 4 + (i * 7 + seed) % 7] for i, (qk,) in enumerate(qks)]
            return [(t, con.execute(
                f"SELECT count(*) FROM read_parquet('{root}/*/*/*.parquet') "
                f"WHERE starts_with(qk, '{t}')").fetchone()[0]) for t in tiles]
        finally:
            con.close()

    # -- tiles: a closed loop of tile reads by one client
    def tiles(self) -> None:
        from osm_jl_spark.sources.store import read_points_tile

        for tile, want in self.tiles_expected:
            t0 = time.perf_counter()
            with self.span("sources.store.read_points_tile"):
                n = read_points_tile(self.spark, self.store_root, tile).count()
            self.note("tile_read_ms", (time.perf_counter() - t0) * 1000)
            self.eq(f"tile {tile} rows", n, want)

    def trace_osm(self, t: dict) -> None:
        from osm_jl_spark.operators.elements import highways_of_class
        from osm_jl_spark.operators.joins import extract_bbox, way_lengths
        from osm_jl_spark.sources.geojson import way_features, write_jsonl
        from osm_jl_spark.sources.osm_xml import parse_osm_file, split_elements

        tr = self.tr
        split = self.spec["osm_split_bytes"]
        t["osm_xml.parse_s"] = prefix(
            tr, "x1.parse", lambda: parse_osm_file(self.spark, self.inputs["osm"], split_bytes=split))
        size = os.path.getsize(self.inputs["osm"])
        tr.counts["osm_xml.splits"] = max(1, -(-size // split))
        # later prefixes start from the persisted elements, so each
        # difference isolates one layer and not the XML decode again
        e = self.expect
        el = parse_osm_file(self.spark, self.inputs["osm"], split_bytes=split).persist()
        kinds = dict(el.groupBy("kind").count().collect())
        self.eq("element counts", kinds,
                {"node": e["nodes"], "way": e["ways"], "relation": e["relations"]})
        tr.counts["osm_xml.elements"] = sum(kinds.values())
        nodes, ways, _ = split_elements(el)
        sel = highways_of_class(ways, I.HIGHWAY_SELECT)
        t["x1c"] = prefix(tr, "x1c.cached", lambda: ways)
        t["x2"] = prefix(tr, "x2.filter", lambda: highways_of_class(ways, I.HIGHWAY_SELECT))
        t["elements.filter_s"] = t["x2"] - t["x1c"]
        tr.counts["elements.selected_ratio"] = sel.count() / ways.count()
        t["x3"] = prefix(tr, "x3.way_lengths", lambda: way_lengths(sel, nodes))
        t["joins.waynodes_s"] = t["x3"] - t["x2"]
        got = way_lengths(sel, nodes).agg(F.count(F.lit(1)), F.sum("n_pts")).first()
        self.eq("way_lengths", [got[0], got[1]], e["lengths"])
        inside, bways = extract_bbox(nodes, sel, G.VITORIA_UL, G.VITORIA_LR, 2)
        got = inside.agg(F.count(F.lit(1)), F.coalesce(F.sum("id"), F.lit(0))).first()
        self.eq("bbox nodes", [got[0], got[1]], e["bbox_nodes"])
        t["x4"] = prefix(tr, "x4.extract_bbox", lambda: bways)
        t["joins.bbox_s"] = t["x4"] - t["x2"]
        out = os.path.join(self.work, "features")
        with tr.span("x5.write_jsonl") as s:
            write_jsonl(way_features(bways, nodes, coord_decimals=5), out)
        t["geojson.write_s"] = (s["end"] - s["start"]) - t["x4"]
        files = [os.path.join(out, f) for f in os.listdir(out) if f.startswith("part-")]
        feats = self._features(out)
        self.eq("geojson features", feats, e["bbox_ways"])
        tr.counts["geojson.features"] = feats[0]
        tr.counts["geojson.bytes"] = sum(os.path.getsize(f) for f in files)
        t["phase.elements_per_s"] = tr.counts["osm_xml.elements"] / (
            t["osm_xml.parse_s"] + t["x3"] + t["x4"] + (s["end"] - s["start"]))

        self.nodes = nodes
        with tr.span("s1.store"):
            self.store()
        durs = [x["end"] - x["start"] for x in tr.spans
                if x["name"] == "sources.store.write_points_quadkey"]
        t["store.write_s"] = sum(durs)
        tr.counts["manifest.units"] = len(durs)
        t["manifest.unit_s"] = statistics.median(durs)
        t["manifest.resume_s"] = tr.duration("plans.manifest.resume")
        t["phase.store_rows_per_s"] = self.expect["nodes"] / tr.duration("plans.manifest.run_with_manifest")
        written = [os.path.join(d, f) for d, _, fs in os.walk(self.store_root)
                   for f in fs if f.endswith(".parquet")]
        tr.counts["store.files_written"] = len(written)
        tr.counts["store.bytes_written"] = sum(os.path.getsize(f) for f in written)
        with tr.span("t1.tiles"):
            self.tiles()
        el.unpersist()
        lat = self.extra["tile_read_ms"]
        t["phase.tile_read_p50_ms"] = statistics.median(lat)
        pct = tail_percentile(len(lat))
        t["phase.tile_read_tail_pct"] = pct or 0
        t["phase.tile_read_tail_ms"] = percentile(lat, pct) if pct else 0
        tr.counts["waynodes_group"] = "x3.way_lengths"
        tr.counts["tiles_group"] = "sources.store.read_points_tile"


class PolygonTiles(OsmPhases, Workload):
    """Untraced runs time ``pip`` and check ``rollup``; the traced run
    adds the checked ``knn`` phase (34 Spark jobs, about 12 s) and the
    OSM stage."""

    headline = "pip"
    phases = ("pip", "rollup")

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.rows = self.expect["points"]
        self.polys = I.pip_polygons()
        self.work = os.path.join(self.spec["scratch"], "osm")

    def points(self):
        with self.span("sources.store.read_points"):
            return self.spark.read.parquet(self.inputs["points"])

    def pip(self) -> None:
        from osm_jl_spark.operators.joins import nodes_in_polygons

        with self.span("operators.joins.nodes_in_polygons"):
            pairs = nodes_in_polygons(self.points(), self.polys, 2)
        got = pairs.agg(
            F.count(F.lit(1)),
            F.coalesce(F.sum(pmod_col(F.col("id") * 1000003 + F.col("polygon_id") * 7919)),
                       F.lit(0)),
        ).first()
        self.eq("pip digest", [got[0], got[1]], self.expect["pip"])

    def rollup(self) -> None:
        from osm_jl_spark.operators.tiling import raster_to_vector, tile_rollup

        with self.span("operators.tiling.tile_rollup"):
            tiles = raster_to_vector(tile_rollup(self.points(), I.ROLLUP_PRECISIONS), 1)
        row = F.expr(I.rollup_row_sql())
        got = tiles.agg(
            F.count(F.lit(1)), F.sum(row),
            F.sum((F.col("n_points") >= I.RASTER_THRESHOLD).cast("long")),
        ).first()
        self.eq("rollup digest", [got[0], got[1]], self.expect["rollup"])
        self.eq("raster tiles", got[2], self.expect["raster_tiles"])
        self.note("tiles", got[0])

    def knn(self) -> None:
        from osm_jl_spark.operators.knn import knn_join

        qs = self.expect["queries"]
        queries = self.spark.createDataFrame(qs, "query_id BIGINT, qlon DOUBLE, qlat DOUBLE")
        pts = self.points().filter(F.col("id") <= self.spec["sizes"]["knn_points"])
        with self.span("operators.knn.knn_join"):
            out = knn_join(pts, queries, k=I.KNN_K, precision=I.KNN_PRECISION)
        try:
            checked = [int(q) for q in self.expect["knn"]]
            got: dict[str, list] = {}
            for r in out.filter(F.col("query_id").isin(checked)).collect():
                got.setdefault(str(r.query_id), []).append((r["rank"], r.id))
            got = {q: [i for _, i in sorted(v)] for q, v in got.items()}
            self.eq("knn neighbours", got, self.expect["knn"])
            self.eq("knn rows", out.count(), len(qs) * I.KNN_K)
        finally:
            out.unpersist()
        self.note("queries", len(qs))

    def trace(self, t: dict) -> None:
        from osm_jl_spark.functions.cells import with_cell
        from osm_jl_spark.operators import knn as K
        from osm_jl_spark.operators.tiling import raster_to_vector, tile_rollup

        tr = self.tr
        pts = self.spark.read.parquet(self.inputs["points"])
        t["store.scan_s"] = prefix(tr, "p1.scan", lambda: pts)
        t["p2"] = prefix(tr, "p2.encode", lambda: with_cell(pts, 2))
        t["p3"] = prefix(tr, "p3.pip", lambda: _pip_call(tr, pts, self.polys))
        t["cells.encode_s"] = t["p2"] - t["store.scan_s"]
        t["joins.pip_s"] = t["p3"] - t["p2"]
        tr.counts.update(pip_counts(tr, pts, self.polys))
        tr.counts["joins.pip_out"] = self.expect["pip"][0]

        def roll():
            with tr.span("operators.tiling.tile_rollup"):
                return raster_to_vector(tile_rollup(pts, I.ROLLUP_PRECISIONS), 1)

        t["r1"] = prefix(tr, "r1.rollup", roll)
        t["tiling.rollup_s"] = t["r1"] - t["store.scan_s"]

        # kNN: wrap the module's per-level step to count levels and the
        # queries each level leaves pending (a count of a checkpointed
        # frame); the wrapper is installed for this call only
        levels: list[int] = []
        orig = K._expand_level

        def level(*a, **kw):
            pending = orig(*a, **kw)
            levels.append(pending.count())
            return pending

        K._expand_level = level
        try:
            with tr.span("k1.knn"):
                self.knn()
        finally:
            K._expand_level = orig
        t["knn.s"] = tr.duration("operators.knn.knn_join")
        tr.counts["knn.levels_run"] = len(levels)
        tr.counts["knn.pending_after_first_level"] = levels[0] if levels else 0
        tr.counts["knn.brute_queries"] = levels[-1] if levels else 0
        tr.counts["pip_group"] = "p3.pip"
        tr.counts["scan_group"] = "p1.scan"
        tr.counts["rollup_group"] = "r1.rollup"
        tr.counts["knn_group"] = "operators.knn.knn_join"
        t["phase.tiles_per_s"] = self.expect["rollup"][0] / t["r1"]
        t["phase.knn_queries_per_s"] = len(self.expect["queries"]) / t["knn.s"]
        self.trace_osm(t)


WORKLOADS = {
    "crawl_flagship": CrawlFlagship,
    "polygon_tiles": PolygonTiles,
}


# ----------------------------------------------------------------- runs


def run_pass(w: Workload, phases, res: dict) -> float:
    """Run ``phases`` once; returns the pass wall time. Records each
    phase's time, and counts an exception or mismatch as one failed
    operation."""
    t_pass = time.perf_counter()
    for ph in phases:
        res["attempted"] += 1
        t0 = time.perf_counter()
        try:
            getattr(w, ph)()
        except Exception as exc:  # noqa: BLE001 - a failed op is a result
            res["failed"] += 1
            res["errors"].append(f"{ph}: {type(exc).__name__}: {exc}"[:500])
            traceback.print_exc(file=sys.stderr)
        res["phase_s"].setdefault(ph, []).append(time.perf_counter() - t0)
    return time.perf_counter() - t_pass


WARM_PASSES = 3  # the bulk of the JIT speed-up; samples keep improving a little after


def warm(spark, spec: dict, res: dict) -> None:
    """The headline phase ``WARM_PASSES`` times, unchecked and untimed
    (class loading, codegen, JIT); ends the set-up the run reports as
    ``setup_s``. The other phases are not warmed: a batch job pays their
    first execution on every run, and warming them would cost as much as
    running them."""
    t0 = time.perf_counter()
    w = WORKLOADS[spec["workload"]](spark, spec, check=False)
    for _ in range(WARM_PASSES):
        getattr(w, w.headline)()
    res["warmup_s"] = time.perf_counter() - t0
    res["ready"] = time.time()


def untraced(spec: dict, res: dict) -> None:
    """The headline phase back to back until ``seconds`` have elapsed
    (at least five samples), then every other phase once."""
    t0 = time.perf_counter()
    spark = start_session(spec, len(spec["hi"]))
    res["session_start_s"] = time.perf_counter() - t0
    warm(spark, spec, res)
    w = WORKLOADS[spec["workload"]](spark, spec)
    t_run = time.perf_counter()
    while len(res["phase_s"].get(w.headline, [])) < 5 or time.perf_counter() - t_run < spec["seconds"]:
        run_pass(w, [w.headline], res)
    res["headline_s"] = list(res["phase_s"][w.headline])
    run_pass(w, [ph for ph in w.phases if ph != w.headline], res)
    res["extra"] = w.extra
    res["rows"] = w.rows
    spark.stop()


def scaling(spark, spec: dict, res: dict):
    """Headline phase at ``hi`` twice, then once at ``lo``: a fresh
    local[len(lo)] context in the same (warm) JVM with every thread of
    the process tree pinned to the lo CPUs. Leaves the tree pinned back
    to ``hi`` and returns a stopped session."""
    hi, lo = spec["hi"], spec["lo"]
    w = WORKLOADS[spec["workload"]](spark, spec)
    t_hi = [run_pass(w, [w.headline], res) for _ in range(2)]
    spark.stop()
    host.pin_tree(os.getpid(), lo)
    spark = start_session(spec, len(lo))
    host.pin_tree(os.getpid(), lo)
    t_lo = run_pass(WORKLOADS[spec["workload"]](spark, spec), [w.headline], res)
    spark.stop()
    host.pin_tree(os.getpid(), hi)
    res["scaling"] = {"hi_s": t_hi, "lo_s": t_lo, "hi": len(hi), "lo": len(lo)}
    return min(t_hi), t_lo


def traced(spec: dict, res: dict) -> None:
    """Untraced headline passes at both levels first (the scaling pair
    and the overhead baseline), then a fresh context with the event log
    on for traced passes and the prefix ablation."""
    hi, lo = spec["hi"], spec["lo"]
    t0 = time.perf_counter()
    spark = start_session(spec, len(hi))
    res["session_start_s"] = time.perf_counter() - t0
    warm(spark, spec, res)
    plain, t_lo = scaling(spark, spec, res)

    log_dir = os.path.join(spec["scratch"], "eventlog")
    os.makedirs(log_dir)
    spark = start_session(spec, len(hi), trace_dir=log_dir)
    tr = Tracer(run_id=f"{spec['workload']}-seed{spec['seed']}", sc=spark.sparkContext)
    w = WORKLOADS[spec["workload"]](spark, spec, tr)
    with tr.span("traced.headline"):
        traced_s = [run_pass(w, [w.headline], res) for _ in range(2)]
    t: dict[str, float] = {}
    res["attempted"] += 1
    try:
        with tr.span("ablation"):
            w.trace(t)
    except Exception as exc:  # noqa: BLE001 - a failed op is a result
        res["failed"] += 1
        res["errors"].append(f"trace: {type(exc).__name__}: {exc}"[:500])
        traceback.print_exc(file=sys.stderr)
    spark.stop()
    (name,) = os.listdir(log_dir)
    log = parse_event_log(os.path.join(log_dir, name))
    m = layer_metrics(res, w, tr, t, log)
    m["trace.overhead_ratio"] = min(traced_s) / plain - 1
    m["scaling.eff"] = t_lo / (plain * len(hi) / len(lo))
    m["scaling.rows_per_s_hi"] = w.rows / plain
    m["scaling.rows_per_s_lo"] = w.rows / t_lo
    res["per_layer"] = m
    res["rows"] = w.rows
    tr.dump(os.path.join(spec["scratch"], "trace.json"), {
        "prefix_s": t, "plan": log["plan"], "per_layer": m,
        "host": spec["host"], "levels": {"hi": hi, "lo": lo},
        "groups": {str(g): {k: v for k, v in d.items() if k not in ("stage_tasks", "executions")}
                   for g, d in log["groups"].items()},
        "ops": {str(e): {"group": x["group"], "ops": {f"{n}/{mm}": v for (n, mm), v in x["ops"].items()}}
                for e, x in log["executions"].items()},
    })


def layer_metrics(res, w, tr, t, log) -> dict:
    m = {k: v for k, v in t.items() if "." in k}
    counts = {k: v for k, v in tr.counts.items() if not k.endswith("_group")}
    m.update(counts)
    m["session.start_s"] = res["session_start_s"]
    groups = log["groups"]
    c = tr.counts
    if "scan_group" in c:
        m["store.bytes_read"] = op_metric(log, c["scan_group"], None, "size of files read") / 2
    if "geoparse_group" in c:
        m["text.points_out"] = op_metric(log, c["geoparse_group"], "Generate",
                                         "number of output rows") / 2
    if "pip_group" in c:
        g = c["pip_group"]
        calls = [x["end"] - x["start"] for x in tr.spans
                 if x["name"] == "operators.joins.nodes_in_polygons"]
        m["joins.cover_build_s"] = statistics.median(calls)
        m["joins.broadcast_bytes"] = op_metric(log, g, "BroadcastExchange", "data size") / 2
        m["joins.pip_yield"] = m["joins.pip_out"] / max(1, m["joins.candidates"])
    if "rollup_group" in c:
        g = groups.get(c["rollup_group"])
        m["tiling.partial_rows"] = sum(
            v for e in log["executions"].values() if e["group"] == c["rollup_group"]
            for (n, mm), v in e["ops"].items()
            if n == "HashAggregate" and mm == "number of output rows") / 2
        m["tiling.shuffle_write_bytes"] = g["shuffle_write_bytes"] / 2 if g else 0
        m["tiling.task_skew"] = task_skew(g) if g else 0
    if "knn_group" in c:
        m["knn.jobs"] = groups.get(c["knn_group"], {}).get("jobs", 0)
    if "waynodes_group" in c:
        g = groups.get(c["waynodes_group"])
        m["joins.shuffle_bytes"] = g["shuffle_write_bytes"] / 2 if g else 0
    if "tiles_group" in c:
        g = c["tiles_group"]
        files = op_metric(log, g, None, "number of files read")
        m["store.files_per_tile_read"] = files / max(1, len(w.extra.get("tile_read_ms", [])))
    tot = log["total"]
    m.update({
        "spark.jobs": tot["jobs"], "spark.stages": tot["stages"],
        "spark.exec_cpu_s": tot["exec_cpu_s"], "spark.exec_run_s": tot["exec_run_s"],
        "spark.gc_s": tot["gc_s"], "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
        "spark.spill_bytes": tot["spill_bytes"],
        "plan.exchanges": log["plan"]["exchanges"], "plan.broadcasts": log["plan"]["broadcasts"],
        "plan.python_ops": log["plan"]["python_ops"],
    })
    return m


def main() -> None:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    os.sched_setaffinity(0, spec["hi"])
    res = {"attempted": 0, "failed": 0, "errors": [], "phase_s": {}}
    try:
        (traced if spec["trace"] else untraced)(spec, res)
    finally:
        with open(spec["result"], "w") as f:
            json.dump(res, f)


if __name__ == "__main__":
    main()

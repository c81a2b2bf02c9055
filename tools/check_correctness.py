"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at
sf0.01, compare row count, column names, and order-insensitive values.

Usage: python tools/check_correctness.py [name ...]
       python tools/check_correctness.py --stale [--prefix N]

``--stale`` runs no queries: it diffs the ``queries()`` registration
order against the recorded CORRECTNESS_r*.json driver artifacts and
reports every query whose driver evidence would be >= 2 rounds old
AFTER the upcoming round checks the first ``--prefix`` (default 50)
registry entries — the rotation bookkeeping VERDICT r3/r4 did by hand.
Exit code 1 if any query is projected stale.
"""

from __future__ import annotations

import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from osm_jl_spark.session import get_spark  # noqa: E402
from perfbench import host  # noqa: E402


def stale_report(prefix_len: int) -> int:
    import glob
    import json
    import re

    newest: dict[str, int] = {}
    latest_round = 0
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        latest_round = max(latest_round, rnd)
        for name in json.load(open(path)):
            newest[name] = max(newest.get(name, 0), rnd)
    names = list(entrymod.queries())
    upcoming = set(names[:prefix_len])
    stale, pending = [], []
    for pos, name in enumerate(names):
        if name in upcoming:
            continue  # refreshed by the next driver run
        seen = newest.get(name)
        if seen is None:
            # never driver-checked: not ROTTED evidence (it cannot be
            # older than the query), but it does need a prefix slot —
            # reported distinctly so a full prefix doesn't masquerade
            # as evidence decay, and loudly so it is never silent
            pending.append((pos, name))
        elif (latest_round + 1) - seen >= 2:
            stale.append((pos, name, seen))
    for pos, name, seen in stale:
        print(f"STALE {name} (registry position {pos}, newest driver "
              f"evidence: r{seen})")
    for pos, name in pending:
        print(f"PENDING {name} (registry position {pos}: never driver-"
              f"checked and outside the upcoming {prefix_len}-entry "
              f"prefix — local gate evidence only until a slot opens)")
    print(f"\n{len(stale)} stale, {len(pending)} pending of "
          f"{len(names)} registered (latest artifact: r{latest_round}, "
          f"upcoming prefix: {prefix_len})")
    return 1 if stale else 0

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def rows_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(
        tuple(canon(r[i]) for i in order) for r in rows
    )
    return out


def session():
    """Every CPU ``get_spark`` sees (``SPARK_GRAFT_CPUS`` or local[*]),
    the driver heap perfbench gives this host's RAM, and no console
    progress bar, so every PASS/FAIL/ROWS line starts at column 0."""
    return get_spark(
        driver_memory=host.driver_memory(host.mem_gb()),
        extra={"spark.ui.showConsoleProgress": "false"},
    )


def main():
    if "--stale" in sys.argv:
        args = sys.argv[1:]
        n = int(args[args.index("--prefix") + 1]) if "--prefix" in args \
            else 50
        return stale_report(n)
    only = set(sys.argv[1:])
    spark = session()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            # Both sides go through pandas, exactly like the driver —
            # None in a float column becomes NaN on BOTH sides, so
            # only genuine value differences fail the compare.
            spdf = sdf.toPandas()
            scols = list(spdf.columns)
            srows = [tuple(r) for r in spdf.itertuples(index=False)]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS {name}: {len(srows)} rows (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            n_rowsonly += 1
            continue
        try:
            # Fetch through pandas, exactly like the driver: DuckDB
            # HUGEINT/DECIMAL artifacts surface as float64 here, and
            # must fail the compare (fetchall() would hide them).
            pdf = con.sql(oracles[name]).df()
            dcols = list(pdf.columns)
            drows = [tuple(r) for r in pdf.itertuples(index=False)]
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        ok = True
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: columns {scols} vs {dcols}")
            ok = False
        elif len(srows) != len(drows):
            print(f"FAIL {name}: rowcount {len(srows)} vs {len(drows)}")
            ok = False
        else:
            sk = rows_key(srows, scols)
            dk = rows_key(drows, dcols)
            if sk != dk:
                diff = [
                    (a, b) for a, b in zip(sk, dk) if a != b
                ][:3]
                print(f"FAIL {name}: value mismatch, e.g. {diff}")
                ok = False
        if ok:
            print(f"PASS {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
        else:
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())

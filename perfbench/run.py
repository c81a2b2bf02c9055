"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_flagship --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the seeded inputs (cached under
``.bench_cache/``), starts the Spark worker as a subprocess, samples the
worker tree's resident memory from /proc, and prints one JSON object as
the last line of standard output: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("crawl_flagship", "polygon_tiles")
WORKER_TIMEOUT_S = 170


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


class RssSampler(threading.Thread):
    """Peak summed RSS of a process tree, sampled every 100 ms."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.peak = 0.0
        self.halt = threading.Event()

    def run(self) -> None:
        import host

        while not self.halt.is_set():
            self.peak = max(self.peak, host.tree_rss_mb(self.pid))
            self.halt.wait(0.1)


def load_spec() -> dict:
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        return json.load(f)


def run_worker(spec: dict) -> tuple[dict, float, float]:
    """Start the worker, wait for it, return (result, spawn time, peak RSS)."""
    import host

    path = os.path.join(spec["scratch"], "spec.json")
    with open(path, "w") as f:
        json.dump(spec, f)
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable, TMPDIR=spec["local_dir"])
    spawn = time.time()
    proc = subprocess.Popen([sys.executable, os.path.join(HERE, "worker.py"), path],
                            stdout=sys.stderr, env=env, start_new_session=True)
    sampler = RssSampler(proc.pid)
    sampler.start()
    try:
        proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        # stop the whole tree (JVM, Python daemons) and wait for it
        for pid in reversed(host.descendants(proc.pid)):
            try:
                os.kill(pid, 9 if proc.poll() is None else 15)
            except ProcessLookupError:
                pass
        proc.wait()
        sampler.halt.set()
        sampler.join()
        _reap(proc.pid)
    if not os.path.exists(spec["result"]):
        fail(f"worker exited {proc.returncode} without a result")
    with open(spec["result"]) as f:
        return json.load(f), spawn, sampler.peak


def _reap(pid: int) -> None:
    """Wait until no process of the worker's session is left."""
    deadline = time.time() + 20
    while time.time() < deadline:
        left = []
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    if os.getsid(int(name)) == pid:
                        left.append(int(name))
                except (ProcessLookupError, PermissionError):
                    pass
        if not left:
            return
        for p in left:
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def end_to_end(res: dict, spawn: float, peak: float) -> dict:
    from stats import median

    return {
        "setup_s": res["ready"] - spawn,
        "rows_per_s": res["rows"] / median(res["headline_s"]),
        "peak_rss_mb": peak,
    }


def details(res: dict) -> dict:
    """The per-workload figures named in the README, from untraced passes."""
    from stats import median

    ex, ph = res.get("extra", {}), res["phase_s"]
    out = {}
    if "rollup" in ph:
        out["tiles_per_s"] = median(ex["tiles"]) / median(ph["rollup"])
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its worker tree (the finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "osm_jl_spark")):
        fail("run from the repository root: osm_jl_spark/ not found")
    sys.path[:0] = [root, HERE]
    import host
    import inputs

    try:
        hi, lo = host.levels(os.sched_getaffinity(0))
    except host.HostTooSmall as exc:
        fail(str(exc), 3)
    mem = host.mem_gb()
    spec_json = load_spec()

    cache = os.path.join(root, ".bench_cache")
    prep = inputs.prepare(args.workload, args.seed, os.path.join(cache, "inputs"))
    scratch = os.path.join(cache, "run", f"{args.workload}-{os.getpid()}")
    local_dir = os.path.join(scratch, "tmp")
    os.makedirs(local_dir, exist_ok=True)
    main_input = prep["inputs"]["pages" if args.workload == "crawl_flagship" else "points"]
    spec = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace), "hi": hi, "lo": lo,
        "host": {"cpus": len(hi), "mem_gb": round(mem, 1)},
        "driver_memory": host.driver_memory(mem),
        "inputs": prep["inputs"], "expect": prep["expect"],
        "sizes": inputs.SIZES[args.workload],
        "split_bytes": max(256 << 10, os.path.getsize(main_input) // 16),
        "osm_split_bytes": max(256 << 10, os.path.getsize(prep["inputs"].get("osm", main_input)) // 8),
        "scratch": scratch, "local_dir": local_dir,
        "result": os.path.join(scratch, "result.json"),
    }
    try:
        res, spawn, peak = run_worker(spec)
    finally:
        trace_copy = None
        os.makedirs(os.path.join(cache, "traces"), exist_ok=True)
        if args.trace and os.path.exists(os.path.join(scratch, "trace.json")):
            trace_copy = os.path.join(cache, "traces", f"{args.workload}-seed{args.seed}.json")
            shutil.copy(os.path.join(scratch, "trace.json"), trace_copy)
        if args.trace and os.path.isdir(os.path.join(scratch, "eventlog")):
            keep = os.path.join(cache, "traces", f"{args.workload}-seed{args.seed}-eventlog")
            shutil.rmtree(keep, ignore_errors=True)
            shutil.copytree(os.path.join(scratch, "eventlog"), keep)
        shutil.rmtree(scratch, ignore_errors=True)
    if "ready" not in res or "rows" not in res:
        fail("the worker did not finish set-up: " + "; ".join(res["errors"][:3]))

    if args.trace:
        names = [m["name"] for m in spec_json["per_layer"]]
        metrics = {n: float(res.get("per_layer", {}).get(n, 0.0)) for n in names}
        units = {m["name"]: m["unit"] for m in spec_json["per_layer"]}
    else:
        metrics = end_to_end(res, spawn, peak)
        units = {m["name"]: m["unit"] for m in spec_json["end_to_end"]}
        print(json.dumps({"workload": args.workload, "host": spec["host"],
                          "levels": {"hi": hi, "lo": lo}, "details": details(res),
                          "errors": res["errors"][:5],
                          "raw": {k: res.get(k) for k in ("session_start_s", "warmup_s", "phase_s")}}), file=sys.stderr)
    if trace_copy:
        print(f"perfbench: trace written to {trace_copy}", file=sys.stderr)
    out = {
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()

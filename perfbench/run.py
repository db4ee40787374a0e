#!/usr/bin/env python3
"""Benchmark of the osm_pbf_parquet_spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload transcode --seed 1 --seconds 12 --trace 0

One driver process runs the engine on ``local[<nproc>]``. The run

1. sets up ``SETUPS`` times — stop the previous session, start one, and
   spawn its Python workers with the package imported — and reports the
   median as ``setup_s``;
2. generates its inputs from ``--seed`` (cached by seed and size under
   ``.perfbench_work/``; the cost is reported as ``gen_s``, apart from
   set-up);
3. warms up with ``WARM_PASSES`` untimed passes over the workload's ops
   on the real inputs, then runs timed passes until ``--seconds`` have
   passed (at least ``MIN_PASSES``);
4. checks every op result against its oracle, outside the timed region;
5. prints a settings line, then one JSON result line.

With ``--trace 1`` the run measures for half of ``--seconds`` untraced,
then for the other half with the Spark event log on, sweeps every other
workload's ops once, replays the transcode kernel in-process with spans,
and prints the per-layer metrics (see README.md) instead of the end-to-end
ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import eventlog
import replay
from inputs import InputCache
from procstat import RssSampler, host_steal, tree_cpu_s
from workloads import (
    OP_LAYERS, WORKLOADS, Checker, Inputs, curation_ops, ops_for,
)

SETUPS = 3
MIN_PASSES = 3
# untimed passes before the timed ones: the first pass on the real inputs
# pays the cold costs (JIT, codegen) and runs 2-3x slower, the second
# still ~20% slower than the ones after it
WARM_PASSES = 2
# the synthetic PBF's node count per workload (ways = nodes/10, relations
# = nodes/100; 1M nodes is a 12.5 MB file) and the corpus's documents
SIZES = {
    "default": {"transcode": 1_000_000, "query": 1_000_000, "docs": 2_000},
    "tiny": {"transcode": 40_000, "query": 40_000, "docs": 200},
}

# The gated metrics count CPU time, not wall time: the host's CPU steal
# moves between 0 and 17% from one minute to the next, and a pass's wall
# time follows it (+30% from a calm to a busy host) where its CPU time
# moves +7% (README.md, Noise). Wall times are the traced run's ``wall.*``.
END_TO_END = [
    ("setup_s", "s"),
    ("cpu_s", "s"),
    ("input_mb_per_cpu_s", "MB/cpu-s"),
    ("output_bytes_ratio", "ratio"),
    ("worker_peak_rss_mb", "MB"),
]

_SPARK_LAYER = [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"), ("spark.shuffle_read_mb", "MB"),
    ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"),
    ("spark.python_sent_mb", "MB"), ("spark.python_received_mb", "MB"),
    ("spark.task_skew", "ratio"), ("spark.idle_s", "s"),
]
_WALL_LAYER = [
    ("wall.pass_s", "s"), ("wall.input_mb_per_s", "MB/s"),
    ("wall.elements_per_s", "1/s"), ("wall.query_p50_s", "s"),
    ("wall.query_max_s", "s"),
]
_KERNEL_LAYER = [
    ("pbf.blob.index_s", "s"), ("pbf.blob.read_s", "s"),
    ("pbf.blob.inflate_s", "s"), ("pbf.blob.blobs", "count"),
    ("pbf.blob.compressed_mb", "MB"), ("pbf.blob.raw_mb", "MB"),
    ("pbf.decode.decode_s", "s"), ("pbf.decode.arrow_s", "s"),
    ("pbf.decode.rows", "count"), ("pbf.decode.raw_mb_per_s", "MB/s"),
    ("pbf.chain_mb_per_s", "MB/s"),
    ("sinks.native_sink.write_s", "s"), ("sinks.native_sink.parquet_mb", "MB"),
    ("sinks.native_sink.files", "count"), ("sinks.native_sink.driver_s", "s"),
    ("sources.pbf_source.catalog_s", "s"), ("sources.pbf_source.tasks", "count"),
    ("sources.pbf_source.task_skew", "ratio"),
    ("trace.replay_span_coverage", "ratio"),
    ("trace.replay_overhead_pct", "%"),
    ("trace.eventlog_overhead_pct", "%"),
]

# imported in every Python worker during set-up, per workload
WORKER_MODULES = {
    "transcode": ("osm_pbf_parquet_spark.sinks.native_sink",),
    "query": ("osm_pbf_parquet_spark.sources.pbf_datasource",
              "osm_pbf_parquet_spark.operators.osm_ops", "pandas"),
}


def per_layer() -> list[tuple[str, str]]:
    return (_WALL_LAYER + _KERNEL_LAYER + _SPARK_LAYER
            + [(f"{layer}.{op}_s", "s") for layer, op in OP_LAYERS])


def host_settings() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    # a fifth of RAM, 1-4 GB: the inputs are tens of MB, and the host's
    # memory is shared with the Python workers and other tenants
    heap_gb = max(1, min(4, int(mem_kb / 1024 / 1024 * 0.2)))
    return {"cpus": cpus, "mem_total_gb": round(mem_kb / 1024 / 1024, 1),
            "driver_heap": f"{heap_gb}g"}


def configure_env(root: str, run_dir: str, settings: dict) -> None:
    """Every file Spark, the JVM and Python workers write goes under
    ``run_dir``; workers import the package from the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(settings["cpus"]),
        "SPARK_GRAFT_DRIVER_MEM": settings["driver_heap"],
        # a fixed-size heap: lazy heap growth paces GC differently in
        # each fresh JVM, which spreads CPU time across identical runs
        "SPARK_GRAFT_DRIVER_JAVA_OPTS":
            f"-Xms{settings['driver_heap']} -Djava.io.tmpdir={tmp}",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = tmp


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _out_bytes(result) -> int:
    """Parquet bytes written (transcode), else result bytes on the driver."""
    if isinstance(result, dict):
        return int(result["bytes"])
    return int(result.memory_usage(deep=True).sum())


class Bench:
    def __init__(self, args, root: str, work: str, run_dir: str,
                 settings: dict) -> None:
        self.args = args
        self.root = root
        self.run_dir = run_dir
        self.settings = settings
        self.size = SIZES[args.size]
        self.cache = InputCache(os.path.join(work, "cache"), root)
        self.spark = None
        self.attempted = 0
        self.errors: list[str] = []
        self.results: list[tuple] = []  # (op, result) for the checks
        self.lat: dict[tuple[str, str], list[float]] = {}  # (phase, op)
        self.windows: dict[str, dict[str, list]] = {}  # phase -> op -> [ms]

    # -- sessions ---------------------------------------------------------

    def start(self, traced: bool):
        from osm_pbf_parquet_spark.session import get_spark
        from osm_pbf_parquet_spark.sources.pbf_datasource import register_osm_pbf

        confs = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
        }
        if traced:
            self.log_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(self.log_dir)
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark("perfbench", **confs)
        register_osm_pbf(self.spark)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- inputs -----------------------------------------------------------

    def inputs(self, seed: int, size: dict, full: bool):
        """Inputs for ``seed``: the PBF, and with ``full`` also the corpus
        and the PBF's transcode output, which needs a live session."""
        nodes = size[self.args.workload]
        pbf, counts = self.cache.pbf(seed, nodes)
        if not full:
            return Inputs(pbf, counts, "", "")

        def build(tmp):
            from osm_pbf_parquet_spark.sinks.native_sink import transcode_pbf

            transcode_pbf(self.spark, pbf, os.path.join(tmp, "osm"))

        parquet = self.cache.get("parquet", seed, nodes, build)
        return Inputs(pbf, counts, os.path.join(parquet, "osm"),
                      self.cache.corpus(seed, size["docs"]))

    # -- timing -----------------------------------------------------------

    def run_op(self, op, phase: str, keep: bool):
        sc = self.spark.sparkContext
        sc.setLocalProperty("perfbench.op", op.name)
        sc.setLocalProperty("perfbench.phase", phase)
        self.attempted += 1
        w0 = time.time() * 1e3
        t0 = time.perf_counter()
        try:
            res = op.run(self.spark)
        except Exception as exc:  # a failed op is counted, not fatal
            self.errors.append(f"{phase}/{op.name}: {type(exc).__name__}: {exc}")
            return None
        finally:
            sc.setLocalProperty("perfbench.op", None)
        dt = time.perf_counter() - t0
        self.lat.setdefault((phase, op.name), []).append(dt)
        self.windows.setdefault(phase, {}).setdefault(op.name, []).append(
            (w0, time.time() * 1e3))
        if keep:
            self.results.append((op, res))
        return res

    def passes(self, ops, phase: str, seconds: float) -> tuple[list[dict], dict]:
        """Timed passes over ``ops``, at least ``MIN_PASSES`` and until
        ``seconds`` have passed: per pass its wall and process-tree CPU
        seconds and output bytes; and the region's worker RSS peak and
        host CPU steal."""
        out = []
        s0, n0 = host_steal()
        with RssSampler() as rss:
            t_end = time.perf_counter() + seconds
            while len(out) < MIN_PASSES or time.perf_counter() < t_end:
                c0, t0 = tree_cpu_s(), time.perf_counter()
                res = [self.run_op(op, phase, keep=True) for op in ops]
                out.append({"wall": time.perf_counter() - t0,
                            "cpu": tree_cpu_s() - c0,
                            "out_bytes": sum(_out_bytes(r) for r in res
                                             if r is not None)})
        s1, n1 = host_steal()
        return out, {"rss_peak_mb": rss.peak_mb,
                     "steal_pct": 100.0 * (s1 - s0) / max(n1 - n0, 1)}

    # -- the run ----------------------------------------------------------

    def setup(self, traced: bool = False) -> float:
        """One set-up: stop the previous session, start one and spawn its
        Python worker pool with the package imported; returns the seconds
        from start on."""
        self.stop()
        t0 = time.perf_counter()
        self.start(traced)
        n = self.spark.sparkContext.defaultParallelism
        modules = WORKER_MODULES[self.args.workload]

        def imports(batches):
            import importlib

            for m in modules:
                importlib.import_module(m)
            yield from batches

        self.spark.range(n, numPartitions=n).mapInArrow(imports, "id long").count()
        return time.perf_counter() - t0

    def measure_s(self) -> float:
        """Seconds of timed passes per phase: a traced run splits
        ``--seconds`` between its untraced and its traced phase."""
        return self.args.seconds / (2 if self.args.trace else 1)

    def warm_up(self, ops, phase: str) -> float:
        """``WARM_PASSES`` untimed passes over ``ops``; their seconds."""
        t0 = time.perf_counter()
        for _ in range(WARM_PASSES):
            for op in ops:
                self.run_op(op, phase, keep=False)
        return time.perf_counter() - t0

    def run(self) -> dict:
        wl, seed = self.args.workload, self.args.seed
        traced = bool(self.args.trace)
        out_dir = os.path.join(self.run_dir, "transcode_out")
        full = wl == "query" or traced
        setups = [self.setup() for _ in range(1 if traced else SETUPS)]
        # inputs that need a session (the transcode parquet) are made
        # here, after set-up, so a cache miss cannot reach setup_s
        inp = self.inputs(seed, self.size, full)
        ops = ops_for(wl, inp, out_dir)
        warm_s = self.warm_up(ops, "warm")
        passes, region = self.passes(ops, "timed", self.measure_s())
        info = {
            "workload": wl, "seed": seed, "size": self.size,
            "settings": self.settings, "gen_s": self.cache.gen_s,
            "gen_misses": self.cache.misses, "setup_samples_s": setups,
            "warm_s": warm_s, "steal_pct": region["steal_pct"],
            "passes": len(passes), "pass_wall_s": [p["wall"] for p in passes],
            "pass_cpu_s": [p["cpu"] for p in passes],
        }
        if traced:
            layer, info["stage_table"] = self.traced_phase(
                wl, inp, ops, passes, out_dir)
        self.stop()
        correct = self.check(inp)
        failed = len(self.errors)
        info["fail_ratio"] = failed / max(self.attempted, 1)
        info["errors"] = self.errors[:20]
        wall = _median([p["wall"] for p in passes])
        cpu = _median([p["cpu"] for p in passes])
        per_op = {op.name: _median(self.lat[("timed", op.name)]) for op in ops
                  if ("timed", op.name) in self.lat}
        in_bytes = sum(op.in_bytes for op in ops)
        wall_m = {
            "wall.pass_s": wall,
            "wall.input_mb_per_s": in_bytes / 1e6 / wall,
            "wall.elements_per_s": sum(op.in_rows for op in ops) / wall,
            "wall.query_p50_s": _median(list(per_op.values())),
            "wall.query_max_s": max(per_op.values(), default=0.0),
        }
        info["op_median_s"] = per_op
        if traced:
            metrics = {**wall_m, **layer}
            units = dict(per_layer())
        else:
            info.update(wall_m)
            metrics = {
                "setup_s": _median(setups),
                "cpu_s": cpu,
                "input_mb_per_cpu_s": in_bytes / 1e6 / cpu,
                "output_bytes_ratio": passes[-1]["out_bytes"] / in_bytes,
                "worker_peak_rss_mb": region["rss_peak_mb"],
            }
            units = dict(END_TO_END)
        print(json.dumps(info), flush=True)
        return {
            "correct": bool(correct and failed == 0),
            "attempted": self.attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()},
        }

    def check(self, inp) -> bool:
        """Compare every kept result with its oracle; a mismatch is a
        failed op."""
        checker = Checker(inp, self.root)
        try:
            for op, res in self.results:
                if res is None:
                    continue
                why = checker.check(op, res)
                if why is not None:
                    self.errors.append(f"wrong result: {why}")
        finally:
            checker.close()
        return not self.errors

    def traced_phase(self, wl, inp, ops, untraced, out_dir) -> tuple[dict, list]:
        """Re-run the timed passes under the event log, sweep every other
        workload's ops once, and replay the transcode kernel: the
        per-layer metrics, and the per-op stage table."""
        from osm_pbf_parquet_spark.sources.pbf_source import pbf_blob_catalog

        self.setup(traced=True)
        self.warm_up(ops, "warm")
        traced, _ = self.passes(ops, "traced", self.measure_s())
        sweep = [op for other in WORKLOADS if other != wl
                 for op in ops_for(other, inp, out_dir)] + curation_ops(inp)
        for op in sweep:
            self.run_op(op, "sweep", keep=True)
        t0 = time.perf_counter()
        pbf_blob_catalog(self.spark, inp.pbf)
        catalog_s = time.perf_counter() - t0
        self.stop()
        stats = eventlog.reduce_log(eventlog.find_log(self.log_dir))
        m = eventlog.workload_metrics(stats, "traced", self.windows["traced"],
                                      len(traced))
        m.update(replay.layer_metrics(inp.pbf, os.path.join(self.run_dir, "replay")))
        w_plain = _median([p["wall"] for p in untraced])
        w_traced = _median([p["wall"] for p in traced])
        m["trace.eventlog_overhead_pct"] = 100.0 * (w_traced / w_plain - 1)
        # transcode_pbf: its one mapInArrow job vs the whole call
        tphase = "traced" if wl == "transcode" else "sweep"
        tc = stats.get((tphase, "transcode_pbf"), eventlog.OpStats())
        tc_lat = self.lat.get((tphase, "transcode_pbf"), [])
        n_tc = max(len(tc_lat), 1)
        m["sources.pbf_source.catalog_s"] = catalog_s
        m["sources.pbf_source.tasks"] = tc.tasks / n_tc
        m["sources.pbf_source.task_skew"] = tc.skew()
        m["sinks.native_sink.driver_s"] = _median(tc_lat) - tc.job_ms / 1e3 / n_tc
        for layer, name in OP_LAYERS:
            lat = (self.lat.get(("traced", name))
                   or self.lat.get(("sweep", name)) or [0.0])
            m[f"{layer}.{name}_s"] = _median(lat)
        return m, eventlog.op_table(stats)


def shutdown_jvm() -> None:
    """End the JVM that PySpark launched and wait for it: closing its
    stdin is the gateway's shutdown signal."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is None or proc is None:
        return
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="default",
                    help="input size; 'tiny' is for the smoke self-test")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    for need in ("osm_pbf_parquet_spark/__init__.py", "tests/pbf_encoder.py",
                 "tests/oracle_harness.py"):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"perfbench: {need} not found; run from the repository root",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    settings = host_settings()
    os.makedirs(run_dir)
    bench = None
    try:
        configure_env(root, run_dir, settings)
        bench = Bench(args, root, work, run_dir, settings)
        result = bench.run()
    finally:
        if bench is not None:
            bench.stop()
        shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

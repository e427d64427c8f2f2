#!/usr/bin/env python3
"""sparkfuse membership-filter benchmark: one workload, one seed, one result.

    python3 perfbench/run.py --workload uniform_keys --seed 1 --seconds 6 --trace 0

Run it from the root of a sparkfuse checkout. It generates the workload's
inputs from ``--seed`` into a run directory under the checkout, times the
workload's build and query calls for ``--seconds`` seconds after warming
them up, checks every output, and prints one JSON object as the last line
of standard output:

    {"correct": true, "attempted": 10, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics named in
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics, read
from a second, traced pass over the same inputs. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

import eventlog
import procmem

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

GEN_REPS = 3          # set-ups per run; setup_s takes the median generation
# untimed build+query pairs before timing: the first pays for the Python
# workers and the JVM's first plans (~10 s); op times kept falling for about
# four more
WARM_PAIRS = 5
MIN_PAIRS = 6         # timed pairs, at least, whatever --seconds says
MAX_PAIRS = 12
TRACED_PAIRS = 2
# the library's sessions default to an 8g driver; a fixed 2g heap keeps a
# run's memory small
DRIVER_MEMORY = "2g"
SELFTIME_TOLERANCE = 0.10  # |driver_s + job_s - wall_s| / wall_s, per op


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Stopwatch:
    """Times a block: wall seconds, epoch start and end (to match the
    event log), and ``steal_share``, the machine-wide share of demanded CPU
    time that the hypervisor stole meanwhile (0 on bare metal). Steal is
    reported, not subtracted: it explains a slow run."""

    def __enter__(self):
        self.start, self._p0, self._c0 = time.time(), time.perf_counter(), procmem.cpu_ticks()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._p0
        self.end = time.time()
        busy, steal = (b - a for a, b in zip(self._c0, procmem.cpu_ticks()))
        self.steal_share = steal / (busy + steal) if busy + steal else 0.0
        return False


@dataclass
class Pair:
    build: Stopwatch
    query: Stopwatch
    peak: int      # tree RSS bytes, peak during the two ops
    handle: object
    result: dict
    label: str


class Bench:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.dir = run_dir
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.attempted = 0
        self.failed = 0
        # everything Spark, the JVM and the Python workers write goes under
        # the run directory
        self.tmp = os.path.join(run_dir, "tmp")
        os.makedirs(self.tmp)
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
        os.environ["SPARKFUSE_DRIVER_MEM"] = DRIVER_MEMORY
        self.mem = procmem.PeakRss()

    # -- session -------------------------------------------------------
    def start_session(self, event_log: str | None = None):
        from pyspark.sql import SparkSession
        from sparkfuse.session import export_repo_pythonpath, spark_conf_pairs

        export_repo_pythonpath()
        confs = spark_conf_pairs(max(self.cores, 8)) + [
            ("spark.ui.enabled", "false"),
            ("spark.ui.showConsoleProgress", "false"),
            ("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"]),
            ("spark.sql.warehouse.dir", os.path.join(self.dir, "warehouse")),
            # the whole heap is committed and touched at start, so the
            # JVM's share of peak_rss_mb does not depend on how far its
            # garbage collector happened to grow the heap
            ("spark.driver.extraJavaOptions",
             f"-Djava.io.tmpdir={self.tmp} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"),
        ]
        if event_log:
            confs += [
                ("spark.eventLog.enabled", "true"),
                ("spark.eventLog.dir", "file://" + event_log),
                ("spark.eventLog.compress", "false"),
                ("spark.eventLog.rolling.enabled", "false"),
                # per-stage and per-task peaks of the JVM's heap in use
                ("spark.eventLog.logStageExecutorMetrics", "true"),
                ("spark.executor.metrics.pollingInterval", "100ms"),
            ]
        builder = SparkSession.builder.master(f"local[{self.cores}]").appName("perfbench")
        for k, v in confs:
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def set_group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def close(self) -> None:
        """Stop Spark and the JVM, and wait for every process this run
        started to end."""
        pids = procmem.descendants()
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:
                traceback.print_exc()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except Exception:
                pass
            if proc is not None:
                # the JVM's gateway server exits when its stdin closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
        procmem.reap(pids)

    # -- ops -----------------------------------------------------------
    def fail(self, what: str, problems: list[str]) -> None:
        self.failed += 1
        for p in problems:
            log(f"CHECK FAILED {what}: {p}")

    def pair(self, wl, label: str, traced: bool = False) -> Pair | None:
        """One timed build and one timed query, then the untimed checks.
        With ``traced``, each op runs under its own job group. Returns None
        when an op raised."""
        self.attempted += 2
        self.mem.reset()
        try:
            if traced:
                self.set_group(f"build#{label}")
            with Stopwatch() as build:
                handle = wl.build()
        except Exception:
            traceback.print_exc()
            self.fail(f"build#{label}", ["raised"])
            self.fail(f"query#{label}", ["not run: its build raised"])
            return None
        try:
            if traced:
                self.set_group(f"query#{label}")
            with Stopwatch() as query:
                result = wl.query(handle)
        except Exception:
            traceback.print_exc()
            self.fail(f"query#{label}", ["raised"])
            wl.release(handle)
            return None
        peak = self.mem.peak
        if traced:
            self.set_group("bench")
        problems = wl.check(handle)
        if problems:
            self.fail(f"build#{label}", problems)
        problems = wl.check_query(result)
        if problems:
            self.fail(f"query#{label}", problems)
        log(f"{label}: build {build.wall:.3f}s query {query.wall:.3f}s "
            f"steal {max(build.steal_share, query.steal_share):.3f} "
            f"peak {peak / 2**20:.0f} MB")
        return Pair(build, query, peak, handle, result, label)

    def measure(self, wl, warm: int, min_pairs: int, seconds: float,
                traced: bool = False) -> tuple[list[Pair], Pair | None]:
        """``warm`` untimed pairs, then timed pairs until ``seconds`` is
        spent (at least ``min_pairs``). Each handle is released before the
        next build, so no build reuses a cached forest. Returns the timed
        pairs and the last one if its handle is still held, for the untimed
        checks that follow; the caller releases it."""
        for i in range(warm):
            out = self.pair(wl, f"warm{i}")
            if out:
                wl.release(out.handle)
        pairs: list[Pair] = []
        held = None
        t_loop = time.perf_counter()
        for n in range(1, MAX_PAIRS + 1):
            if held:
                wl.release(held.handle)
            held = self.pair(wl, f"{n - 1}", traced)
            if held:
                pairs.append(held)
            elapsed = time.perf_counter() - t_loop
            if n >= min_pairs and elapsed * (n + 1) / n > seconds:
                break
        return pairs, held

    # -- the run -------------------------------------------------------
    def run(self) -> dict:
        import pyarrow as pa
        from workloads import WORKLOADS, fpp_bound, kernel_microbench

        args = self.args
        wl = WORKLOADS[args.workload](args.seed, self.dir, self.cores)
        with self.mem:
            with Stopwatch() as session:
                self.spark = self.start_session()
            session_s = session.wall
            gen_s = []
            for _ in range(GEN_REPS):
                shutil.rmtree(wl.inputs, ignore_errors=True)
                with Stopwatch() as gen:
                    out = wl.generate()
                gen_s.append(gen.wall)
            gen_rows = out["rows"]
            wl.set_truth(out)
            del out
            pa.default_memory_pool().release_unused()
            wl.open(self.spark)
            log(f"setup: session {session_s:.3f}s, generate {gen_s}, truth {wl.truth}")
            bracket = []
            if args.trace:
                # the first microbench call pays for fresh pages and lazy
                # imports, which would read as drift
                kernel_microbench()
                bracket.append(kernel_microbench())
                # the untraced pass of a traced run only gives
                # trace_overhead its reference: as many pairs as are traced
                pairs, last = self.measure(wl, WARM_PAIRS, TRACED_PAIRS, 0.0)
            else:
                pairs, last = self.measure(wl, WARM_PAIRS, MIN_PAIRS, args.seconds)
            pre = {"survivors": 0, "false_positives": 0, "confirmed": 0}
            if last:
                self.attempted += 1
                try:
                    pre = wl.prescreen(last.handle, last.result)
                except Exception:
                    traceback.print_exc()
                    self.fail("prescreen audit", ["raised"])
                else:
                    problems = []
                    fpp = pre["false_positives"] / wl.truth["nonmembers"]
                    if fpp > fpp_bound(wl.truth["nonmembers"]):
                        problems.append(f"fpp {fpp:.5f} above the fuse8 bound")
                    if pre["survivors"] < wl.truth["members"]:
                        problems.append("prescreen dropped member rows")
                    if problems:
                        self.fail("prescreen audit", problems)
                wl.release(last.handle)
            build_s = median([p.build.wall for p in pairs])
            query_s = median([p.query.wall for p in pairs])
            metrics = {
                "setup_s": session_s + median(gen_s),
                "build_keys_per_s": wl.distinct_keys / build_s if build_s else 0.0,
                "query_rows_per_s": wl.probe_rows / query_s if query_s else 0.0,
                "peak_rss_mb": median([p.peak for p in pairs]) / 2**20,
                "bits_per_key": wl.bits_per_key,
                "fpp": pre["false_positives"] / max(wl.truth["nonmembers"], 1),
            }
            if not args.trace:
                return metrics
            layers = {
                "session.start_s": session_s,
                "gen.write_s": median(gen_s),
                "gen.rows": gen_rows,
                "probe.prescreen_survivors": pre["survivors"],
                "probe.confirmed": pre["confirmed"],
                "probe.prescreen_precision":
                    pre["confirmed"] / pre["survivors"] if pre["survivors"] else 0.0,
                "host.steal_share": median([w.steal_share for p in pairs
                                            for w in (p.build, p.query)]),
            }
            return self.traced(wl, {"build": build_s, "query": query_s}, bracket, layers)

    def traced(self, wl, untraced: dict, bracket: list, layers: dict) -> dict:
        """The traced pass: a fresh session with the event log on, the same
        ops under job groups, then the log read back per op."""
        from sparkfuse.forest import Forest
        from sparkfuse.keys import dedup_keys
        from workloads import kernel_microbench

        self.spark.stop()
        log_dir = os.path.join(self.dir, "eventlog")
        os.makedirs(log_dir)
        self.spark = self.start_session(event_log=log_dir)
        wl.open(self.spark)
        self.set_group("warmup")
        pairs, last = self.measure(wl, WARM_PAIRS, TRACED_PAIRS, 0.0, traced=True)

        self.set_group("keys.dedup")
        with Stopwatch() as dedup:
            distinct = dedup_keys(wl.dedup_input()).count()
        layers["keys.dedup_s"] = dedup.wall
        self.set_group("bench")
        layers["keys.distinct_ratio"] = distinct / max(wl.dedup_input().count(), 1)
        lineage = []
        if last:
            self.attempted += 1
            try:
                lineage = wl.lineage_rows(last.handle)
            except ValueError as e:
                self.fail("lineage rebuild", [str(e)])
            wl.release(last.handle)
        loads = []
        for _ in range(3):
            t = time.perf_counter()
            Forest(lineage)
            loads.append(time.perf_counter() - t)
        layers["serialize.load_s"] = median(loads)
        bracket.append(kernel_microbench())
        self.spark.stop()
        self.spark = None

        ev = eventlog.parse(eventlog.find_log(log_dir))
        for op in ("build", "query"):
            watches = [(p.label, getattr(p, op)) for p in pairs]
            ms = [eventlog.op_metrics(ev, f"{op}#{label}", w.start, w.end, wl.planners[op])
                  for label, w in watches]
            if not ms:
                continue
            for k in ms[0]:
                layers[f"spark.{op}.{k}"] = median([m[k] for m in ms])
            layer = "forest" if op == "build" else "probe"
            layers[f"{layer}.plan_s"] = layers.pop(f"spark.{op}.plan_s")
            layers[f"{layer}.exec_s"] = layers.pop(f"spark.{op}.exec_s")
            traced_s = median([w.wall for _, w in watches])
            layers[f"spark.{op}.trace_overhead"] = (
                traced_s / untraced[op] if untraced[op] else 0.0)
            # the self-time check: each traced op's driver and job time
            # must add up to its wall time
            for label, m in zip([label for label, _ in watches], ms):
                self.attempted += 1
                if abs(m["selftime_ratio"] - 1) > SELFTIME_TOLERANCE:
                    self.fail(f"{op}#{label} self-time", [
                        f"driver + job time is {m['selftime_ratio']:.3f} of its wall time"])

        iters = [int(r["iterations"]) for r in lineage] or [0]
        kernel = [float(r["build_seconds"]) for r in lineage] or [0.0]
        exec_s = layers.get("forest.exec_s", 0.0)
        layers.update({
            "forest.shards": len(lineage),
            "forest.iterations_sum": sum(iters),
            "forest.iterations_max": max(iters),
            "forest.kernel_s_sum": sum(kernel),
            "forest.kernel_s_max": max(kernel),
            "forest.kernel_share": sum(kernel) / (self.cores * exec_s) if exec_s else 0.0,
            "forest.payload_bytes": sum(len(r["payload"]) for r in lineage),
        })
        layers.update(drift_layers(*bracket))
        return layers


def drift_layers(before: dict, after: dict) -> dict:
    """kernels.* rates (mean of the two brackets) and the drift ratio:
    bracket time after the workload over bracket time before it."""
    def total(b):
        return b["build_fuse_s"] + b["build_xor_s"] + b["contains_s"]

    n = before["n_keys"]
    return {
        "kernels.build_fuse_keys_per_s": 2 * n / (before["build_fuse_s"] + after["build_fuse_s"]),
        "kernels.build_xor_keys_per_s": 2 * n / (before["build_xor_s"] + after["build_xor_s"]),
        "kernels.contains_keys_per_s":
            2 * before["batch"] / (before["contains_s"] + after["contains_s"]),
        "kernels.drift_ratio": total(after) / total(before),
    }


def load_metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {"end_to_end": spec["end_to_end"], "per_layer": spec["per_layer"],
            "workloads": [w["name"] for w in spec["workloads"]]}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seed < 0:
        p.error("--seed must be a non-negative integer")

    if not os.path.isfile(os.path.join(ROOT, "sparkfuse", "__init__.py")):
        log(f"no sparkfuse package in {ROOT}: run from the root of a full checkout")
        return 2
    specs = load_metric_specs()
    if args.workload not in specs["workloads"]:
        log(f"unknown workload {args.workload!r}; one of {specs['workloads']}")
        return 2
    sys.path.insert(0, ROOT)

    # a terminated run still stops Spark and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(ROOT, ".perfbench_run")
    run_dir = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    bench = Bench(args, run_dir)
    try:
        values = bench.run()
    finally:
        try:
            bench.close()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                os.rmdir(base)
            except OSError:
                pass  # another run still uses it

    wanted = specs["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        log(f"metrics not measured: {missing}")
        return 1
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

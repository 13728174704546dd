#!/usr/bin/env python3
"""The repository's benchmark: one closed-loop client against the engine.

Usage, from the repository root::

    python3 perfbench/run.py --workload olap --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 1 --trace 1 --smoke

A run is one workload (``perfbench/mixes.py``) over the tables in
``perfbench/data/sf0.01`` (``--smoke``: ``sf0.001``) on
``local[<cores>]``, with a fixed driver heap of an eighth of physical
RAM. It has four phases:

1. Set-up: start the session, register the catalog and warm up with
   the 32-task null query. ``setup_s`` runs from process start to the
   end of this phase. A cold JVM start cannot be repeated inside one
   process, so it is measured once per run.
2. Gate: run every op of one pass, which also warms it, and
   hash-compare its result against its DuckDB oracle
   (``tests/oracle.py``). Then one more pass, untimed: the first pass
   after the gate still ran its ops 10-40 % slower than later passes.
3. Window: whole passes, each a fresh seeded order of the same mix,
   until ``--seconds`` have elapsed, so that every op of the mix has
   the same number of samples. An op is timed from the start of
   its build to the end of its write to the noop sink. After each op,
   ``spark.catalog.clearCache()`` drops what the op persisted: that is
   the one cleanup policy of every run. Files that ops leave in scratch
   directories stay until the run ends; all of them live under a
   per-run root (``TMPDIR``) that is removed at exit.
4. Check: hash-compare each dialect instance the window ran.

An op fails if it raised or its query mismatched its oracle. Failed ops
stay in the samples and count in ``attempted`` and ``failed``.

The timings aim at the engine's own speed, not at the load other
guests put on a shared host. Each sample records the share of the machine's CPU time
that the host stole while it ran (``steal`` in ``/proc/stat``); per op
(a dialect template counts as one op), the samples with at most
``STEAL_MAX`` of it are kept, or the least-stolen one if none is
(``unstolen_latencies``). ``ops_per_s`` is the one client's rate over a
pass with each op at its median kept latency, times the share of all
samples that succeeded. ``latency_p50_s`` and ``latency_p90_s`` are
quantiles of the kept latencies with every op weighted equally, as in a
pass (``mix_quantile``). Every sample, with its steal share, stays in
the record.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
loop with spans around each layer call and Spark's counters read after
each op (``perfbench/probes.py``), and prints the per-layer metrics.
Per-layer values are means per op over the window, except the set-up
times, the ``cache.*`` peaks, ``sources.scratch_bytes_live`` (bytes left
in the scratch root at window end) and the ratios. Self times come from
the spans (``perfbench/spans.py``); ``trace.overhead_s`` is the per-op
work the traced run adds (status-store reads, listener drain, forced
Catalyst phases). Metric names, units and directions are those of
``BENCHMARK.json``.

Each run also writes a JSON record (host context, set-up parts,
per-pass times, every sample and, when traced, every span) to
``perfbench/results/``. The last line of stdout is the result::

    {"correct": true, "attempted": 48, "failed": 0, "metrics": {...}}
"""

from __future__ import annotations

import argparse
import bisect
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE, SMOKE_SCALE = "sf0.01", "sf0.001"

# layer -> (end-to-end metric its numbers should move, on which workload)
LAYERS = {
    "session, catalog": ("setup_s", "all"),
    "workload": ("latency_p50_s", "olap"),
    "plans": ("latency_p50_s", "olap"),
    "exec": ("ops_per_s", "olap, pipeline"),
    "op (operators)": ("ops_per_s, latency_p90_s", "olap"),
    "py (Python kernels)": ("ops_per_s, latency_p90_s", "pipeline; no change on olap"),
    "cache": ("peak_rss_mb, exec.gc_s", "pipeline"),
    "sources": ("ops_per_s, sources.write_amp", "pipeline; zero on olap"),
    "stream": ("ops_per_s, latency_p90_s", "pipeline"),
}
_PEAKS = ("cache.mem_bytes", "cache.disk_bytes", "cache.blocks")
STEAL_MAX = 0.02  # share of CPU time the host may steal during an op that is timed


def process_age_s() -> float:
    """Seconds since this process started (clock-tick resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of this machine since boot. Steal is
    time a virtual CPU was ready to run but the host ran another guest."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def unstolen_latencies(samples: list[dict]) -> dict[str, list[float]]:
    """Per op kind, the latencies of the samples during which the host
    stole at most ``STEAL_MAX`` of the machine's CPU time, or of the
    least-stolen sample when none was that clean.

    Other guests of a shared host take CPU time from this one in bursts
    of seconds to minutes. On a 4-core guest, windows in which the host
    stole a tenth of the CPU time ran the olap ops about 40 % slower, and
    windows with a sixth stolen ran the pipeline ops nearly twice as
    slow: far more than the change a commit to the engine is judged by."""
    by_kind: dict[str, list[dict]] = {}
    for s in samples:
        by_kind.setdefault(s["kind"], []).append(s)
    return {
        kind: [s["latency_s"] for s in ss if s["steal_frac"] <= STEAL_MAX]
        or [min(ss, key=lambda s: s["steal_frac"])["latency_s"]]
        for kind, ss in by_kind.items()
    }


def mix_quantile(by_kind: dict[str, list[float]], q: float) -> float:
    """The q-quantile of one pass's latencies: every op kind weighs the
    same, as it does in a pass, split evenly over its samples. Each
    sample sits at the middle of its weight on the cumulative scale,
    and q is interpolated between neighbours."""
    lats, at, acc = [], [], 0.0
    for lat, w in sorted((lat, 1 / len(v)) for v in by_kind.values() for lat in v):
        lats.append(lat)
        at.append((acc + w / 2) / len(by_kind))
        acc += w
    i = bisect.bisect_left(at, q)
    if i == 0 or i == len(at):
        return lats[min(i, len(at) - 1)]
    f = (q - at[i - 1]) / (at[i] - at[i - 1])
    return lats[i - 1] + f * (lats[i] - lats[i - 1])


def parse_args(argv):
    from mixes import MIXES

    p = argparse.ArgumentParser(description="Closed-loop benchmark of the engine.")
    p.add_argument("--workload", required=True, choices=sorted(MIXES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help=f"run at {SMOKE_SCALE}")
    return p.parse_args(argv)


class Bench:
    def __init__(self, args, data_dir: str, work: str) -> None:
        from mixes import Passes
        from spans import Tracer

        self.args = args
        self.data = data_dir
        self.work = work
        self.tmp = os.path.join(work, "tmp")
        self.cores = len(os.sched_getaffinity(0))
        self.ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        self.heap_mb = max(1024, self.ram // 8 // 2**20)
        self.passes = Passes(args.workload, args.seed)
        self.tracer = Tracer(enabled=bool(args.trace))
        self.spark = None
        self.counters = None
        self.rss = None
        self.checked: dict[str, str | None] = {}  # op key -> mismatch, None if it matched
        self.record: dict = {"workload": args.workload, "seed": args.seed,
                             "trace": args.trace, "scale": os.path.basename(data_dir),
                             "layers": LAYERS}

    # -- set-up ----------------------------------------------------------
    def setup(self) -> dict[str, float]:
        from database_query_processor_spark.catalog import register_tables
        from database_query_processor_spark.session import get_spark
        from probes import PeakRss

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            driver_memory=f"{self.heap_mb}m",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # A fixed-size heap, touched at start: adaptive heap growth
                # made peak RSS differ by up to 2x between runs of the same
                # code, and a heap touched only as far as a run's work
                # reached still by a fifth.
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} "
                f"-Xms{self.heap_mb}m -XX:+AlwaysPreTouch",
                "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            },
        )
        t1 = time.perf_counter()
        register_tables(self.spark, self.data)
        t2 = time.perf_counter()
        for _ in range(2):
            self._null_query()
        jvm = self.spark.sparkContext._jvm
        self.rss = PeakRss(jvm.java.lang.ProcessHandle.current().pid())
        return {"setup_s": process_age_s(), "session.start_s": t1 - t0,
                "catalog.register_s": t2 - t1}

    def _null_query(self) -> float:
        t = time.perf_counter()
        self.spark.range(0, 32_000, 1, 32).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    def _jvm_times(self) -> dict:
        """JIT and GC milliseconds since JVM start, recorded per pass so
        that drift within a run shows."""
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        gcs = mf.getGarbageCollectorMXBeans()
        return {"jit_ms": mf.getCompilationMXBean().getTotalCompilationTime(),
                "gc_ms": sum(gcs.get(i).getCollectionTime() for i in range(gcs.size()))}

    def host(self) -> dict:
        """Where the run ran; recorded, never gated on."""
        return {"cores": self.cores, "ram_mb": self.ram // 2**20, "heap_mb": self.heap_mb,
                "null_query_s": min(self._null_query() for _ in range(3)),
                "seed": self.args.seed}

    # -- ops -------------------------------------------------------------
    def build(self, op):
        span = self.tracer.span
        with span("workload.build", op.key):
            if op.spec is not None:
                return op.spec.build(self.spark, self.data)
            from database_query_processor_spark.plans.dialect import translate

            with span("plans.translate", op.key):
                sql = translate(op.ref_sql)
            return self.spark.sql(sql)

    def check(self, op) -> None:
        """Hash-compare one op's result against its DuckDB oracle."""
        from tests.oracle import compare, duckdb_run

        try:
            probs = compare(self.build(op), duckdb_run(op.oracle_sql, self.data))
            self.checked[op.key] = "; ".join(probs) or None
        except Exception as exc:  # a broken op is a failure to report, not a crash
            self.checked[op.key] = f"{type(exc).__name__}: {exc}"[:2000]
        finally:
            self.spark.catalog.clearCache()
        if self.checked[op.key]:
            print(f"perfbench: MISMATCH {op.key}: {self.checked[op.key]}", file=sys.stderr)

    def timed(self, op) -> dict:
        """Build one op and write it to the noop sink; its sample."""
        span = self.tracer.span
        error = None
        with span("op", op.key):
            steal0, ticks0 = cpu_ticks()
            t0 = time.perf_counter()
            try:
                df = self.build(op)
                if self.tracer.enabled:
                    qe = df._jdf.queryExecution()
                    with span("plans.optimize", op.key):
                        qe.optimizedPlan()
                    with span("plans.physical", op.key):
                        qe.executedPlan()
                with span("exec.write", op.key):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # counted in failed, never dropped
                error = f"{type(exc).__name__}: {exc}"[:2000]
                print(f"perfbench: FAILED {op.key}: {error}", file=sys.stderr)
            latency = time.perf_counter() - t0
            steal1, ticks1 = cpu_ticks()
        sample = {"op": op.key, "kind": op.kind, "latency_s": latency, "error": error,
                  "steal_frac": (steal1 - steal0) / max(ticks1 - ticks0, 1)}
        if self.counters is not None:
            with span("trace.read", op.key):
                sample["counters"] = self.counters.read(self.cores, latency)
        with span("bench.cleanup", op.key):
            self.spark.catalog.clearCache()
        return sample

    # -- the run ---------------------------------------------------------
    def run(self) -> tuple[dict, dict[str, float]]:
        """Run every phase; the result keys and every metric computed."""
        from probes import SparkCounters, tree_bytes

        setup = self.setup()
        self.record["setup"] = setup
        self.record["host"] = self.host()
        t = time.perf_counter()
        for op in self.passes.next_pass():
            self.check(op)
        self.record["gate_s"] = time.perf_counter() - t
        t = time.perf_counter()
        for op in self.passes.next_pass():
            self.timed(op)
        self.record["warmup_s"] = time.perf_counter() - t
        if self.tracer.enabled:
            self.counters = SparkCounters(self.spark)

        samples, passes, window_ops = [], [], {}
        steal0, ticks0 = cpu_ticks()
        with self.tracer.span("window"):
            t0 = time.perf_counter()
            while time.perf_counter() - t0 < self.args.seconds:
                with self.tracer.span("pass"):
                    p0 = time.perf_counter()
                    ops = self.passes.next_pass()
                    window_ops.update((op.key, op) for op in ops)
                    got = [self.timed(op) for op in ops]
                samples += got
                passes.append({
                    **self._jvm_times(),
                    "wall_s": time.perf_counter() - p0, "ops": len(got),
                    "failed": sum(s["error"] is not None for s in got),
                    "scratch_bytes": tree_bytes(self.tmp),
                    "cache_mem_bytes_peak": max(
                        (s["counters"]["cache.mem_bytes"] for s in got if "counters" in s),
                        default=None),
                })
                print(f"perfbench: pass {len(passes)}: {passes[-1]['wall_s']:.3f} s, "
                      f"{len(got)} ops", file=sys.stderr)
            window_s = time.perf_counter() - t0
        steal1, ticks1 = cpu_ticks()
        self.record["host"]["window_steal_frac"] = (steal1 - steal0) / max(ticks1 - ticks0, 1)
        scratch_live = tree_bytes(self.tmp)
        self.record["peak_rss"] = self.rss.stop()
        self.rss = None

        t = time.perf_counter()
        for key, op in window_ops.items():
            if key not in self.checked:
                self.check(op)
        self.record["check_s"] = time.perf_counter() - t
        for s in samples:
            mismatch = self.checked.get(s["op"])
            if s["error"] is None and mismatch:
                s["error"] = f"oracle mismatch: {mismatch}"

        failed = sum(s["error"] is not None for s in samples)
        timed = unstolen_latencies(samples)
        self.record["timed_samples"] = sum(len(v) for v in timed.values())
        metrics = {
            "setup_s": setup["setup_s"],
            "ops_per_s": (1 - failed / len(samples)) * len(timed)
            / sum(statistics.median(v) for v in timed.values()),
            "latency_p50_s": mix_quantile(timed, 0.5),
            "latency_p90_s": mix_quantile(timed, 0.9),
            "peak_rss_mb": self.record["peak_rss"]["total_mb"],
        }
        if self.tracer.enabled:
            metrics.update(self._per_layer(samples, window_s, scratch_live, setup))
            self.record["spans"] = self.tracer.spans
        gate_failures = {k: v for k, v in self.checked.items() if v}
        self.record.update(passes=passes, window_s=window_s, metrics=metrics,
                           gate_failures=gate_failures,
                           samples=[{k: v for k, v in s.items() if k != "counters"}
                                    for s in samples])
        return {"correct": failed == 0 and not gate_failures,
                "attempted": len(samples), "failed": failed}, metrics

    def _per_layer(self, samples, window_s, scratch_live, setup) -> dict[str, float]:
        n = len(samples)
        out: dict[str, float] = {}
        for s in samples:
            for k, v in s["counters"].items():
                out[k] = max(out.get(k, 0.0), v) if k in _PEAKS else out.get(k, 0.0) + v / n
        read = sum(s["counters"]["sources.bytes_read"] for s in samples)
        written = sum(s["counters"]["sources.bytes_written"] for s in samples)
        window_id = next(s["id"] for s in self.tracer.spans if s["name"] == "window")
        self_t = self.tracer.self_times(within=window_id)
        self.record["self_times_s"] = self_t

        def per_op(*names):
            return sum(self_t.get(name, 0.0) for name in names) / n

        layers = sum(v for k, v in self_t.items() if k not in ("pass", "op"))
        out.update({
            "session.start_s": setup["session.start_s"],
            "catalog.register_s": setup["catalog.register_s"],
            "workload.build_s": per_op("workload.build"),
            "plans.translate_s": per_op("plans.translate"),
            "plans.optimize_s": per_op("plans.optimize"),
            "plans.physical_s": per_op("plans.physical"),
            "exec.wall_s": per_op("exec.write"),
            "sources.scratch_bytes_live": float(scratch_live),
            "sources.write_amp": written / read if read else 0.0,
            "trace.overhead_s": per_op("trace.read", "plans.optimize", "plans.physical"),
            "trace.unattributed_frac": 1.0 - layers / window_s,
        })
        return out

    def close(self) -> None:
        """Stop Spark, the JVM and its Python workers, and wait for them."""
        if self.rss is not None:
            self.rss.stop()
        if self.spark is None:
            return
        from pyspark import SparkContext

        from probes import descendants

        gateway = SparkContext._gateway
        proc = gateway.proc
        children = descendants(proc.pid)
        self.spark.stop()
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 30
        while children and time.monotonic() < deadline:
            children = [p for p in children if os.path.exists(f"/proc/{p}")]
            time.sleep(0.05)
        for pid in children:
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = spec["per_layer" if args.trace else "end_to_end"]
    data_dir = os.path.join(HERE, "data", SMOKE_SCALE if args.smoke else SCALE)
    work = os.path.join(HERE, "work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Everything the run writes lands under its own scratch root, so
    # bytes written and left over are measured and then removed.
    pythonpath = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # (-UsePerfData: every JVM, the launcher's too, would otherwise write
    # its perf-data file to /tmp.)
    os.environ.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                      PYTHONPATH=pythonpath, JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    bench = None
    try:
        try:
            import database_query_processor_spark  # noqa: F401
            import tests.oracle  # noqa: F401
        except ImportError as exc:
            print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
            return 2
        if not os.path.isdir(data_dir):
            print(f"perfbench: no input tables at {data_dir}", file=sys.stderr)
            return 2
        bench = Bench(args, data_dir, work)
        result, metrics = bench.run()
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left when another run still uses it
            os.rmdir(os.path.dirname(work))
    result["metrics"] = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                         for m in declared}
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}{'-smoke' if args.smoke else ''}.json"
    with open(os.path.join(HERE, "results", name), "w") as fh:
        json.dump(bench.record, fh, indent=1, default=str)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

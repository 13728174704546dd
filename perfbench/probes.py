"""Spark's own counters, read from outside the engine.

Everything here goes through public or developer entry points of the
running SparkContext: the AppStatusStore (jobs, stages, tasks), the
SQLAppStatusStore (per-operator SQL metrics of each SQL execution),
the block manager's RDD storage info (the cache), and a
StreamingQueryListener. ``spark.ui.enabled=false`` leaves all of them
populated. They are read only in the traced run.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

# SQL metric name (as Spark prints it) -> per-layer metric. Values are
# summed per name over the plan graph of every SQL execution an op
# starts, each accumulator counted once.
SQL_METRICS = {
    "scan time": "op.scan_s",
    "size of files read": "op.scan_bytes",
    "shuffle bytes written": "op.shuffle_write_bytes",
    "shuffle records written": "op.shuffle_records",
    "spill size": "op.spill_bytes",
    "peak memory": "op.peak_mem_bytes",
    "time in aggregation build": "op.agg_build_s",
    "sort time": "op.sort_s",
    "time to build": "op.broadcast_build_s",
    "time to collect": "op.broadcast_collect_s",
    "time to initialize Python workers": "py.worker_init_s",
    "time to run Python workers": "py.worker_run_s",
    "data sent to Python workers": "py.bytes_to_py",
    "data returned from Python workers": "py.bytes_from_py",
    "number of written files": "sources.files_written",
}

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "": 1.0}
_VALUE = re.compile(r"\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL metric as the status store formats it ('1,500', '4.1 MiB',
    '866 ms', or a 'total (min, med, max ...)' header line followed by
    such a value) -> bytes, seconds or a count."""
    m = _VALUE.match(text.strip().splitlines()[-1])
    if m is None or m.group(2) not in _UNITS:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


class StreamCounters(StreamingQueryListener):
    """Sums the micro-batch progress of every streaming query."""

    KEYS = ("stream.batches", "stream.trigger_s", "stream.add_batch_s", "stream.wal_commit_s",
            "stream.planning_s", "stream.state_commit_s", "stream.state_rows")

    def __init__(self) -> None:
        self._lock = threading.Lock()  # progress arrives on the listener's thread
        self._totals = dict.fromkeys(self.KEYS, 0.0)

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs
        add = {
            "stream.batches": 1,
            "stream.trigger_s": d.get("triggerExecution", 0) / 1e3,
            "stream.add_batch_s": d.get("addBatch", 0) / 1e3,
            "stream.wal_commit_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3,
            "stream.planning_s": d.get("queryPlanning", 0) / 1e3,
            "stream.state_commit_s": sum(s.commitTimeMs for s in p.stateOperators) / 1e3,
            "stream.state_rows": sum(s.numRowsTotal for s in p.stateOperators),
        }
        with self._lock:
            for k, v in add.items():
                self._totals[k] += v

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> dict[str, float]:
        """The sums since the previous take."""
        with self._lock:
            out, self._totals = self._totals, dict.fromkeys(self.KEYS, 0.0)
        return out


class SparkCounters:
    """Per-op deltas of jobs, stages, tasks, SQL metrics and the cache."""

    def __init__(self, spark) -> None:
        jss = spark._jsparkSession
        self.sc = jss.sparkContext()
        self.store = self.sc.statusStore()
        self.sql = jss.sharedState().statusStore()
        self.stream = StreamCounters()
        spark.streams.addListener(self.stream)
        self.drain()
        self.last_job = max(self._job_ids(-1), default=-1)
        self.last_exec = max(self._exec_ids(-1), default=-1)

    def drain(self) -> None:
        """Deliver every posted listener event to the status stores."""
        self.sc.listenerBus().waitUntilEmpty()

    def _job_ids(self, after: int) -> list[int]:
        jobs = self.store.jobsList(None)  # newest first
        out = []
        for i in range(jobs.size()):
            jid = jobs.apply(i).jobId()
            if jid <= after:
                break
            out.append(jid)
        return out

    def _exec_ids(self, after: int) -> list[int]:
        execs = self.sql.executionsList()  # oldest first
        out = []
        for i in range(execs.size() - 1, -1, -1):
            eid = execs.apply(i).executionId()
            if eid <= after:
                break
            out.append(eid)
        return out[::-1]

    def _await_completion(self, eid: int, timeout_s: float = 5.0) -> None:
        # Execution end is aggregated asynchronously after the bus
        # delivers it: the metric values land a moment after the drain.
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            e = self.sql.execution(eid)
            if e.isDefined() and e.get().completionTime().isDefined():
                return
            time.sleep(0.005)

    def read(self, cores: int, op_wall_s: float) -> dict[str, float]:
        """Counters for everything started since the previous read."""
        self.drain()
        out = dict.fromkeys([*SQL_METRICS.values(), "op.broadcast_bytes"], 0.0)
        out.update(self._exec_counters(cores, op_wall_s))
        exec_ids = self._exec_ids(self.last_exec)
        for eid in exec_ids:
            self._await_completion(eid)
            self._sql_counters(eid, out)
        if exec_ids:
            self.last_exec = exec_ids[-1]
        # the noop write is the op's last execution; the rest ran eagerly
        out["workload.eager_executions"] = max(len(exec_ids) - 1, 0)
        out.update(self.cache())
        out.update(self.stream.take())
        return out

    def _exec_counters(self, cores: int, op_wall_s: float) -> dict[str, float]:
        job_ids = self._job_ids(self.last_job)
        if job_ids:
            self.last_job = job_ids[0]
        stage_ids: set[int] = set()
        for jid in job_ids:
            it = self.store.job(jid).stageIds().iterator()
            while it.hasNext():
                stage_ids.add(it.next())
        c = {"exec.jobs": float(len(job_ids)), "exec.stages": 0.0, "exec.tasks": 0.0,
             "exec.task_s": 0.0, "exec.cpu_s": 0.0, "exec.gc_s": 0.0,
             "sources.bytes_read": 0.0, "sources.bytes_written": 0.0}
        longest, longest_run = None, -1.0
        for sid in sorted(stage_ids):
            st = self.store.lastStageAttempt(sid)
            if st.numCompleteTasks() == 0:  # skipped: its shuffle output was reused
                continue
            run_s = st.executorRunTime() / 1e3
            c["exec.stages"] += 1
            c["exec.tasks"] += st.numCompleteTasks()
            c["exec.task_s"] += run_s
            c["exec.cpu_s"] += st.executorCpuTime() / 1e9
            c["exec.gc_s"] += st.jvmGcTime() / 1e3
            c["sources.bytes_read"] += st.inputBytes()
            c["sources.bytes_written"] += st.outputBytes()
            if run_s > longest_run:
                longest, longest_run = st, run_s
        c["exec.core_util"] = c["exec.task_s"] / (op_wall_s * cores) if op_wall_s > 0 else 0.0
        c["exec.task_skew"] = self._skew(longest) if longest is not None else 0.0
        return c

    def _skew(self, stage) -> float:
        """Max over median task run time in one stage."""
        tasks = self.store.taskList(stage.stageId(), stage.attemptId(), stage.numTasks())
        runs = []
        for i in range(tasks.size()):
            m = tasks.apply(i).taskMetrics()
            if m.isDefined():
                runs.append(m.get().executorRunTime())
        med = statistics.median(runs) if runs else 0
        return max(runs) / med if med > 0 else 1.0

    def _sql_counters(self, eid: int, out: dict[str, float]) -> None:
        values = self.sql.executionMetrics(eid)
        seen: set[int] = set()
        nodes = self.sql.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            metrics = node.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                acc = m.accumulatorId()
                name = m.name()
                if acc in seen:
                    continue
                seen.add(acc)
                if name in SQL_METRICS:
                    key = SQL_METRICS[name]
                elif name == "data size" and "BroadcastExchange" in node.name():
                    key = "op.broadcast_bytes"  # shuffle exchanges have a "data size" too
                else:
                    continue
                v = values.get(acc)
                if v.isDefined():
                    out[key] += parse_metric(v.get())

    def cache(self) -> dict[str, float]:
        """Bytes and partitions the block manager holds for cached data."""
        mem = disk = blocks = 0
        for info in self.sc.getRDDStorageInfo():
            mem += info.memSize()
            disk += info.diskSize()
            blocks += info.numCachedPartitions()
        return {"cache.mem_bytes": float(mem), "cache.disk_bytes": float(disk),
                "cache.blocks": float(blocks)}


def _python_pss_bytes(pid: int) -> int:
    """Proportional set size of a Python process, 0 for any other.

    PSS splits pages shared between the forked workers instead of
    counting them once per worker; a short-lived fork of the JVM itself
    (Hadoop runs shell commands that way) is not a worker."""
    with open(f"/proc/{pid}/comm") as fh:
        if not fh.read().startswith("python"):
            return 0
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _children_by_parent() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while listing
        out.setdefault(ppid, []).append(int(entry))
    return out


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    tree = _children_by_parent()
    out, todo = [], list(tree.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(tree.get(p, ()))
    return out


class PeakRss:
    """Peak resident memory of the driver JVM plus its Python workers.

    The JVM's own peak is exact (VmHWM). Python workers come and go, so
    their summed resident size is sampled every ``period_s`` and the
    largest sum kept."""

    def __init__(self, jvm_pid: int, period_s: float = 0.1) -> None:
        self.jvm_pid = jvm_pid
        self.period_s = period_s
        self.workers_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _workers_rss(self) -> int:
        total = 0
        for pid in descendants(self.jvm_pid):
            try:
                total += _python_pss_bytes(pid)
            except OSError:
                pass  # the worker ended
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.workers_peak = max(self.workers_peak, self._workers_rss())

    def jvm_peak(self) -> int:
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
        raise OSError(f"no VmHWM for pid {self.jvm_pid}")

    def stop(self) -> dict[str, float]:
        """Stop sampling; the peaks in MiB."""
        self._stop.set()
        self._thread.join(timeout=5)
        jvm, workers = self.jvm_peak() / 2**20, self.workers_peak / 2**20
        return {"jvm_mb": jvm, "workers_mb": workers, "total_mb": jvm + workers}


def tree_bytes(path: str) -> int:
    """Bytes held by the regular files under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass  # deleted while walking
    return total

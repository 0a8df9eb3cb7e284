"""Shared plumbing for the benchmark workloads: the Spark session a run
drives, peak-memory sampling, latency statistics, the DuckDB reference
views used by output checks, and the event-log reader behind the traced
run's per-layer numbers.

Everything here observes the engine from outside: it calls the package's
public functions, reads ``/proc`` and reads Spark's own event log.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import subprocess
import threading
import time
from collections import defaultdict

def cpus() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------
def start_session(work: str, app: str, trace: bool):
    """Start the engine's session on ``local[nproc]`` with every scratch
    path inside ``work``.  Tracing turns on Spark's event log (with block
    updates, for cached bytes); that and the job-group tags the workloads
    set are all a traced run adds."""
    from project_bigdata_recsys_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM the launch starts would otherwise keep a perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Duser.timezone=UTC -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={work}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.logBlockUpdates.enabled": "true",
        })
    n = cpus()
    spark = get_spark(app, master=f"local[{n}]", shuffle_partitions=n,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the application and wait for the driver JVM to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def tag(spark, group: str) -> None:
    """Label every Spark job started from now on by this thread."""
    spark.sparkContext.setJobGroup(group, group)


# ---------------------------------------------------------------------------
# Peak resident memory of the driver JVM and its Python workers
# ---------------------------------------------------------------------------
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids[int(fields[1])].append(int(stat.split("/")[2]))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by n
    processes counted 1/n.  Forked Python workers share most of their pages
    with the daemon they fork from, so a sum of their RSS counts those
    pages once per worker; a sum of PSS counts them once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemorySampler:
    """Samples the resident memory (summed PSS) of a process tree every
    ``period`` seconds on a daemon thread; :meth:`stop` returns the largest
    sum seen, in MB."""

    def __init__(self, root_pid: int, period: float = 0.2):
        self.root_pid = root_pid
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def sample(self) -> None:
        kids = _children()
        todo, total = list(kids.get(self.root_pid, ())), _pss_kb(self.root_pid)
        while todo:
            pid = todo.pop()
            total += _pss_kb(pid)
            todo.extend(kids.get(pid, ()))
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------
def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in [0, 1]."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def tail_quantile(n: int) -> float:
    """The highest percentile with at least ten samples beyond it, once a
    run has the 100 samples that put it at p90 or above; below that the
    tail is the maximum, so a run that gains a few samples does not switch
    its tail to a lower percentile."""
    return (n - 10) / n if n >= 100 else 1.0


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------------------
# DuckDB reference views over a staged table directory
# ---------------------------------------------------------------------------
def parquet_glob(sf_dir: str, table: str) -> str:
    path = os.path.join(sf_dir, f"{table}.parquet")
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


def duckdb_views(sf_dir: str):
    import duckdb

    from project_bigdata_recsys_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{parquet_glob(sf_dir, t)}')"
        )
    return con


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------
_QUERY_STARTED = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryStartedEvent"
_QUERY_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


class GroupStats:
    __slots__ = ("tasks", "failed", "run_ms", "gc_ms", "in_bytes", "in_records",
                 "out_bytes", "shuffle_bytes", "spill_bytes", "jobs")

    def __init__(self):
        self.tasks = self.failed = 0
        self.run_ms = self.gc_ms = 0
        self.in_bytes = self.in_records = self.out_bytes = 0
        self.shuffle_bytes = self.spill_bytes = 0
        self.jobs: list[tuple[int, int]] = []

    def add(self, other: "GroupStats") -> None:
        for k in self.__slots__[:-1]:
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.jobs += other.jobs


def union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


class EventLog:
    """Per-job-group task aggregates, cached-block peak and streaming
    progress, read back from one application's event log."""

    def __init__(self, log_dir: str):
        files = [f for f in glob.glob(os.path.join(log_dir, "*"))
                 if os.path.isfile(f)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
        self.groups: dict[str, GroupStats] = defaultdict(GroupStats)
        self.stream_names: dict[str, str] = {}
        self.progress: dict[str, list[dict]] = defaultdict(list)
        self.cached_bytes_peak = 0
        stage_group: dict[int, str] = {}
        job_start: dict[int, tuple[str, int]] = {}
        blocks: dict[str, int] = {}
        cached = 0
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                    job_start[ev["Job ID"]] = (group, ev["Submission Time"])
                elif kind == "SparkListenerJobEnd":
                    group, start = job_start.pop(ev["Job ID"], ("", None))
                    if start is not None:
                        self.groups[group].jobs.append((start, ev["Completion Time"]))
                elif kind == "SparkListenerTaskEnd":
                    self._task(self.groups[stage_group.get(ev["Stage ID"], "")], ev)
                elif kind == "SparkListenerBlockUpdated":
                    info = ev["Block Updated Info"]
                    bid = info["Block ID"]
                    if not bid.startswith("rdd_"):
                        continue
                    size = info.get("Memory Size", 0) + info.get("Disk Size", 0)
                    cached += size - blocks.get(bid, 0)
                    blocks[bid] = size
                    self.cached_bytes_peak = max(self.cached_bytes_peak, cached)
                elif kind == _QUERY_STARTED:
                    self.stream_names[ev["runId"]] = ev.get("name") or "unnamed"
                elif kind == _QUERY_PROGRESS:
                    p = ev["progress"]
                    self.progress[p["runId"]].append(p)

    @staticmethod
    def _task(g: GroupStats, ev: dict) -> None:
        g.tasks += 1
        if ev["Task Info"].get("Failed"):
            g.failed += 1
        m = ev.get("Task Metrics") or {}
        g.run_ms += m.get("Executor Run Time", 0)
        g.gc_ms += m.get("JVM GC Time", 0)
        g.in_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
        g.in_records += m.get("Input Metrics", {}).get("Records Read", 0)
        g.out_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics", {})
        g.shuffle_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        g.spill_bytes += m.get("Disk Bytes Spilled", 0)

    def layer(self, prefix: str) -> GroupStats:
        """Aggregate of every group named ``prefix`` or ``prefix|<op>``;
        stream groups (Spark names them by query run id) map to
        ``streaming.<query name>``."""
        out = GroupStats()
        for group, stats in self.groups.items():
            name = group.split("|")[0]
            if group in self.stream_names:
                name = "streaming." + self.stream_names[group]
            if name == prefix or name.startswith(prefix + "."):
                out.add(stats)
        return out

    def total(self) -> GroupStats:
        out = GroupStats()
        for stats in self.groups.values():
            out.add(stats)
        return out

    def stream_progress(self, name: str) -> list[dict]:
        return [p for run_id, ps in self.progress.items()
                if self.stream_names.get(run_id) == name for p in ps]


def stream_metrics(log: EventLog, name: str) -> dict[str, float]:
    """Per-batch figures of one streaming query from its progress events;
    batches that read no rows are left out."""
    rows = lambda p: sum(s.get("numInputRows", 0) for s in p["sources"])  # noqa: E731
    ps = [p for p in log.stream_progress(name) if rows(p) > 0]
    dur = [p.get("durationMs", {}) for p in ps]
    state = [op for p in ps[-1:] for op in p.get("stateOperators", [])]
    return {
        "batch_ms_p50": median([d.get("triggerExecution", 0) for d in dur]),
        "commit_ms_p50": median([d.get("commitOffsets", 0) for d in dur]),
        "rows_per_batch_p50": median([rows(p) for p in ps]),
        "state_rows": sum(op.get("numRowsTotal", 0) for op in state),
        "state_bytes": sum(op.get("memoryUsedBytes", 0) for op in state),
    }


def elapsed(t0: float) -> float:
    return time.perf_counter() - t0

"""Spans, counters and Spark metric readers for the traced run.

The traced run wraps the public functions of each engine module from the
outside (``Tracer.install``) and reads what Spark already records:

- a ``StreamingQueryListener`` (``Progress``) keeps every microbatch's
  ``durationMs`` phases and ``stateOperators``;
- the core status store (``stageList``/``jobsList``) gives stage run, CPU,
  GC and shuffle figures;
- the SQL status store gives per-node metrics: scan time and bytes,
  aggregation build time and peak memory, codegen duration and the bytes
  moved to and from Python workers.

Spans stay in memory; ``run.py`` writes them to the run artifact at the end.
"""

from __future__ import annotations

import functools
import json
import os
import re
import sys
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    error: bool = False


@dataclass
class Tracer:
    """Records spans around calls into the engine's public functions.

    ``on`` switches recording per pass, so one process can alternate
    traced and untraced passes; while it is off the wrappers only call
    through."""

    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    on: bool = False
    _local: threading.local = field(default_factory=threading.local)

    def count(self, key: str, n: float = 1) -> None:
        if self.on:
            self.counts[key] = self.counts.get(key, 0) + n

    def span(self, name: str):
        return _SpanCtx(self, name)

    def _push(self, name: str) -> int:
        stack = self._stack()
        self.spans.append(Span(name, time.time(), parent=stack[-1] if stack else -1))
        stack.append(len(self.spans) - 1)
        return stack[-1]

    def _pop(self, idx: int, error: bool) -> None:
        self.spans[idx].end = time.time()
        self.spans[idx].error = error
        self._stack().pop()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def wrap(self, name: str, fn, hooks=None):
        """Return ``fn`` wrapped in a span named ``name``. ``hooks`` is a
        pair ``(before(args, kwargs) -> state, after(args, kwargs, result,
        state))`` that may record counters from the call."""

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if not self.on:
                return fn(*args, **kwargs)
            self.count(f"{name}.calls")
            state = hooks[0](args, kwargs) if hooks else None
            with self.span(name):
                out = fn(*args, **kwargs)
            if hooks:
                hooks[1](args, kwargs, out, state)
            return out

        return wrapped

    def install(self, targets) -> None:
        """Replace every binding of each target function, in every loaded
        module of the engine, by its wrapper. ``targets`` yields
        ``(module, attr, span_name, hooks)``."""
        for module, attr, name, hooks in targets:
            orig = getattr(module, attr)
            wrapper = self.wrap(name, orig, hooks)
            for mod in list(sys.modules.values()):
                mname = getattr(mod, "__name__", "") or ""
                if not (mname.startswith("flink_scala_spark") or mname == "__spark_entry__"):
                    continue
                for key, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, key, wrapper)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name, self.idx = tracer, name, None

    def __enter__(self):
        if self.tracer.on:
            self.idx = self.tracer._push(self.name)
        return self

    def __exit__(self, exc_type, exc, tb):
        if self.idx is not None:
            self.tracer._pop(self.idx, exc_type is not None)
        return False


def engine_targets(tracer: Tracer):
    """The public functions of each engine layer the traced run times."""
    from flink_scala_spark import materialize, tables
    from flink_scala_spark.pipeline import guards
    from flink_scala_spark.streaming import runner, sources, tws

    def spread_after(args, kwargs, out, _state):
        df = args[0] if args else kwargs["df"]
        tracer.count("tables.spread.repartitioned", int(out is not df))

    def replay_after(args, kwargs, out, n_before):
        built = len(sources._REPLAY_CACHE) > n_before
        tracer.count("sources.replay_builds" if built else "sources.replay_hits")

    spread = (lambda a, k: None, spread_after)
    replay = (lambda a, k: len(sources._REPLAY_CACHE), replay_after)

    out = [
        (tws, "ensure_tws_runtime", "tws.ensure_runtime", None),
        (tables, "load", "tables.load", None),
        (tables, "spread", "tables.spread", spread),
        (materialize, "shared_bounded", "materialize.shared_bounded", None),
        (materialize, "loop_checkpoint", "materialize.loop_checkpoint", None),
        (materialize, "loop_checkpoint_lazy", "materialize.loop_checkpoint_lazy", None),
        (sources, "file_replay", "sources.replay", None),
        (sources, "file_replay_time_buckets", "sources.replay", replay),
        (sources, "file_replay_id_buckets", "sources.replay", replay),
        (runner, "run_bounded", "runner.run", None),
        (runner, "run_bounded_now", "runner.run", None),
        (runner, "run_bounded_foreach", "runner.run", None),
    ]
    for attr in ("guard_exact_pairs", "guard_reference_rows", "guard_unbounded_state"):
        out.append((guards, attr, "guards.check", None))
    return out


def guard_refusals(spans: list[Span]) -> int:
    return sum(1 for s in spans if s.name == "guards.check" and s.error)


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: total duration minus the part its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent >= 0:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        own = (s.end - s.start) - union_length(clip(kids.get(i, []), s.start, s.end))
        out[s.name] = out.get(s.name, 0.0) + own
    return out


# ---------------------------------------------------------------------------
# streaming progress
# ---------------------------------------------------------------------------


class Progress(StreamingQueryListener):
    """Keeps the JSON of every microbatch progress event."""

    def __init__(self):
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._lock:
            self.events.append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def wait_for(self, n: int, timeout: float = 10.0) -> None:
        """The listener bus is asynchronous: wait until ``n`` events came."""
        deadline = time.time() + timeout
        while len(self.events) < n and time.time() < deadline:
            time.sleep(0.05)

    def take(self) -> list[dict]:
        with self._lock:
            out, self.events = self.events, []
        return out


PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
          "commitOffsets")


def progress_metrics(events: list[dict]) -> dict[str, float]:
    """Runner and state-store metrics of one pass's microbatches."""
    m: dict[str, float] = {"runner.microbatches": len(events)}
    m["runner.input_rows"] = sum(int(p.get("numInputRows", 0)) for p in events)
    firsts = [p["durationMs"].get("triggerExecution", 0) for p in events
              if int(p.get("batchId", -1)) == 0]
    m["runner.first_batch_ms"] = sum(firsts) / len(firsts) if firsts else 0.0
    n = max(1, len(events))
    other = 0.0
    for ph in PHASES:
        tot = sum(p["durationMs"].get(ph, 0) for p in events)
        m[f"runner.phase.{ph}_ms"] = tot / n
        other += tot
    trig = sum(p["durationMs"].get("triggerExecution", 0) for p in events)
    m["runner.phase.other_ms"] = (trig - other) / n
    st = {k: 0.0 for k in ("commit_ms", "update_ms", "removal_ms", "rows_updated",
                           "rows_dropped_by_watermark", "timer_ms", "expired_timers",
                           "rocksdb.file_sync_ms", "rocksdb.zip_ms",
                           "rocksdb.checkpoint_ms", "rocksdb.flush_ms")}
    final_rows: dict[str, float] = {}
    mem = inst = 0.0
    for p in events:
        for i, op in enumerate(p.get("stateOperators") or []):
            cm = op.get("customMetrics") or {}
            st["commit_ms"] += op.get("commitTimeMs", 0)
            st["update_ms"] += op.get("allUpdatesTimeMs", 0)
            st["removal_ms"] += op.get("allRemovalsTimeMs", 0)
            st["rows_updated"] += op.get("numRowsUpdated", 0)
            st["rows_dropped_by_watermark"] += op.get("numRowsDroppedByWatermark", 0)
            st["timer_ms"] += cm.get("timerProcessingTimeMs", 0)
            st["expired_timers"] += cm.get("numExpiredTimers", 0)
            st["rocksdb.file_sync_ms"] += cm.get("rocksdbCommitFileSyncLatencyMs", 0)
            st["rocksdb.zip_ms"] += cm.get("rocksdbSaveZipFilesLatencyMs", 0)
            st["rocksdb.checkpoint_ms"] += cm.get("rocksdbCommitCheckpointLatency", 0)
            st["rocksdb.flush_ms"] += cm.get("rocksdbCommitFlushLatency", 0)
            final_rows[f"{p.get('id')}/{i}"] = op.get("numRowsTotal", 0)
            mem = max(mem, op.get("memoryUsedBytes", 0))
            inst = max(inst, op.get("numStateStoreInstances", 0))
    m.update({f"state.{k}": v for k, v in st.items()})
    m["state.rows_total"] = sum(final_rows.values())
    m["state.memory_bytes"] = mem
    m["state.store_instances"] = inst
    return m


def trigger_ms(events: list[dict]) -> list[float]:
    return [float(p["durationMs"].get("triggerExecution", 0)) for p in events]


# ---------------------------------------------------------------------------
# status stores
# ---------------------------------------------------------------------------

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
          "TiB": 1024.0 ** 4}


def parse_metric(text: str) -> float:
    """The total of a formatted SQL metric: ``"15 ms"``, ``"16.2 MiB"``,
    ``"60,000"``, or the multi-task form whose second line starts with the
    total. Times come back in seconds, sizes in bytes."""
    line = text.split("\n")[1] if "\n" in text else text
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


_METRIC_RE = re.compile(r"SQLPlanMetric\((.*?),(-?\d+),(\w+)\)")
_VALUE_RE = re.compile(r"(-?\d+) -> (.*?)(?=, -?\d+ -> |\)$)", re.S)


class StatusStores:
    """Reads the stages, jobs and SQL executions that finished since the
    last ``mark``."""

    def __init__(self, spark):
        self.jvm = spark.sparkContext._jvm
        self.core = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.seen_stages: set[tuple[int, int]] = set()
        self.seen_jobs: set[int] = set()
        self.seen_execs: set[int] = set()

    def mark(self) -> None:
        self.read()

    def _stage_list(self):
        # Scala default arguments are methods named stageList$default$<n>
        defaults = [getattr(self.core, f"stageList$default${i}")() for i in range(2, 6)]
        return self.core.stageList(self.jvm.java.util.ArrayList(), *defaults)

    def read(self) -> dict:
        """Stage, job and SQL-node figures new since the previous read."""
        out = {"stages": [], "jobs": [], "nodes": []}
        stages = self._stage_list()
        for i in range(stages.size()):
            s = stages.apply(i)
            key = (s.stageId(), s.attemptId())
            if key in self.seen_stages or str(s.status()) != "COMPLETE":
                continue
            self.seen_stages.add(key)
            out["stages"].append(dict(
                tasks=s.numTasks(), run_s=s.executorRunTime() / 1e3,
                cpu_s=s.executorCpuTime() / 1e9, gc_s=s.jvmGcTime() / 1e3,
                shuffle_write=s.shuffleWriteBytes(), shuffle_read=s.shuffleReadBytes(),
                fetch_wait_s=s.shuffleFetchWaitTime() / 1e3,
                spill=s.memoryBytesSpilled() + s.diskBytesSpilled()))
        jobs = self.core.jobsList(self.jvm.java.util.ArrayList())
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid in self.seen_jobs or not j.completionTime().isDefined():
                continue
            self.seen_jobs.add(jid)
            sub = j.submissionTime()
            if sub.isDefined():
                out["jobs"].append((sub.get().getTime() / 1e3,
                                    j.completionTime().get().getTime() / 1e3))
        execs = self.sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid in self.seen_execs or not e.completionTime().isDefined():
                continue
            self.seen_execs.add(eid)
            values = dict(
                (int(k), v) for k, v in _VALUE_RE.findall(self.sql.executionMetrics(eid).toString())
            )
            nodes = self.sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                metrics = {
                    name: parse_metric(values[int(acc)])
                    for name, acc, _kind in _METRIC_RE.findall(node.metrics().toString())
                    if int(acc) in values
                }
                if metrics:
                    out["nodes"].append((node.name(), metrics))
        return out


def exec_metrics(read: dict, wall_s: float, cores: int) -> dict[str, float]:
    stages, nodes = read["stages"], read["nodes"]
    m = {
        "exec.jobs": len(read["jobs"]),
        "exec.stages": len(stages),
        "exec.tasks": sum(s["tasks"] for s in stages),
        "exec.task_run_s": sum(s["run_s"] for s in stages),
        "exec.task_cpu_s": sum(s["cpu_s"] for s in stages),
        "exec.gc_s": sum(s["gc_s"] for s in stages),
        "exec.shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
        "exec.shuffle_read_bytes": sum(s["shuffle_read"] for s in stages),
        "exec.shuffle_fetch_wait_s": sum(s["fetch_wait_s"] for s in stages),
        "exec.spill_bytes": sum(s["spill"] for s in stages),
    }
    m["exec.core_busy_share"] = m["exec.task_run_s"] / (wall_s * cores) if wall_s else 0.0
    m["exec.single_task_stage_share"] = (
        sum(1 for s in stages if s["tasks"] == 1) / len(stages) if stages else 0.0
    )

    def total(metric, pred=lambda name: True, agg=sum):
        return agg([v[metric] for name, v in nodes if metric in v and pred(name)] or [0.0])

    m["exec.scan_s"] = total("scan time")
    m["exec.scan_bytes"] = total("size of files read")
    m["exec.codegen_s"] = total("duration", lambda n: n.startswith("WholeStageCodegen"))
    m["exec.agg_build_s"] = total("time in aggregation build")
    m["exec.agg_peak_mem_bytes"] = total("peak memory", lambda n: "Aggregate" in n, max)
    m["exec.python_bytes_sent"] = total("data sent to Python workers")
    m["exec.python_bytes_received"] = total("data returned from Python workers")
    return m


# ---------------------------------------------------------------------------
# resident memory
# ---------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie waiting to be reaped has ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def descendants(root: int) -> list[int]:
    out, todo = [], _children(root)
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


_PAGE = os.sysconf("SC_PAGE_SIZE")


def rss(pids: list[int]) -> int:
    """Resident bytes of ``pids`` (driver Python, the JVM it launched and
    the JVM's Python workers), one ``statm`` read per process."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


def jvm_heap(spark) -> dict[str, int]:
    """The JVM heap's committed bytes now, and the sum over its heap pools
    of each pool's peak used bytes."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    pools = mf.getMemoryPoolMXBeans()
    peak = sum(pools.get(i).getPeakUsage().getUsed() for i in range(pools.size())
               if str(pools.get(i).getType()) == "Heap memory")
    return {"committed": mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted(),
            "pool_peaks_used": peak}


class RssSampler(threading.Thread):
    """Peak resident bytes of this process and its descendants, sampled
    every ``interval`` s. Finding the descendants reads a file per thread
    of every process (a JVM has a few hundred), so the process list is
    refreshed only every ``REFRESH`` samples; each sample reads one
    ``statm`` per process."""

    REFRESH = 20

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval, self.peak = interval, 0
        self._stop_ev = threading.Event()

    def run(self):
        pids, n = [], 0
        while not self._stop_ev.is_set():
            if n % self.REFRESH == 0:
                pids = [os.getpid()] + descendants(os.getpid())
            self.peak = max(self.peak, rss(pids))
            n += 1
            self._stop_ev.wait(self.interval)

    def stop(self) -> int:
        self._stop_ev.set()
        self.join(timeout=5)
        return self.peak

"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload batch_curation --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The run

1. generates the workload's input directory from ``--seed`` (``gen.py``)
   under ``.perfbench_data/``;
2. sets up ``SETUP_REPS`` times: ``session.get_spark`` plus a warm-up pass
   over the workload's entries (on the input for batch workloads, on a
   small warm-up input for stream ones). The first set-up also launches
   the JVM and compiles the code paths (``setup_cold_s``); ``setup_s`` is
   the median of all of them;
3. runs closed-loop passes over the workload's entries, each entry
   through its catalog builder ``QUERIES[name].fn(spark, dir)`` and a
   ``collect()``, until ``--seconds`` have passed and the workload's
   minimum number of passes is done; each pass of a stream workload
   replays its own copy of the input, so each builds its bucket files;
4. checks every collected output against the entry's DuckDB oracle,
   outside the timed region;
5. writes a JSON artifact under ``.perfbench_out/`` and prints every
   metric with its unit, then one JSON line: the end-to-end metrics with
   ``--trace 0``, the per-layer metrics with ``--trace 1``.

With ``--trace 1`` passes alternate untraced and traced (at least three
passes); the traced passes give the per-layer metrics, and the gap between
them and the untraced passes after the first gives the tracing overhead.
Exits non-zero without printing a result when the engine's files are not
next to this directory.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3

END_TO_END = (("wall_s", "s"), ("setup_s", "s"))
#: Printed and recorded, not gated: they exist on some workloads only, read
#: 0 on a correct run, or (peak_rss_mb, with the JVM's default heap sizing)
#: move by a fifth or more between runs of the same code.
REPORTED = (("peak_rss_mb", "MB"), ("setup_cold_s", "s"), ("rows_per_s", "1/s"),
            ("microbatch_p50_ms", "ms"), ("microbatch_tail_ms", "ms"),
            ("failed_share", "share"))
PER_LAYER = tuple(
    [("session.get_spark_s", "s"), ("tws.ensure_runtime_s", "s"),
     ("queries.build_s", "s"), ("queries.action_s", "s"), ("queries.driver_self_s", "s"),
     ("tables.load.calls", "count"), ("tables.load_s", "s"), ("tables.spread.calls", "count"),
     ("tables.spread.repartitioned", "count"), ("tables.spread.repartition_ratio", "share"),
     ("materialize.shared_bounded.calls", "count"), ("materialize.shared_bounded_s", "s"),
     ("materialize.loop_checkpoint.calls", "count"), ("materialize.loop_checkpoint_s", "s"),
     ("materialize.loop_checkpoint_lazy.calls", "count"), ("guards.refusals", "count"),
     ("sources.replay_calls", "count"), ("sources.replay_build_s", "s"),
     ("sources.replay_cache_hit_ratio", "share"),
     ("runner.runs", "count"), ("runner.run_s", "s"), ("runner.microbatches", "count"),
     ("runner.input_rows", "count"), ("runner.first_batch_ms", "ms")]
    + [(f"runner.phase.{p}_ms", "ms") for p in (
        "latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
        "commitOffsets", "other")]
    + [("state.commit_ms", "ms"), ("state.update_ms", "ms"), ("state.removal_ms", "ms"),
       ("state.rows_total", "count"), ("state.rows_updated", "count"),
       ("state.rows_dropped_by_watermark", "count"), ("state.memory_bytes", "B"),
       ("state.store_instances", "count"), ("state.timer_ms", "ms"),
       ("state.expired_timers", "count")]
    + [(f"state.rocksdb.{k}_ms", "ms") for k in ("file_sync", "zip", "checkpoint", "flush")]
    + [("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
       ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"),
       ("exec.core_busy_share", "share"), ("exec.single_task_stage_share", "share"),
       ("exec.shuffle_write_bytes", "B"), ("exec.shuffle_read_bytes", "B"),
       ("exec.shuffle_fetch_wait_s", "s"), ("exec.spill_bytes", "B"), ("exec.scan_s", "s"),
       ("exec.scan_bytes", "B"), ("exec.codegen_s", "s"), ("exec.agg_build_s", "s"),
       ("exec.agg_peak_mem_bytes", "B"), ("exec.python_bytes_sent", "B"),
       ("exec.python_bytes_received", "B")]
    + [(f"self.{layer}_s", "s") for layer in (
        "queries", "tables", "materialize", "sources", "runner")]
    + [("unattributed_share", "share"), ("trace.wall_s", "s"), ("trace.overhead_s", "s")]
)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def require_program() -> None:
    """Exit with code 2 unless the engine and its oracle tool are here."""
    missing = [p for p in ("flink_scala_spark/queries/catalog.py", "tools/check_oracle.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}", file=sys.stderr)
        sys.exit(2)


def prepare_env() -> str:
    """Keep every file the run writes inside the checkout; fix the engine's
    core count unless the caller set it."""
    tmp = os.path.join(ROOT, ".perfbench_tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell')
    # the short-lived JVM that spark-submit starts to build the command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return tmp


def settings(args, spark) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    mem_kb = cpu = None
    try:
        with open("/proc/meminfo") as f:
            mem_kb = int(f.readline().split()[1])
        with open("/proc/cpuinfo") as f:
            cpu = next((ln.split(":", 1)[1].strip() for ln in f if ln.startswith("model name")), None)
    except OSError:
        pass
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__, "python": platform.python_version(),
        "cpu_model": cpu, "mem_total_gb": round(mem_kb / 2 ** 20, 1) if mem_kb else None,
    }


def setup(members, warm_dir, progress):
    """``SETUP_REPS`` set-ups in this process, each ``get_spark`` plus a
    warm-up pass; the first one launches the JVM and the session, the
    later ones find them running. Returns the session and the timings."""
    from flink_scala_spark.queries import catalog
    from flink_scala_spark.session import get_spark

    total, get = [], []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        for name in members:
            try:
                catalog.QUERIES[name].fn(spark, warm_dir).collect()
            except Exception:  # the timed pass records the failure
                traceback.print_exc()
        total.append(time.perf_counter() - t0)
        get.append(t1 - t0)
    if progress is not None:
        spark.streams.addListener(progress)
    return spark, total, get


def run_pass(spark, members, data_dir, tracer) -> list[dict]:
    from flink_scala_spark.queries import catalog

    out = []
    for name in members:
        rec = {"name": name, "error": None}
        t0 = time.perf_counter()
        try:
            with tracer.span("queries.build"):
                df = catalog.QUERIES[name].fn(spark, data_dir)
            with tracer.span("queries.action"):
                rows = [tuple(r) for r in df.collect()]
            rec["wall_s"] = time.perf_counter() - t0
            rec.update(rows=rows, cols=df.columns, dtypes=df.dtypes)
        except Exception as e:  # counted in failed_share, the loop goes on
            rec["wall_s"] = time.perf_counter() - t0
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        out.append(rec)
    return out


def batches_so_far(members) -> int:
    from flink_scala_spark.streaming import runner

    return sum(runner.REPLAY_STATS.get(n, {}).get("batches", 0) for n in members)


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least ten samples beyond it."""
    return int(100 * (1 - 10 / n)) if n > 10 else None


def layer_metrics(p: dict, get_spark_s: float, cores: int) -> dict:
    """Per-layer metrics of one traced pass."""
    from tracing import (exec_metrics, progress_metrics, self_times, union_length,
                       clip, guard_refusals)

    spans, counts, wall = p["spans"], p["counts"], p["wall_s"]

    def dur(name):
        return sum(s.end - s.start for s in spans if s.name == name)

    m = {"session.get_spark_s": get_spark_s, "tws.ensure_runtime_s": dur("tws.ensure_runtime"),
         "queries.build_s": dur("queries.build"), "queries.action_s": dur("queries.action")}
    jobs = p["exec"]["jobs"]
    drv = 0.0
    for i, s in enumerate(spans):
        if s.name == "queries.build":
            kids = [(c.start, c.end) for c in spans if c.parent == i] + jobs
            drv += (s.end - s.start) - union_length(clip(kids, s.start, s.end))
    m["queries.driver_self_s"] = drv
    m["tables.load.calls"] = counts.get("tables.load.calls", 0)
    m["tables.load_s"] = dur("tables.load")
    m["tables.spread.calls"] = counts.get("tables.spread.calls", 0)
    m["tables.spread.repartitioned"] = counts.get("tables.spread.repartitioned", 0)
    m["tables.spread.repartition_ratio"] = (
        m["tables.spread.repartitioned"] / m["tables.spread.calls"]
        if m["tables.spread.calls"] else 0.0)
    for k in ("shared_bounded", "loop_checkpoint"):
        m[f"materialize.{k}.calls"] = counts.get(f"materialize.{k}.calls", 0)
        m[f"materialize.{k}_s"] = dur(f"materialize.{k}")
    m["materialize.loop_checkpoint_lazy.calls"] = counts.get(
        "materialize.loop_checkpoint_lazy.calls", 0)
    m["guards.refusals"] = guard_refusals(spans)
    m["sources.replay_calls"] = counts.get("sources.replay.calls", 0)
    m["sources.replay_build_s"] = dur("sources.replay")
    hits, builds = counts.get("sources.replay_hits", 0), counts.get("sources.replay_builds", 0)
    m["sources.replay_cache_hit_ratio"] = hits / (hits + builds) if hits + builds else 0.0
    m["runner.runs"] = counts.get("runner.run.calls", 0)
    m["runner.run_s"] = dur("runner.run")
    m.update(progress_metrics(p["progress"]))
    m.update(exec_metrics(p["exec"], wall, cores))
    own = self_times(spans)
    for layer in ("queries", "tables", "materialize", "sources", "runner"):
        m[f"self.{layer}_s"] = sum(v for k, v in own.items() if k.startswith(layer + "."))
    covered = [(s.start, s.end) for s in spans if not s.name.startswith("queries.")] + jobs
    m["unattributed_share"] = 1 - union_length(clip(covered, p["t0"], p["t1"])) / wall
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    require_program()
    # a terminated run still stops its JVM and workers (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = prepare_env()
    sys.path.insert(0, HERE)
    import gen
    from workloads import WORKLOADS, Oracle

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    from tracing import (Progress, RssSampler, StatusStores, Tracer, engine_targets, jvm_heap,
                         trigger_ms)

    data_root = os.path.join(ROOT, ".perfbench_data")
    data_dir = os.path.join(data_root, f"{wl.name}-{wl.volume}-seed{args.seed}")
    manifest = gen.ensure(data_dir, args.seed, wl.volume, wl.tables)
    # Batch entries warm up on the input itself: a tiny input leaves their
    # hot loops cold, and the timed passes kept speeding up. A stream warms
    # up on the small input, because a replay of the input would build the
    # bucket files its timed pass has to build.
    warm_dir = data_dir
    if wl.stream:
        warm_dir = os.path.join(data_root, f"{wl.name}-warmup-seed{args.seed}")
        gen.ensure(warm_dir, args.seed, "warmup", wl.tables)
    members = wl.members()

    sampler = RssSampler()
    sampler.start()
    tracer = Tracer()
    if args.trace:
        tracer.install(engine_targets(tracer))
    progress = Progress() if wl.stream else None
    spark = None
    try:
        spark, setup_times, get_times = setup(members, warm_dir, progress)
        cores = spark.sparkContext.defaultParallelism
        stores = StatusStores(spark) if args.trace else None
        passes = []
        deadline = time.perf_counter() + args.seconds
        # traced runs go untraced, traced, untraced, ...: the first pass
        # may still warm up, so the overhead compares the later ones
        min_passes = max(wl.min_passes, 3 if args.trace else 1)
        while len(passes) < min_passes or time.perf_counter() < deadline:
            pass_dir = data_dir
            if wl.stream:
                # The engine caches a replay's bucket files per input
                # directory. A fresh copy of the input makes every pass
                # build them, as the first replay of any input does.
                pass_dir = os.path.join(tmp, f"input{len(passes)}")
                shutil.copytree(data_dir, pass_dir)
            traced = bool(args.trace) and len(passes) % 2 == 1
            if stores:
                stores.mark()
            if progress:
                progress.take()
            b0 = batches_so_far(members)
            tracer.on, tracer.spans, tracer.counts = traced, [], {}
            t0 = time.time()
            entries = run_pass(spark, members, pass_dir, tracer)
            t1 = time.time()
            tracer.on = False
            p = {"traced": traced, "t0": t0, "t1": t1, "entries": entries,
                 "wall_s": sum(e["wall_s"] for e in entries)}
            if progress:
                progress.wait_for(batches_so_far(members) - b0)
                p["progress"] = progress.take()
            else:
                p["progress"] = []
            if traced:
                p.update(spans=tracer.spans, counts=tracer.counts, exec=stores.read())
            passes.append(p)
            spark.catalog.clearCache()
            gc.collect()
        rss_peak = sampler.stop()
        heap = jvm_heap(spark)

        oracle = Oracle(ROOT, data_dir)
        attempted = failed = 0
        failures: dict[str, str] = {}
        for p in passes:
            for e in p["entries"]:
                attempted += 1
                reason = e["error"]
                if reason is None:
                    try:
                        reason = oracle.check(e["name"], e["cols"], e["dtypes"], e["rows"])
                    except Exception as err:  # an oracle that cannot run is a failure
                        reason = f"duckdb error: {type(err).__name__}: {str(err)[:300]}"
                if reason:
                    failed += 1
                    failures.setdefault(e["name"], reason)
        oracle.close()

        plain = [p for p in passes if not p["traced"]]
        traced = [p for p in passes if p["traced"]]
        e2e = {
            "wall_s": statistics.median(p["wall_s"] for p in plain),
            "setup_s": statistics.median(setup_times),
            "setup_cold_s": setup_times[0],
            "peak_rss_mb": rss_peak / 2 ** 20,
            "failed_share": failed / attempted,
        }
        if wl.stream:
            e2e["rows_per_s"] = statistics.median(
                sum(int(x.get("numInputRows", 0)) for x in p["progress"]) / p["wall_s"]
                for p in plain)
            trig = [t for p in plain for t in trigger_ms(p["progress"])]
            e2e["microbatch_p50_ms"] = statistics.median(trig) if trig else 0.0
            tail_p = tail_percentile(len(trig))
            e2e["microbatch_tail_ms"] = (
                statistics.quantiles(trig, n=100, method="inclusive")[tail_p - 1]
                if tail_p is not None else None)
            e2e["microbatch_tail"] = {"percentile": tail_p, "samples": len(trig)}
        layers = {}
        if traced:
            per = [layer_metrics(p, statistics.median(get_times), cores) for p in traced]
            layers = {k: statistics.median(m[k] for m in per) for k in per[0]}
            layers["trace.wall_s"] = statistics.median(p["wall_s"] for p in traced)
            layers["trace.overhead_s"] = layers["trace.wall_s"] - statistics.median(
                p["wall_s"] for p in plain[1:])

        artifact = {
            "settings": settings(args, spark), "members": members, "inputs": manifest,
            "setup_s_reps": setup_times, "get_spark_s_reps": get_times,
            "passes": [{"traced": p["traced"], "wall_s": p["wall_s"],
                        "entries": {e["name"]: e["wall_s"] for e in p["entries"]},
                        "triggers_ms": trigger_ms(p["progress"])} for p in passes],
            "attempted": attempted, "failed": failed, "failures": failures,
            "jvm_heap_mb": {k: v / 2 ** 20 for k, v in heap.items()},
            "end_to_end": e2e, "per_layer": layers,
            "spans": [[vars(s) for s in p["spans"]] for p in traced],
        }
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(
            out_dir, f"{wl.name}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json")
        with open(path, "w") as f:
            json.dump(artifact, f, indent=1, default=str)

        units = dict(END_TO_END + REPORTED + PER_LAYER)
        print(f"# {wl.name} seed={args.seed} members={members} passes={len(passes)} "
              f"artifact={os.path.relpath(path, ROOT)}")
        for name, reason in failures.items():
            print(f"# FAILED {name}: {reason}")
        shown = dict(e2e)
        shown.pop("microbatch_tail", None)
        for k, v in list(shown.items()) + list(layers.items()):
            extra = f" ({failed} of {attempted} entry runs)" if k == "failed_share" else ""
            if k == "microbatch_tail_ms":
                extra = (f" (p{tail_p} of {len(trig)} microbatches)" if v is not None
                         else f" (needs 11 microbatches, {len(trig)} ran)")
            print(f"{k} {'n/a' if v is None else v} {units[k]}{extra}")
        spec = PER_LAYER if args.trace else END_TO_END
        source = layers if args.trace else e2e
        result = {
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": source[k], "unit": u} for k, u in spec},
        }
        print(json.dumps(result))
        return 0
    finally:
        if sampler.is_alive():
            sampler.stop()
        shutdown(spark, progress)
        shutil.rmtree(tmp, ignore_errors=True)


def shutdown(spark, progress) -> None:
    """Stop the session, the JVM it launched and every process below us."""
    import threading

    from pyspark import SparkContext

    from tracing import alive, descendants

    if spark is not None:
        if progress is not None:
            spark.streams.removeListener(progress)
        spark.stop()
    below = descendants(os.getpid())
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline and any(alive(p) for p in below):
        time.sleep(0.1)
    for pid in below:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    if gw is not None:
        # with the JVM gone its sockets are closed; the callback server's
        # threads can still block a join, so do not wait on them for long
        t = threading.Thread(target=gw.shutdown, kwargs={"raise_exception": False},
                             daemon=True)
        t.start()
        t.join(timeout=5)
        SparkContext._gateway = None


if __name__ == "__main__":
    sys.exit(main())

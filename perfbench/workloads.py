"""The benchmark's workloads, run against the ``kse`` package from outside.

``batch``: one fresh process and session lays out and pins the sf0.1
tables (``bench.py``'s headline posture), builds and collects each query of
the cold list once (cold pass), warms up, and times a closed loop of one
client over the warm mix.

``stream_restart``: the offline pipeline (``run_offline``) drains a JSON
backlog in one ``availableNow`` trigger (catch-up), then restarts from the
same checkpoint and processes small files one per trigger (tail).

Every operation's output is checked after the timed phases, against DuckDB
over the same input files. Both runners return a dict of measurements that
``run.py`` turns into the report and the result line.
"""

from __future__ import annotations

import importlib.util
import os
import random
import statistics
import subprocess
import sys
import time
from contextlib import ExitStack
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import bench
import datagen
from oracle import compare_index, stream_oracle
from stats import percentile, tail_percentile
from tracing import (
    ProgressListener,
    Tracer,
    eventlog_conf,
    patched,
    read_eventlog,
    sum_groups,
    timed_call,
    timed_sink,
)

from kse import catalog, registry
from kse.queries import _util
from kse.session import get_session
from kse.sinks.indexer import JsonlIndexer
from kse.streaming.pipeline import PipelineConfig, run_offline


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on stderr; stdout carries only the report and the result."""
    print(f"[perfbench +{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _load_check_helpers(root: str):
    """``tools/check.py``: the repo's differential-check helpers."""
    path = os.path.join(root, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("kse_tools_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@dataclass
class Context:
    root: str  # checkout root
    data_dir: str  # cached generated tables
    run_dir: str  # this run's scratch (deleted by run.py)
    seed: int
    seconds: int
    trace: bool
    spec: dict
    tracer: Tracer = field(init=False)

    def __post_init__(self):
        self.tracer = Tracer(self.trace)


def _session(ctx: Context, app: str):
    """``get_session`` with the JVM's scratch files kept in the run
    directory; returns (spark, seconds)."""
    tmp = os.path.join(ctx.run_dir, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if ctx.trace:
        conf.update(eventlog_conf(os.path.join(ctx.run_dir, "eventlog")))
    t0 = time.perf_counter()
    with ctx.tracer.span("session.get_session"):
        spark = get_session(app, extra_conf=conf)
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, elapsed


def host_block(spark) -> dict:
    import duckdb

    sc = spark.sparkContext
    mem_kb = cpu = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                cpu = line.split(":", 1)[1].strip()
                break
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark.master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "mem_total_mb": round(mem_kb / 1024) if mem_kb else None,
        "cpu_model": cpu,
        "spark_version": spark.version,
        "java_version": sc._jvm.java.lang.System.getProperty("java.version"),
        "duckdb_version": duckdb.__version__,
    }


def _hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a live process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """Peak RSS of this process plus its JVM, read while both are alive."""
    return _hwm_mb("self") + _hwm_mb(spark.sparkContext._gateway.proc.pid)


def stop(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _set_group(spark, group: str | None) -> None:
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)


def _layer_patches(ctx: Context):
    """Spans around catalog.load (every binding the query modules use) and
    the JSONL sink's per-batch write; a no-op when tracing is off."""
    stack = ExitStack()
    if ctx.trace:
        load = timed_call(ctx.tracer, "catalog.load")
        stack.enter_context(patched(catalog, "load", load))
        stack.enter_context(patched(_util, "load", load))
        stack.enter_context(patched(JsonlIndexer, "foreach_batch", timed_sink(ctx.tracer)))
    return stack


def _timing(samples_ms: list[float]) -> dict:
    """Geometric mean, median, and the highest percentile with ten samples
    beyond it."""
    tail_p = tail_percentile(len(samples_ms))
    return {
        "gmean": statistics.geometric_mean(samples_ms),
        "p50": statistics.median(samples_ms),
        "tail": percentile(samples_ms, tail_p) if tail_p else None,
        "tail_percentile": tail_p,
        "samples": len(samples_ms),
    }


# ---- batch -----------------------------------------------------------------

# untimed passes over the warm mix after the cold pass (itself a first
# run of every query). After them the first timed pass can still be up to
# 20% slower than the rest, which the loop's later passes dilute; a third
# warm-up pass would cost the time of one of them
WARMUP_PASSES = 2
# the timed loop runs whole passes until --seconds have passed, and at
# least this many
MIN_WARM_PASSES = 3

COLD_EVENTLOG_KEYS = ("jobs", "input_bytes", "scan_tasks", "task_run_ms")
WARM_EVENTLOG_KEYS = (
    "jobs", "scheduler_delay_ms", "task_run_ms", "task_cpu_ms", "gc_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes",
    "scan_tasks", "python_bytes_sent", "python_bytes_received",
)


def run_batch(ctx: Context) -> dict:
    check = _load_check_helpers(ctx.root)
    sf_dir = datagen.write_tables(ctx.data_dir)
    rng = random.Random(ctx.seed)
    mix = list(bench.HEADLINE) + list(ctx.spec["warm_extra"])
    tr = ctx.tracer
    out: dict = {"errors": {}, "layers": {}}
    failed: set[str] = set()  # queries that raised

    log("batch: tables ready")
    spark, session_s = _session(ctx, "kse-bench-batch")
    log(f"session {session_s:.1f}s")
    with _layer_patches(ctx):
        try:
            out["host"] = host_block(spark)
            qs = registry.all_queries()

            def run(name: str, phase: str, action):
                """Build ``name`` (a registry call) and apply ``action`` to
                the plan; returns (build seconds, action seconds, plan-cache
                miss), or None when either raised."""
                _set_group(spark, f"{phase}:{name}")
                miss = (sf_dir, name) not in registry._plan_cache(spark)
                try:
                    t0 = time.perf_counter()
                    with tr.span("registry.build", query=name, phase=phase, miss=miss):
                        df = qs[name].fn(spark, sf_dir)
                    t1 = time.perf_counter()
                    with tr.span("queries.run", query=name, phase=phase):
                        action(name, df)
                    return t1 - t0, time.perf_counter() - t1, miss
                except Exception as exc:
                    failed.add(name)
                    out["errors"].setdefault(name, f"{type(exc).__name__}: {exc}"[:300])
                    return None

            # set-up: bench.py's headline posture, layout and pinned tables
            spark.conf.set("spark.sql.shuffle.partitions", "2")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            _set_group(spark, "setup")
            t0 = time.perf_counter()
            with tr.span("catalog.prepare_local_layout"):
                layout_s = catalog.prepare_local_layout(spark, sf_dir, os.path.join(ctx.run_dir, "layout"))
            with tr.span("catalog.cache_tables"):
                cache_s = catalog.cache_tables(spark, sf_dir)
            setup_s = session_s + time.perf_counter() - t0

            # cold pass: the first build and run of each mix query, plus one
            # query from each main family the mix lacks, on the fresh JVM;
            # like `python -m kse run`, it brings the rows into Python, and
            # they are kept for the check
            results: dict = {}
            cold_order = mix + list(ctx.spec["cold_extra"])
            rng.shuffle(cold_order)
            cold = {}
            t0 = time.perf_counter()
            for name in cold_order:
                cold[name] = run(name, "cold", lambda n, df: results.__setitem__(n, df.toPandas()))
            cold_s = time.perf_counter() - t0
            log(f"layout {layout_s:.1f}s cache {cache_s:.1f}s cold pass {cold_s:.1f}s")

            # warm-up passes, counted as set-up
            t0 = time.perf_counter()
            for _ in range(WARMUP_PASSES):
                for name in mix:
                    run(name, "warmup", lambda n, df: bench.materialize(df))
            setup_s += time.perf_counter() - t0
            if ctx.trace:
                _set_group(spark, "floor")
                one_row = spark.range(1)
                floor = []
                for _ in range(9):
                    t0 = time.perf_counter()
                    bench.materialize(one_row)
                    floor.append((time.perf_counter() - t0) * 1000)
                out["layers"]["queries.dispatch_floor_ms"] = statistics.median(floor)

            # timed closed loop: one client, seed-shuffled passes over the mix
            warm_ms: dict[str, list[float]] = {name: [] for name in mix}
            pass_ms: list[list[float]] = []
            warm_builds = 0
            t_loop = time.perf_counter()
            while len(pass_ms) < MIN_WARM_PASSES or time.perf_counter() - t_loop < ctx.seconds:
                order = list(mix)
                rng.shuffle(order)
                pass_ms.append([])
                for name in order:
                    r = run(name, "warm", lambda n, df: bench.materialize(df))
                    if r is not None:
                        warm_builds += r[2]
                        warm_ms[name].append((r[0] + r[1]) * 1000)
                        pass_ms[-1].append((r[0] + r[1]) * 1000)
            loop_s = time.perf_counter() - t_loop
            log(f"setup {setup_s:.1f}s warm loop {loop_s:.1f}s")
            _set_group(spark, None)
            rss = peak_rss_mb(spark)
        finally:
            stop(spark)

    log("stopped")
    # check each query's result against DuckDB over the same files,
    # outside every timed span
    con = check.duck_connect(sf_dir)
    try:
        for name, got in results.items():
            q = qs[name]
            if q.oracle is not None:
                errs = check.compare(got, con.execute(q.oracle).df())
            elif q.check_oracle is not None:
                errs = check.compare_tol(got, con.execute(q.check_oracle).df(), q.check_rel_tol or 0.01)
            else:
                errs = [] if len(got) else ["no rows"]
            if errs:
                failed.add(name)
                out["errors"][name] = "; ".join(errs)[:300]
    finally:
        con.close()
    log("checked")

    # an operation fails if it raised or its query's result is wrong
    attempted = len(cold_order) + len(mix) * len(pass_ms)
    ok = sum(1 for n in cold_order if n not in failed) + sum(
        len(warm_ms[n]) for n in mix if n not in failed)
    warm_all = [v for vs in warm_ms.values() for v in vs]
    cold_ms = [(c[0] + c[1]) * 1000 for c in cold.values() if c is not None]
    out.update(
        attempted=attempted,
        failed=attempted - ok,
        setup_s=setup_s,
        cold_s=cold_s,
        cold_query_p50_ms=statistics.median(cold_ms) if cold_ms else None,
        cold_query_samples=len(cold_ms),
        timing=_timing(warm_all),
        ops_per_s=len(warm_all) / loop_s,
        query_ms=warm_ms,
        pass_gmean_ms=[statistics.geometric_mean(p) for p in pass_ms if p],
        peak_rss_mb=rss,
    )
    out["layers"].update({
        "session.get_session_s": session_s,
        "catalog.prepare_local_layout_s": layout_s,
        "catalog.cache_tables_s": cache_s,
    })
    if ctx.trace:
        L = out["layers"]
        load_ms = [
            (s["end"] - s["start"]) * 1000 for s in tr.spans
            if s["name"] == "catalog.load" and s["parent"] is not None
            and tr.spans[s["parent"]].get("phase") == "cold"
        ]
        build_ms = [c[0] * 1000 for c in cold.values() if c is not None]
        L.update({
            "catalog.load_ms": sum(load_ms),
            "catalog.load_calls": len(load_ms),
            "registry.build_ms_p50": statistics.median(build_ms) if build_ms else 0.0,
            "registry.build_ms_total": sum(build_ms),
            "registry.builds": sum(c[2] for c in cold.values() if c is not None),
            "registry.warm_builds": warm_builds,
        })
        for name in mix:
            L[f"queries.run_ms.{name}"] = statistics.median(
                tr.durations_ms("queries.run", query=name, phase="warm") or [0.0])
        for name in cold_order:
            L[f"queries.cold_run_ms.{name}"] = cold[name][1] * 1000 if cold[name] else 0.0
        groups = read_eventlog(os.path.join(ctx.run_dir, "eventlog"))
        out["eventlog"] = {"cold": sum_groups(groups, "cold:"), "warm": sum_groups(groups, "warm:")}
        for key in COLD_EVENTLOG_KEYS:
            L[f"queries.cold.{key}"] = out["eventlog"]["cold"][key]
        for key in WARM_EVENTLOG_KEYS:
            L[f"queries.warm.{key}"] = out["eventlog"]["warm"][key]
    return out


# ---- stream_restart --------------------------------------------------------

# stream sizes: catch-up input files, tail triggers that run untimed
# after the restart, and shuffle partitions of the windowed aggregate's
# state; the tail times one trigger per second of --seconds
BACKLOG_FILES = 4
TAIL_WARMUP_TRIGGERS = 6
STATE_PARTITIONS = 2


def _progress(query, listener: ProgressListener) -> list[dict]:
    """Every progress event of the query's run, from the listener
    (``recentProgress`` keeps only the last 100)."""
    last = query.lastProgress
    return listener.wait_for(str(query.runId), last["batchId"]) if last else []


def run_stream(ctx: Context) -> dict:
    sf_dir = datagen.write_tables(ctx.data_dir)
    # the first tail triggers still pay JIT after the restart (about 1.3 s
    # falling to 0.7 s over 20 triggers on 4 cores); they run but are not
    # in the timings
    n_warmup = TAIL_WARMUP_TRIGGERS
    n_tail = n_warmup + ctx.seconds
    plan = datagen.stream_plan(pq.read_table(os.path.join(sf_dir, "events.parquet")), ctx.seed, n_tail)
    src = os.path.join(ctx.run_dir, "events")
    index_root = os.path.join(ctx.run_dir, "index")
    ckpt = os.path.join(ctx.run_dir, "checkpoint")
    backlog_files = datagen.split(plan["backlog"], BACKLOG_FILES)
    datagen.write_stream_files(src, "backlog", backlog_files, time.time() - 3600)
    n_backlog = len(plan["backlog"]["ts"])
    cfg = PipelineConfig(shuffle_partitions=STATE_PARTITIONS)
    tr = ctx.tracer
    out: dict = {"errors": {}, "layers": {}}

    log("stream: inputs written")
    spark, setup_s = _session(ctx, "kse-bench-stream")
    log(f"session {setup_s:.1f}s")
    # on every run: the check and the tail timings read its events. Spark
    # calls it from its asynchronous listener bus, not from the trigger
    listener = ProgressListener()
    with _layer_patches(ctx):
        try:
            out["host"] = host_block(spark)
            spark.streams.addListener(listener)
            t0 = time.perf_counter()
            with tr.span("streaming.pipeline.catchup"):
                q = run_offline(spark, src, index_root, ckpt, cfg, fmt="json", max_files_per_trigger=None)
                q.awaitTermination()
            catchup_s = time.perf_counter() - t0
            catchup = _progress(q, listener)
            log(f"catch-up {catchup_s:.1f}s")

            datagen.write_stream_files(src, "tail", plan["tail"], time.time())
            t0 = time.perf_counter()
            with tr.span("streaming.pipeline.tail"):
                q2 = run_offline(spark, src, index_root, ckpt, cfg, fmt="json", max_files_per_trigger=1)
                q2.awaitTermination()
            tail_wall_s = time.perf_counter() - t0
            tail = _progress(q2, listener)
            log(f"tail {tail_wall_s:.1f}s")
            rss = peak_rss_mb(spark)
            tail_run_id = str(q2.runId)
            catchup_run_id = str(q.runId)
        finally:
            stop(spark)

    log("stopped")
    index = JsonlIndexer(index_root).read_index("event_windows")
    errs = compare_index(index, stream_oracle(src))
    # the catch-up's one data trigger is followed by a no-data trigger that
    # moves the watermark; the model needs the same trigger sequence
    if len(catchup) != 2 or catchup[-1]["numInputRows"] != 0:
        errs.append(f"catch-up ran {len(catchup)} triggers, expected a data and a no-data trigger")
    model = datagen.watermark_model([plan["backlog"], None, *plan["tail"]])
    dropped = sum(op.get("numRowsDroppedByWatermark", 0) for e in catchup + tail for op in e["stateOperators"])
    if dropped != model["dropped_keys"]:
        errs.append(f"numRowsDroppedByWatermark {dropped} != model {model['dropped_keys']}")
    log("checked")
    tail_data = [e for e in tail if e["numInputRows"] > 0]
    if len(tail_data) != n_tail:
        errs.append(f"{len(tail_data)} tail triggers with data, expected {n_tail}")
    if errs:
        out["errors"]["stream"] = "; ".join(errs)[:600]
    attempted = 1 + n_tail
    trigger_ms = [float(e["durationMs"]["triggerExecution"]) for e in tail_data[n_warmup:]]
    out.update(
        attempted=attempted,
        failed=attempted if errs else 0,
        setup_s=setup_s,
        cold_s=catchup_s,
        events_per_s=n_backlog / catchup_s,
        timing=_timing(trigger_ms),
        ops_per_s=1000.0 * len(trigger_ms) / sum(trigger_ms),
        tail_wall_s=tail_wall_s,
        trigger_ms=trigger_ms,
        dropped_by_watermark=dropped,
        late_events=model["dropped_events"],
        peak_rss_mb=rss,
    )
    out["layers"]["session.get_session_s"] = setup_s
    if ctx.trace:
        tail_data = tail_data[n_warmup:]

        def med(key: str, events=tail_data) -> float:
            return statistics.median(float(e["durationMs"].get(key, 0)) for e in events) if events else 0.0

        ops = [e["stateOperators"][0] for e in tail_data if e["stateOperators"]]
        tail_batches = [e["batchId"] for e in tail_data]
        last_op = (tail[-1]["stateOperators"] or [{}])[0] if tail else {}
        out["layers"].update({
            "streaming.sources.latest_offset_ms": med("latestOffset"),
            "streaming.sources.get_batch_ms": med("getBatch"),
            "streaming.sources.input_rows": sum(e["numInputRows"] for e in tail_data),
            "streaming.pipeline.query_planning_ms": med("queryPlanning"),
            "streaming.pipeline.add_batch_ms": med("addBatch"),
            "streaming.pipeline.wal_commit_ms": med("walCommit"),
            "streaming.pipeline.commit_offsets_ms": med("commitOffsets"),
            "streaming.pipeline.catchup_add_batch_ms": sum(float(e["durationMs"].get("addBatch", 0)) for e in catchup),
            "streaming.windows.state_rows": last_op.get("numRowsTotal", 0),
            "streaming.windows.state_commit_ms": statistics.median(o.get("commitTimeMs", 0) for o in ops) if ops else 0.0,
            "streaming.windows.state_memory_bytes": last_op.get("memoryUsedBytes", 0),
            "streaming.windows.rows_dropped_by_watermark": dropped,
            "sinks.indexer.write_ms": statistics.median(
                [d for b in tail_batches for d in tr.durations_ms("sinks.indexer.write", batch_id=b)] or [0.0]),
            "sinks.indexer.docs_written": sum(o.get("numRowsUpdated", 0) for o in ops),
        })
        groups = read_eventlog(os.path.join(ctx.run_dir, "eventlog"))
        ev = out["eventlog"] = {"catchup": sum_groups(groups, catchup_run_id), "tail": sum_groups(groups, tail_run_id)}
        for key in ("task_run_ms", "task_cpu_ms", "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
            out["layers"][f"queries.catchup.{key}"] = ev["catchup"][key]
        for key in ("jobs", "scheduler_delay_ms"):
            out["layers"][f"queries.tail.{key}"] = ev["tail"][key]
    return out


RUNNERS = {"batch": run_batch, "stream_restart": run_stream}

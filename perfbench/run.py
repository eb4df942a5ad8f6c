"""Benchmark entry point.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Runs one workload against the ``kse`` package of the checkout it sits in,
checks the outputs, and prints two lines on stdout: a report (prefixed
``report:``) with the host block and every end-to-end metric by name and
unit, then, as the last line, the result object that BENCHMARK.json
describes. ``--trace 1`` adds the per-layer metrics and the tracing
overhead against the last untraced run of the same workload.

Everything the run writes stays under ``.perfbench/`` in the checkout:
generated tables (kept, they do not depend on the seed), the run's scratch
(removed at exit), and the reports and traces (kept).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")


def _environment(run_dir: str) -> None:
    """Pin the engine to this host's cores and keep Spark's and Python's
    scratch files inside the run directory. Must run before pyspark starts
    a JVM."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # spark-submit's launcher JVM, like the driver JVM (workloads._session),
    # writes no perf-data file to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    # Python workers unpickle UDFs that live in kse, so they import it from here
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def _metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(r: dict) -> dict:
    """The BENCHMARK.json end-to-end metrics: one meaning per name on every
    workload (perfbench/README.md maps them onto each workload)."""
    return {
        "setup_s": _metric(r["setup_s"], "s"),
        "cold_s": _metric(r["cold_s"], "s"),
        "gmean_ms": _metric(r["timing"]["gmean"], "ms"),
    }


def report_metrics(workload: str, r: dict) -> dict:
    """Every end-to-end metric under its descriptive name, as the report
    prints it; timings carry their sample count and tail percentile."""
    t = r["timing"]
    timing = {"samples": t["samples"], "gmean_ms": t["gmean"],
              "tail_percentile": t["tail_percentile"], "tail_ms": t["tail"]}
    m = {
        "setup_s": _metric(r["setup_s"], "s"),
        "error_rate": {"value": r["failed"] / r["attempted"], "unit": "ratio",
                       "failed": r["failed"], "attempted": r["attempted"]},
        "peak_rss_mb": _metric(r["peak_rss_mb"], "MB"),
    }
    if workload == "batch":
        m.update({
            "query_p50_ms": {**_metric(t["p50"], "ms"), **timing},
            "queries_per_s": _metric(r["ops_per_s"], "1/s"),
            "cold_list_s": _metric(r["cold_s"], "s"),
            "cold_query_p50_ms": {**_metric(r["cold_query_p50_ms"], "ms"), "samples": r["cold_query_samples"]},
            "query_ms": r["query_ms"],
            "pass_gmean_ms": r["pass_gmean_ms"],
        })
    else:
        m.update({
            "events_per_s": _metric(r["events_per_s"], "1/s"),
            "catchup_s": _metric(r["cold_s"], "s"),
            "batch_p50_ms": {**_metric(t["p50"], "ms"), **timing},
            "triggers_per_s": _metric(r["ops_per_s"], "1/s"),
            "trigger_ms": r["trigger_ms"],
        })
    return m


def per_layer(layers: list[dict], r: dict) -> dict:
    """Every metric of BENCHMARK.json's ``per_layer`` list; a layer the
    workload does not exercise reads 0."""
    unknown = set(r["layers"]) - {m["name"] for m in layers}
    if unknown:
        raise KeyError(f"layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return {m["name"]: _metric(r["layers"].get(m["name"], 0), m["unit"]) for m in layers}


def overhead(workload: str, traced: dict) -> dict | None:
    """Traced / untraced - 1 per end-to-end metric, against the last
    untraced run of this workload in this checkout."""
    path = os.path.join(WORK, "out", f"{workload}-last-untraced.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        base = json.load(f)
    return {
        k: traced[k]["value"] / base[k]["value"] - 1.0
        for k in traced
        if base.get(k, {}).get("value")
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        benchmark = json.load(f)
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    known = [w["name"] for w in benchmark["workloads"]]
    if args.workload not in known:
        p.error(f"unknown workload {args.workload!r}; known: {known}")
    if args.seconds < 1:
        p.error("--seconds must be at least 1")

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
    _environment(run_dir)
    try:
        import workloads

        ctx = workloads.Context(
            root=ROOT,
            data_dir=os.path.join(WORK, "data"),
            run_dir=run_dir,
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            spec=spec,
        )
        r = workloads.RUNNERS[args.workload](ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = end_to_end(r)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": r["host"],
        "metrics": report_metrics(args.workload, r),
        "errors": r["errors"],
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        report["per_layer"] = per_layer(benchmark["per_layer"], r)
        report["eventlog"] = r.get("eventlog")
        report["tracing_overhead"] = overhead(args.workload, e2e)
        ctx.tracer.write(os.path.join(WORK, "out", f"{tag}-spans.jsonl"))
    else:
        with open(os.path.join(WORK, "out", f"{args.workload}-last-untraced.json"), "w") as f:
            json.dump(e2e, f)
    with open(os.path.join(WORK, "out", f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    print("report: " + json.dumps(report, default=str))
    result = {
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": report["per_layer"] if args.trace else e2e,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

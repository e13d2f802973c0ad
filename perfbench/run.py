"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``; the line
before it carries the run's details (seeds, op counts, problems found).
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
BUILD_DIR = ROOT / ".perfbench_data"   # generated source tables, kept per checkout
WORK_DIR = ROOT / ".perfbench_work"    # per-run scratch, removed at exit
OUT_DIR = ROOT / ".perfbench_out"      # traced runs' span dumps

LAYERS = ("sources.tables.load", "queries.build", "catalyst.plan", "exec.save",
          "sources.sink.merge", "sources.versioned.read",
          "sources.versioned.compact", "sources.versioned.vacuum")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout,
    give Spark half the host's cores (the JIT compiler, GC and the Python
    process use the rest), and pin UTC for timestamp collection."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, len(os.sched_getaffinity(0)) // 2)))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # PerfDisableSharedMem keeps HotSpot's perf-counter file out of the system
    # temp dir. TieredStopAtLevel=1 keeps the JIT at its quick first tier: with
    # the optimising tier a query took about ten executions to reach its
    # compiled speed, more than a run can hold, and runs differed in how far
    # they got (see README.md, "JIT warm-up").
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
        " -XX:TieredStopAtLevel=1").strip()
    os.environ["TZ"] = "UTC"
    time.tzset()


def _trace_load_table(tracer) -> None:
    """Wrap sources.tables.load_table in a span. Must run before
    load_registry() imports the operator modules, which bind the name."""
    from enterprise_data_warehouse_spark import sources
    from enterprise_data_warehouse_spark.sources import tables

    inner = tables.load_table

    def load_table(*args, **kwargs):
        with tracer.span("load_table", "sources.tables.load"):
            return inner(*args, **kwargs)

    tables.load_table = sources.load_table = load_table


def _run_units(ctx, wl, units: list[list], traced: list[bool]) -> list[dict]:
    """Run the units (passes or cycles) back to back, tracing those flagged.
    Op latency excludes the untimed checks and housekeeping between ops."""
    tracer = ctx.tracer
    jit = ctx.spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getCompilationMXBean()
    records = []
    for ops, on in zip(units, traced):
        tracer.active = on
        with tracer.span("pass", "run"):
            for op in ops:
                jit0 = jit.getTotalCompilationTime()
                t0 = time.perf_counter()
                with tracer.span(op.name, "op") as span:
                    try:
                        result, err = op.run(), None
                    except Exception as e:  # noqa: BLE001 — counted as a failed op
                        result, err = None, e
                latency = time.perf_counter() - t0
                problems = [f"{type(err).__name__}: {err}"[:300]] if err else (
                    op.check(result) if op.check else [])
                rec = {"name": op.name, "latency_s": latency, "problems": problems,
                       "traced": on, "jit_s": (jit.getTotalCompilationTime() - jit0) / 1000.0}
                if span is not None and op.probe and not err:
                    span.update(op.probe(result))
                records.append(rec)
                t1 = time.perf_counter()
                wl.after_op(ctx)
                rec["after_s"] = time.perf_counter() - t1
        tracer.active = False
    return records


def _tail(latencies: list[float]) -> dict | None:
    """Highest percentile with at least ten samples beyond it."""
    n = len(latencies)
    if n < 40:
        return None
    pct = int(100 * (n - 10) / n)
    return {"percentile": pct, "value_s": statistics.quantiles(latencies, n=100)[pct - 1]}


def _layer_metrics(ctx, spans, records, extra) -> dict[str, tuple[float, str]]:
    from perfbench.spans import job_counters

    def of(layer):
        return [s for s in spans if s["layer"] == layer]

    m = {"session.start_s": (extra["session_start_s"], "s"),
         "sources.tables.load_calls": (len(of("sources.tables.load")), "count")}
    for layer in LAYERS:
        m[f"{layer}_s"] = (sum(s["self_s"] for s in of(layer)), "s")
    for layer in ("sources.tables.load", "queries.build", "sources.sink.merge"):
        m[f"{layer}_jobs"] = (sum(len(s["jobs"]) for s in of(layer)), "count")
    # the node counts come from the final plans of the saves' own executions
    ex = job_counters(ctx.spark, [j for s in of("exec.save") for j in s["jobs"]])
    for k in ("exchanges", "joins_smj", "joins_shj", "joins_bhj", "python_nodes"):
        m[f"catalyst.{k}"] = (ex[k], "count")
    units = {"jobs": "count", "stages": "count", "tasks": "count", "task_busy_s": "s",
             "gc_s": "s", "scan_rows": "count", "scan_bytes": "B",
             "shuffle_write_bytes": "B", "shuffle_records": "count", "spill_bytes": "B",
             "max_output_rows": "count", "task_skew": "ratio"}
    for k, unit in units.items():
        m[f"exec.{k}"] = (ex[k], unit)
    save_s = m["exec.save_s"][0]
    m["exec.core_util"] = (ex["task_busy_s"] / (save_s * extra["cores"]) if save_s else 0.0,
                           "ratio")
    fm = extra.get("fact", {})
    ratios = [s["files_read_ratio"] for s in of("op") if "files_read_ratio" in s]
    m["sources.versioned.files_written"] = (fm.get("files_written", 0), "count")
    m["sources.versioned.bytes_written"] = (fm.get("bytes_written", 0), "B")
    m["sources.versioned.files_read_ratio"] = (
        statistics.mean(ratios) if ratios else 0.0, "ratio")
    m["sources.versioned.write_amp"] = (fm.get("write_amp", 0.0), "ratio")
    m["sources.versioned.space_amp"] = (fm.get("space_amp", 0.0), "ratio")
    traced = [r for r in records if r["traced"]]
    m["sources.sink.commit_p50_s"] = (_p50(traced, ("fact_merge", "dim_merge")), "s")
    m["sources.sink.read_p50_s"] = (_p50(traced, ("read_agg",)), "s")
    m["trace.unattributed_s"] = (sum(s["self_s"] for s in of("op")), "s")
    # traced wall_s over untraced wall_s; both halves run the same ops
    m["trace.overhead_ratio"] = (
        _wall(traced) / _wall([r for r in records if not r["traced"]]), "ratio")
    return m


def _p50(records, names) -> float:
    lat = [r["latency_s"] for r in records if r["name"] in names]
    return statistics.median(lat) if lat else 0.0


def _wall(records) -> float:
    return sum(r["latency_s"] for r in records)


def _best_pass(records) -> float:
    """One unit (pass or cycle) with each of its ops at its fastest in the
    run. A unit runs each op name once, so this sums the per-name minima."""
    best: dict[str, float] = {}
    for r in records:
        best[r["name"]] = min(best.get(r["name"], r["latency_s"]), r["latency_s"])
    return sum(best.values())


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    SparkContext._gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _args(argv)
    if not (ROOT / "enterprise_data_warehouse_spark").is_dir():
        print("perfbench: run from the root of a checkout of the engine "
              "(enterprise_data_warehouse_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import datagen
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS, Ctx, QueryWorkload

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = WORK_DIR / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    # a traced run times two blocks' worth of units, half of them traced
    n_blocks = 2 if args.trace else 1
    spark = None
    try:
        # the benchmark's own inputs: generated before the set-up clock
        ctx = Ctx(spark=None, tables=datagen.ensure_tables(BUILD_DIR), work=work,
                  tracer=None, seed=args.seed)
        wl.prepare(ctx, n_blocks, args.seconds)

        t_setup = time.perf_counter()
        from enterprise_data_warehouse_spark.session import get_spark

        spark = get_spark("perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"})
        spark.sparkContext.setLogLevel("ERROR")
        session_start_s = time.perf_counter() - t_setup
        ctx.spark = spark
        ctx.tracer = Tracer(spark.sparkContext)
        if isinstance(wl, QueryWorkload):
            if args.trace:
                _trace_load_table(ctx.tracer)
            from enterprise_data_warehouse_spark.queries import load_registry

            ctx.registry = load_registry()
        t_warm = time.perf_counter()
        wl.setup(ctx)
        setup_s = time.perf_counter() - t_setup
        phases = {"session_s": session_start_s, "registry_s": t_warm - t_setup - session_start_s,
                  "warm_s": setup_s - (t_warm - t_setup)}

        units = [u for _ in range(n_blocks) for u in wl.block(ctx)]
        # untraced, traced, traced, untraced, ...: both halves see the same
        # mix of early (less warm) and late units
        flags = [bool(args.trace) and i % 4 in (1, 2) for i in range(len(units))]
        records = _run_units(ctx, wl, units, flags)
        if args.trace:
            ctx.tracer.finish()

        # output checks, outside every timed region
        t_check = time.perf_counter()
        bad = {k: v for k, v in wl.check(ctx).items() if v}
        phases["check_s"] = time.perf_counter() - t_check
        untraced = [r for r in records if not r["traced"]]
        phases["between_ops_s"] = sum(r["after_s"] for r in untraced)
        for r in records:
            if r["name"] in bad and not r["problems"]:
                r["problems"] = bad[r["name"]]
        failed = sum(1 for r in records if r["problems"])
        lat = [r["latency_s"] for r in untraced]
        detail = {
            "workload": args.workload, "seeds": {"seed": args.seed,
                                                 "table_seed": datagen.TABLE_SEED},
            "seconds": args.seconds, "ops": len(records), "traced_ops": len(records) - len(untraced),
            "fail_ratio": failed / len(records),
            "problems": {k: v[:3] for k, v in bad.items()},
            "op_problems": sorted({r["name"] for r in records if r["problems"]}),
            "phases": {k: round(v, 3) for k, v in phases.items()},
            "op_latency_s": [[r["name"], round(r["latency_s"], 3), round(r["jit_s"], 3)]
                             for r in untraced],
        }
        detail["wall_s"], detail["op_p50_s"] = _wall(untraced), statistics.median(lat)
        if _tail(lat):
            detail["op_tail"] = _tail(lat)
        extra = {"session_start_s": session_start_s, "cores": spark.sparkContext.defaultParallelism}
        if args.workload == "fact_merge":
            extra["fact"] = wl.amplification(ctx)
            detail.update({k: round(v, 6) for k, v in extra["fact"].items()})
            detail["commit_p50_s"] = _p50(untraced, ("fact_merge", "dim_merge"))
            detail["read_p50_s"] = _p50(untraced, ("read_agg",))
        if args.trace:
            metrics = _layer_metrics(ctx, ctx.tracer.spans, records, extra)
            OUT_DIR.mkdir(exist_ok=True)
            trace_file = OUT_DIR / f"trace-{args.workload}-seed{args.seed}.json"
            trace_file.write_text(json.dumps(ctx.tracer.spans))
            detail["trace_file"] = str(trace_file.relative_to(ROOT))
        else:
            metrics = {"setup_s": (setup_s, "s"), "pass_best_s": (_best_pass(untraced), "s")}
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(records), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

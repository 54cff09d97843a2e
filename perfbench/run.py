"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload bi_dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The runner checks the fixed star schema
under ``perfbench/data``, generates the seed's inputs (once per seed,
under ``perfbench/.work``), starts a session with the engine's own
``get_spark`` defaults on all local cores, runs the warm-up, then runs
whole passes in a closed loop for ``--seconds`` and checks every result.
Every file it writes stays under ``perfbench/.work``.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced run
(traced passes, then one untraced pass; the difference of the two pass
times is the tracing overhead). The lines before it give the run's
provenance and name each end-to-end metric the way the workload's users
know it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "business_intelligence_and_data_warehouse_spark"
WORK = os.path.join(HERE, ".work")
EXTRA_CONF = {"spark.ui.showConsoleProgress": "false"}

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "pass_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}
_PER_LAYER_FIXED = {
    "session.start_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.exec_s": "s",
    "plans.result_rows": "rows",
    **{f"spark.{c}": u for c, u in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("input_bytes", "bytes"), ("output_bytes", "bytes"),
        ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
        ("spill_bytes", "bytes"), ("broadcast_bytes", "bytes"), ("gc_s", "s"),
        ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("python_worker_s", "s"),
        ("core_busy_share", "ratio"),
    )},
    "etl.dim_time_s": "s",
    "etl.dim_category_s": "s",
    "etl.fact_order_lines_s": "s",
    "etl.quality_split_s": "s",
    "etl.quarantined_rows": "rows",
    "sources.write_s": "s",
    "sources.bytes_written": "bytes",
    "sources.files_written": "count",
    "operators.scd.initial_load_s": "s",
    "operators.scd.versions_closed_per_change": "ratio",
    "streaming.handler_s": "s",
    "streaming.batch_overhead_s": "s",
    "streaming.store_bytes_per_change_byte": "ratio",
    **{f"trace.self_s.{k}": "s" for k in
       ("workload", "pass", "phase", "layer", "op", "build", "exec", "delivery")},
    "trace.spans": "count",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit. A
    metric of a layer the workload does not exercise reads 0."""
    from workloads import STAGES, TILES

    out = dict(_PER_LAYER_FIXED)
    for op in TILES + STAGES:
        out[f"plans.build_s.{op}"] = "s"
        out[f"plans.exec_s.{op}"] = "s"
    for op in STAGES:
        out[f"plans.result_rows.{op}"] = "rows"
    return out


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(run_dir: str) -> None:
    """Keep the JVM's, Spark's and Python's scratch files in the run dir."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    # the Spark JVM's temp files go to the run dir; perf data would go to /tmp
    os.environ["SPARK_SUBMIT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    os.chdir(run_dir)  # spark-warehouse/ and other relative paths land here


def _hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


def _git_commit() -> str:
    try:
        return subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown (not a git checkout)"


def _provenance(workload, args, cpus, manifest, steal_share) -> dict:
    import duckdb
    import gen
    import pyarrow
    import pyspark

    return {
        "workload": workload.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "get_spark_cpus": cpus,
        "clients": 1,
        "warmup_passes": workload.warmup_passes,
        "extra_conf": EXTRA_CONF,
        "input_spec": workload.spec,
        "star_schema": os.path.relpath(gen.STAR, ROOT),
        "input_rows": manifest["rows"],
        "input_digest": manifest["digest"],
        "git_commit": _git_commit(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        # CPU time the hypervisor gave to other guests while this run's
        # session was up: a slow run with a high share was slowed from
        # outside
        "cpu_steal_share": steal_share,
    }


def _stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found next to perfbench/: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import gen
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]()
    gen.verify_star()
    inputs_dir, manifest = gen.materialize(
        os.path.join(WORK, "inputs", workload.name), args.seed, workload.spec
    )
    run_id = f"{workload.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _isolate(run_dir)
    try:
        result, lines = _run(workload, args, inputs_dir, manifest, run_id, run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0


def _run(workload, args, inputs_dir, manifest, run_id, run_dir):
    from check import Outcomes
    from spark_stats import StatusStores
    from spans import Tracer
    from workloads import Ctx, summarize

    from business_intelligence_and_data_warehouse_spark.session import get_spark

    cpus = os.cpu_count() or 1
    outcomes = Outcomes()
    ctx = Ctx(None, inputs_dir, manifest, args.seed, run_dir, Tracer(run_id, False), None, outcomes)
    workload.prepare(ctx)  # expected results from DuckDB, before the session starts
    # peak_rss_mb covers the session only, not input generation or the
    # oracles, which run in this process on a seed's first run
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")

    ticks0 = _cpu_ticks()
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{workload.name}", cpus=cpus, extra_conf=EXTRA_CONF)
    session_s = time.perf_counter() - t0
    ctx.spark = spark
    try:
        t1 = time.perf_counter()
        for index in range(workload.warmup_passes):
            workload.run_pass(ctx, index)
        setup_s = session_s + (time.perf_counter() - t1)
        if args.trace:
            ctx.tracer = Tracer(run_id, True, spark)
            ctx.stores = StatusStores(spark)
        passes, index = [], workload.warmup_passes
        with ctx.tracer.span(workload.name, "workload"):
            deadline = time.perf_counter() + args.seconds
            while not passes or (passes[-1].complete and time.perf_counter() < deadline):
                # the first pass always completes, so every run has a pass
                # time; traced runs complete every pass, so that per-pass
                # layer figures divide by whole passes
                cut = deadline if passes and not args.trace else float("inf")
                passes.append(workload.run_pass(ctx, index, cut))
                index += 1
        if args.trace:
            # one untraced pass after the traced ones: the in-run tracing
            # overhead errs high rather than crediting late warm-up to it
            traced, ctx.tracer = ctx.tracer, Tracer(run_id, False)
            untraced = workload.run_pass(ctx, index)
            ctx.tracer = traced
        workload.finish(ctx)
        from pyspark import SparkContext

        peak = _hwm_mb(os.getpid()) + _hwm_mb(SparkContext._gateway.proc.pid)
    finally:
        _stop(spark)
    ticks1 = _cpu_ticks()
    steal_share = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])

    lines = [json.dumps({"provenance": _provenance(workload, args, cpus, manifest, steal_share)})]
    lines += [f"FAILED {e}" for e in outcomes.errors[:20]]
    if args.trace:
        metrics = _per_layer(ctx, passes, untraced, session_s, cpus)
    else:
        e2e = summarize(passes)
        values = {"setup_s": setup_s, **e2e, "peak_rss_mb": peak}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        lines.append(_user_line(workload, values, outcomes, passes))
    result = {
        "correct": outcomes.failed == 0,
        "attempted": outcomes.attempted,
        "failed": outcomes.failed,
        "metrics": metrics,
    }
    return result, lines


def _user_line(workload, m, outcomes, passes) -> str:
    """The end-to-end metrics under the names this workload's users know."""
    units = {"op_p50_s": "s", "pass_s": "s", "rows_per_s": "rows/s"}
    parts = [f"setup_s={m['setup_s']:.3f} s"]
    parts += [f"{workload.names[k]}={m[k]:.4g} {u}" for k, u in units.items()]
    parts += [f"peak_rss_mb={m['peak_rss_mb']:.1f} MB",
              f"failed_share={outcomes.failed_share:.4g} ratio",
              f"({len(passes)} measured passes of "
              f"{', '.join(f'{p.wall:.3f}' for p in passes)} s, "
              f"{outcomes.attempted} checked operations)"]
    return f"{workload.name}: " + " ".join(parts)


def _per_layer(ctx, passes, untraced, session_s, cpus) -> dict:
    n = len(passes)
    lay, units = ctx.layer, per_layer_units()
    values = {k: lay.get(k, 0.0) / n for k in units}
    values["session.start_s"] = session_s
    pass_wall = sum(p.wall_total for p in passes)
    values["spark.core_busy_share"] = lay["spark.executor_run_s"] / (pass_wall * cpus)
    if lay["streaming.change_bytes"]:
        values["operators.scd.versions_closed_per_change"] = (
            lay["operators.scd.versions_closed"] / lay["operators.scd.change_rows"])
        values["streaming.store_bytes_per_change_byte"] = (
            lay["streaming.store_bytes"] / lay["streaming.change_bytes"])
    for k, v in ctx.per_op.items():
        if k in units:
            values[k] = median(v)
    selfs = ctx.tracer.self_seconds()
    for k in units:
        if k.startswith("trace.self_s."):
            values[k] = selfs.get(k.rsplit(".", 1)[1], 0.0) / n
    values["trace.spans"] = float(len(ctx.tracer.spans))
    values["trace.pass_s"] = median(p.wall_total for p in passes)
    values["trace.overhead_s"] = values["trace.pass_s"] - untraced.wall_total
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    ctx.tracer.write(os.path.join(WORK, "traces", f"{ctx.tracer.run_id}.json"))
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}


if __name__ == "__main__":
    sys.exit(main())

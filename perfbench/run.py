"""Benchmark command: one workload, one closed-loop client, one process.

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The program runs as
users run it: ``session.get_spark()`` unchanged, then
``registry.load_all()``. Spark's own stderr goes to a log file in the
benchmark's work area so nothing can corrupt the printed result, the
last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json, ``--trace
1`` the per-layer ones (layers.json maps each to the end-to-end metric
and workload it should move). The op count comes from ``--seconds``
divided by the workload's nominal op time, so one seed always runs the
same ops; each op's correctness check runs outside its timed interval.
All files the run writes stay under ``perfbench/.work`` and
``perfbench/.cache`` (the generated universe and the DuckDB oracle
results, keyed by fixture file identity).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

#: size of the generated universe (sf-like; lineitem ≈ 60k rows). Every op
#: of every workload is dominated by per-job overhead at this size, which
#: keeps one run to about a minute on 4 cores.
SCALE = 0.01


def _rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def run(workload: str, seed: int, seconds: int, trace: bool, *,
        scale: float = SCALE, tamper=None) -> dict:
    """One benchmark run in this process; returns the result object.
    ``tamper(wl)`` (tests only) may corrupt the expected results after
    they are prepared, to prove the checks can fail."""
    import numpy as np

    import universe
    from workloads import WORKLOADS, Ctx

    wl = WORKLOADS[workload]()
    cache = os.path.join(HERE, ".cache")
    os.makedirs(cache, exist_ok=True)
    fx = universe.write(scale, os.path.join(cache, f"universe-{scale}"))
    work = os.path.join(HERE, ".work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    t0 = time.perf_counter()
    from postgresql_transfer_tool_spark.operators import registry
    from postgresql_transfer_tool_spark.session import get_spark

    spark = get_spark()
    registry.load_all()
    setup_s = time.perf_counter() - t0

    ctx = Ctx(spark, fx, work, cache, np.random.default_rng(seed))
    if trace:
        from tracing import Tracer

        ctx.tracer = Tracer(spark)
    try:
        wl.prepare_inputs(ctx)
        wl.start(ctx)
        if tamper is not None:
            tamper(wl)
        if trace:
            _install_tracing(ctx, wl)
        res = _measure(ctx, wl, wl.job_ops * max(1, round(seconds * wl.jobs_per_10s / 10)))
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        res["peak_rss_mb"] = _rss_mb(os.getpid()) + _rss_mb(jvm_pid)
    finally:
        if ctx.tracer is not None:
            ctx.tracer.uninstall()
        shutil.rmtree(work, ignore_errors=True)

    # latency samples: one per job of ``job_ops`` consecutive ops, each
    # with the items its correct ops handled
    k, d = wl.job_ops, res["durations"]
    jobs = [(sum(d[i:i + k]), sum(res["items"][i:i + k]))
            for i in range(0, len(d), k) if None not in d[i:i + k]]
    if not jobs:
        raise RuntimeError("no measured job completed")
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(t for t, _ in jobs), "s"),
        "items_per_s": (statistics.median(n / t for t, n in jobs), "1/s"),
    }
    last = os.path.join(cache, f"untraced-{workload}-{scale}.json")
    if not trace:
        metrics = e2e
        with open(last, "w") as f:
            json.dump({k: v[0] for k, v in e2e.items()}, f)
    else:
        metrics = _layer_report(ctx, wl, res, e2e, last)
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _install_tracing(ctx, wl) -> None:
    from postgresql_transfer_tool_spark import catalog

    tr = ctx.tracer
    handles: dict = {}

    def on_load(args, df):
        if tr.op_id is None:
            return
        key = tuple(args[1:3])
        ctx.note("catalog.load_table_hit", float(handles.get(key) is df))
        handles[key] = df

    tr.wrap_everywhere("postgresql_transfer_tool_spark", catalog.load_table,
                       "catalog.load_table", on_return=on_load)
    wl.install_tracing(ctx)


def _measure(ctx, wl, n: int) -> dict:
    """Warm-up ops, then ``n`` measured ops; traced runs also count each
    op's jobs, stages, tasks and GC time from outside."""
    tr = ctx.tracer
    out = {"durations": [], "items": [], "attempted": 0, "failed": 0, "op_ids": []}
    for i, op in enumerate(wl.ops(ctx, n)):
        measured = i >= wl.warmup_ops
        ctx.measuring = measured
        op_id = i if measured else None
        if op.pre is not None:
            op.pre()
        if tr is not None:
            jobs0, gc0 = tr.known_jobs(), tr.gc_seconds()
            prev = tr.set_group(f"perfbench:op:{i}")
        try:
            with tr.op(op_id, "op") if tr is not None else nullcontext():
                t = time.perf_counter()
                payload = op.run()
                dt = time.perf_counter() - t
            ok = op.check(payload)
        except Exception:
            traceback.print_exc()
            ok, dt = False, None
        if tr is not None:
            tr.restore_group(prev)
            if measured:
                stats = tr.job_stats(sorted(tr.known_jobs() - jobs0))
                for k, v in stats.items():
                    ctx.note(f"op.{k}", v)
                ctx.note("jvm.gc_s", tr.gc_seconds() - gc0)
                if hasattr(wl, "observe") and ok:
                    wl.observe(payload)
        print(f"perfbench: op {i} {'measured' if measured else 'warm-up'} "
              f"ok={ok} s={dt}", file=sys.stderr, flush=True)
        if not measured:
            continue
        out["attempted"] += 1
        out["op_ids"].append(i)
        out["durations"].append(dt)
        out["items"].append(op.items if ok else 0)
        out["failed"] += not ok
    ctx.measuring = True
    if hasattr(wl, "finish"):
        attempted, failed = wl.finish(ctx)
        out["attempted"] += attempted
        out["failed"] += failed
    ctx.measuring = False
    return out


def _layer_report(ctx, wl, res, e2e, last_path) -> dict:
    """Every per-layer metric of layers.json; a layer the workload does
    not reach reports 0."""
    import numpy as np

    tr = ctx.tracer
    op_ids = res["op_ids"]
    n = max(1, len(op_ids))
    vals = {k: float(np.mean(v)) for k, v in ctx.layer.items()}
    out = dict(wl.layer_metrics(ctx, op_ids))
    out["spark.jobs_per_op"] = vals.get("op.jobs", 0.0)
    out["spark.stages_per_op"] = vals.get("op.stages", 0.0)
    out["spark.tasks_per_op"] = vals.get("op.tasks", 0.0)
    out["spark.failed_tasks"] = float(sum(ctx.layer.get("op.failed_tasks", [])))
    out["jvm.gc_s"] = vals.get("jvm.gc_s", 0.0)
    out["mem.peak_rss_mb"] = res["peak_rss_mb"]
    hits = ctx.layer.get("catalog.load_table_hit", [])
    out["catalog.load_table_calls"] = len(hits) / n
    out["catalog.load_table_s"] = sum(tr.durations(op_ids, "catalog.load_table")) / n
    out["catalog.load_table_hit_ratio"] = float(np.mean(hits)) if hits else 0.0
    for k, v in vals.items():
        out.setdefault(k, v)
    if wl.name == "admit_stream":
        out["ingest.epoch_s"] = float(np.mean(res["durations"])) if res["durations"] else 0.0
        out["ingest.jobs_per_epoch"] = out["spark.jobs_per_op"]
    selfs = tr.self_times(op_ids)
    for layer in ("op", "catalog", "transfer", "ingest"):
        out[f"self.{layer}_s"] = sum(
            v for k, v in selfs.items() if k.split(".", 1)[0] == layer) / n
    traced_p50 = e2e["op_p50_s"][0]
    out["trace.op_p50_s"] = traced_p50
    out["trace.wrapper_s"] = tr.overhead_s / n
    untraced = None
    if os.path.exists(last_path):
        with open(last_path) as f:
            untraced = json.load(f).get("op_p50_s")
    out["trace.overhead_ratio"] = traced_p50 / untraced - 1.0 if untraced else 0.0

    with open(os.path.join(HERE, "layers.json")) as f:
        units = {k: v["unit"] for k, v in json.load(f).items()}
    return {k: (float(out.get(k, 0.0)), u) for k, u in units.items()}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.exists(os.path.join(REPO, "postgresql_transfer_tool_spark", "__init__.py")):
        print("perfbench: run from a checkout of the repository "
              "(postgresql_transfer_tool_spark/ not found)", file=sys.stderr)
        return 2
    sys.path[:0] = [REPO, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # Everything the run writes stays inside the checkout: temp dirs and
    # Spark's local dirs go to the work area, and Spark's stderr (the
    # localCheckpoint WARN flood included) to a log file there.
    tmp = os.path.join(HERE, ".work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    log = os.path.join(HERE, ".work", f"{args.workload}.stderr.log")
    real_stderr = os.dup(2)
    fd = os.open(log, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 2)
    os.close(fd)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:
        traceback.print_exc()
        os.write(real_stderr, f"perfbench: run failed; see {log}\n".encode())
        return 1
    finally:
        _stop_spark()
    print(json.dumps(result), flush=True)
    return 0


def _stop_spark() -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())

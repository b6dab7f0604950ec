"""Benchmark entry point.

    python3 perfbench/run.py --workload <token_etl|query_mix>
                             --seed N --seconds S --trace 0|1

Run from the repository root. One process, one closed-loop client: the
next operation starts when the previous one returns. The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; with ``--trace 0`` the metrics are the
end-to-end ones, with ``--trace 1`` the per-layer ones. The line before
it carries the environment stamp, the input statistics and the sample
counts behind each figure.

See perfbench/README.md for what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import statistics
import sys
import time
import traceback
from pathlib import Path

import measure  # no Spark import: safe before the environment is set

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
WORKLOADS = ("token_etl", "query_mix")
SETUP_REPS = 3
SLOTS = min(4, os.cpu_count() or 1)


def _environment() -> None:
    """Everything the session reads at start-up: task slots, the package
    path for Python workers, and scratch dirs inside the checkout."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(SLOTS)
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(SLOTS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={WORK / 'warehouse'}",
        # -XX:-UsePerfData: no hsperfdata file, which the JVM puts in /tmp
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "pyspark-shell",
    ])
    sys.path[:0] = [str(ROOT), str(HERE)]


def _stamp(spark) -> dict:
    jvm = spark.sparkContext._jvm.java.lang.System
    return {
        "nproc": os.cpu_count(),
        "task_slots": SLOTS,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "jvm": f"{jvm.getProperty('java.runtime.version')} ({jvm.getProperty('java.vm.name')})",
        "python": sys.version.split()[0],
    }


def _run_window(wl, ctx, seconds: float, trace: bool) -> tuple[list[dict], list[dict], int, int]:
    """Closed loop over whole units until ``seconds`` have passed. With
    ``trace``, units alternate untraced and traced (at least one of each)
    so the gap between them is the tracing overhead.
    Returns (ops, units, attempted, failed)."""
    ops, units = [], []
    attempted = failed = op_id = k = 0
    start = time.perf_counter()
    while True:
        traced = trace and k % 2 == 1
        ctx.tracer.enabled = traced
        cpu0, t0 = measure.tree_cpu_seconds(), time.perf_counter()
        n_ok = 0
        for op in wl.unit(k):
            attempted += 1
            s = time.perf_counter()
            try:
                with ctx.tracer.span("op", op=op_id):
                    op.fn(op_id)
            except Exception:  # counted in `failed`, traceback kept
                failed += 1
                traceback.print_exc(file=sys.stderr)
            else:
                n_ok += 1
                ops.append({"op": op_id, "kind": op.kind, "items": op.items,
                            "seconds": time.perf_counter() - s, "unit": k, "traced": traced})
            finally:
                ctx.untag()
            op_id += 1
        units.append({"unit": k, "traced": traced, "wall_s": time.perf_counter() - t0,
                      "cpu_s": measure.tree_cpu_seconds() - cpu0, "ops": n_ok})
        k += 1
        if time.perf_counter() - start >= seconds and (not trace or k >= 2):
            break
    ctx.tracer.enabled = False
    return ops, units, attempted, failed


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _environment()  # before the package is imported: it reads the env
    import workloads

    t0 = time.perf_counter()
    from token_etl_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.range(1).count()  # the session is usable once a job has run
    session_s = time.perf_counter() - t0
    try:
        return _bench(spark, args, session_s, workloads)
    finally:
        _stop(spark)


def _stop(spark) -> None:
    """Stop the session, the JVM and the Python workers it forked, and
    wait until every one of them has ended."""
    started = [p for p in measure.process_tree() if p != os.getpid()]
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits at end of input
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(measure.running(p) for p in started):
        if time.monotonic() > deadline:
            raise TimeoutError(f"processes still running: {[p for p in started if measure.running(p)]}")
        time.sleep(0.05)


def _bench(spark, args, session_s: float, workloads) -> int:
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    tracer = measure.Tracer(enabled=False)
    ctx = workloads.Ctx(spark, tracer, WORK / args.workload, args.seed)
    if args.workload == "token_etl":
        wl = workloads.TokenEtl(ctx)
    else:
        wl = workloads.QueryMix(ctx)

    reps = []
    for rep in range(SETUP_REPS):
        s = time.perf_counter()
        wl.setup(rep)
        reps.append(time.perf_counter() - s)
    s = time.perf_counter()
    wl.warm()
    warm_s = time.perf_counter() - s

    counters = measure.SparkCounters(spark)
    cg0 = counters.codegen_compiles()
    ops, units, attempted, failed = _run_window(wl, ctx, args.seconds, bool(args.trace))
    compiles = counters.codegen_compiles() - cg0

    problems = wl.check()
    timed = [o for o in ops if o["traced"] == bool(args.trace)]
    mine = [u for u in units if u["traced"] == bool(args.trace)]
    lat = [o["seconds"] for o in timed]
    if not lat:
        problems.append("no operation succeeded in the measured units")
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    # the tail is recorded, not declared: see perfbench/README.md
    tail = None
    if len(lat) > 10:
        value, pct = measure.tail_percentile(lat)
        tail = {"value": value, "percentile": pct, "n": len(lat)}

    if not lat:
        computed, wanted = {}, []
    elif args.trace:
        spans = WORK / args.workload / f"spans-seed{args.seed}.json"
        spans.write_text(json.dumps(tracer.to_json()))
        counters.settle()
        computed = _layer_metrics(wl, ctx, counters, timed, units, compiles, session_s, warm_s)
        wanted = declared["per_layer"]
    else:
        computed = {
            "setup_s": session_s + statistics.median(reps),
            "wall_s": statistics.median([u["wall_s"] for u in mine]),
            "items_per_s": sum(o["items"] for o in timed) / sum(u["wall_s"] for u in mine),
            "op_p50_s": statistics.median(lat),
            "cpu_s": sum(u["cpu_s"] for u in mine) / len(mine),
        }
        wanted = declared["end_to_end"]
    names = {m["name"] for m in wanted}
    unknown = sorted(set(computed) - names)
    if unknown:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {unknown}")
    if lat and not args.trace and set(computed) != names:
        raise KeyError(f"end-to-end metrics not computed: {sorted(names - set(computed))}")
    # a per-layer metric of a layer this workload never calls reads 0
    metrics = {m["name"]: {"value": computed.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}

    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "env": _stamp(spark),
        "ops": len(lat), "units": len(mine), "op_tail_s": tail,
        "attempted": attempted, "failed": failed, "fail_ratio": failed / attempted,
        "setup_reps_s": reps, "session_start_s": session_s, "warm_s": warm_s,
        "workload_info": wl.info(), "check_problems": problems,
        "op_seconds": [(o["kind"], round(o["seconds"], 4)) for o in ops],
        "unit_seconds": [(u["traced"], round(u["wall_s"], 4), round(u["cpu_s"], 2)) for u in units],
    }, default=str))
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def _layer_metrics(wl, ctx, counters, ops, units, compiles, session_s, warm_s) -> dict[str, float]:
    """Per-layer metrics of the traced units; counts are per operation."""
    from workloads import group, totals

    n = len(ops)
    spark_ = totals(counters, ops)
    layer = ctx.tracer.layer_self_seconds()
    busy = sum(o["seconds"] for o in ops)
    gaps = []
    for o in ops:
        start = ctx.action_start_ms.get(o["op"])
        first = counters.group(group(o["op"], "action")).first_submit_ms
        if start is not None and first is not None:
            gaps.append((first - start) / 1000)

    def per_op_wall(traced: bool) -> float:
        us = [u for u in units if u["traced"] == traced]
        done = sum(u["ops"] for u in us)
        return sum(u["wall_s"] for u in us) / done if done else math.nan

    out = {
        "session.start_s": session_s,
        "warmup_s": warm_s,
        "spark.jobs_per_op": spark_.jobs / n,
        "spark.tasks_per_op": spark_.tasks / n,
        "spark.exec_cpu_s": spark_.exec_cpu_s / n,
        "spark.gc_s": spark_.gc_s / n,
        "spark.shuffle_bytes": spark_.shuffle_bytes / n,
        "spark.codegen_compiles_per_op": compiles / sum(u["ops"] for u in units),
        "plans.plan_gap_s": sum(gaps) / len(gaps) if gaps else 0.0,
        # share of operation time spent in each layer's own code
        "io.sinks.share": (layer.get("pipelines.transfers.ingest_ranges", 0.0)
                           + layer.get("io.sinks.read_upserted", 0.0)) / busy,
        "plans.share": (layer.get("plans.build", 0.0) + sum(gaps)) / busy,
    }
    overhead = per_op_wall(True) / per_op_wall(False) - 1
    if not math.isnan(overhead):  # an untraced unit where every operation failed has none
        out["trace.overhead"] = overhead
    out.update(wl.layer_metrics(counters, ctx.tracer, ops))
    return out


if __name__ == "__main__":
    sys.exit(main())

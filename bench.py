"""Benchmark harness: runs the headline query set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query is forced through the ``noop`` sink — unlike ``count()``,
which lets Catalyst prune aggregate/projection expressions that don't
affect the row count, noop materializes every output column with zero
driver-side transfer. Warmup runs absorb JVM + codegen startup so
per-query numbers reflect steady state.

Each headline query is timed N_RUNS times (default 3) and reported as
the MEDIAN, with per-query min/max/runs in a "spread" field — single-run
sub-second numbers on a shared local[32] box cannot distinguish plan
regressions from run-to-run variance (the r1→r2 +14% drift was exactly
that ambiguity).

The output carries an "env" stamp (JVM build, kernel, Spark/Python
versions, CPU model/count, OS image) — the r12 drift bisect proved the
ENVIRONMENT moved (+40% on identical code and data) and nothing had
recorded what it was, so every future drift investigation starts from
recorded facts, not archaeology (VERDICT r12 item 2).

A "codegen" field gives each headline query's generated-code layer over
its timed runs: classes compiled and their summed compile milliseconds.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from token_etl_spark.session import get_spark


def env_stamp(spark) -> dict:
    """Identifiers of everything the r12 drift bisect implicated but
    could not name: JVM build, kernel, Spark/Python versions, CPU
    model and count, OS image. Cheap, best-effort — a missing source
    stamps 'unknown', never fails the bench."""
    import platform

    stamp = {
        "spark": spark.version,
        "kernel": platform.release(),
        "python": platform.python_version(),
        "cpus": os.cpu_count(),
    }
    try:
        jvm = spark.sparkContext._jvm.java.lang.System
        stamp["java"] = "{} ({} {})".format(
            jvm.getProperty("java.runtime.version"),
            jvm.getProperty("java.vm.name"),
            jvm.getProperty("java.vendor"),
        )
    except Exception:
        stamp["java"] = "unknown"
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    stamp["cpu"] = line.split(":", 1)[1].strip()
                    break
    except Exception:
        pass
    try:
        with open("/etc/os-release") as f:
            for line in f:
                if line.startswith("PRETTY_NAME="):
                    stamp["os_image"] = line.split("=", 1)[1].strip().strip('"')
                    break
    except Exception:
        pass
    return stamp


def codegen_counters(spark) -> tuple[int, int] | None:
    """(classes compiled, summed compile nanoseconds) in this JVM so far:
    Spark's ``CodegenMetrics`` compile count and ``CodeGenerator``'s
    compile-time total. Best-effort — None when the JVM hides them."""
    try:
        jvm = spark.sparkContext._jvm
        count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
        nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
        return int(count), int(nanos)
    except Exception:
        return None


def ingest_stage_decomposition(spark, sf_dir: str) -> dict:
    """Per-tier wall clock of the ext_ingest_pipeline composition —
    emitted in the bench JSON so the next regression names its tier
    without a manual probe (VERDICT r13 item 5; the r13 decomposition
    was a one-off hand probe). Runs the SAME prepare_corpus call the
    headline row benches, with a stage_hook that persists each tier's
    frame and times its materialization in isolation — so every number
    is that tier's own cost over a persisted predecessor, and
    'total_with_staging' is the fully-materialized-per-tier form
    (deliberately NOT the headline number, which materializes only the
    pipeline's own eager points)."""
    from token_etl_spark.pipelines.corpus import prepare_corpus
    from token_etl_spark.plans.base import t
    from token_etl_spark.plans.curation import (
        _INGEST_JACCARD,
        _html_synth,
        _url_synth,
    )

    times: dict[str, float] = {}
    hooked = []
    prev_exit = [0.0]

    def hook(name: str, df) -> None:
        # eager work BETWEEN tiers (the near-dup stage's CC fixpoint
        # runs jobs at build time, before any hook sees its output) is
        # attributed to the tier whose hook fires next
        enter = time.perf_counter()
        gap = round(enter - prev_exit[0], 4)
        if gap > 0.05:
            times[f"{name}:eager_build"] = gap
        df.persist()
        hooked.append(df)
        df.write.format("noop").mode("overwrite").save()
        prev_exit[0] = time.perf_counter()
        times[name] = round(prev_exit[0] - enter, 4)

    docs = t(spark, sf_dir, "documents")
    frame = docs.select(
        "doc_id", _html_synth().alias("text"), _url_synth().alias("url")
    )
    start = time.perf_counter()
    prev_exit[0] = start
    prepare_corpus(
        frame,
        jaccard_threshold=_INGEST_JACCARD,
        extract_html=True,
        url_col="url",
        repetition_filter=True,
        stage_hook=hook,
    )
    end = time.perf_counter()
    times["checkpoint_tail"] = round(end - prev_exit[0], 4)
    times["total_with_staging"] = round(end - start, 4)
    for df in hooked:
        df.unpersist()
    return times


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    spark = get_spark("token_etl_spark_bench")

    from token_etl_spark.plans.registry import BENCH_SET, SPECS

    # Warmup: absorb JVM startup + whole-stage-codegen compile for every
    # headline plan shape by running the same queries at the smallest SF
    # (generated code is cached per plan shape, so the timed runs below
    # measure execution, not compilation).
    def force(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    warmup_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warmup_dir):
        warmup_dir = sf_dir
    for name in BENCH_SET:
        try:
            force(SPECS[name].fn(spark, warmup_dir))
        except Exception:
            pass

    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    timings: dict[str, float] = {}
    spread: dict[str, dict] = {}
    plan_stats: dict[str, dict] = {}
    codegen: dict[str, dict] = {}
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for name in BENCH_SET:
        runs: list[float] = []
        group = ""
        cg0 = codegen_counters(spark)
        for i in range(n_runs):
            # job-group tag set BEFORE the timed window opens (a thread-
            # local assignment, nothing scheduled); counts are read after
            # it closes — the timed region is byte-identical to r15's.
            group = f"bench:{name}:{i}"
            sc.setJobGroup(group, name)
            start = time.perf_counter()
            force(SPECS[name].fn(spark, sf_dir))
            runs.append(round(time.perf_counter() - start, 4))
        # generated code compiled during the timed runs (read after the
        # window closes, like the job counts below)
        cg1 = codegen_counters(spark)
        if cg0 and cg1:
            codegen[name] = {
                "compiles": cg1[0] - cg0[0],
                "compile_ms": round((cg1[1] - cg0[1]) / 1e6, 1),
            }
        timings[name] = sorted(runs)[len(runs) // 2]  # median
        spread[name] = {"runs": runs, "min": min(runs), "max": max(runs)}
        # per-query parallelism evidence (VERDICT r15 item 5): job/stage/
        # task counts of the LAST timed run, from the status tracker —
        # local wall-clock can no longer distinguish a 1-task serial
        # stage from a 32-task one at sf0.1, but these counts can, at
        # any core count. Additions-only; best-effort (never fails the
        # bench, a missing tracker entry just drops the field).
        try:
            jids = tracker.getJobIdsForGroup(group)
            stages = tasks = 0
            max_stage_tasks = 0
            for j in jids:
                ji = tracker.getJobInfo(j)
                if ji is None:
                    continue
                for s in ji.stageIds:
                    si = tracker.getStageInfo(s)
                    if si is not None:
                        stages += 1
                        tasks += si.numTasks
                        max_stage_tasks = max(max_stage_tasks, si.numTasks)
            plan_stats[name] = {
                "jobs": len(jids),
                "stages": stages,
                "tasks": tasks,
                "max_stage_tasks": max_stage_tasks,
            }
        except Exception:
            pass
        finally:
            sc.setJobGroup("", "")

    total = round(sum(timings.values()), 4)
    result = {
        "metric": "headline_query_wall_clock_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "n_runs": n_runs,
        "spread": spread,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "env": env_stamp(spark),
        "plan_stats": plan_stats,
        "codegen": codegen,
    }
    try:
        result["stages"] = {
            "ext_ingest_pipeline": ingest_stage_decomposition(spark, sf_dir)
        }
    except Exception as e:  # a broken probe must never fail the bench
        result["stages"] = {"error": str(e)[:200]}

    # SPARK_GRAFT_BENCH_ALL=1: additionally time every other declared
    # query (no warmup pass — cold numbers) in a secondary field, leaving
    # the headline metric and its "queries" map untouched.
    if os.environ.get("SPARK_GRAFT_BENCH_ALL"):
        extra: dict[str, float] = {}
        for name, spec in SPECS.items():
            if name in timings:
                continue
            try:
                start = time.perf_counter()
                force(spec.fn(spark, sf_dir))
                extra[name] = round(time.perf_counter() - start, 4)
            except Exception:
                extra[name] = -1.0
        result["extra_queries"] = extra
        result["extra_total"] = round(sum(v for v in extra.values() if v > 0), 4)

    print(json.dumps(result))


if __name__ == "__main__":
    main()

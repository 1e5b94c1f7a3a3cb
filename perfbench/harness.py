"""Run one workload: cold set-up, the measured work, output checks,
teardown, and the result line.

The harness owns everything a workload shares: the Spark session
(``local[N]`` with N from the CPU affinity mask, a driver heap sized to
the machine), the per-run work directory inside the checkout and, for
a traced run, the trace recorder.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE_DIR = os.path.join(ROOT, ".perfbench")
RESULTS = os.path.join(STATE_DIR, "results.jsonl")


def _process_age_s() -> float:
    """Seconds since this process started, from the kernel's start time
    (10 ms resolution), so set-up includes interpreter start-up."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


_clock: list[float] = []  # [process age, perf_counter] at the first call


def since_process_start() -> float:
    if not _clock:
        _clock.extend((_process_age_s(), time.perf_counter()))
    return _clock[0] + (time.perf_counter() - _clock[1])


def n_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of physical memory, between 2 and 8 GiB: the machine is
    shared, and local mode runs every executor inside this one heap."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    gib = min(8, max(2, total // (4 << 30)))
    return f"{gib}g"


def log(msg: str) -> None:
    print(f"[perfbench {since_process_start():7.1f}s] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- session
def start_spark(workdir: str, extra_conf: dict[str, str]):
    """Session through the package's own factory, with the core count,
    heap and scratch directories pinned for this machine and checkout."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = n_cores()
    # set before the JVM starts: it and its Python workers inherit them
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # SPARK_LOCAL_DIRS, when set, overrides spark.local.dir
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(
        workdir, "spark-local"
    )
    os.environ["TMPDIR"] = tmp
    # the launcher JVM of spark-submit would keep its perf counters in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import tempfile

    tempfile.tempdir = tmp
    from pyspider_spark.session import get_spark

    conf = {
        "spark.driver.memory": driver_memory(),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    conf.update(extra_conf)
    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    return spark, cores


def warm_up(spark) -> None:
    """First JVM job plus one Arrow-batched Python UDF per core, so the
    Python worker daemon, its workers and the package imports are paid
    in set-up, as a long-running deployment would have them."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    spark.range(1000).count()

    @F.pandas_udf(T.LongType())
    def touch(x: pd.Series) -> pd.Series:
        import pyspider_spark.loop  # noqa: F401  (the engine's worker-side imports)

        return x + 1

    n = spark.sparkContext.defaultParallelism
    spark.range(0, 4 * n, 1, n).select(touch("id").alias("v")).agg(F.sum("v")).collect()


# ---------------------------------------------------------------- results
def append_result(result: dict) -> None:
    os.makedirs(STATE_DIR, exist_ok=True)
    with open(RESULTS, "a") as f:
        f.write(json.dumps(result, sort_keys=True) + "\n")


def untraced_median(workload: str, metric: str) -> float | None:
    """Median of ``metric`` over this checkout's earlier untraced runs of
    ``workload`` (None when there are none)."""
    if not os.path.exists(RESULTS):
        return None
    vals = []
    with open(RESULTS) as f:
        for line in f:
            try:
                r = json.loads(line)
            except json.JSONDecodeError:
                continue
            if r.get("workload") == workload and not r.get("trace") and r.get("correct"):
                v = r.get("metrics", {}).get(metric, {}).get("value")
                if v is not None:
                    vals.append(v)
    return statistics.median(vals) if vals else None


def run_workload(wl, seed: int, seconds: int, trace: bool) -> dict:
    """Set up cold, measure, check, tear down; return the result line."""
    since_process_start()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workdir = os.path.join(STATE_DIR, f"work-{wl.name}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    try:
        result = _run_in(workdir, bench, wl, seed, seconds, trace)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    append_result(dict(result, workload=wl.name, seed=seed, trace=trace))
    for k, v in result["metrics"].items():
        log(f"{wl.name} {k} = {v['value']:.6g} {v['unit']}")
    return result


def _run_in(workdir: str, bench: dict, wl, seed: int, seconds: int, trace: bool) -> dict:
    from perfbench.tracing import Tracer

    tracer = Tracer(trace, workdir)
    spark = None
    try:
        t = time.perf_counter()
        spark, cores = start_spark(workdir, tracer.spark_conf())
        session_s = time.perf_counter() - t
        t = time.perf_counter()
        warm_up(spark)
        warmup_s = time.perf_counter() - t
        t = time.perf_counter()
        inputs = wl.make_inputs(seed, seconds, cores)
        inputs_s = time.perf_counter() - t
        setup_s = since_process_start()
        log(
            f"{wl.name} seed={seed} local[{cores}] set-up {setup_s:.2f}s "
            f"(session {session_s:.2f}, warm-up {warmup_s:.2f}, inputs {inputs_s:.3f})"
        )
        tracer.attach(spark)
        out = wl.measure(spark, inputs, os.path.join(workdir, "tables"), tracer)
        tracer.detach()
        errors = wl.check(spark, inputs, out)
    finally:
        if spark is not None:
            spark.stop()
    for e in errors:
        log(f"CHECK FAILED: {e}")
    if trace:
        tracer.fold_event_log()
        layer = wl.layer_metrics(out, tracer)
        layer.update(
            {
                "setup.session_s": session_s,
                "setup.warmup_s": warmup_s,
                "setup.inputs_s": inputs_s,
            }
        )
        layer.update(_overhead(wl, out))
        metrics = {
            m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
            for m in bench["per_layer"]
        }
        tracer.write_spans(
            os.path.join(STATE_DIR, f"trace-{wl.name}-seed{seed}.json"), layer
        )
    else:
        values = dict(wl.end_to_end_values(out), setup_s=setup_s)
        metrics = {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in bench["end_to_end"]
        }
    return {
        "correct": not errors,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }


def _overhead(wl, out) -> dict:
    """Traced throughput against the median of this checkout's untraced
    runs of the same workload (the reference figure when there are none):
    how much longer the same work took with tracing on."""
    traced = wl.end_to_end_values(out)[wl.headline]
    base = untraced_median(wl.name, wl.headline)
    if base is None:
        base = wl.reference[wl.headline]
    return {
        "trace.headline": traced,
        "trace.overhead_pct": 100.0 * (base / traced - 1.0),
    }

"""One isolated benchmark process: set up, warm up, time, check, trace.

Started by ``run.py`` with the checkout root as working directory and
``PYTHONPATH`` naming the checkout root and this directory, which the
Spark Python workers inherit (without it the scorer UDFs fail to import
the package inside the worker). Writes one JSON result to ``--out``.

Run directly only for debugging::

    python3 perfbench/worker.py --workload batch --seed 1 --seconds 30 \\
        --mode plain --work .perfbench_work/dbg --out /dev/stdout
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import time
import traceback

import workloads

# the package's session posture (session.build_session) sized to this box
SESSION_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "20000",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}


def box() -> dict:
    """Cores and memory of this machine -> master, partitions, driver memory."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    driver_gb = max(1, min(8, mem_kb // (4 * 1024 * 1024)))
    return {"nproc": nproc, "shuffle_partitions": nproc, "driver_memory": f"{driver_gb}g"}


def session(work: str, eventlog: bool):
    from pyspark.sql import SparkSession

    b = box()
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    builder = (
        SparkSession.builder.master(f"local[{b['nproc']}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(b["shuffle_partitions"]))
        .config("spark.driver.memory", b["driver_memory"])
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # keep the JVM's temporary and perf-data files inside the work dir
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={local} -XX:-UsePerfData")
    )
    for k, v in SESSION_CONF.items():
        builder = builder.config(k, v)
    if eventlog:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", logs)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def settled_persisted(spark, quiet_s: float = 1.0, max_s: float = 5.0) -> int:
    """Persisted RDDs once non-blocking unpersists issued by the program
    have landed: the count must hold for ``quiet_s`` (at most ``max_s``)."""
    n, since, t_end = persisted(spark), time.perf_counter(), time.perf_counter() + max_s
    while time.perf_counter() < t_end and time.perf_counter() - since < quiet_s:
        time.sleep(0.1)
        m = persisted(spark)
        if m != n:
            n, since = m, time.perf_counter()
    return n


def clean_cache(spark) -> None:
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    if persisted(spark) != 0:
        raise RuntimeError("persisted RDDs survive clearCache; a timed run would read them")


def warm_up(spark, w, work: str) -> None:
    """Untimed: the workload's own warm-up calls on tiny inputs
    (``warm_up`` of its class), in a scratch directory."""
    root = os.path.join(work, "warm")
    os.makedirs(root)
    w.warm_up(spark, root)
    shutil.rmtree(root)


def run_pass(spark, units, hooks=None):
    """Run every unit once; returns per-unit records and raw results."""
    recs, results = [], []
    for u in units:
        rec = {"unit": u.name}
        t0 = time.perf_counter()
        try:
            res = u.run(spark, hooks)
            rec["s"] = time.perf_counter() - t0
            problems, f1, lines = u.check(res)
        except Exception:  # a failing unit is counted, not fatal
            rec.setdefault("s", time.perf_counter() - t0)
            problems, f1, lines, res = [traceback.format_exc(limit=3)], None, [], None
        rec.update(problems=problems, f1=f1, digest=workloads.digest(lines))
        recs.append(rec)
        results.append(res)
    return recs, results


def pass_digest(recs) -> str:
    return workloads.digest(f"{r['unit']}|{r['digest']}" for r in recs)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--mode", choices=("plain", "trace"), default="plain")
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--t0", type=float, default=None, help="epoch time the process was started")
    a = ap.parse_args()
    t_start = a.t0 or time.time()
    out: dict = {"workload": a.workload, "seed": a.seed}

    spark = session(a.work, eventlog=a.mode == "trace")
    session_s = time.time() - t_start
    inputs = os.path.join(a.work, "inputs")
    w = workloads.WORKLOADS[a.workload](a.seed, inputs)
    # input set-up three times (generate, write parquet); median
    input_s = []
    for _ in range(3):
        shutil.rmtree(inputs, ignore_errors=True)
        os.makedirs(inputs)
        t0 = time.perf_counter()
        w.setup()
        input_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    warm_up(spark, w, a.work)
    clean_cache(spark)
    out["setup"] = {"session_s": session_s, "inputs_s": input_s, "warmup_s": time.perf_counter() - t0}
    out["setup_s"] = session_s + statistics.median(input_s) + out["setup"]["warmup_s"]

    if a.mode == "trace":
        out.update(trace_pass(spark, w, a.work))
        spark.stop()
        import eventlog

        log = [p for p in glob.glob(os.path.join(a.work, "eventlog", "*")) if not p.endswith(".inprogress")]
        out["eventlog"] = eventlog.parse_file(log[0])
    else:
        out.update(timed_passes(spark, w, a))
        spark.stop()
    with open(a.out, "w") as fh:
        json.dump(out, fh)


def timed_passes(spark, w, a) -> dict:
    """At least one pass; another only if it fits in ``--seconds``."""
    passes = []
    t_timed = [time.time(), None]
    t_begin = time.perf_counter()
    while True:
        clean_cache(spark)
        w.new_pass(os.path.join(a.work, f"out{len(passes)}"))
        recs, _ = run_pass(spark, w.units())
        passes.append(recs)
        used = time.perf_counter() - t_begin
        if used + used / len(passes) > a.seconds:
            break
    t_timed[1] = time.time()
    return {"passes": passes, "t_timed": t_timed, "digest": pass_digest(passes[0])}


def trace_pass(spark, w, work: str) -> dict:
    import tracer

    clean_cache(spark)
    t = tracer.Tracer(spark)
    t.install()
    out_dir = os.path.join(work, "out_traced")
    w.new_pass(out_dir)
    spark.sparkContext.setJobGroup(tracer.ROOT, tracer.ROOT, False)
    t_timed = [time.time(), None]
    try:
        recs, results = run_pass(spark, w.units(), hooks=t)
    finally:
        t.uninstall()
    t_timed[1] = time.time()
    extra = w.trace_counts(results, out_dir)
    scale = tracer.scale_efficiency(t, box()["nproc"])
    # a frame the program and the tracer both persisted is released here
    # too, so this count is a lower bound of the untraced one
    t.release()
    return {
        "persisted_after": settled_persisted(spark),
        "t_timed": t_timed,
        "passes": [recs],
        "digest": pass_digest(recs),
        "spans": t.spans,
        "self_s": t.self_times(),
        "counts": {**t.counts, **extra},
        "scale_eff": scale,
    }


if __name__ == "__main__":
    main()

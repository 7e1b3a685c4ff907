"""Seeded end-to-end and per-layer benchmark of linkorgs_software_spark.

Run from the root of a checkout::

    python3 perfbench/run.py --workload batch --seed 1 --seconds 30 --trace 0

Each invocation starts one isolated worker process (``worker.py``) on
``local[nproc]`` that generates the seeded inputs, writes them to parquet,
warms up, clears every cache, then times the workload's units and checks
their outputs. This process samples the worker tree's resident memory from
``/proc`` meanwhile (reported by the traced run). It prints a readable table, then as its last line one
JSON object ``{"correct", "attempted", "failed", "metrics"}``:

* ``--trace 0``: the end-to-end metrics (``END_TO_END``);
* ``--trace 1``: the per-layer metrics (``per_layer_names()``) of one traced
  pass in a worker that writes a Spark event log; ``eventlog.py`` attributes
  its task metrics to the layers ``tracer.py`` names. ``trace.wall_s`` minus
  the untraced ``wall_s`` of the same seed is the tracing overhead.

Workloads (``workloads.py``): ``batch`` runs the link_alias, transcripts_osa
and corpus_dedup calls back to back; ``stream`` runs resolve_batch over
three micro-batches. ``expected.json`` holds the f1 floors, the result
digests recorded per seed, and the layer-to-end-to-end prediction table.
Exits 2 without a result when the package is not beside this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = "linkorgs_software_spark"
WORKLOADS = ("batch", "stream")
WORKER_TIMEOUT_S = 170
DIGEST_CHARS = 16  # digest prefix printed and recorded per seed

END_TO_END = {"setup_s": "s", "wall_s": "s", "batch_p50_s": "s", "f1": "ratio"}
BASE = {"busy_s": "s", "cpu_ms": "ms", "jobs": "count", "shuffle_write_bytes": "bytes",
        "spill_bytes": "bytes", "python_ms": "ms", "rows_out": "rows"}
LAYER_NAMES = (
    "functions.normalize", "functions.scorers", "plans.transcripts", "plans.pipeline",
    "operators.calibrate", "operators.blocking", "operators.scoring", "operators.network",
    "operators.dedup", "operators.cluster", "operators.corpus", "streaming.resolve",
    "streaming.history", "cache",
)
SPECIFIC = {
    "operators.blocking.candidates": ("count", "lower"),
    "operators.blocking.pair_completeness": ("ratio", "higher"),
    "operators.blocking.capped_grams": ("count", "lower"),
    "operators.scoring.pairs_per_s": ("1/s", "higher"),
    "operators.scoring.kept_ratio": ("ratio", "higher"),
    "operators.scoring.scale_eff": ("ratio", "higher"),
    "operators.calibrate.calls": ("count", "lower"),
    "operators.calibrate.sample_pairs": ("count", "lower"),
    "operators.network.dir_index_builds": ("count", "lower"),
    "streaming.resolve.jobs_per_batch": ("count", "lower"),
    "streaming.resolve.matched": ("count", "higher"),
    "streaming.resolve.created": ("count", "lower"),
    "streaming.history.bytes_written": ("bytes", "lower"),
    "streaming.history.files_written": ("count", "lower"),
    "operators.corpus.candidates": ("count", "lower"),
    "operators.corpus.verified_ratio": ("ratio", "higher"),
    "cache.persisted_after": ("count", "lower"),
    "trace.wall_s": ("s", "lower"),
    # the worker tree's peak proportional set size during the traced pass;
    # it spread by about a quarter run to run, too much for end to end
    "peak_rss_mb": ("MB", "lower"),
}


def per_layer_names() -> dict[str, tuple[str, str]]:
    out = {}
    for layer in LAYER_NAMES:
        for field, unit in BASE.items():
            out[f"{layer}.{field}"] = (unit, "lower")
    out.update(SPECIFIC)
    return out


# ---- process-tree memory ------------------------------------------------------
def _tree_pss_kb(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            # proportional set size: pages the forked Python workers share
            # with their daemon are counted once, not once per worker
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                total += next((int(line.split()[1]) for line in fh if line.startswith("Pss:")), 0)
        except OSError:
            pass
    return total


def run_worker(a, mode: str, work: str) -> tuple[dict, list[tuple[float, int]]]:
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([os.getcwd(), HERE]),
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYSPARK_PYTHON=sys.executable,
        # the launcher JVM spark-submit starts first: no perf-data file in /tmp
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    )
    result = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--mode", mode,
           "--work", work, "--out", result, "--t0", repr(time.time())]
    samples = []
    with open(os.path.join(work, "worker.log"), "w") as log:
        proc = subprocess.Popen(cmd, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        deadline = time.time() + WORKER_TIMEOUT_S
        try:
            while proc.poll() is None:
                samples.append((time.time(), _tree_pss_kb(proc.pid)))
                if time.time() > deadline:
                    raise TimeoutError(f"worker exceeded {WORKER_TIMEOUT_S}s")
                time.sleep(1.0)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, 9)
            proc.wait()
            _kill_leftovers(proc.pid)
    if proc.returncode != 0 or not os.path.exists(result):
        with open(os.path.join(work, "worker.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"worker exited with {proc.returncode}")
    with open(result) as fh:
        return json.load(fh), samples


def _kill_leftovers(pgid: int) -> None:
    """Stop anything the worker left in its process group (JVM, Python workers)."""
    try:
        os.killpg(pgid, 9)
    except ProcessLookupError:
        return
    for _ in range(50):
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


# ---- metrics -------------------------------------------------------------------
def load_expected() -> dict:
    with open(os.path.join(HERE, "expected.json")) as fh:
        return json.load(fh)


def apply_checks(res: dict, expected: dict) -> None:
    """Workload-level checks: f1 floors per unit and the digest recorded for
    this seed. A failure is added to the unit it concerns."""
    floors = expected["f1_floor"]
    for recs in res["passes"]:
        for r in recs:
            # a batch unit has its own floor; the stream's f1 is the workload's
            floor = floors.get(r["unit"], floors.get(res["workload"]))
            if r["f1"] is not None and r["f1"] < floor:
                r["problems"].append(f"{r['unit']}: f1 {r['f1']:.4f} below floor {floor}")
    want = expected["digests"].get(res["workload"], {}).get(str(res["seed"]))
    if want is not None and res["digest"][:DIGEST_CHARS] != want:
        res["passes"][0][-1]["problems"].append(f"result digest {res['digest'][:DIGEST_CHARS]} != recorded {want}")


def wall(recs) -> float:
    return sum(r["s"] for r in recs)


def steady(workload: str, recs):
    # micro-batch 0 bootstraps the directory (create path only)
    return recs[1:] if workload == "stream" else recs


def peak_mb(res: dict, samples) -> float:
    lo, hi = res["t_timed"]
    return max([kb for t, kb in samples if lo <= t <= hi] or [kb for _, kb in samples]) / 1024.0


def end_to_end(res: dict) -> dict:
    passes = res["passes"]
    f1s = [r["f1"] for r in passes[0] if r["f1"] is not None]
    return {
        "setup_s": res["setup_s"],
        "wall_s": statistics.median(wall(p) for p in passes),
        "batch_p50_s": statistics.median(r["s"] for p in passes for r in steady(res["workload"], p)),
        "f1": statistics.fmean(f1s) if f1s else 0.0,
    }


def per_layer(tr: dict, samples) -> dict:
    groups = tr["eventlog"]["groups"]
    counts = tr["counts"]
    spans = tr["spans"]
    m = {}
    for layer in LAYER_NAMES:
        g = groups.get(layer, {})
        m[f"{layer}.busy_s"] = tr["self_s"].get(layer, 0.0)
        for field in ("cpu_ms", "jobs", "shuffle_write_bytes", "spill_bytes", "python_ms"):
            m[f"{layer}.{field}"] = g.get(field, 0.0)
        m[f"{layer}.rows_out"] = sum(s["rows_out"] for s in spans if s["name"] == layer)
    # the scorer UDFs run inside other layers' stages: their Python-worker
    # time is the whole traced pass's (they are its only Python UDFs)
    m["functions.scorers.python_ms"] = sum(
        g.get("python_ms", 0.0) for k, g in groups.items() if k in LAYER_NAMES or k == "workload"
    )
    c = lambda k: counts.get(k, 0.0)  # noqa: E731
    scoring_s = m["operators.scoring.busy_s"]
    n_batches = sum(1 for s in spans if s["fn"] == "resolve_batch")
    # every layer job of the stream workload runs inside a resolve_batch span
    layer_jobs = sum(m[f"{layer}.jobs"] for layer in LAYER_NAMES)
    m.update({
        "operators.blocking.candidates": c("blocking.candidates"),
        "operators.blocking.pair_completeness": c("blocking.truth_found") / c("blocking.truth_total") if c("blocking.truth_total") else 0.0,
        "operators.blocking.capped_grams": c("blocking.capped_grams"),
        "operators.scoring.pairs_per_s": c("scoring.pairs_in") / scoring_s if scoring_s else 0.0,
        "operators.scoring.kept_ratio": m["operators.scoring.rows_out"] / c("scoring.pairs_in") if c("scoring.pairs_in") else 0.0,
        "operators.scoring.scale_eff": tr["scale_eff"],
        "operators.calibrate.calls": sum(
            1 for s in spans if s["name"] == "operators.calibrate"
            and (s["parent"] is None or spans[s["parent"]]["name"] != "operators.calibrate")
        ),
        "operators.calibrate.sample_pairs": c("calibrate.sample_pairs"),
        "operators.network.dir_index_builds": c("network.dir_index_builds"),
        "streaming.resolve.jobs_per_batch": layer_jobs / n_batches if n_batches else 0.0,
        "streaming.resolve.matched": c("resolve.matched"),
        "streaming.resolve.created": c("resolve.created"),
        "streaming.history.bytes_written": c("history.bytes_written"),
        "streaming.history.files_written": c("history.files_written"),
        "operators.corpus.candidates": c("corpus.candidates"),
        "operators.corpus.verified_ratio": c("corpus.verified") / c("corpus.candidates") if c("corpus.candidates") else 0.0,
        "cache.persisted_after": tr["persisted_after"],
        "trace.wall_s": wall(tr["passes"][0]),
        "peak_rss_mb": peak_mb(tr, samples),
    })
    return m


def report(res: dict, metrics: dict, units: dict) -> list[dict]:
    """Print the readable table; returns every unit record."""
    recs = [r for p in res["passes"] for r in p]
    s = res["setup"]
    print(f"workload {res['workload']}  seed {res['seed']}  digest {res['digest'][:DIGEST_CHARS]}")
    print(f"  setup: session {s['session_s']:.2f}s  inputs {min(s['inputs_s']):.2f}-"
          f"{max(s['inputs_s']):.2f}s  warm-up {s['warmup_s']:.2f}s")
    for r in recs:
        f1 = "" if r["f1"] is None else f"  f1 {r['f1']:.4f}"
        flag = "  FAILED: " + "; ".join(p.splitlines()[-1] for p in r["problems"]) if r["problems"] else ""
        print(f"  {r['unit']:<16} {r['s']:8.3f} s{f1}{flag}")
    failed = sum(1 for r in recs if r["problems"])
    print(f"  {'failed_frac':<44} {failed / len(recs):>16.4f}")
    for name, value in metrics.items():
        print(f"  {name:<44} {value:>16.6g} {units[name]}")
    return recs


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(os.getcwd(), PKG)):
        print(f"error: run from a checkout root that contains {PKG}/", file=sys.stderr)
        return 2
    expected = load_expected()
    mode = "trace" if a.trace else "plain"
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        res, samples = run_worker(a, mode, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is using it
            pass
    apply_checks(res, expected)
    if a.trace:
        metrics = per_layer(res, samples)
        units = {k: u for k, (u, _) in per_layer_names().items()}
    else:
        metrics = end_to_end(res)
        units = END_TO_END
    recs = report(res, metrics, units)
    failed = sum(1 for r in recs if r["problems"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(recs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

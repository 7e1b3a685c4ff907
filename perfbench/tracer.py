"""Span recorder that measures the package's layers from outside.

``Tracer.install()`` replaces each layer's public functions with a wrapper
in the defining module *and* in every package module that imported them by
name, so calls made inside the package are traced too. A wrapper:

* opens a span (name, start, end, parent) kept in memory;
* sets the Spark job group to the layer, so every job started inside the
  span is attributed to the innermost running layer by the event log;
* for a stage-boundary function (``LAYERS``' third field), persists and
  counts the returned DataFrame before the span closes, so the layer's lazy
  work runs inside its own span (``rows_out`` is that count). These extra
  persists are most of the tracing overhead; ``release()`` frees them.

Extra actions the tracer needs for ratios (capped keys, LSH candidates,
planted-pair completeness, the scale-efficiency scoring) run under the
``_probe`` job group, and their time is taken out of the span that ran
them, so no layer's totals include them. Spans are kept in memory and
written out by the worker at exit. Nothing in the package is modified.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from collections import defaultdict

PKG = "linkorgs_software_spark"
PROBE = "_probe"
ROOT = "workload"

# layer -> [(defining module, function, materialize DataFrame result)].
# Only stage boundaries are materialized; the small lazy helpers (gram
# index, df cap, keep-best, bridge, fuse) run fused into their caller's
# plan, so their cost shows in the caller, as it does untraced.
LAYERS: dict[str, list[tuple[str, str, bool]]] = {
    "functions.normalize": [("functions.normalize", "prepare_side", True)],
    "functions.scorers": [("functions.scorers", "distance_expr", False)],
    "plans.transcripts": [("plans.transcripts", "link_transcript_mentions", True)],
    "plans.pipeline": [("plans.pipeline", "link_orgs", True)],
    "operators.calibrate": [
        ("operators.calibrate", "calibrated_threshold", False),
        ("operators.calibrate", "calibrated_threshold_on_column", False),
    ],
    "operators.blocking": [
        ("operators.blocking", "candidate_pairs", True),
        ("operators.blocking", "gram_index", False),
        ("operators.blocking", "apply_df_cap", False),
    ],
    "operators.scoring": [("operators.scoring", "score_pairs", True)],
    "operators.network": [
        ("operators.network", "prepare_directory", True),
        ("operators.network", "match_to_directory", True),
        ("operators.network", "bridge", False),
        ("operators.network", "fuse_scores", False),
    ],
    "operators.dedup": [
        ("operators.dedup", "keep_min_per_group", False),
        ("operators.dedup", "min_over_group", False),
    ],
    "operators.cluster": [("operators.cluster", "connected_components", True)],
    "operators.corpus": [
        ("operators.corpus", "minhash_lsh_dups", True),
        ("operators.corpus", "dedup_passages", True),
    ],
    "streaming.resolve": [("streaming.resolve", "resolve_batch", False)],
    # the prior-history read stays lazy: persisting it would replace the
    # bucketed scan the history join relies on
    "streaming.history": [
        ("streaming.history", "write_history_bucketed", False),
        ("streaming.history", "read_prior_history", False),
        ("streaming.history", "maybe_compact", False),
    ],
    "cache": [("cache", "release_caches", False), ("cache", "_release", False)],
}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._persisted = []
        self._patched: list[tuple[object, str, object]] = []
        self.orig: dict[str, object] = {}
        self.counts: dict[str, float] = defaultdict(float)
        self.truth_pairs = None  # DataFrame (x_id, y_id) of planted pairs, set per call
        self.scale_input = None  # (pairs, score_pairs args) of the largest scoring call
        self._rows: dict[int, int] = {}  # id(materialized frame) -> its row count

    def set_truth(self, name_pairs) -> None:
        """Planted (raw x name, raw y name) pairs of the next link call, keyed
        the way ``prepare_side`` keys names, for ``pair_completeness``."""
        from linkorgs_software_spark.functions.normalize import normalize_expr, record_id_expr

        df = self.spark.createDataFrame(sorted(name_pairs), "nx string, ny string")
        self.truth_pairs = df.select(
            record_id_expr(normalize_expr("nx")).alias("x_id"),
            record_id_expr(normalize_expr("ny")).alias("y_id"),
        ).distinct()

    # ---- installation ---------------------------------------------------
    def install(self) -> None:
        # import every layer first, so each importing module is patched too
        homes = {m: importlib.import_module(f"{PKG}.{m}") for fns in LAYERS.values() for m, _, _ in fns}
        pkg_mods = [m for n, m in list(sys.modules.items()) if n == PKG or n.startswith(PKG + ".")]
        for layer, fns in LAYERS.items():
            for mod_name, fn_name, materialize in fns:
                home = homes[mod_name]
                orig = getattr(home, fn_name)
                self.orig[fn_name] = orig
                wrapped = self._wrap(layer, orig, materialize)
                for mod in pkg_mods:
                    if getattr(mod, fn_name, None) is orig:
                        self._patched.append((mod, fn_name, orig))
                        setattr(mod, fn_name, wrapped)

    def uninstall(self) -> None:
        for mod, name, orig in reversed(self._patched):
            setattr(mod, name, orig)
        self._patched.clear()

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist(True)
        self._persisted.clear()

    # ---- spans ------------------------------------------------------------
    def _group(self, name: str) -> None:
        self.sc.setJobGroup(name, name, False)

    def _current(self) -> str:
        return self.spans[self._stack[-1]]["name"] if self._stack else ROOT

    def _wrap(self, layer, fn, materialize):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sid = len(self.spans)
            span = {"id": sid, "name": layer, "fn": fn.__name__, "rows_out": 0,
                    "parent": self._stack[-1] if self._stack else None}
            self.spans.append(span)
            self._stack.append(sid)
            self._group(layer)
            span["start"] = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
                if materialize and hasattr(out, "persist"):
                    out = out.persist()
                    self._persisted.append(out)
                    span["rows_out"] = self._rows[id(out)] = out.count()
                self._observe(fn.__name__, args, kwargs, out, span)
                return out
            finally:
                span["end"] = time.perf_counter()
                self._stack.pop()
                self._group(self._current())

        return traced

    def _probe(self, action):
        """Run a measuring action outside every layer's totals."""
        prev = self._current()
        self._group(PROBE)
        t0 = time.perf_counter()
        try:
            return action()
        finally:
            # probe time is not the layer's work: the innermost span sheds
            # it from its self time (its parents already exclude the child)
            if self._stack:
                s = self.spans[self._stack[-1]]
                s["probe_s"] = s.get("probe_s", 0.0) + time.perf_counter() - t0
            self._group(prev)

    def _observe(self, name, args, kwargs, out, span) -> None:
        from pyspark.sql import functions as F

        if name == "calibrated_threshold" and isinstance(out, tuple):
            cap = args[2].calibration_sample
            self.counts["calibrate.sample_pairs"] += min(cap, out[1]) * min(cap, out[2])
        elif name == "gram_index" and args[1] == "alias_id":
            self.counts["network.dir_index_builds"] += 1
        elif name == "apply_df_cap":
            index, col, cap = args[:3]
            cols = [col] if isinstance(col, str) else list(col)
            self.counts["blocking.capped_grams"] += self._probe(
                lambda: index.groupBy(*cols).count().filter(F.col("count") > cap).count()
            )
            if any(self.spans[i]["fn"] == "minhash_lsh_dups" for i in self._stack):
                # the capped band buckets minhash_lsh_dups self-joins: its
                # candidate pairs, before the exact-jaccard verify
                self.counts["corpus.candidates"] += self._probe(
                    lambda: out.alias("a").join(out.alias("b"), "bucket")
                    .filter(F.col("a.id") < F.col("b.id")).select("a.id", "b.id").distinct().count()
                )
        elif name == "candidate_pairs":
            self.counts["blocking.candidates"] += span["rows_out"]
            ids = (kwargs.get("x_id", "x_id"), kwargs.get("y_id", "y_id"))
            if self.truth_pairs is not None and ids == ("x_id", "y_id"):
                hit = out.select("x_id", "y_id", F.lit(1).alias("_hit")).distinct()
                row = self._probe(
                    lambda: self.truth_pairs.join(hit, ["x_id", "y_id"], "left")
                    .agg(F.count(F.lit(1)).alias("n"), F.count("_hit").alias("found"))
                    .first()
                )
                self.counts["blocking.truth_total"] += row["n"]
                self.counts["blocking.truth_found"] += row["found"]
        elif name == "score_pairs":
            pairs = args[0]
            n_in = self._rows.get(id(pairs))
            if n_in is None:
                n_in = self._probe(pairs.count)
            self.counts["scoring.pairs_in"] += n_in
            if self.scale_input is None or n_in > self.scale_input[0]:
                self.scale_input = (n_in, args, kwargs)
        elif name == "minhash_lsh_dups":
            self.counts["corpus.verified"] += span["rows_out"]

    # ---- per-layer table ----------------------------------------------------
    def self_times(self) -> dict[str, float]:
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            busy = s["end"] - s["start"] - child[s["id"]] - s.get("probe_s", 0.0)
            out[s["name"]] += max(busy, 0.0)
        return out


def scale_efficiency(tracer: Tracer, nproc: int, min_pairs: int = 200_000) -> float:
    """Score one materialized candidate set with 1 slot and with ``nproc``
    slots; returns t1 / (nproc * tN). The set is repeated up to
    ``min_pairs`` rows so both timings are well above scheduling noise."""
    if tracer.scale_input is None or nproc < 2:
        return 0.0
    from pyspark.sql import functions as F

    distance_expr = tracer.orig["distance_expr"]
    n, args, kwargs = tracer.scale_input
    pairs, xp, yp, cfg = args[:4]
    ids = {k: v for k, v in kwargs.items() if k in ("x_id", "y_id")}
    tracer._group(PROBE)
    names = tracer.orig["score_pairs"](pairs, xp, yp, cfg, **ids).select("name_norm_x", "name_norm_y")
    reps = max(1, -(-min_pairs // max(n, 1)))
    base = names.crossJoin(tracer.spark.range(reps).select(F.col("id").alias("_rep")))
    times = {}
    for slots in (1, nproc):
        part = base.repartition(slots).persist()
        part.count()
        dist = distance_expr(cfg.distance_measure, "name_norm_x", "name_norm_y", qgram=cfg.qgram)
        t0 = time.perf_counter()
        part.select(dist.alias("d")).agg(F.sum("d")).collect()
        times[slots] = time.perf_counter() - t0
        part.unpersist(False)
    return times[1] / (nproc * times[nproc])

"""The benchmark workloads: inputs, the calls under test, and output checks.

A workload writes its seeded inputs to parquet once (``setup``), then runs a
list of *units* — a link call, a corpus call or a micro-batch. Each unit
reads its inputs from parquet, runs the program, collects the complete
result, and is timed as a whole; its check runs after the timing. The
program under test only ever sees parquet paths.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter
from typing import Callable, NamedTuple

import pyarrow as pa
import pyarrow.parquet as pq

import gen

TRANSCRIPT_SCHEMA = pa.schema(
    [("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
     ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us"))]
)
# pinned OSA threshold of the transcripts call: at most two edits
TRANSCRIPT_MAX_DIST = 2.0
# resolver thresholds (jaccard q=2): lenient match, strict create
STREAM_MAX_DIST = 0.35
STREAM_CREATE_MAX_DIST = 0.25


def _write(path: str, rows, names, schema=None) -> str:
    cols = [list(c) for c in zip(*rows)]
    if schema is None:
        table = pa.table(dict(zip(names, cols)))
    else:
        table = pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema)
    pq.write_table(table, path)
    return path


def digest(lines) -> str:
    """Order-independent digest of result rows rendered as strings."""
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def f1_score(pred: set, truth: set) -> float:
    tp = len(pred & truth)
    return 2.0 * tp / (len(pred) + len(truth)) if pred or truth else 1.0


def cluster_f1(pred: dict, truth: dict) -> float:
    """Pairwise F1 of two clusterings of the same items (item -> label)."""
    def pairs(counter):
        return sum(n * (n - 1) // 2 for n in counter.values())

    both = pairs(Counter((pred[k], truth[k]) for k in truth if k in pred))
    p, t = pairs(Counter(pred[k] for k in truth if k in pred)), pairs(Counter(truth.values()))
    return 2.0 * both / (p + t) if p + t else 1.0


class Unit(NamedTuple):
    """One timed call. ``run(spark, hooks)`` returns the collected result
    (``hooks`` is the tracer, or None); ``check(result)`` returns
    ``(problems, f1 or None, digest_lines)``."""

    name: str
    run: Callable
    check: Callable


class Batch:
    """link_alias, transcripts_osa and corpus_dedup calls back to back."""

    name = "batch"
    sizes = {"link_entities": 160, "sibling_share": 0.2, "reference_names": 200,
             "turns": 14_000, "occurrences": 30, "docs": 600}

    def __init__(self, seed: int, root: str):
        self.seed, self.root = seed, root

    def setup(self) -> None:
        s, r = self.sizes, self.root
        link = gen.gen_link(self.seed, s["link_entities"], s["sibling_share"])
        self.p_x = _write(f"{r}/org_x.parquet", link["x"], ["id", "name"])
        self.p_y = _write(f"{r}/org_y.parquet", link["y"], ["id", "name"])
        self.p_dir = _write(f"{r}/alias_directory.parquet", link["directory"], ["alias_name", "canonical_id"])
        self.link_truth = set(link["truth"])
        tr = gen.gen_transcripts(self.seed, s["reference_names"], s["turns"], s["occurrences"], s["sibling_share"])
        self.p_ref = _write(f"{r}/reference.parquet", tr["reference"], ["name"])
        self.p_tr = _write(f"{r}/transcripts.parquet", tr["transcripts"], None, TRANSCRIPT_SCHEMA)
        self.tr_truth = set(tr["truth"])
        self.tr_text = digest(f"{c}|{t}|{x}" for c, t, _, x, _, _ in tr["transcripts"])
        self.tr_pairs = tr["pairs"]
        co = gen.gen_corpus(self.seed, s["docs"])
        self.p_docs = _write(f"{r}/documents.parquet", co["docs"], ["doc_id", "text"])
        self.n_docs = len(co["docs"])
        self.twins = set(co["twins"])
        self.boiler = co["boiler"]
        self.passages = co["passages"]

    def new_pass(self, out_dir: str) -> None:
        pass

    def warm_up(self, spark, root: str) -> None:
        """JIT the engine's shuffle, join and window paths, and start the
        Python workers with the package imported: one OSA scorer call on
        64 pairs (transcripts_osa scores with that UDF)."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from linkorgs_software_spark.functions.scorers import distance_expr

        r = spark.range(20_000).select((F.col("id") % 97).alias("k"), F.col("id").cast("string").alias("s"))
        r.groupBy("k").count().join(r, "k").withColumn(
            "rn", F.row_number().over(Window.partitionBy("k").orderBy("s"))
        ).filter("rn = 1").collect()
        pairs = spark.createDataFrame([(f"acme {i}", f"acme {i + 1}") for i in range(64)], "a string, b string")
        pairs.select(distance_expr("osa", "a", "b").alias("d")).agg(F.sum("d")).collect()

    def trace_counts(self, results, out_dir: str) -> dict:
        return {}

    def units(self) -> list[Unit]:
        return [
            Unit("link_alias", self._link, self._check_link),
            Unit("transcripts_osa", self._transcripts, self._check_transcripts),
            Unit("corpus_dedup", self._corpus, self._check_corpus),
        ]

    # ---- link_alias -------------------------------------------------------
    def _link(self, spark, hooks):
        from linkorgs_software_spark.plans import pipeline

        x, y = spark.read.parquet(self.p_x), spark.read.parquet(self.p_y)
        directory = spark.read.parquet(self.p_dir)
        if hooks:
            hooks.set_truth(self.link_truth)
        z = pipeline.link_orgs(x, y, algorithm="alias", directory=directory, one_to_one=True)
        return z.collect()

    def _check_link(self, rows):
        problems = []
        if rows and not {"name_x", "name_y", "stringdist", "minDist"} <= set(rows[0].asDict()):
            return ["link_alias: missing output columns"], 0.0, []
        xs, ys = Counter(r.name_x for r in rows), Counter(r.name_y for r in rows)
        if any(n > 1 for n in xs.values()) or any(n > 1 for n in ys.values()):
            problems.append("link_alias: result is not one-to-one")
        if any(r.minDist is None for r in rows):
            problems.append("link_alias: null minDist")
        pred = {(r.name_x, r.name_y) for r in rows}
        lines = [f"L|{r.name_x}|{r.name_y}|{r.minDist:.6f}" for r in rows]
        return problems, f1_score(pred, self.link_truth), lines

    # ---- transcripts_osa ------------------------------------------------------
    def _transcripts(self, spark, hooks):
        from linkorgs_software_spark import config
        from linkorgs_software_spark.plans import transcripts as plan

        transcripts = spark.read.parquet(self.p_tr)
        reference = spark.read.parquet(self.p_ref)
        if hooks:
            hooks.set_truth(self.tr_pairs)
        cfg = config.fixed_threshold_config(TRANSCRIPT_MAX_DIST, distance_measure="osa")
        z = plan.link_transcript_mentions(transcripts, reference, cfg)
        return z.collect(), transcripts

    def _check_transcripts(self, result):
        rows, transcripts = result
        problems = []
        # north-rule invariant: the call leaves every turn's text as it was
        after = transcripts.select("conv_id", "turn_idx", "text").collect()
        if digest(f"{r.conv_id}|{r.turn_idx}|{r.text}" for r in after) != self.tr_text:
            problems.append("transcripts_osa: per-turn text changed")
        if rows and not {"conv_id", "turn_idx", "name_y"} <= set(rows[0].asDict()):
            return problems + ["transcripts_osa: missing output columns"], 0.0, []
        per_turn = Counter((r.conv_id, r.turn_idx) for r in rows)
        if any(n > 1 for n in per_turn.values()):
            problems.append("transcripts_osa: a mention occurrence linked twice")
        pred = {(r.conv_id, r.turn_idx, r.name_y) for r in rows}
        lines = [f"T|{r.conv_id}|{r.turn_idx}|{r.name_y}|{r.stringdist:.6f}" for r in rows]
        return problems, f1_score(pred, self.tr_truth), lines

    # ---- corpus_dedup -----------------------------------------------------------
    def _corpus(self, spark, hooks):
        from linkorgs_software_spark.operators import corpus

        docs = spark.read.parquet(self.p_docs)
        pairs = corpus.minhash_lsh_dups(docs).collect()
        cleaned = corpus.dedup_passages(docs).collect()
        return pairs, cleaned

    def _check_corpus(self, result):
        pairs, cleaned = result
        problems = []
        if any(not (p.id_a < p.id_b and p.jaccard_sim >= 0.5) for p in pairs):
            problems.append("corpus_dedup: malformed near-dup pair")
        by_id = {c.doc_id: c for c in cleaned}
        if len(by_id) != self.n_docs or len(cleaned) != self.n_docs:
            problems.append("corpus_dedup: dedup_passages lost or repeated documents")
        if any(c.n_removed < 0 or c.n_removed > c.n_tokens for c in cleaned):
            problems.append("corpus_dedup: removed more tokens than a document has")
        passages = self.passages
        for p, ids in self.boiler.items():
            # the canonical copy of each duplicated run keeps it; copies
            # elsewhere lose it, so most carriers no longer hold the passage
            kept = sum(1 for i in ids if i in by_id and passages[p] in by_id[i].text_clean)
            if len(ids) > 1 and kept * 2 > len(ids):
                problems.append(f"corpus_dedup: boilerplate passage {p} kept in {kept} of {len(ids)} copies")
        pred = {(p.id_a, p.id_b) for p in pairs}
        lines = [f"M|{p.id_a}|{p.id_b}|{p.jaccard_sim:.6f}" for p in pairs]
        lines += [f"P|{c.doc_id}|{c.n_removed}|{hashlib.sha1(c.text_clean.encode()).hexdigest()}" for c in cleaned]
        return problems, f1_score(pred, self.twins), lines


class Stream:
    """resolve_batch over K micro-batches that build their own directory."""

    name = "stream"
    sizes = {"entities": 300, "batches": 3, "per_batch": 200}

    def __init__(self, seed: int, root: str):
        self.seed, self.root = seed, root

    def setup(self) -> None:
        s = self.sizes
        st = gen.gen_stream(self.seed, s["entities"], s["batches"], s["per_batch"])
        self.paths = [
            _write(f"{self.root}/mentions_{i}.parquet", rows, ["mention_id", "name"])
            for i, rows in enumerate(st["batches"])
        ]
        self.sizes_by_batch = [len(b) for b in st["batches"]]
        self.truth = st["truth"]

    def trace_counts(self, results, out_dir: str) -> dict:
        rows = [r for res in results if res for r in res]
        files = [os.path.join(d, f) for d, _, fs in os.walk(os.path.join(out_dir, "history")) for f in fs]
        return {
            "resolve.matched": sum(1 for r in rows if r.matched_prior),
            "resolve.created": sum(1 for r in rows if not r.matched_prior),
            "history.files_written": len(files),
            "history.bytes_written": sum(os.path.getsize(f) for f in files),
        }

    def units(self) -> list[Unit]:
        return [Unit(f"batch_{i}", self._batch(i), self._check_batch(i)) for i in range(len(self.paths))]

    def new_pass(self, out_dir: str) -> None:
        self.out_dir = out_dir
        self.assigned = {}

    def warm_up(self, spark, root: str) -> None:
        """The bootstrap path once, on 20 names: a cold batch_0 ran up to
        3x slower than a warm one and set most of wall_s's spread."""
        from linkorgs_software_spark.streaming import resolve

        rows = gen.gen_stream(self.seed + 1, 40, 1, 0)["batches"][0]
        df = spark.read.parquet(_write(f"{root}/mentions.parquet", rows, ["mention_id", "name"]))
        resolve.resolve_batch(
            df, 0, os.path.join(root, "out"), max_dist=STREAM_MAX_DIST, create_max_dist=STREAM_CREATE_MAX_DIST
        )

    def _batch(self, i):
        def run(spark, hooks):
            from linkorgs_software_spark.streaming import resolve

            df = spark.read.parquet(self.paths[i])
            resolve.resolve_batch(
                df, i, self.out_dir, max_dist=STREAM_MAX_DIST, create_max_dist=STREAM_CREATE_MAX_DIST
            )
            return spark.read.parquet(os.path.join(self.out_dir, "assignments", f"batch_id={i}")).select(
                "mention_id", "entity_id", "matched_prior"
            ).collect()

        return run

    def _check_batch(self, i):
        def check(rows):
            problems = []
            ids = Counter(r.mention_id for r in rows)
            if len(ids) != self.sizes_by_batch[i] or any(n > 1 for n in ids.values()):
                problems.append(f"batch_{i}: mentions not assigned exactly once")
            if any(r.entity_id is None for r in rows):
                problems.append(f"batch_{i}: null entity_id")
            if i == 0 and any(r.matched_prior for r in rows):
                problems.append("batch_0: matched against an empty directory")
            self.assigned.update((r.mention_id, r.entity_id) for r in rows)
            lines = [f"S|{r.mention_id}|{r.entity_id}|{int(r.matched_prior)}" for r in rows]
            f1 = cluster_f1(self.assigned, self.truth) if i == len(self.paths) - 1 else None
            return problems, f1, lines

        return check


WORKLOADS = {w.name: w for w in (Batch, Stream)}

"""Sampling-based distance-threshold calibration.

Reference semantics (``LinkOrgs/R/LinkOrgs_CalibrateDistThres.R:37-104``):
take <=1000 rows per side, score ALL sample pairs (MaxDist=Inf), and set the
threshold to the distance quantile that would yield, on average,
``AveMatchNumberPerAlias`` matches per left row:

    q = k * sqrt(nx*ny) / (nx*ny)  =  k / sqrt(nx*ny)

clamped to [1e-6, inf); empty input => +inf (match nothing... reference
returns Inf meaning no constraint on an empty side). Unlike the reference's
unseeded ``sample()``, ours is **seeded** (SURVEY.md §7.4 risk 3) so the
threshold — and therefore F1 — is reproducible run-to-run.

This is app-level selectivity estimation (the CBO analogy in SURVEY.md §4);
the cross join is bounded at sample_cap² pairs so it never grows with data.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..config import LinkConfig
from ..functions.normalize import NORM_COL
from ..functions.scorers import distance_expr


def _seeded_sample(df: DataFrame, cap: int, seed: int, n: int | None = None) -> DataFrame:
    """~cap rows, deterministic under (input, seed), with NO global limit.

    ``sample().limit(cap)`` plants a GlobalLimit in the plan — a
    single-partition barrier that serializes the downstream cross join
    (measured 8x slowdown of the network calibration). A seeded hash-mod
    filter keeps the sample fully parallel; the cap is approximate, which
    only affects quantile-estimation precision, never the quantile target
    (that uses exact full counts).

    All-string frames hash with an ENGINE-PORTABLE key (md5 of a visible
    string, top 60 bits as an integer) so an ANSI-SQL oracle reproduces the
    exact sample membership — that, plus the exact rank quantile below, is
    what lets the CALIBRATED flagship query be value-hash-checked end to
    end. Frames carrying non-string columns (embedding calibration) keep
    the engine-native xxhash64.

    The string encoding is COLLISION-RESISTANT: each column is mapped to
    its fixed-width md5 hex (NULL -> '-', which no md5 can produce), then
    the seed + per-column digests concatenate with no separator. A plain
    ``concat_ws('|')`` would SKIP null columns and not escape '|' in
    values — rows ('a|b','c') vs ('a','b|c'), or (NULL,'x') vs ('x',NULL),
    would get perfectly correlated sample membership, skewing the
    calibration sample non-uniformly.
    """
    from pyspark.sql.types import StringType

    n = df.count() if n is None else n
    if n <= cap:
        return df
    buckets = max(2, (n + cap // 2) // cap)  # integer half-up: SQL-portable
    cols = [F.col(c) for c in df.columns]
    if all(isinstance(f.dataType, StringType) for f in df.schema.fields):
        enc = [F.coalesce(F.md5(c), F.lit("-")) for c in cols]
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit(str(seed)), *enc)), 1, 15),
            16,
            10,
        ).cast("long")
    else:
        h = F.xxhash64(*cols, F.lit(seed))
    return df.filter(F.pmod(h, F.lit(buckets)) == 0)


def _exact_quantile(dists: DataFrame, q: float) -> float | None:
    """Exact rank quantile of ``dists.dist``: the ⌈q·n⌉-th smallest value
    (clamped to [1, n]).

    The calibration sample is bounded at ≤ ``calibration_sample``² pairs by
    construction (reference ``CalibrateDistThres.R:55-56``), so an EXACT
    quantile is cheap: ``orderBy(...).limit(k)`` compiles to
    TakeOrderedAndProject (distributed partial top-k — no global sort
    barrier), and ``max`` of those k rows is the k-th smallest. Unlike
    ``approxQuantile`` (engine-private Greenwald-Khanna sketch), the rank
    pick is deterministic and ANSI-SQL-expressible, which is what lets the
    calibrated flagship query be oracle-checked.
    """
    # Persist before the two actions: without it the count and the top-k
    # pick each re-run the scored sample cross join — the calibration's
    # dominant cost, paid twice (round-7 profile: ~3s per calibration, x2).
    # The frame is one double column bounded at sample_cap² rows, so the
    # cache is a few MB; values are unchanged.
    dists = dists.persist(StorageLevel.MEMORY_AND_DISK_DESER)
    try:
        n = dists.count()
        if n == 0:
            return None
        kk = max(1, min(n, math.ceil(q * n)))
        row = (
            dists.orderBy(F.col("dist").asc())
            .limit(kk)
            .agg(F.max("dist").alias("m"))
            .collect()[0]
        )
        return row["m"]
    finally:
        dists.unpersist()


def calibrated_threshold_on_column(
    x_df: DataFrame,
    y_df: DataFrame,
    cfg: LinkConfig,
    pair_dist_expr,
    *,
    k: float,
    x_col: str,
    y_col: str,
    nx: int | None = None,
    ny: int | None = None,
) -> float:
    """Calibrate over precomputed per-side columns (e.g. embeddings).

    ``pair_dist_expr(x_col, y_col) -> Column`` scores a sampled cross join;
    expensive per-row derivations (embedding kernels) must already live in
    ``x_col``/``y_col`` so they are computed once per sampled row, not once
    per sampled pair.
    """
    # Cache the distinct frames: each feeds 2-3 actions (count, sample
    # filter, cross-join scan) that would otherwise re-run the upstream
    # dedup shuffle per action.
    x_all = x_df.select(x_col).dropDuplicates().cache()
    y_all = y_df.select(F.col(y_col).alias("_ycal")).dropDuplicates().cache()
    try:
        nx = x_all.count() if nx is None else nx
        ny = y_all.count() if ny is None else ny
        if nx == 0 or ny == 0:
            return float("inf")
        xs = _seeded_sample(x_all, cfg.calibration_sample, cfg.seed, n=nx)
        ys = _seeded_sample(y_all, cfg.calibration_sample, cfg.seed + 1, n=ny)
        q = min(max(k / math.sqrt(float(nx) * float(ny)), 0.0), 1.0)
        par = x_df.sparkSession.sparkContext.defaultParallelism
        dists = (
            xs.repartition(par)
            .crossJoin(ys)
            .select(pair_dist_expr(x_col, "_ycal").alias("dist"))
            .filter(F.col("dist").isNotNull() & ~F.isnan("dist"))
        )
        if q >= 1.0:
            thr = dists.agg(F.max("dist").alias("m")).collect()[0]["m"]
        else:
            thr = _exact_quantile(dists, q)
        if thr is None:
            return float("inf")
        return max(float(thr), 1e-6)
    finally:
        x_all.unpersist()
        y_all.unpersist()


def calibrated_threshold(
    x_prep: DataFrame,
    y_prep: DataFrame,
    cfg: LinkConfig,
    *,
    k: float | None = None,
    measure: str | None = None,
    return_counts: bool = False,
) -> float | tuple[float, int, int]:
    """Data-dependent MaxDist for ``measure`` at budget ``k`` matches/row.

    ``return_counts=True`` additionally returns the two exact distinct-name
    counts the calibration already computed, as ``(thr, nx, ny)`` — callers
    feed them to ``candidate_pairs`` as posting-list bounds (the df-cap
    no-op proof) instead of paying a second count action.
    """
    k = cfg.ave_match_number_per_alias if k is None else k
    measure = cfg.distance_measure if measure is None else measure

    # Cache the distinct-name frames across the count + sample + cross-join
    # actions (the dominant fixed cost of a calibration is re-running the
    # dedup shuffle once per action).
    x_all = x_prep.select(NORM_COL).dropDuplicates().cache()
    y_all = y_prep.select(F.col(NORM_COL).alias("_ynorm")).dropDuplicates().cache()
    nx = ny = 0  # bound before _ret, which closes over them

    def _ret(v: float):
        return (v, nx, ny) if return_counts else v

    try:
        nx = x_all.count()
        ny = y_all.count()
        if nx == 0 or ny == 0:
            return _ret(float("inf"))
        xs = _seeded_sample(x_all, cfg.calibration_sample, cfg.seed, n=nx)
        ys = _seeded_sample(y_all, cfg.calibration_sample, cfg.seed + 1, n=ny)

        q = k / math.sqrt(float(nx) * float(ny))
        q = min(max(q, 0.0), 1.0)

        # Spread the sample cross join: a BNLJ of two small frames otherwise
        # lands in ONE partition and scores the whole sample on a single core.
        par = x_prep.sparkSession.sparkContext.defaultParallelism
        if measure == "jaccard":
            # Pre-gram the SAMPLED names (≤ cap rows per side) so the cross
            # join computes one array_intersect per pair instead of building
            # both q-gram sets per pair (cap² set constructions otherwise —
            # the dominant fixed cost of a calibration).
            from ..functions.qgrams import jaccard_dist_from_sizes_expr, qgram_set_expr

            # STRING sets here, deliberately: the calibration cross join is
            # bounded at sample_cap^2 pairs, so the packed-set form's
            # per-pair saving cannot amortize its larger expression trees —
            # an interleaved bisect of the alias-path flow (which runs up
            # to three calibrations) read ~10.2s with string sets vs ~14.7s
            # with packed ones, while the unbounded-pair scoring paths
            # (score_pairs, the resolver) keep the packed form where it
            # measured 4.5x per-pair
            xs = xs.select(
                qgram_set_expr(NORM_COL, cfg.qgram).alias("_gx")
            ).withColumn("_nx", F.size("_gx"))
            ys = ys.select(
                qgram_set_expr("_ynorm", cfg.qgram).alias("_gy")
            ).withColumn("_ny", F.size("_gy"))
            dist_expr_ = jaccard_dist_from_sizes_expr("_gx", "_gy", "_nx", "_ny")
        else:
            dist_expr_ = distance_expr(measure, NORM_COL, "_ynorm", qgram=cfg.qgram)
        dists = (
            xs.repartition(par)
            .crossJoin(ys)
            .select(dist_expr_.alias("dist"))
            .filter(F.col("dist").isNotNull() & ~F.isnan("dist"))
        )
        if q >= 1.0:
            thr = dists.agg(F.max("dist").alias("m")).collect()[0]["m"]
        else:
            thr = _exact_quantile(dists, q)
        if thr is None:
            return _ret(float("inf"))
        return _ret(max(float(thr), 1e-6))
    finally:
        x_all.unpersist()
        y_all.unpersist()

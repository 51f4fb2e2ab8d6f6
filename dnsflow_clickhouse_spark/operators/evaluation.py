"""Model-evaluation operators (engine extension for training-data
pipelines): tie-aware AUC, calibration/reliability bins, exact Pearson
correlation, and closed-form OLS regression fits.

A curation pipeline trains quality classifiers (fastText-style filters,
contamination detectors) and needs to EVALUATE them at corpus scale:
AUC of the score against a gold label, reliability of the predicted
probabilities, and feature diagnostics (which cheap features correlate,
what linear fit predicts token count from byte count). The reference
has no evaluation surface (its reports are fixed rollups,
DnsRptCH.scala:1077-1139); these close that gap.

Numeric policy (the repo-wide exactness discipline): every statistic is
assembled from EXACT integer sums (map-side-combinable hash aggregates)
and only the final scalar arithmetic touches doubles — and only through
operations that are IEEE-correctly-rounded and therefore identical
across engines (+ - * / sqrt). Nothing here calls exp/log/pow, so the
DuckDB oracles hash-match bit-for-bit with no rounding fudge.

Scale shapes:
- ``auc_by_group`` never ranks rows globally: it aggregates to one row
  per (group, DISTINCT score) first, then runs one window over those
  distinct scores. AUC needs the full ordering per group, but the
  window input is |distinct scores| rows, not |rows| — for integer or
  ppm-quantized scores that is a bounded frame at any corpus size.
  The pair count uses the Mann-Whitney identity (concordant pairs +
  half the ties), so no pair is ever materialized.
- ``calibration_bins`` / ``correlation_pairs`` / ``ols_fit`` are single
  hash aggregations (constant-width output); correlation's wide->long
  pivot happens on the one result row, the same shape as
  profiling.profile_columns.
- Overflow bound: the bigint sums hold while n * sum(x*y) < 2^63 —
  fine to ~1e9 rows of ppm-scale features; past that, swap the sum
  accumulators to decimal(38,0) (the formula layer is unchanged).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

PPM = 1_000_000


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def auc_by_group(
    df: DataFrame,
    group_col: str,
    score: Column | str,
    label: Column | str,
) -> DataFrame:
    """Exact tie-aware ROC-AUC of ``score`` against binary ``label``
    per group, in ppm.

    Mann-Whitney form: over all (positive, negative) row pairs, count
    score_pos > score_neg as 1 and ties as 1/2; AUC is the mean. The
    pair count is computed from per-distinct-score (pos, neg) counts
    and a running negative total — numerator doubled so ties stay
    integral:

        num2 = sum_s (2 * pos_s * neg_below_s + pos_s * neg_s)
        auc_ppm = num2 * 1e6 div (2 * n_pos * n_neg)

    Groups with no positives or no negatives report NULL (AUC is
    undefined there, and silently reporting 0 or 1 would poison a
    threshold sweep).
    """
    per_score = (
        df.select(
            F.col(group_col).alias("grp"),
            _col(score).alias("s"),
            _col(label).cast("long").alias("y"),
        )
        .groupBy("grp", "s")
        .agg(
            F.sum("y").alias("pos"),
            (F.count(F.lit(1)) - F.sum("y")).alias("neg"),
        )
    )
    w = Window.partitionBy("grp").orderBy("s")
    with_below = per_score.withColumn(
        "neg_below", F.coalesce(F.sum("neg").over(w) - F.col("neg"), F.lit(0))
    )
    agg = with_below.groupBy("grp").agg(
        F.sum("pos").alias("n_pos"),
        F.sum("neg").alias("n_neg"),
        F.sum(
            F.lit(2) * F.col("pos") * F.col("neg_below")
            + F.col("pos") * F.col("neg")
        ).alias("num2"),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            # num2 <= 2 * n_pos * n_neg, so num2 * 1e6 wraps int64 once a
            # group holds ~4.3M balanced rows; widen to decimal(38,0)
            # before the multiply (the same escape hatch the module
            # docstring prescribes for the feature sums)
            # the denominator must widen too: 2 * n_pos * n_neg wraps
            # int64 once each class exceeds ~2.1e9 rows in a group,
            # which the 100 TB design point allows
            F.expr(
                f"CAST(num2 AS DECIMAL(38,0)) * {PPM}"
                " div (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg)"
            ),
        )
        .cast("long")
        .alias("auc_ppm"),
    )


def calibration_bins(
    df: DataFrame,
    score_ppm: Column | str,
    label: Column | str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability table: equal-width bins over a ppm score in [0, 1e6),
    with exact mean predicted score, observed positive rate, and the
    |gap| that a weighted sum turns into ECE. All integer ppm."""
    s = _col(score_ppm).cast("long")
    binned = df.select(
        F.least(F.lit(n_bins - 1).cast("long"), F.floor(s * n_bins / PPM)).alias(
            "bin"
        ),
        s.alias("s"),
        _col(label).cast("long").alias("y"),
    )
    agg = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("n_pos"),
        F.sum("s").alias("ssum"),
    )
    # n_pos * PPM widened to decimal: the long product hits int64 at
    # ~2^43 rows in one bin (IntegralDivide still returns long) — same
    # escape hatch as the AUC numerator/denominator above
    rate = f"CAST(n_pos AS DECIMAL(38,0)) * {PPM} div n"
    return agg.select(
        "bin",
        F.col("n").cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.expr("ssum div n").cast("long").alias("avg_score_ppm"),
        F.expr(rate).cast("long").alias("pos_rate_ppm"),
        F.abs(F.expr("ssum div n") - F.expr(rate))
        .cast("long")
        .alias("gap_ppm"),
    ).orderBy("bin")


def correlation_pairs(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlation over integer feature columns, from
    one exact-sum aggregation pass.

    corr = (n*sxy - sx*sy) / (sqrt(n*sxx - sx^2) * sqrt(n*syy - sy^2))
    — numerator and radicands are exact bigints, so the double result is
    deterministic (sqrt and / are correctly rounded by IEEE 754).
    Degenerate (constant) columns yield NULL, not NaN."""
    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        lc = _col(c).cast("long")
        aggs.append(F.sum(lc).alias(f"__s_{c}"))
        aggs.append(F.sum(lc * lc).alias(f"__ss_{c}"))
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    for a, b in pairs:
        aggs.append(
            F.sum(_col(a).cast("long") * _col(b).cast("long")).alias(
                f"__sxy_{a}_{b}"
            )
        )
    wide = df.agg(*aggs)

    def _dec(name: str) -> Column:
        # n * sxy products exceed int64 once rows^2 * value^2 passes
        # 2^63 (ANSI would throw); decimal(38,0) keeps the radicands
        # exact to 1e38, and the final double cast is the same value at
        # any scale where both fit
        return F.col(name).cast("decimal(38,0)")

    structs = []
    for a, b in pairs:
        num = _dec("__n") * _dec(f"__sxy_{a}_{b}") - _dec(f"__s_{a}") * _dec(
            f"__s_{b}"
        )
        va = _dec("__n") * _dec(f"__ss_{a}") - _dec(f"__s_{a}") * _dec(
            f"__s_{a}"
        )
        vb = _dec("__n") * _dec(f"__ss_{b}") - _dec(f"__s_{b}") * _dec(
            f"__s_{b}"
        )
        corr = F.when(
            (va > 0) & (vb > 0),
            num.cast("double")
            / (F.sqrt(va.cast("double")) * F.sqrt(vb.cast("double"))),
        )
        structs.append(
            F.struct(
                F.lit(a).alias("feat_x"),
                F.lit(b).alias("feat_y"),
                F.col("__n").cast("long").alias("n"),
                corr.alias("corr"),
            )
        )
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def ols_fit(
    df: DataFrame,
    group_col: str,
    x: Column | str,
    y: Column | str,
) -> DataFrame:
    """Per-group closed-form simple linear regression y ~ a + b*x over
    integer features: slope/intercept from exact normal-equation sums.

        b = (n*sxy - sx*sy) / (n*sxx - sx^2)
        a = (sy - b*sx) / n

    One hash aggregation; k groups -> k rows. Groups with constant x
    report NULL slope/intercept. This is the degenerate (1-feature) but
    fully distributed case of the normal-equations pattern: for d
    features, the same pass accumulates the d x d Gram matrix exactly
    and the d x d solve happens on the driver — never the data."""
    xl = _col(x).cast("long")
    yl = _col(y).cast("long")
    agg = df.groupBy(F.col(group_col).alias(group_col)).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xl).alias("sx"),
        F.sum(yl).alias("sy"),
        F.sum(xl * xl).alias("sxx"),
        F.sum(xl * yl).alias("sxy"),
    )

    def _dec(name: str) -> Column:
        # widen the normal-equation products past int64 (see
        # correlation_pairs) — exact to 1e38, identical doubles below
        return F.col(name).cast("decimal(38,0)")

    denom = _dec("n") * _dec("sxx") - _dec("sx") * _dec("sx")
    slope = F.when(
        denom > 0,
        (_dec("n") * _dec("sxy") - _dec("sx") * _dec("sy")).cast("double")
        / denom.cast("double"),
    )
    return agg.select(
        group_col,
        F.col("n").cast("long").alias("n"),
        slope.alias("slope"),
        F.when(
            denom > 0,
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double"),
        ).alias("intercept"),
    )


def psi_report(
    df: DataFrame,
    group_col: str,
    is_current: Column,
    bucket: Column,
    n_buckets: int,
) -> DataFrame:
    """Population Stability Index (log2 variant) between a reference
    slice and a current slice of ``df``, per group — the standard
    distribution-drift monitor a feature/score pipeline runs before
    trusting a new ingest batch (PSI < 0.1 stable, > 0.25 shifted, same
    thresholds in bits instead of nats since log2 is monotone with ln).

    psi = sum_buckets (p_cur - p_ref) * log2(p_cur / p_ref), with
    Laplace +1 smoothing so empty buckets stay finite AND integer-exact:
    p_side = (c_side + 1) / (n_side + n_buckets). Exactness discipline:
    shares are exact integer ppm; the log term quantizes to integer
    micros per bucket (operators/lm.py); the ratio is three IEEE double
    ops in a pinned order ((c_cur+1)/(c_ref+1) * (n_ref+B)/(n_cur+B)),
    so any engine replays it bit-for-bit — and no product of two counts
    is ever formed, so nothing overflows below 2^62 rows per slice.

    ``bucket`` must be a deterministic map-side expression into
    [0, n_buckets) (explicit bounds, NOT data-derived quantiles — the
    monitor must not shift its own ruler). Output: group, n_ref, n_cur,
    psi_pico (exact long, ppm-share x micro-log2 units; psi_bits =
    psi_pico / 1e12). The pico sum is reported UNDIVIDED: quantization
    can make a near-zero sum slightly negative, where Spark's ``div``
    (truncate) and DuckDB's ``//`` (floor) would disagree.

    Plan: one hash aggregate (group, bucket) with map-side combine,
    one tiny per-group rollup joined back broadcast, one final sum —
    the whole fact table is touched once, shuffled only as (group,
    bucket) cells.
    """
    cells = (
        df.select(
            F.col(group_col).alias("grp"),
            bucket.cast("long").alias("b"),
            is_current.cast("int").alias("cur"),
        )
        .groupBy("grp", "b")
        .agg(
            F.sum(F.lit(1) - F.col("cur")).alias("c_ref"),
            F.sum("cur").alias("c_cur"),
        )
    )
    return psi_from_cells(cells, group_col, n_buckets)


def psi_from_cells(
    cells: DataFrame, group_col: str, n_buckets: int
) -> DataFrame:
    """PSI from pre-aggregated histogram cells ``(grp, b, c_ref,
    c_cur)`` — the math half of :func:`psi_report`, public so streaming
    folds can reuse it: a micro-batch pipeline keeps additive (grp, b,
    cnt) histogram state (folded with io.merge_additive) and joins it
    against a fixed reference histogram each batch
    (streaming/pipeline.py: streaming_psi); drift is then one call on
    bucket-count-sized frames, no history rescans."""
    B = n_buckets
    totals = cells.groupBy("grp").agg(
        F.sum("c_ref").alias("n_ref"), F.sum("c_cur").alias("n_cur")
    )
    # densify: a bucket empty on BOTH sides contributes a zero term under
    # Laplace smoothing only if it is absent from the sum entirely — but
    # a bucket empty on ONE side must be present. Buckets absent from
    # `cells` are empty on both sides, and their smoothed term
    # (1/(n_ref+B) vs 1/(n_cur+B)) is NOT zero when the slice sizes
    # differ, so replay them explicitly via a per-group bucket spine.
    spine = totals.select(
        "grp", F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("b")
    )
    full = (
        spine.join(cells, ["grp", "b"], "left")
        .select(
            "grp",
            "b",
            F.coalesce("c_ref", F.lit(0)).alias("c_ref"),
            F.coalesce("c_cur", F.lit(0)).alias("c_cur"),
        )
        .join(F.broadcast(totals), "grp")
    )
    ratio = (
        (F.col("c_cur") + 1).cast("double") / (F.col("c_ref") + 1).cast("double")
    ) * (
        (F.col("n_ref") + B).cast("double") / (F.col("n_cur") + B).cast("double")
    )
    lterm_micro = F.floor(F.log2(ratio) * PPM + F.lit(0.5)).cast("long")
    # (c + 1) * PPM wraps int64 at ~2^43 rows in one bucket — widen the
    # numerator to decimal(38,0) (IntegralDivide still returns long), so
    # the 2^62-rows-per-slice headroom claimed above genuinely holds
    share_cur = F.expr(
        f"CAST(c_cur + 1 AS DECIMAL(38,0)) * {PPM} div (n_cur + {B})"
    )
    share_ref = F.expr(
        f"CAST(c_ref + 1 AS DECIMAL(38,0)) * {PPM} div (n_ref + {B})"
    )
    terms = full.select(
        "grp",
        "n_ref",
        "n_cur",
        ((share_cur - share_ref) * lterm_micro).alias("term_pico"),
    )
    return (
        terms.groupBy(F.col("grp").alias(group_col))
        .agg(
            F.max("n_ref").cast("long").alias("n_ref"),
            F.max("n_cur").cast("long").alias("n_cur"),
            F.sum("term_pico").cast("long").alias("psi_pico"),
        )
        .select(
            group_col,
            "n_ref",
            "n_cur",
            "psi_pico",
            (F.col("psi_pico").cast("double") / 1e12).alias("psi_bits"),
        )
    )


def ndcg_by_group(
    df: DataFrame,
    group_col: str,
    id_col: Column | str,
    score: Column,
    rel: Column,
    k: int = 10,
) -> DataFrame:
    """NDCG@k per group (Järvelin & Kekäläinen 2002) — the ranked-
    retrieval sign-off for a quality scorer: AUC asks "does the score
    order pairs correctly?", NDCG@k asks "are the TOP slots of the
    ranking actually relevant?", which is what matters when only the
    head of the ranking is kept (top-k curation, search, dedup-canon
    election).

    Exactness discipline: the log discount quantizes PER POSITION to
    integer micros — disc(r) = floor(1e6 / log2(r + 1) + 0.5), a
    pinned double op chain on a small integer — and DCG/IDCG are exact
    integer sums of rel * disc; ndcg_ppm is one nonnegative integer
    division (NULL when the group has no relevant rows). Both rankings
    carry total tie-breaks (score DESC then id; ideal: rel DESC, score
    DESC, id), so any engine replays the exact permutation.

    Scale shape: one shuffle on the group key, two in-partition sorts
    (actual + ideal rank from the same Exchange — the grouped-top-K
    window pattern used repo-wide), one hash aggregate.

    Output: group_col, n, n_pos, dcg_micro, idcg_micro, ndcg_ppm.
    """
    idc = F.col(id_col) if isinstance(id_col, str) else id_col
    base = df.select(
        F.col(group_col).alias("g"),
        idc.alias("id"),
        score.alias("s"),
        rel.cast("long").alias("r"),
    )
    w_actual = Window.partitionBy("g").orderBy(F.col("s").desc(), "id")
    w_ideal = Window.partitionBy("g").orderBy(
        F.col("r").desc(), F.col("s").desc(), "id"
    )

    def disc(rk: Column) -> Column:
        return F.floor(F.lit(1_000_000.0) / F.log2(rk + 1) + F.lit(0.5)).cast(
            "long"
        )

    ranked = base.withColumn("rk1", F.row_number().over(w_actual)).withColumn(
        "rk2", F.row_number().over(w_ideal)
    )
    agg = ranked.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r").alias("n_pos"),
        F.sum(
            F.when(F.col("rk1") <= k, F.col("r") * disc(F.col("rk1"))).otherwise(
                F.lit(0)
            )
        ).alias("dcg_micro"),
        F.sum(
            F.when(F.col("rk2") <= k, F.col("r") * disc(F.col("rk2"))).otherwise(
                F.lit(0)
            )
        ).alias("idcg_micro"),
    )
    return agg.select(
        F.col("g").alias(group_col),
        F.col("n").cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("dcg_micro").cast("long").alias("dcg_micro"),
        F.col("idcg_micro").cast("long").alias("idcg_micro"),
        F.when(
            F.col("idcg_micro") > 0,
            F.expr(f"dcg_micro * {PPM} div idcg_micro"),
        )
        .cast("long")
        .alias("ndcg_ppm"),
    )


def spearman_by_group(
    df: DataFrame,
    group_col: str,
    id_col: Column | str,
    x: Column,
    y: Column,
) -> DataFrame:
    """Spearman rank correlation per group, in exact integer ppm.

    Rank-based complement to :func:`correlation_pairs` (Pearson): a
    monotone-but-nonlinear relation between two quality signals (e.g.
    heuristic score vs document length) shows up here and not there.

    Exactness discipline: both rankings are CRISP PERMUTATIONS —
    ``row_number`` ordered by (value, id) — not tie-averaged ranks, so
    every d = rank_x - rank_y is an exact integer and the classic
    rho = 1 - 6*sum(d^2) / (n*(n^2-1)) needs one integer division:
    rho_ppm = 1e6 - 12e6*sum(d^2) div (2n(n^2-1)), assembled with
    decimal(38,0) widening (sum(d^2) <= n^3/3 wraps int64 near ~3e6
    rows per group; the widened product holds to ~1e9). The id
    tie-break makes tied values contribute a deterministic, engine-
    replayable permutation (documented bias vs tie-averaged Spearman;
    for corpus diagnostics the monotone signal is what matters).

    Scale shape: one shuffle on the group key, two in-partition sorts
    over the SAME exchange (the grouped-window pattern), one hash
    aggregate. Output: group_col, n, sum_d2, rho_ppm (NULL when n < 2).
    """
    idc = F.col(id_col) if isinstance(id_col, str) else id_col
    base = df.select(
        F.col(group_col).alias("g"), idc.alias("id"), x.alias("x"), y.alias("y")
    )
    w_x = Window.partitionBy("g").orderBy("x", "id")
    w_y = Window.partitionBy("g").orderBy("y", "id")
    ranked = base.select(
        "g",
        F.row_number().over(w_x).alias("rx"),
        F.row_number().over(w_y).alias("ry"),
    )
    d2 = ((F.col("rx") - F.col("ry")) * (F.col("rx") - F.col("ry"))).cast(
        "decimal(38,0)"
    )
    agg = ranked.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"), F.sum(d2).alias("sum_d2")
    )
    return agg.select(
        F.col("g").alias(group_col),
        F.col("n").cast("long").alias("n"),
        F.col("sum_d2").cast("long").alias("sum_d2"),
        F.when(
            F.col("n") >= 2,
            F.lit(PPM)
            - F.expr(
                "CAST(6000000 AS DECIMAL(38,0)) * sum_d2"
                " div (CAST(n AS DECIMAL(38,0)) * n * n - n)"
            ),
        )
        .cast("long")
        .alias("rho_ppm"),
    )


def prf1_by_class(
    df: DataFrame, truth: Column | str, pred: Column | str
) -> DataFrame:
    """Per-class precision / recall / F1 (ppm) for a multi-class
    prediction — the sign-off table behind a confusion matrix (e.g.
    the lang-id heuristic vs the gold lang column).

    All-integer assembly: tp/fp/fn are plain conditional sums on a
    UNION of (truth-keyed, pred-keyed) class views — one pass each —
    and F1 uses the nested-division-free identity
    f1 = 2*tp / (2*tp + fp + fn), so the three ratios are single
    integer ppm divisions (decimal-widened; NULL when the denominator
    is zero, i.e. a class absent from both truth and prediction side).

    Scale shape: two hash aggregates over the fact table (one keyed by
    truth class, one by pred class) + one tiny outer join on the class
    vocabulary — no per-row crossing, no window.
    Output: class, n_true, n_pred, tp, precision_ppm, recall_ppm,
    f1_ppm.
    """
    t = _col(truth).alias("t")
    p = _col(pred).alias("p")
    base = df.select(t, p)
    by_true = base.groupBy(F.col("t").alias("cls")).agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum(F.when(F.col("t") == F.col("p"), 1).otherwise(0)).alias("tp"),
    )
    by_pred = base.groupBy(F.col("p").alias("cls")).agg(
        F.count(F.lit(1)).alias("n_pred")
    )
    full = by_true.join(by_pred, "cls", "full_outer").select(
        "cls",
        F.coalesce("n_true", F.lit(0)).cast("long").alias("n_true"),
        F.coalesce("n_pred", F.lit(0)).cast("long").alias("n_pred"),
        F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
    )
    return full.select(
        "cls",
        "n_true",
        "n_pred",
        "tp",
        F.when(
            F.col("n_pred") > 0,
            F.expr("CAST(tp AS DECIMAL(38,0)) * 1000000 div n_pred"),
        )
        .cast("long")
        .alias("precision_ppm"),
        F.when(
            F.col("n_true") > 0,
            F.expr("CAST(tp AS DECIMAL(38,0)) * 1000000 div n_true"),
        )
        .cast("long")
        .alias("recall_ppm"),
        F.when(
            (F.col("n_true") + F.col("n_pred")) > 0,
            F.expr(
                "CAST(2 AS DECIMAL(38,0)) * tp * 1000000"
                " div (n_true + n_pred)"
            ),
        )
        .cast("long")
        .alias("f1_ppm"),
    )


def brier_by_group(
    df: DataFrame, group_col: str, score_ppm: Column | str, label: Column | str
) -> DataFrame:
    """Brier score per group over a ppm-quantized score in [0, 1e6]
    and a binary label — the squared-error complement to
    :func:`calibration_bins` (which bins; Brier summarizes).

    Exact integers end-to-end: each row contributes (s - y*1e6)^2
    (bounded by 1e12), summed in decimal(38,0); the reported
    brier_micro2 = sum div n is the mean squared error in micro^2
    units (divide by 1e12 for the usual [0,1] Brier). One hash
    aggregate; no window, no doubles.

    Output: group_col, n, n_pos, brier_micro2.
    """
    s = _col(score_ppm).cast("long")
    y = _col(label).cast("long")
    e = F.col("s") - F.col("y") * F.lit(PPM)
    agg = (
        df.select(F.col(group_col).alias("g"), s.alias("s"), y.alias("y"))
        .withColumn("e2", (e * e).cast("decimal(38,0)"))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("n_pos"),
            F.sum("e2").alias("se"),
        )
    )
    return agg.select(
        F.col("g").alias(group_col),
        F.col("n").cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.expr("se div n").cast("long").alias("brier_micro2"),
    )


def average_precision_by_group(
    df: DataFrame,
    group_col: str,
    id_col: Column | str,
    score: Column,
    label: Column | str,
) -> DataFrame:
    """Average Precision (the PR-AUC summary) per group, exact integer
    ppm — the IMBALANCED-data complement to :func:`auc_by_group`: with
    1 positive per 10k rows a filter can post AUC 0.99 while its
    precision at every operating point is garbage; AP is the metric
    that notices.

    AP = mean over positives (ranked by score) of precision@k. The
    ranking is a CRISP PERMUTATION (score DESC, id — same pinning as
    ndcg/spearman) so every engine replays the identical rank; each
    precision@k quantizes to integer ppm (cum_pos_k * 1e6 div k) and
    AP is their integer mean (div n_pos) — two floors, both replayed
    verbatim by the oracle, no tie-averaging to drift.

    Scale shape: one shuffle on the group key, one in-partition sort
    (row_number + running positive count over the same window frame),
    one hash aggregate. NULL ap_ppm for groups with no positives.
    Output: group_col, n, n_pos, ap_ppm.
    """
    idc = F.col(id_col) if isinstance(id_col, str) else id_col
    base = df.select(
        F.col(group_col).alias("g"),
        idc.alias("id"),
        score.alias("s"),
        _col(label).cast("long").alias("y"),
    )
    w = Window.partitionBy("g").orderBy(F.col("s").desc(), "id")
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = base.select(
        "g",
        "y",
        F.row_number().over(w).alias("k"),
        F.sum("y").over(wr).alias("cum_pos"),
    )
    term = F.when(
        F.col("y") == 1,
        F.expr("CAST(cum_pos AS DECIMAL(38,0)) * 1000000 div k"),
    ).otherwise(F.lit(0).cast("decimal(38,0)"))
    agg = ranked.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("n_pos"),
        F.sum(term).alias("term_sum"),
    )
    return agg.select(
        F.col("g").alias(group_col),
        F.col("n").cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.when(F.col("n_pos") > 0, F.expr("term_sum div n_pos"))
        .cast("long")
        .alias("ap_ppm"),
    )


def roc_points_by_group(
    df: DataFrame,
    group_col: str,
    score: Column | str,
    label: Column | str,
) -> DataFrame:
    """The ROC OPERATING-POINT table per group: one row per distinct
    score threshold with exact (tpr_ppm, fpr_ppm) when classifying
    "score >= threshold" as positive — what auc_by_group integrates,
    materialized so an operator can actually PICK a threshold (the
    precision/recall trade is a point choice, not an area).

    Same scale shape as auc_by_group: aggregate to one row per
    (group, DISTINCT score) first — the window input is |distinct
    scores| rows, never |rows| — then one descending cumulative window
    and two decimal-widened ppm divisions (cum counts are nonnegative,
    so truncating and flooring integer division agree).

    Output: group_col, s, cum_pos, cum_neg, tpr_ppm, fpr_ppm (NULL
    tpr/fpr for groups missing that class).
    """
    per_score = (
        df.select(
            F.col(group_col).alias("g"),
            _col(score).alias("s"),
            _col(label).cast("long").alias("y"),
        )
        .groupBy("g", "s")
        .agg(
            F.sum("y").alias("pos"),
            (F.count(F.lit(1)) - F.sum("y")).alias("neg"),
        )
    )
    w = (
        Window.partitionBy("g")
        .orderBy(F.col("s").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("g")
    cum = per_score.select(
        "g",
        "s",
        F.sum("pos").over(w).alias("cum_pos"),
        F.sum("neg").over(w).alias("cum_neg"),
        F.sum("pos").over(wall).alias("n_pos"),
        F.sum("neg").over(wall).alias("n_neg"),
    )
    return cum.select(
        F.col("g").alias(group_col),
        "s",
        F.col("cum_pos").cast("long").alias("cum_pos"),
        F.col("cum_neg").cast("long").alias("cum_neg"),
        F.when(
            F.col("n_pos") > 0,
            F.expr("CAST(cum_pos AS DECIMAL(38,0)) * 1000000 div n_pos"),
        )
        .cast("long")
        .alias("tpr_ppm"),
        F.when(
            F.col("n_neg") > 0,
            F.expr("CAST(cum_neg AS DECIMAL(38,0)) * 1000000 div n_neg"),
        )
        .cast("long")
        .alias("fpr_ppm"),
    )

"""Dataset-profiling and corpus-statistics operators (engine extension
for training-data pipelines): column profiling, concentration metrics,
co-occurrence mining, inverted-index construction, weighted sampling
with Horvitz-Thompson correction, and blocked fuzzy (edit-distance)
pair generation.

The reference has no profiling surface (its schema is fixed and its
reports are hand-enumerated, DnsRptCH.scala:1077-1139); a corpus engine
needs these to audit an unfamiliar 100 TB dump before curating it.

Scale shapes:
- ``profile_columns`` is ONE pass over the data: a single multi-distinct
  hash aggregate (Catalyst plans the n-column distinct via Expand, with
  map-side partial aggregation), then a constant-size explode back to
  long format. The 100 TB path swaps ``count_distinct`` for
  ``approx_count_distinct`` — same plan minus the Expand; exact is kept
  here because the DuckDB oracle hash-matches it.
- ``gini_concentration`` is two hash aggregations on progressively
  smaller keys — the same partial/final cascade as the reference's
  salted two-phase reduceByKey (DnsRptCH.scala:641-667).
- ``cooccurrence_pairs`` bounds its self-join by deduplicating to
  distinct (set, item) first; the join key is the set id, so comparisons
  stay within one set's items and never go quadratic in the corpus.
- ``inverted_index`` is explode -> distinct -> one window shuffle; the
  posting sample is capped BEFORE any list materializes, so no executor
  ever holds an unbounded postings array.
- ``fuzzy_pairs`` blocks on (group, prefix) before the O(len^2)
  Levenshtein kernel runs, so the expensive comparator only sees
  same-block candidates — the classic blocking recipe for fuzzy dedup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

PPM = 1_000_000


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Long-format per-column audit: rows, nulls, exact distincts.

    One aggregation pass; the wide->long pivot happens on the single
    result row, not on data.
    """
    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"__nd_{c}"))
    wide = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col("__n").alias("n_rows"),
            F.col(f"__nn_{c}").alias("n_null"),
            F.col(f"__nd_{c}").alias("n_distinct"),
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def gini_concentration(df: DataFrame, group_col: str, key_col: str) -> DataFrame:
    """Per-group Gini impurity of the key distribution, exact integer ppm.

    gini_ppm = floor((N^2 - sum(c_k^2)) * 1e6 / N^2): 0 when one key owns
    the group, -> 1e6 as counts spread evenly. Pure integer arithmetic
    (Spark ``div`` / DuckDB ``//``) so the oracle hash-matches. The
    ppm numerator is widened to decimal(38,0): (N^2 - s2) * 1e6 passes
    int64 at only ~3e6 rows per group, far below the design point —
    decimal holds to ~1e16 rows (IntegralDivide still returns long).
    """
    counts = df.groupBy(group_col, key_col).agg(F.count(F.lit(1)).alias("c"))
    g = counts.groupBy(group_col).agg(
        F.sum("c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    return g.select(
        group_col,
        "n_rows",
        "n_keys",
        F.expr(
            "(CAST(n_rows AS DECIMAL(38,0)) * n_rows - s2) * 1000000"
            " div (CAST(n_rows AS DECIMAL(38,0)) * n_rows)"
        ).alias("gini_ppm"),
    )


def cooccurrence_pairs(df: DataFrame, set_col: str, item_col: str) -> DataFrame:
    """Item pairs co-occurring in the same set, with exact Jaccard ppm.

    Dedup to distinct (set, item) first, self-join on the set id with
    ``item_a < item_b`` to emit each unordered pair once, then join the
    per-item marginals back (broadcast: the item vocabulary is small
    relative to the fact table).
    """
    si = df.select(set_col, item_col).dropDuplicates()
    a = si.alias("a")
    b = si.alias("b")
    pairs = (
        a.join(b, on=set_col)
        .filter(F.col(f"a.{item_col}") < F.col(f"b.{item_col}"))
        .groupBy(
            F.col(f"a.{item_col}").alias("item_a"),
            F.col(f"b.{item_col}").alias("item_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    marg = si.groupBy(item_col).agg(F.count(F.lit(1)).alias("n_sets"))
    out = (
        pairs.join(
            F.broadcast(marg.select(F.col(item_col).alias("item_a"), F.col("n_sets").alias("n_a"))),
            "item_a",
        )
        .join(
            F.broadcast(marg.select(F.col(item_col).alias("item_b"), F.col("n_sets").alias("n_b"))),
            "item_b",
        )
    )
    return out.select(
        "item_a",
        "item_b",
        "n_both",
        "n_a",
        "n_b",
        # decimal widening: n_both * 1e6 wraps int64 at ~2^43 co-occurrences
        F.expr(
            "CAST(n_both AS DECIMAL(38,0)) * 1000000 div (n_a + n_b - n_both)"
        ).alias("jaccard_ppm"),
    )


def inverted_index(
    df: DataFrame,
    id_col: str,
    tokens_col: Column,
    min_df: int = 2,
    sample_k: int = 5,
) -> DataFrame:
    """Term -> (document frequency, first-k posting sample).

    The posting sample is taken with a row_number window (cap applied
    BEFORE aggregation), and the document frequency rides the same
    window's unbounded count — one shuffle on the term, and no
    collect_list ever exceeds ``sample_k`` elements.
    """
    postings = (
        df.select(F.col(id_col).alias("doc"), F.explode(tokens_col).alias("term"))
        .dropDuplicates(["term", "doc"])
    )
    w = Window.partitionBy("term").orderBy("doc")
    wall = Window.partitionBy("term")
    capped = (
        postings.withColumn("rn", F.row_number().over(w))
        .withColumn("df_cnt", F.count(F.lit(1)).over(wall))
        .filter(F.col("rn") <= sample_k)
    )
    return (
        capped.groupBy("term")
        .agg(
            F.max("df_cnt").alias("doc_freq"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc")), lambda x: x.cast("string")
                ),
                ",",
            ).alias("posting_sample"),
        )
        .filter(F.col("doc_freq") >= min_df)
    )


def weighted_sample(df: DataFrame, bucket: Column, weight_ppm: Column) -> DataFrame:
    """Deterministic weighted Bernoulli sample with Horvitz-Thompson
    weights: keep a row iff its hash bucket falls under its own inclusion
    probability (ppm), and attach ``ht_micro = 1e12 div p_ppm`` — the
    integer inverse-probability weight (micro-units) whose sum estimates
    the un-sampled population size. A pure filter + projection: no
    shuffle, fully pushed into the scan stage.
    """
    p = F.greatest(F.lit(1), F.least(F.lit(PPM), weight_ppm)).cast("long")
    return df.withColumn("__p_ppm", p).filter(bucket < F.col("__p_ppm")).withColumn(
        "ht_micro", F.expr(f"{PPM * PPM} div __p_ppm")
    )


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    prefix_len: int = 12,
    compare_len: int = 32,
    max_dist: int = 8,
) -> DataFrame:
    """Blocked edit-distance near-pairs: block on (group, text prefix),
    compare fixed-length prefixes with Levenshtein inside each block.

    The join key (group, block) keeps the quadratic comparator inside
    blocks; ``compare_len`` caps the DP cost per comparison at
    O(compare_len^2) regardless of document size.
    """
    t = df.select(
        F.col(id_col).alias("doc"),
        F.col(group_col).alias("grp"),
        F.substring(F.col(text_col), 1, prefix_len).alias("blk"),
        F.substring(F.col(text_col), 1, compare_len).alias("probe"),
    )
    a = t.alias("a")
    b = t.alias("b")
    return (
        a.join(b, on=["grp", "blk"])
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("grp").alias("lang"),
            F.levenshtein(F.col("a.probe"), F.col("b.probe")).alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= max_dist)
    )


def cusum_changepoints(
    df: DataFrame,
    series_col: str,
    order_col: str,
    x: Column | str,
    k_micro: int | Column,
    h_micro: int | Column,
) -> DataFrame:
    """One-sided CUSUM change detection (Page 1954) per series, exact
    integers: s_t = max(0, s_{t-1} + x_t*1e6 - k_micro), alarm when
    s_t > h_micro. k is the drift allowance (typically mean + slack),
    h the decision threshold.

    The recurrence looks inherently sequential, but it has the classic
    prefix-scan identity s_t = S_t - min(0, min_{j<=t} S_j) with
    S_t = sum_{i<=t}(x_i*1e6 - k) — so the distributed plan is ONE
    shuffle on the series key and two cumulative window aggregates
    (running sum, running min) over the same in-partition sort; no
    iteration, no state store. Any SQL engine replays it verbatim,
    which is what lets a sequential detector carry a value-hash oracle.

    Integer discipline: x is cast to long and scaled to micros before
    the sums; |S_t| <= n * max(x*1e6 + k) bounds int64 to ~9e12 rows
    per series at x ~ 1e6-scale — per-SERIES length, not corpus size.

    ``k_micro``/``h_micro`` may be Columns (e.g. a per-series mean
    joined in beforehand) — they must be constant WITHIN a series.
    Output: series_col, order_col, x, cusum_micro, alarm (0/1).
    """
    xv = (F.col(x) if isinstance(x, str) else x).cast("long")
    kc = (F.lit(k_micro) if isinstance(k_micro, int) else k_micro).cast("long")
    hc = (F.lit(h_micro) if isinstance(h_micro, int) else h_micro).cast("long")
    base = df.select(
        F.col(series_col).alias("g"),
        F.col(order_col).alias("t"),
        xv.alias("x"),
        kc.alias("__k"),
        hc.alias("__h"),
    )
    w = (
        Window.partitionBy("g")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stepped = base.withColumn(
        "srun", F.sum(F.col("x") * F.lit(PPM) - F.col("__k")).over(w)
    ).withColumn("smin", F.min("srun").over(w))
    cus = F.col("srun") - F.least(F.lit(0), F.col("smin"))
    return stepped.select(
        F.col("g").alias(series_col),
        F.col("t").alias(order_col),
        "x",
        cus.cast("long").alias("cusum_micro"),
        (cus > F.col("__h")).cast("int").alias("alarm"),
    )


def cusum_over_mean(
    counts: DataFrame,
    series_col: str,
    order_col: str,
    k_num: int,
    k_den: int,
    h_mult: int,
) -> DataFrame:
    """:func:`cusum_changepoints` over a (series, order, cnt) count
    frame with thresholds scaled from each series' own mean: drift
    allowance k = mean * k_num/k_den, alarm threshold h = mean * h_mult,
    the mean in exact micros (decimal-widened sum * 1e6 div count). The
    per-series means are one small aggregate broadcast back onto the
    counts.

    Shared by the batch query (queries/catalog_profiling.event_rate_cusum)
    and a streaming fold that keeps the counts additively across
    micro-batches (io.merge_additive on series and order): the scorer is
    a pure function of the folded counts, so batch and streaming agree
    once the same events have arrived — a late hour re-enters the prefix
    at its event-time position, and the means are recomputed from the
    folded state on every call."""
    means = counts.groupBy(series_col).agg(
        F.expr("CAST(sum(cnt) AS DECIMAL(38,0)) * 1000000 div count(*)")
        .cast("long")
        .alias("mean_micro")
    )
    return cusum_changepoints(
        counts.join(F.broadcast(means), series_col),
        series_col,
        order_col,
        F.col("cnt"),
        F.expr(f"mean_micro * {k_num} div {k_den}"),
        F.expr(f"mean_micro * {h_mult}"),
    )


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive: Column | str,
    k: int,
    l_min: int = 2,
) -> DataFrame:
    """Privacy audit over quasi-identifier equivalence classes
    (Sweeney 2002 k-anonymity; Machanavajjhala 2007 l-diversity): for
    each distinct quasi-identifier combination, the class size n, the
    number of distinct sensitive values l, and the two violation flags
    (n < k re-identifiable, l < l_min attribute-disclosable). A
    training-data pipeline runs this before releasing event-derived
    features (the same governance family as pii_redaction_report).

    One hash aggregate keyed by the quasi columns (count + exact
    count_distinct — Catalyst plans the distinct via Expand with
    map-side partials; the 100 TB path swaps approx_count_distinct).
    Output: *quasi_cols, n, l_distinct, under_k, under_l.
    """
    s = F.col(sensitive) if isinstance(sensitive, str) else sensitive
    agg = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(s).alias("l_distinct"),
    )
    return agg.select(
        *quasi_cols,
        F.col("n").cast("long").alias("n"),
        F.col("l_distinct").cast("long").alias("l_distinct"),
        (F.col("n") < k).cast("int").alias("under_k"),
        (F.col("l_distinct") < l_min).cast("int").alias("under_l"),
    )


def _disc_median(
    hist: DataFrame, part_cols: list[str], v: str = "v", cnt: str = "cnt"
) -> DataFrame:
    """Lo-median over a per-partition value histogram: the smallest
    value whose cumulative count reaches ceil(n/2). Discrete (no
    interpolation), so the result is exact integer arithmetic in any
    engine — the same portability trick as event_value_percentiles'
    ceil(q*n) element. Input: (*part_cols, v, cnt); output:
    (*part_cols, med, n). The window walks the HISTOGRAM (distinct
    values per partition), never the raw rows — the scale shape that
    keeps per-key medians off the row-sort path."""
    w_cum = (
        Window.partitionBy(*part_cols)
        .orderBy(v)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(*part_cols)
    c = hist.withColumn("__cum", F.sum(cnt).over(w_cum)).withColumn(
        "__n", F.sum(cnt).over(w_all)
    )
    half = F.ceil(F.col("__n").cast("double") / F.lit(2.0)).cast("long")
    return (
        c.groupBy(*part_cols)
        .agg(
            F.min(F.when(F.col("__cum") >= half, F.col(v))).alias("med"),
            F.max("__n").cast("long").alias("n"),
        )
    )


def mad_outliers(
    df: DataFrame, group_col: str, value_col: str, k: int = 3
) -> DataFrame:
    """Robust per-group outlier gate: median + MAD (median absolute
    deviation), flagging values with |x - med| > k * MAD. The
    z-score's robust sibling — a handful of 10 MB spam documents moves
    a mean/stddev gate but not this one (Leys 2013, the standard
    curation length-filter recipe).

    Scale shape: both medians run on (group, value) HISTOGRAMS (two
    map-side-combinable aggregates + windows over distinct values), so
    the cost scales with value cardinality per group, not row count.
    Integer-exact: values cast to long, the lo-median is an element of
    the input, and the deviation histogram is exact integer arithmetic
    — engine-replayable with no float boundary.

    Output: (group, n, med, mad, n_outliers), one row per group.
    """
    g, vv = group_col, F.col(value_col).cast("long")
    hist = df.groupBy(g, vv.alias("v")).agg(F.count(F.lit(1)).alias("cnt"))
    med = _disc_median(hist, [g])
    dev_hist = (
        hist.join(med.select(g, "med"), g)
        .groupBy(g, F.abs(F.col("v") - F.col("med")).alias("v"))
        .agg(F.sum("cnt").alias("cnt"))
    )
    mad = _disc_median(dev_hist, [g]).select(
        g, F.col("med").alias("mad")
    )
    out = (
        hist.join(med.select(g, "med"), g)
        .join(mad, g)
        .groupBy(g)
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("v") - F.col("med")) > F.lit(k) * F.col("mad"),
                    F.col("cnt"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_outliers")
        )
    )
    return (
        med.join(mad, g)
        .join(out, g)
        .select(g, "n", "med", "mad", "n_outliers")
    )


def ks_by_group(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic, each group vs the
    REST of the data: D = max over observed values of |CDF_g - CDF_rest|
    — the distribution-shape drift test PSI's fixed bins can miss
    (value_drift_psi is the binned sibling; KS reads the full empirical
    CDF). Reported in ppm with both CDFs quantized to ppm FIRST
    (floor(cum * 1e6 / n), nonneg integer div == DuckDB //), so the max
    is over exact integers — no float-comparison boundary between
    engines.

    Scale shape: one (group, value) histogram, one value-marginal
    histogram, then a groups x distinct-values grid (groups is tiny by
    assumption — it's the drift-report dimension) with two cumulative
    windows over distinct values. Row count never enters a window.

    Output: (group, n, ks_ppm, at_v) — at_v the smallest value where
    the max gap is attained (deterministic argmax tie-break).
    """
    g, vv = group_col, F.col(value_col).cast("long")
    hist = df.groupBy(g, vv.alias("v")).agg(F.count(F.lit(1)).alias("cnt"))
    groups = hist.groupBy(g).agg(F.sum("cnt").cast("long").alias("n_g"))
    vals = hist.select("v").distinct()
    vh = hist.groupBy("v").agg(F.sum("cnt").alias("call"))
    w_all = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum_all = vh.withColumn("cum_all", F.sum("call").over(w_all)).select(
        "v", "cum_all"
    )
    total = hist.agg(F.sum("cnt").cast("long").alias("n_tot"))
    grid = groups.crossJoin(vals)
    w_g = (
        Window.partitionBy(g)
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    j = (
        grid.join(hist, [g, "v"], "left")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
        .withColumn("cum_g", F.sum("cnt").over(w_g))
        .join(cum_all, "v")
        .crossJoin(total)
    )
    n_rest = F.col("n_tot") - F.col("n_g")
    d = j.withColumn(
        "d_ppm",
        F.abs(
            F.expr("cum_g * 1000000 div n_g")
            - F.when(
                n_rest > 0,
                F.expr("(cum_all - cum_g) * 1000000 div (n_tot - n_g)"),
            ).otherwise(F.lit(1_000_000)),
        ),
    ).withColumn("__mx", F.max("d_ppm").over(Window.partitionBy(g)))
    return (
        d.groupBy(g)
        .agg(
            F.max("n_g").cast("long").alias("n"),
            F.max("d_ppm").cast("long").alias("ks_ppm"),
            F.min(F.when(F.col("d_ppm") == F.col("__mx"), F.col("v"))).alias(
                "at_v"
            ),
        )
    )


def benford_profile(df: DataFrame, value_col: str) -> DataFrame:
    """First-significant-digit distribution over positive values >= 1
    (Benford profiling — the data-forensics screen for fabricated or
    unit-mangled numeric columns; Nigrini 2012). The digit is taken from
    the integer part's decimal string — pure string-of-int arithmetic,
    identical in any engine (no log10 float boundary).

    One map-side filter + 9-way hash aggregate; the share window runs
    over the 9-row digit table, never the data. Output:
    (digit, n, ppm) ordered by digit.
    """
    d1 = F.substring(
        F.floor(F.col(value_col)).cast("long").cast("string"), 1, 1
    )
    agg = (
        df.filter(F.col(value_col) >= 1)
        .groupBy(d1.cast("int").alias("digit"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        agg.withColumn("__tot", F.sum("n").over(w))
        .select(
            "digit",
            "n",
            F.expr("n * 1000000 div __tot").cast("long").alias("ppm"),
        )
        .orderBy("digit")
    )


def pareto_frontier(
    df: DataFrame, id_col: str, x_col: str, y_col: str
) -> DataFrame:
    """Skyline / Pareto-frontier (Borzsony 2001): the rows not dominated
    by any other row, where row A dominates B iff x_A >= x_B and
    y_A >= y_B with at least one strict (both maximized). The curation
    use: among candidate documents, the quality-vs-length frontier is
    the set no other doc beats on both axes.

    Scale shape: never O(n^2) dominance tests — collapse to the
    per-distinct-x maximum y (hash aggregate), then one window over the
    DISTINCT-x table computes hi(x) = max y among strictly greater x
    (running max shifted by one row); a row is on the frontier iff
    y == ymax(x) and y > hi(x). The single-partition window runs over
    distinct x values only (quality scores are ppm-quantized, so the
    distinct count is bounded), not rows.

    Output: (id, x, y) frontier members, ordered x desc then id.
    """
    byx = df.groupBy(F.col(x_col).alias("x")).agg(
        F.max(F.col(y_col)).alias("ymax")
    )
    w = Window.orderBy(F.desc("x")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    hix = byx.withColumn("hi", F.max("ymax").over(w))
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.col(x_col).alias("x"),
            F.col(y_col).alias("y"),
        )
        .join(hix, "x")
        .filter(
            (F.col("y") == F.col("ymax"))
            & (F.col("hi").isNull() | (F.col("y") > F.col("hi")))
        )
        .select("id", "x", "y")
        .orderBy(F.desc("x"), "id")
    )


def winsorized_stats(
    df: DataFrame, group_col: str, value_col: str, tail_pct: int = 5
) -> DataFrame:
    """Per-group winsorized mean: clamp values to the discrete
    [p_tail, p_(100-tail)] cutpoints (ceil(q*n)-th ordered elements,
    integer-exact) and average the clamped distribution — the
    robust-mean sibling of mad_outliers (clip the tails instead of
    flagging them; Tukey's winsorizing, the standard way to report a
    mean length/score that a handful of spam monsters cannot drag).

    Computed entirely on the (group, value) histogram: two cutpoint
    picks from one cumulative window, then one clamp-and-sum over the
    histogram rows. mean in exact integer micros.

    Output: (group, n, p_lo, p_hi, wmean_micro).
    """
    g, vv = group_col, F.col(value_col).cast("long")
    hist = df.groupBy(g, vv.alias("v")).agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = (
        Window.partitionBy(g)
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(g)
    c = hist.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "n", F.sum("cnt").over(w_all)
    )
    lo_t = F.expr(f"({tail_pct} * n + 99) div 100")
    hi_t = F.expr(f"({100 - tail_pct} * n + 99) div 100")
    cuts = c.groupBy(g).agg(
        F.min(F.when(F.col("cum") >= lo_t, F.col("v"))).alias("p_lo"),
        F.min(F.when(F.col("cum") >= hi_t, F.col("v"))).alias("p_hi"),
        F.max("n").cast("long").alias("n"),
    )
    clamped = hist.join(cuts, g).withColumn(
        "cv", F.least(F.greatest(F.col("v"), F.col("p_lo")), F.col("p_hi"))
    )
    return (
        clamped.groupBy(g)
        .agg(
            F.max("n").cast("long").alias("n"),
            F.max("p_lo").alias("p_lo"),
            F.max("p_hi").alias("p_hi"),
            F.expr(
                "CAST(sum(cv * cnt) AS DECIMAL(38,0)) * 1000000 div max(n)"
            )
            .cast("long")
            .alias("wmean_micro"),
        )
        .select(g, "n", "p_lo", "p_hi", "wmean_micro")
    )


def weighted_median_by_group(
    df: DataFrame, group_col: str, value_col: str, weight_col: Column | str
) -> DataFrame:
    """Exact weighted lo-median per group: the smallest value whose
    cumulative weight reaches half the group's total (2*cum >= total —
    pure integer test, no interpolation, engine-portable like
    _disc_median). The window walks the per-group value HISTOGRAM
    (weights pre-summed per distinct value), so cost scales with
    distinct values per group, not rows — the same scale shape as the
    other order statistics here. The pipeline use: a token-weighted
    median document length is the robust center a few giant documents
    cannot drag, where the unweighted median underweights the corpus
    mass that long docs actually contribute to training."""
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    hist = (
        df.select(
            F.col(group_col).alias("g"),
            F.col(value_col).cast("long").alias("v"),
            w.cast("long").alias("__w"),
        )
        .groupBy("g", "v")
        .agg(F.sum("__w").alias("cnt"))
    )
    w_cum = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = hist.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "total", F.sum("cnt").over(Window.partitionBy("g"))
    )
    return (
        c.groupBy("g")
        .agg(
            F.max("total").cast("long").alias("total_weight"),
            F.min(
                F.when(F.col("cum") * 2 >= F.col("total"), F.col("v"))
            ).alias("w_median"),
        )
        .select(F.col("g").alias(group_col), "total_weight", "w_median")
    )


def ewma_smooth(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    bucket_seconds: int = 3600,
    half_life_buckets: int = 1,
    window_buckets: int = 8,
) -> DataFrame:
    """Gap-aware exponentially-weighted moving average of event counts
    per (key, time bucket) with EXACT dyadic arithmetic: weight for a
    count ``age`` buckets old is ``2^(window-1-age)`` (half-life = one
    bucket), so the smoothed value is a pure integer sum — no float
    recurrence, replayable on any engine. Missing buckets contribute
    zero exactly as an EWMA over a gapped series should (the sequential
    fold formulation silently skips gaps; this one doesn't).

    Plan shape: the O(n) contribution expansion — each bucket count
    emits ``window_buckets`` weighted contributions to its future
    buckets (one in-row sequence explode), then ONE groupBy on (key,
    target bucket) sums them. No self-join, no window sort over raw
    events, linear in distinct buckets: the standard trick for turning
    a sliding weighted window into a map-side-combinable aggregation,
    which is what survives at 100 TB where a per-key ordered window
    would sort the fact table. ``ewma_milli`` = scaled * 1000 //
    (2^window - 1), the zero-padded-history normalization.
    """
    if half_life_buckets != 1:
        raise ValueError("dyadic kernel implemented for half_life=1 bucket")
    counts = (
        df.select(
            F.col(key_col).alias("k"),
            # floor, not cast-truncation: cast-to-long truncates toward
            # zero, which diverges from the oracle's integer floor
            # division for pre-1970 (negative-epoch) timestamps
            F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(bucket_seconds))
            .cast("long")
            .alias("b"),
        )
        .groupBy("k", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return ewma_from_counts(counts, window_buckets).select(
        F.col("k").alias(key_col), "bucket", "cnt", "ewma_scaled", "ewma_milli"
    )


def ewma_from_counts(counts: DataFrame, window_buckets: int = 8) -> DataFrame:
    """The EWMA scorer over a (k, b, cnt) bucket-count frame — split out
    of :func:`ewma_smooth` so the STREAMING path can fold bucket counts
    additively across micro-batches (io.merge_additive on keys k, b)
    and score the folded state with the identical
    arithmetic: counts are additive, the contribution expansion is
    linear in the counts, so batch ≡ streaming once the same events
    have arrived (parity test in tests/test_streaming.py)."""
    wlen = int(window_buckets)
    denom = (1 << wlen) - 1
    contrib = counts.select(
        "k",
        "cnt",
        F.col("b").alias("src"),
        F.explode(F.sequence(F.lit(0), F.lit(wlen - 1))).alias("age"),
    ).select(
        "k",
        (F.col("src") + F.col("age")).alias("b"),
        # dyadic weight 2^(window-1-age); shiftleft with a column shift
        # count is SQL-only, hence the expr
        (F.col("cnt") * F.expr(f"shiftleft(1L, cast({wlen - 1} - age AS INT))")).alias("w"),
    )
    scaled = contrib.groupBy("k", "b").agg(F.sum("w").alias("ewma_scaled"))
    return (
        counts.join(scaled, ["k", "b"])
        .select(
            "k",
            F.col("b").alias("bucket"),
            F.col("cnt").cast("long").alias("cnt"),
            F.col("ewma_scaled").cast("long").alias("ewma_scaled"),
            F.expr(f"(ewma_scaled * 1000) div {denom}").cast("long").alias("ewma_milli"),
        )
    )


def quantile_match_calibrate(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    ref_group: str,
) -> DataFrame:
    """Cross-source score calibration by quantile matching: each row's
    value is mapped to the REFERENCE group's value at the same
    within-group percentile (the inverse-CDF lookup that makes quality
    scores comparable across heterogeneous sources before a global
    threshold gate — a per-source threshold in disguise, but expressed
    as one portable transform).

    Percentiles are mid-rank-free integer ppm (rank * 1e6 // n, ranks
    total-ordered by (value, id)); the calibrated value is the smallest
    reference value whose cumulative ppm reaches the row's percentile —
    exact integer arithmetic end to end.

    Scale: the reference CDF compresses to its distinct values (bounded
    by the value domain, not corpus size; quantize the value first if
    it's continuous), so the lookup is a broadcast join of the fact
    rows against a small sorted CDF — no shuffle of the big side.
    """
    ranked = df.select(
        F.col(group_col).alias("g"),
        F.col(id_col).alias("id"),
        F.col(value_col).cast("long").alias("v"),
    ).withColumn(
        "pct_ppm",
        # rank must be widened BEFORE the ppm multiply: row_number() is
        # int32 and rank*1e6 overflows past ~2147 rows per group — found
        # by the 16x scale sweep (sf0.1's 250-row groups never trip it)
        F.expr(
            "(CAST(row_number() OVER (PARTITION BY g ORDER BY v, id) AS BIGINT)"
            " * 1000000) div (count(*) OVER (PARTITION BY g))"
        ).cast("long"),
    )
    ref_cdf = (
        ranked.filter(F.col("g") == ref_group)
        .groupBy("v")
        .agg(F.max("pct_ppm").alias("cum_ppm"))
        .select(F.col("v").alias("ref_v"), "cum_ppm")
    )
    # smallest reference value at-or-above the row's percentile; the
    # reference's own max cum_ppm is exactly 1e6, so a match always
    # exists. Broadcast CDF -> the fact side never shuffles.
    return (
        ranked.join(
            F.broadcast(ref_cdf), F.col("cum_ppm") >= F.col("pct_ppm")
        )
        .groupBy("g", "id", "v", "pct_ppm")
        .agg(F.min("ref_v").alias("calibrated"))
        .select(
            F.col("id").alias(id_col),
            F.col("g").alias(group_col),
            F.col("v").alias(value_col),
            "pct_ppm",
            "calibrated",
        )
    )


def abc_classification(
    df: DataFrame,
    key_col: str,
    value_col: Column | str,
    a_ppm: int = 800_000,
    b_ppm: int = 950_000,
) -> DataFrame:
    """Pareto / ABC inventory classification: aggregate value to the
    key grain, rank keys by value (desc, key-asc ties), and class each
    by its CUMULATIVE share — A up to ``a_ppm`` (default 80%), B to
    ``b_ppm`` (95%), C the tail. The classic curation/ops cut: class A
    is the handful of sources/customers carrying most of the mass.

    A key is classed by the cumulative share INCLUDING itself, so the
    boundary key that crosses 80% is the first B — exact integer test
    (cum * 1e6 vs ppm * total), no float shares anywhere. The rank
    window runs at key grain (post-aggregate), never on raw rows.
    Output: one row per class with member count, value sum, and exact
    share ppm."""
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    per_key = df.groupBy(F.col(key_col).alias("key")).agg(
        F.sum(v).cast("long").alias("val")
    )
    w_cum = Window.orderBy(F.desc("val"), F.asc("key")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = per_key.withColumn("cum", F.sum("val").over(w_cum)).withColumn(
        "total", F.sum("val").over(Window.partitionBy())
    )
    # decimal(38,0) widening on the class test and the share: cum * 1e6
    # wraps int64 once total value mass passes ~9e12 (DuckDB's windowed
    # sum is already HUGEINT; Spark's stays long without the cast)
    classed = c.withColumn(
        "abc_class",
        F.when(
            F.expr(
                f"CAST(cum AS DECIMAL(38,0)) * 1000000"
                f" <= {a_ppm} * CAST(total AS DECIMAL(38,0))"
            ),
            "A",
        )
        .when(
            F.expr(
                f"CAST(cum AS DECIMAL(38,0)) * 1000000"
                f" <= {b_ppm} * CAST(total AS DECIMAL(38,0))"
            ),
            "B",
        )
        .otherwise("C"),
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("val").cast("long").alias("value_sum"),
        )
        .withColumn(
            "share_ppm",
            F.expr(
                "(CAST(value_sum AS DECIMAL(38,0)) * 1000000)"
                " div (sum(value_sum) OVER ())"
            ).cast("long"),
        )
        .orderBy("abc_class")
    )

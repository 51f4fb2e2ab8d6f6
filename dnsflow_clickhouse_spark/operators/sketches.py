"""Deterministic mergeable sketches (engine extension): HyperLogLog
distinct-count registers, a Count-Min frequency sketch, and a Bloom
membership filter.

Why deterministic: the standard implementations (Spark's
``approx_count_distinct``, DataSketches) are engine-specific — no
external oracle can replay them. Both sketches here are pure functions
of the data through the portable polynomial hash
(functions.textfn.poly_hash, replayed by the DuckDB oracles), so a
sketch built by any engine — or merged across any partitioning of the
data — is bit-identical.

Why sketches at 100 TB: both are *algebraic* aggregates with tiny fixed
state, so Spark runs them as map-side partial aggregates — the shuffle
carries at most (keys x m) register rows / (depth x width) counters, not
the data. Registers merge by ``max`` and counters by ``sum``, which is
what incremental/streaming rollups need: yesterday's sketch plus today's
sketch is one cheap union+re-aggregate, with no re-scan of history
(ClickHouse ships the same idea as the AggregateFunction(uniq, ...)
state columns the reference's tables could use; SURVEY §2.5).

Streaming folds merge each micro-batch's sketch into the running state,
the first batch being the state. The max (HLL), bit_or (Bloom) and
keep-k (KMV) merges are replay-idempotent: a re-delivered batch changes
nothing. Summed counters (Count-Min, quantile buckets) re-add, so a
pipeline that retries pairs them with the batch-id-keyed sink
(io.write_report_idempotent).

HLL shape (m = 64 registers, 6-bit bucket / 24-bit rank field carved
from the ~30-bit polynomial hash):

    register = hash % 64
    rank     = leading-zero count of (hash // 64) in a 24-bit field + 1
             = 25 - bitlength(hash // 64)        (25 for the zero word)

The estimate is the raw harmonic-mean HLL formula (alpha_64 = 0.709).
The small-cardinality linear-counting correction is deliberately
omitted: it needs ln(), which is not guaranteed correctly rounded across
engines; the raw formula is all exact-dyadic sums plus one IEEE divide,
so every engine computes the identical double. Expect the documented
HLL overestimation bias below ~2.5*m distincts.

Count-Min shape: ``depth`` independent rows of ``width`` counters; the
estimate for an item is the min of its counters, an upper bound on the
true count (collisions only ever inflate). Integer-only — exact
cross-engine parity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dnsflow_clickhouse_spark.functions.textfn import POLY_MOD, poly_hash
from dnsflow_clickhouse_spark.operators.sampling import MIX_MULT

HLL_M = 64  # registers; bucket takes 6 bits, rank field the next 24
_HLL_MAX_RANK = 25  # (POLY_MOD // HLL_M) < 2^24, so ranks are 1..25
HLL_ALPHA = 0.709  # standard alpha_64 constant


def _mixed_hash(item: Column, seed: int = 0) -> Column:
    """Portable uniform hash in [0, POLY_MOD): polynomial fold of the
    item's string form, multiplicatively mixed (short strings otherwise
    land in the low registers only)."""
    h = poly_hash(item.cast("string"), seed=seed)
    return (h * F.lit(MIX_MULT)) % F.lit(POLY_MOD)


def hll_rank(hash_col: Column, m: int = HLL_M) -> Column:
    """Position of the highest set bit in the rank field, counted from
    the top (+1), via decimal->binary string length — exact integer
    bit math in any engine (no log2 float edge cases)."""
    w = hash_col - (hash_col % F.lit(m))  # == (h // m) * m, avoids div
    w = (w / F.lit(m)).cast("long")
    bitlen = F.length(F.conv(w.cast("string"), 10, 2))
    return F.when(w == 0, F.lit(_HLL_MAX_RANK)).otherwise(
        F.lit(_HLL_MAX_RANK) - bitlen
    )


def hll_registers(
    df: DataFrame,
    key_cols: list[str],
    item_col: str,
    m: int = HLL_M,
    seed: int = 0,
) -> DataFrame:
    """Per-key HLL register table: (*key_cols, reg, reg_rank).

    This IS the sketch state: at most ``m`` rows per key regardless of
    data volume, built by one hash aggregate (map-side combinable).
    Sketches over different slices of the data merge losslessly with
    :func:`hll_merge` — max is associative/commutative/idempotent.
    """
    h = _mixed_hash(F.col(item_col), seed)
    return (
        df.select(*key_cols, h.alias("__h"))
        .withColumn("reg", F.col("__h") % F.lit(m))
        .withColumn("__rank", hll_rank(F.col("__h"), m))
        .groupBy(*key_cols, "reg")
        .agg(F.max("__rank").alias("reg_rank"))
    )


def hll_merge(regs: DataFrame, key_cols: list[str]) -> DataFrame:
    """Merge register tables (built over any partitioning of the data,
    e.g. one per day) down to ``key_cols``: union the inputs first, then
    one max per (key, reg)."""
    return regs.groupBy(*key_cols, "reg").agg(
        F.max("reg_rank").alias("reg_rank")
    )


def hll_estimate(
    regs: DataFrame, key_cols: list[str], m: int = HLL_M
) -> DataFrame:
    """Harmonic-mean estimate per key from a register table:
    alpha * m^2 / (absent_registers + sum(2^-rank)).

    Every 2^-rank term is an exact dyadic double and the per-key sum
    stays under 53 significand bits, so the sum — and therefore the
    rounded estimate — is bit-identical in any IEEE engine regardless
    of aggregation order."""
    # 2^-rank as an exact integer shift (the python shiftleft() wrapper
    # only takes a literal bit count; the SQL form takes expressions)
    inv = F.lit(1.0) / F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(reg_rank AS INT))"
    )
    return (
        regs.groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("__present"),
            F.sum(inv).alias("__sum_pow"),
        )
        .select(
            *key_cols,
            F.col("__present").alias("regs_hit"),
            F.round(
                F.lit(HLL_ALPHA * m * m)
                / (F.lit(m) - F.col("__present") + F.col("__sum_pow"))
            )
            .cast("long")
            .alias("est_distinct"),
        )
    )


# ---------------------------------------------------------------------------
# Count-Min sketch
# ---------------------------------------------------------------------------

CMS_DEPTH = 3
CMS_WIDTH = 1024


BLOOM_BITS = 1024  # 32 words x 32 bits
BLOOM_WORD_BITS = 32  # 32-bit words stored in longs: no sign-bit games,
#                       `1 << 31` stays positive in every engine
BLOOM_K = 4  # hash functions


def bloom_build(
    df: DataFrame,
    item_col: str,
    k: int = BLOOM_K,
    bits: int = BLOOM_BITS,
) -> DataFrame:
    """Deterministic Bloom filter over ``item_col``: returns the bitmap
    as (word_idx, word) rows — ``bits // 32`` rows total, engine-portable
    (the k bit positions come from the seeded portable hash, the words
    from a ``bit_or`` aggregate).

    Why a Bloom filter at 100 TB: membership gating (decontamination,
    incremental-ingest dedup, CDC anti-joins) wants "is this item in the
    reference set?" WITHOUT shuffling the fact table against the
    reference set. The filter is a few KB regardless of reference-set
    size modulo FP tuning, broadcasts for free, and the probe is a
    map-side expression + one tiny broadcast join — no fact shuffle.
    False positives are possible (bounded by the standard (1-e^{-kn/m})^k
    curve), false negatives are not; a deterministic build means the FP
    set itself is replayable by the oracle.

    Like the HLL registers and CMS counters, the bitmap is mergeable:
    union + ``bit_or`` re-aggregate folds any partitioning of the build
    data (or yesterday's filter plus today's) into the identical filter.
    """
    item = F.col(item_col)
    probes = F.array(
        *[
            (_mixed_hash(item, seed=r + 1) % F.lit(bits)).alias(f"p{r}")
            for r in range(k)
        ]
    )
    return (
        df.select(F.explode(probes).alias("pos"))
        .select(
            (F.col("pos") / F.lit(BLOOM_WORD_BITS)).cast("int").alias("word_idx"),
            F.expr(f"shiftleft(1L, cast(pos % {BLOOM_WORD_BITS} as int))").alias(
                "mask"
            ),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )


def bloom_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Fold two Bloom bitmaps built with the same (k, bits) into one:
    union + bit_or — identical to building over the union of the data."""
    return (
        a.unionByName(b).groupBy("word_idx").agg(F.bit_or("word").alias("word"))
    )


def bloom_probe(
    bloom: DataFrame,
    items: DataFrame,
    item_col: str,
    k: int = BLOOM_K,
    bits: int = BLOOM_BITS,
    flag_col: str = "maybe_present",
) -> DataFrame:
    """Probe the filter for every row of ``items``: appends ``flag_col``
    (int 1/0) — 1 iff ALL k probed bits are set (possible member; false
    positives allowed, false negatives impossible). The bitmap is always
    broadcast; the probe itself is map-side bit math, so the items side
    never shuffles."""
    item = F.col(item_col)
    probes = F.array(
        *[
            (_mixed_hash(item, seed=r + 1) % F.lit(bits)).alias(f"p{r}")
            for r in range(k)
        ]
    )
    probed = items.select(
        "*", F.explode(probes).alias("pos")
    ).select(
        "*",
        (F.col("pos") / F.lit(BLOOM_WORD_BITS)).cast("int").alias("word_idx"),
        F.expr(f"shiftleft(1L, cast(pos % {BLOOM_WORD_BITS} as int))").alias(
            "mask"
        ),
    )
    hit = (
        F.coalesce(F.col("word"), F.lit(0)).bitwiseAND(F.col("mask"))
        == F.col("mask")
    ).cast("int")
    keys = [c for c in items.columns]
    return (
        probed.join(F.broadcast(bloom), "word_idx", "left")
        .withColumn("__hit", hit)
        .groupBy(*keys)
        .agg(F.min("__hit").alias(flag_col))
    )


def cms_sketch(
    df: DataFrame,
    item_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    weight_col: str | None = None,
) -> DataFrame:
    """Count-Min sketch table (row, bucket, cnt): ``depth`` independent
    hash rows (seeded polynomial hashes) over ``width`` counters.

    depth*width rows total — one explode (x depth, constant fan-out)
    into one hash aggregate. Sketches over data slices merge by summing
    counters; counts may be weighted (weight_col) for byte/token
    accounting."""
    w = F.col(weight_col) if weight_col else F.lit(1)
    rows = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                (_mixed_hash(F.col(item_col), seed=r + 1) % F.lit(width)).alias(
                    "bucket"
                ),
            )
            for r in range(depth)
        ]
    )
    return (
        df.select(F.explode(rows).alias("rb"), w.alias("__w"))
        .groupBy(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .agg(F.sum("__w").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    items: DataFrame,
    item_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Point-query the sketch for each row of ``items``: the min over
    the item's ``depth`` counters, an upper bound on its true count.
    The sketch is depth*width rows — always broadcast.

    LEFT join + coalesce-to-0: an item absent from the sketched data
    has (row, bucket) cells that never received a counter; an inner
    join would silently drop it (and a partial match would min over
    fewer than ``depth`` counters, breaking the upper-bound contract).
    Missing cells count 0, so unseen items report est_count = 0."""
    probes = items.select(
        item_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        (
                            _mixed_hash(F.col(item_col), seed=r + 1)
                            % F.lit(width)
                        ).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rb"),
    ).select(item_col, F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy(item_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
    )


# ---------------------------------------------------------------------------
# Quantile histogram sketch (HDR-histogram bucketing)
# ---------------------------------------------------------------------------

QH_SUB_BITS = 5  # 2^5 linear sub-buckets per octave -> relative error <= 1/32


def qh_bucket(v: Column, sub_bits: int = QH_SUB_BITS) -> Column:
    """HDR-histogram bucket id for a non-negative long: exact for values
    below ``2^(sub_bits+1)``, then ``2^sub_bits`` linear sub-buckets per
    binary octave — so the bucket lower bound is within a factor of
    ``1 + 2^-sub_bits`` of the true value. Pure integer bit math (the
    bit length comes from the decimal->binary string trick hll_rank
    uses), so any engine computes the identical id:

        shift = max(0, bitlength(v) - sub_bits - 1)
        id    = (shift << sub_bits) + (v >> shift)

    Monotone in v and contiguous across octave boundaries.
    """
    bitlen = F.when(v == 0, F.lit(0)).otherwise(
        F.length(F.conv(v.cast("string"), 10, 2))
    )
    shift = F.greatest(bitlen - F.lit(sub_bits + 1), F.lit(0)).cast("int")
    # SQL shiftleft/shiftright take expression shift counts (the Python
    # wrappers insist on int literals, hence call_function)
    return F.shiftleft(shift.cast("long"), sub_bits) + F.call_function(
        "shiftright", v, shift
    )


def qh_bucket_floor(bucket_id: Column, sub_bits: int = QH_SUB_BITS) -> Column:
    """Exact lower bound of a bucket — the sketch's answer value:
    ids below ``2^(sub_bits+1)`` are exact (floor == id); above,
    ``shift = (id >> sub_bits) - 1`` and ``floor = sub << shift`` with
    ``sub = id - (shift << sub_bits)``. Integer-only."""
    shift = (F.shiftright(bucket_id, sub_bits) - F.lit(1)).cast("int")
    sub = bucket_id - F.shiftleft(shift.cast("long"), sub_bits)
    return F.when(bucket_id < F.lit(1 << (sub_bits + 1)), bucket_id).otherwise(
        F.call_function("shiftleft", sub, shift)
    )


def qh_sketch(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    sub_bits: int = QH_SUB_BITS,
) -> DataFrame:
    """Per-key quantile-histogram state: (*key_cols, bucket_id, cnt).

    Like the HLL registers / CMS counters / Bloom words, this is an
    ALGEBRAIC aggregate: one map-side-combinable groupBy builds it, the
    shuffle carries at most (keys x occupied buckets) rows (a few dozen
    per key — bucket count grows with log(max_value), not data volume),
    and states built over any partitioning of the data merge losslessly
    with :func:`qh_merge` (cnt sums). Negative values are rejected by
    contract (curation metrics are counts/micro-units, always >= 0).
    """
    b = qh_bucket(F.col(value_col).cast("long"), sub_bits)
    return (
        df.select(*key_cols, b.alias("bucket_id"))
        .groupBy(*key_cols, "bucket_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def qh_merge(states: DataFrame, key_cols: list[str]) -> DataFrame:
    """Fold sketch states (e.g. one per day) down to ``key_cols``:
    union first, then one sum per (key, bucket) — identical to building
    over the unioned data."""
    return states.groupBy(*key_cols, "bucket_id").agg(
        F.sum("cnt").alias("cnt")
    )


def qh_quantiles(
    state: DataFrame,
    key_cols: list[str],
    quantiles_ppm: list[int],
    sub_bits: int = QH_SUB_BITS,
) -> DataFrame:
    """Answer quantile queries from the sketch state: for each key and
    each q (in ppm), the LOWER BOUND of the bucket holding the rank-
    ``ceil(q * n / 1e6)`` value — within relative ``2^-sub_bits`` of the
    exact quantile, rank arithmetic all-integer so every engine picks
    the identical bucket.

    One window per key over the occupied buckets (dozens of rows — the
    state, not the data), then a min per (key, q).
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*key_cols)
        .orderBy("bucket_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    n = Window.partitionBy(*key_cols)
    cum = state.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(n)
    )
    qs = F.explode(
        F.array(*[F.lit(q).alias(f"q{q}") for q in quantiles_ppm])
    ).alias("q_ppm")
    # rank = ceil(q_ppm * n / 1e6), integer-exact
    ranked = cum.select(*key_cols, "bucket_id", "cum", "n", qs).withColumn(
        "rank", ((F.col("q_ppm") * F.col("n") + F.lit(999_999)) / F.lit(1_000_000)).cast("long")
    )
    hit = ranked.filter(F.col("cum") >= F.col("rank"))
    return (
        hit.groupBy(*key_cols, "q_ppm")
        .agg(F.min("bucket_id").alias("bucket_id"))
        .select(
            *key_cols,
            "q_ppm",
            qh_bucket_floor(F.col("bucket_id"), sub_bits)
            .cast("long")
            .alias("value_floor"),
        )
    )


# ---------------------------------------------------------------------------
# KMV / theta sketch (distinct counts AND distinct-set intersection)
# ---------------------------------------------------------------------------

KMV_K = 256  # retained minimum hash values per key
KMV_BANDS = 64  # first-stage top-k fan-out (see kmv_sketch)


def kmv_sketch(
    df: DataFrame,
    key_cols: list[str],
    item_col: str,
    k: int = KMV_K,
    seed: int = 0,
    bands: int = KMV_BANDS,
) -> DataFrame:
    """Per-key KMV (k-minimum-values / theta) sketch: the ``k`` smallest
    DISTINCT portable hashes of ``item_col`` — (*key_cols, hv) rows,
    at most ``k`` per key.

    Why a fourth sketch: HLL answers "how many distinct" but its
    registers cannot be intersected; the KMV state is an actual uniform
    sample of the distinct-hash space below a threshold theta, so two
    sketches support SET operations — distinct intersection / union /
    Jaccard between corpora (train-vs-benchmark contamination at the
    distinct-item level) without ever joining the corpora themselves.

    Build shape for 100 TB: one map-side-combinable distinct aggregate
    (the only pass over the data), then top-k in two stages — k smallest
    per (key, hv % bands) band, then k smallest of the ≤ bands*k
    survivors. The second window sorts a bounded frame; the first gets
    ``bands``-way parallelism per key, so a single hot key cannot pin
    the sort on one task. The result is independent of ``bands``.

    Like the other sketch states the rows are mergeable: sketches built
    over any partitioning of the data fold losslessly via
    :func:`kmv_merge` (union -> k smallest survive).
    """
    from pyspark.sql import Window

    h = _mixed_hash(F.col(item_col), seed)
    hashed = df.select(*key_cols, h.alias("hv")).distinct()
    band_w = Window.partitionBy(*key_cols, F.col("hv") % F.lit(bands)).orderBy(
        "hv"
    )
    stage1 = (
        hashed.withColumn("__r", F.row_number().over(band_w))
        .filter(F.col("__r") <= k)
        .drop("__r")
    )
    key_w = Window.partitionBy(*key_cols).orderBy("hv")
    return (
        stage1.withColumn("__r", F.row_number().over(key_w))
        .filter(F.col("__r") <= k)
        .drop("__r")
    )


def kmv_merge(
    a: DataFrame, b: DataFrame, key_cols: list[str], k: int = KMV_K
) -> DataFrame:
    """Fold two KMV states with the same (k, seed) into one — identical
    to building over the unioned data: union, re-distinct (a hash seen
    by both sides collapses), keep the k smallest per key."""
    from pyspark.sql import Window

    merged = a.unionByName(b).distinct()
    w = Window.partitionBy(*key_cols).orderBy("hv")
    return (
        merged.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .drop("__r")
    )


def kmv_estimate(
    sketch: DataFrame, key_cols: list[str], k: int = KMV_K
) -> DataFrame:
    """Distinct-count estimate per key: with n = stored hashes and
    theta = the k-th smallest hash, ``est = (k-1) * M div theta`` —
    the standard unbiased KMV estimator, integer-exact (one bigint
    multiply + integer divide, identical in every engine). A key with
    fewer than k distinct items stores ALL its hashes, so the sketch is
    EXACT there: est = n."""
    return (
        sketch.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n_kept"), F.max("hv").alias("theta"))
        .select(
            *key_cols,
            "n_kept",
            F.when(F.col("n_kept") < k, F.col("n_kept"))
            .otherwise(
                F.expr(f"CAST({k - 1} AS BIGINT) * {POLY_MOD} div theta")
            )
            .alias("est_distinct"),
        )
    )


def kmv_set_estimates(
    a: DataFrame, b: DataFrame, k: int = KMV_K
) -> DataFrame:
    """Theta-sketch set algebra over two single-key KMV states (columns:
    just ``hv``): one row with distinct-intersection / union / Jaccard
    estimates.

    theta = min of the two sketches' thresholds (a sketch with < k
    hashes is exhaustive -> its threshold is M). Every stored hash
    below theta is a uniform sample of the combined distinct space, so

        est_inter = |{hv in A and B : hv < theta}| * M div theta
        est_union = |{hv in A or  B : hv < theta}| * M div theta

    and jaccard_est_ppm = inter_below * 1e6 div union_below (the M/theta
    scaling cancels). Both sketches are tiny (<= k rows) — the joins
    below are broadcast; nothing here touches the original data."""
    ta = a.agg(
        F.count(F.lit(1)).alias("n"), F.max("hv").alias("mx")
    ).select(
        F.when(F.col("n") < k, F.lit(POLY_MOD)).otherwise(F.col("mx")).alias(
            "theta_a"
        )
    )
    tb = b.agg(
        F.count(F.lit(1)).alias("n"), F.max("hv").alias("mx")
    ).select(
        F.when(F.col("n") < k, F.lit(POLY_MOD)).otherwise(F.col("mx")).alias(
            "theta_b"
        )
    )
    theta = ta.crossJoin(tb).select(
        F.least("theta_a", "theta_b").alias("theta")
    )
    tagged = (
        a.select("hv", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
        .unionByName(b.select("hv", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")))
        .groupBy("hv")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    below = tagged.crossJoin(F.broadcast(theta)).filter(F.col("hv") < F.col("theta"))
    return below.groupBy("theta").agg(
        F.sum(F.col("in_a") * F.col("in_b")).alias("inter_below"),
        F.count(F.lit(1)).alias("union_below"),
    ).select(
        F.expr(f"inter_below * {POLY_MOD} div theta").alias("est_inter"),
        F.expr(f"union_below * {POLY_MOD} div theta").alias("est_union"),
        F.expr("CASE WHEN union_below = 0 THEN 0 ELSE inter_below * 1000000 div union_below END").alias(
            "jaccard_est_ppm"
        ),
    )

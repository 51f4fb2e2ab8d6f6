from __future__ import annotations

from pyspark.sql import functions as F

from dnsflow_clickhouse_spark.operators.sketches import (
    cms_estimate,
    cms_sketch,
    hll_estimate,
    hll_merge,
    hll_registers,
)


def _items(spark, n=400, dups=3):
    # n distinct string-ish ids, each appearing `dups` times, two groups
    rows = [(i % 2, f"item-{i}") for i in range(n) for _ in range(dups)]
    return spark.createDataFrame(rows, "grp int, item string")


def test_hll_estimate_accuracy_and_exact_dyadic_determinism(spark):
    # 1000 distinct per group: n/m ~ 16, well past the raw estimator's
    # small-cardinality bias regime (the documented trade in sketches.py
    # for skipping the ln()-based LinearCounting correction)
    df = _items(spark, n=2000, dups=2)
    regs = hll_registers(df, ["grp"], "item")
    est = {r.grp: r.est_distinct for r in hll_estimate(regs, ["grp"]).collect()}
    for g in (0, 1):
        assert 750 <= est[g] <= 1250, est
    # determinism: a different physical partitioning must yield the
    # identical estimate (sum of exact dyadic terms — order-free)
    est2 = {
        r.grp: r.est_distinct
        for r in hll_estimate(
            hll_registers(df.repartition(7, "item"), ["grp"], "item"), ["grp"]
        ).collect()
    }
    assert est == est2


def test_hll_merge_is_lossless(spark):
    df = _items(spark, n=300).withColumn(
        "slice", F.abs(F.hash("item")) % 5
    )
    whole = hll_estimate(hll_registers(df, ["grp"], "item"), ["grp"])
    sliced = hll_registers(df, ["grp", "slice"], "item")
    merged = hll_estimate(hll_merge(sliced, ["grp"]), ["grp"])
    assert sorted(whole.collect()) == sorted(merged.collect())


def test_hll_register_state_is_bounded(spark):
    df = _items(spark, n=500)
    regs = hll_registers(df, ["grp"], "item")
    per_key = regs.groupBy("grp").count().collect()
    assert all(r["count"] <= 64 for r in per_key)
    ranks = [r.reg_rank for r in regs.select("reg_rank").collect()]
    assert all(1 <= r <= 25 for r in ranks)


def test_cms_is_an_upper_bound_for_every_item(spark):
    df = _items(spark, n=100, dups=1).union(
        _items(spark, n=10, dups=50)  # heavy head
    )
    sketch = cms_sketch(df, "item")
    exact = df.groupBy("item").agg(F.count(F.lit(1)).alias("n"))
    est = cms_estimate(sketch, exact.select("item"), "item")
    rows = exact.join(est, "item").collect()
    assert len(rows) == 100
    assert all(r.est_count >= r.n for r in rows)
    # total sketch mass per hash row equals the stream length
    per_row = sketch.groupBy("row").agg(F.sum("cnt").alias("m")).collect()
    assert {r.m for r in per_row} == {df.count()}


def test_cms_weighted_counts(spark):
    df = spark.createDataFrame(
        [("a", 10), ("a", 5), ("b", 1)], "item string, w int"
    )
    sketch = cms_sketch(df, "item", weight_col="w")
    est = {
        r.item: r.est_count
        for r in cms_estimate(
            sketch, df.select("item").distinct(), "item"
        ).collect()
    }
    assert est["a"] >= 15 and est["b"] >= 1


def test_streaming_sketch_state_matches_one_shot_and_is_replay_safe(spark):
    df = _items(spark, n=900, dups=2).withColumn(
        "batch", F.abs(F.hash("item")) % 4
    )
    # fold the 4 micro-batches into the running register state
    state = None
    batches = [df.filter(F.col("batch") == b) for b in range(4)]
    for b in batches:
        regs = hll_registers(b, ["grp"], "item")
        state = regs if state is None else hll_merge(state.unionByName(regs), ["grp"])
    folded = hll_estimate(state, ["grp"]).collect()
    one_shot = hll_estimate(hll_registers(df, ["grp"], "item"), ["grp"]).collect()
    assert sorted(folded) == sorted(one_shot)
    # retry safety: re-delivering an already-merged batch changes nothing
    replayed = hll_merge(
        state.unionByName(hll_registers(batches[2], ["grp"], "item")), ["grp"]
    )
    assert sorted(hll_estimate(replayed, ["grp"]).collect()) == sorted(folded)


def test_streaming_cms_state_fold_matches_one_shot(spark):
    from dnsflow_clickhouse_spark.io import merge_additive

    df = _items(spark, n=200, dups=3).withColumn(
        "batch", F.abs(F.hash("item")) % 3
    )
    state = None
    for b in range(3):
        batch = cms_sketch(df.filter(F.col("batch") == b), "item")
        state = (
            batch
            if state is None
            else merge_additive(state, batch, ["row", "bucket"], ["cnt"])
        )
    one_shot = cms_sketch(df, "item")
    folded = {(r.row, r.bucket): r.cnt for r in state.collect()}
    whole = {(r.row, r.bucket): r.cnt for r in one_shot.collect()}
    assert folded == whole


def test_bloom_no_false_negatives_and_merge(spark):
    """Every built item must probe positive (false negatives are
    impossible by construction); a filter merged from two halves must
    equal the single-pass filter word-for-word; unseen items may flag
    FP but the cms-style sanity bound is that most of a disjoint probe
    set stays unflagged at this fill factor."""
    from dnsflow_clickhouse_spark.operators.sketches import (
        bloom_build,
        bloom_merge,
        bloom_probe,
    )

    df = _items(spark, n=60, dups=1).select("item")
    bloom = bloom_build(df, "item")
    # membership: all built items flagged
    hits = bloom_probe(bloom, df, "item").collect()
    assert all(r.maybe_present == 1 for r in hits)
    # merge-losslessness: two halves fold to the identical bitmap
    left = bloom_build(df.filter(F.substring("item", 6, 9).cast("int") % 2 == 0), "item")
    right = bloom_build(df.filter(F.substring("item", 6, 9).cast("int") % 2 == 1), "item")
    merged = {(r.word_idx): r.word for r in bloom_merge(left, right).collect()}
    whole = {(r.word_idx): r.word for r in bloom.collect()}
    assert merged == whole
    # disjoint probes: mostly unflagged (deterministic FPs allowed)
    other = spark.createDataFrame(
        [(f"other-{i}",) for i in range(200)], "item string"
    )
    fp = sum(r.maybe_present for r in bloom_probe(bloom, other, "item").collect())
    assert fp < 40, f"implausible FP count {fp} for 240/1024 bits set"


def test_streaming_bloom_state_fold_matches_one_shot(spark):
    from dnsflow_clickhouse_spark.operators.sketches import bloom_build, bloom_merge

    df = _items(spark, n=120, dups=1).withColumn(
        "batch", F.abs(F.hash("item")) % 3
    )
    state = None
    for b in range(3):
        batch = bloom_build(df.filter(F.col("batch") == b), "item")
        state = batch if state is None else bloom_merge(state, batch)
    # replay a batch: idempotent
    state = bloom_merge(state, bloom_build(df.filter(F.col("batch") == 1), "item"))
    folded = {r.word_idx: r.word for r in state.collect()}
    whole = {r.word_idx: r.word for r in bloom_build(df, "item").collect()}
    assert folded == whole


def test_qh_bucket_monotone_and_floor_bound(spark):
    from dnsflow_clickhouse_spark.operators.sketches import (
        qh_bucket,
        qh_bucket_floor,
    )

    vals = [0, 1, 31, 32, 63, 64, 65, 100, 127, 128, 1000, 2**20, 2**40 + 7]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    rows = (
        df.select("v", qh_bucket(F.col("v")).alias("b"))
        .withColumn("f", qh_bucket_floor(F.col("b")))
        .orderBy("v")
        .collect()
    )
    prev_b = -1
    for r in rows:
        assert r.b >= prev_b, "bucket id must be monotone in v"
        prev_b = r.b
        assert r.f <= r.v, (r.v, r.f)
        if r.v < 64:
            assert r.f == r.v  # exact low range
        else:
            # relative error bound: floor within 1/32 of the value
            assert r.v <= r.f + (r.f >> 5) + 1, (r.v, r.f)


def test_qh_merge_is_lossless_and_quantiles_within_bound(spark):
    from dnsflow_clickhouse_spark.operators.sketches import (
        qh_merge,
        qh_quantiles,
        qh_sketch,
    )

    d = spark.createDataFrame(
        [(k, i) for k in ("a", "b") for i in range(1, 1001)], "k string, v long"
    )
    full = qh_sketch(d, ["k"], "v")
    parts = qh_sketch(d.filter("v <= 300"), ["k"], "v").unionByName(
        qh_sketch(d.filter("v > 300"), ["k"], "v")
    )
    assert sorted(map(tuple, qh_merge(parts, ["k"]).collect())) == sorted(
        map(tuple, full.collect())
    )
    got = {
        (r.k, r.q_ppm): r.value_floor
        for r in qh_quantiles(full, ["k"], [500_000, 990_000]).collect()
    }
    for k in ("a", "b"):
        for q_ppm, exact in ((500_000, 500), (990_000, 990)):
            est = got[(k, q_ppm)]
            assert est <= exact <= est + (est >> 5) + 1, (k, q_ppm, est)


def test_streaming_qh_state_fold_matches_one_shot(spark):
    from dnsflow_clickhouse_spark.operators.sketches import qh_merge, qh_sketch

    d = spark.createDataFrame(
        [("k", i) for i in range(1, 301)], "k string, v long"
    ).withColumn("batch", F.col("v") % 3)
    state = None
    for b in range(3):
        batch = qh_sketch(d.filter(F.col("batch") == b), ["k"], "v")
        state = batch if state is None else qh_merge(state.unionByName(batch), ["k"])
    folded = sorted(map(tuple, state.collect()))
    whole = sorted(map(tuple, qh_sketch(d, ["k"], "v").collect()))
    assert folded == whole


# ---------------------------------------------------------------------------
# KMV / theta sketch
# ---------------------------------------------------------------------------


def test_kmv_exact_below_k_and_estimate_above(spark):
    from dnsflow_clickhouse_spark.operators.sketches import (
        kmv_estimate,
        kmv_sketch,
    )

    # 100 distinct items with k=128 -> the sketch is exhaustive: exact
    small = spark.createDataFrame(
        [(f"item-{i}",) for i in range(100) for _ in range(3)], "item string"
    )
    est = kmv_estimate(kmv_sketch(small, [], "item", k=128), [], k=128).collect()
    assert est[0].est_distinct == 100 and est[0].n_kept == 100
    # 4000 distinct with k=256 -> estimator regime, within 25%
    big = spark.createDataFrame(
        [(f"item-{i}",) for i in range(4000)], "item string"
    )
    est2 = kmv_estimate(kmv_sketch(big, [], "item"), []).collect()[0]
    assert est2.n_kept == 256
    assert 3000 <= est2.est_distinct <= 5000, est2


def test_kmv_is_independent_of_banding_and_partitioning(spark):
    from dnsflow_clickhouse_spark.operators.sketches import kmv_sketch

    df = spark.createDataFrame(
        [(f"item-{i}",) for i in range(3000)], "item string"
    )
    a = sorted(r.hv for r in kmv_sketch(df, [], "item", bands=64).collect())
    b = sorted(
        r.hv
        for r in kmv_sketch(
            df.repartition(13), [], "item", bands=7
        ).collect()
    )
    assert a == b and len(a) == 256


def test_kmv_merge_is_lossless(spark):
    from dnsflow_clickhouse_spark.operators.sketches import (
        kmv_merge,
        kmv_sketch,
    )

    df = spark.createDataFrame(
        [(i % 4, f"item-{i}") for i in range(3000)], "slice int, item string"
    )
    whole = sorted(
        r.hv for r in kmv_sketch(df.select("item"), [], "item").collect()
    )
    parts = [
        kmv_sketch(df.filter(F.col("slice") == s).select("item"), [], "item")
        for s in range(4)
    ]
    folded = parts[0]
    for p in parts[1:]:
        folded = kmv_merge(folded, p, [])
    assert sorted(r.hv for r in folded.collect()) == whole


def test_kmv_set_estimates_track_exact_overlap(spark):
    from dnsflow_clickhouse_spark.operators.sketches import (
        kmv_set_estimates,
        kmv_sketch,
    )

    # A = 0..2999, B = 1500..4499 -> |inter| = 1500, |union| = 4500,
    # true Jaccard = 1/3
    a = spark.createDataFrame(
        [(f"item-{i}",) for i in range(3000)], "item string"
    )
    b = spark.createDataFrame(
        [(f"item-{i}",) for i in range(1500, 4500)], "item string"
    )
    row = kmv_set_estimates(
        kmv_sketch(a, [], "item").select("hv"),
        kmv_sketch(b, [], "item").select("hv"),
    ).collect()[0]
    assert 1000 <= row.est_inter <= 2000, row
    assert 3500 <= row.est_union <= 5500, row
    assert 233_000 <= row.jaccard_est_ppm <= 433_000, row


def test_streaming_kmv_state_fold_matches_one_shot_and_replay(spark):
    from dnsflow_clickhouse_spark.operators.sketches import kmv_merge, kmv_sketch

    d = spark.createDataFrame(
        [("k", f"item-{i}") for i in range(900)], "k string, item string"
    ).withColumn("batch", F.ascii(F.substring("item", 6, 1)) % 3)
    state = None
    for b in range(3):
        batch = kmv_sketch(
            d.filter(F.col("batch") == b), ["k"], "item"
        )
        state = batch if state is None else kmv_merge(state, batch, ["k"])
    folded = sorted(map(tuple, state.collect()))
    whole = sorted(map(tuple, kmv_sketch(d, ["k"], "item").collect()))
    assert folded == whole
    # replay-idempotent: re-folding batch 0 changes nothing
    replay = kmv_merge(
        state, kmv_sketch(d.filter(F.col("batch") == 0), ["k"], "item"), ["k"]
    )
    assert sorted(map(tuple, replay.collect())) == folded

"""Cross-batch stateful dedup: a key emitted in batch 1 must NOT be
re-emitted when a later file repeats it; new keys in later batches still
surface."""

from __future__ import annotations

from pyspark.sql import functions as F

from dnsflow_clickhouse_spark.streaming.stateful import first_seen


def _write(p, rows):
    p.write_text("\n".join(f"{k},{i}" for k, i in rows), encoding="utf-8")


def test_first_seen_across_batches(spark, tmp_path):
    inp = tmp_path / "in"
    inp.mkdir()
    _write(inp / "b1.txt", [("a", 3), ("a", 1), ("b", 7)])

    raw = spark.readStream.format("text").load(str(inp))
    keyed = raw.select(
        F.split("value", ",")[0].alias("dup_key"),
        F.split("value", ",")[1].cast("long").alias("id"),
    )
    out = first_seen(keyed)
    q = (
        out.writeStream.format("memory")
        .queryName("first_seen_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got1 = {
            r.dup_key: (r.first_id, r.n_in_batch)
            for r in spark.sql("SELECT * FROM first_seen_sink").collect()
        }
        assert got1 == {"a": (1, 2), "b": (7, 1)}

        # batch 2: 'a' repeats (suppressed), 'c' is new (emitted)
        _write(inp / "b2.txt", [("a", 99), ("c", 5)])
        q.processAllAvailable()
        got2 = {
            r.dup_key: (r.first_id, r.n_in_batch)
            for r in spark.sql("SELECT * FROM first_seen_sink").collect()
        }
        assert got2 == {"a": (1, 2), "b": (7, 1), "c": (5, 1)}
    finally:
        q.stop()


def test_drop_duplicates_within_watermark_stream(spark, tmp_path):
    """Native TTL'd streaming dedup (dropDuplicatesWithinWatermark): a
    key repeated within the watermark window dedups across micro-batches;
    once the watermark passes, the state is dropped and the key re-admits
    — the built-in complement to the unbounded first_seen operator."""
    import json

    def line(ts, key):
        return json.dumps({"ts": ts, "k": key})

    inp = tmp_path / "ddw_in"
    inp.mkdir()
    t0 = 1_700_000_000
    (inp / "f1.txt").write_text(
        "\n".join([line(t0, "a"), line(t0 + 5, "a"), line(t0 + 8, "b")]),
        encoding="utf-8",
    )
    raw = (
        spark.readStream.format("text")
        .load(str(inp))
        .selectExpr("from_json(value, 'ts long, k string') AS j")
        .selectExpr("timestamp_seconds(j.ts) AS ts", "j.k AS k")
        .withWatermark("ts", "1 minute")
        .dropDuplicatesWithinWatermark(["k"])
    )
    q = (
        raw.writeStream.format("memory")
        .queryName("ddw")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ddw_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT count(*) FROM ddw").first()[0] == 2  # a, b
        # same key within the watermark -> still a duplicate
        (inp / "f2.txt").write_text(line(t0 + 20, "a"), encoding="utf-8")
        q.processAllAvailable()
        assert spark.sql("SELECT count(*) FROM ddw").first()[0] == 2
        # far beyond the watermark -> state expired, key re-admits
        (inp / "f3.txt").write_text(line(t0 + 10_000, "a"), encoding="utf-8")
        q.processAllAvailable()
        (inp / "f4.txt").write_text(line(t0 + 10_001, "a"), encoding="utf-8")
        q.processAllAvailable()
        ks = [r.k for r in spark.sql("SELECT k FROM ddw").collect()]
        assert ks.count("a") == 2 and ks.count("b") == 1
    finally:
        q.stop()


def test_quota_admit_across_batches(spark, tmp_path):
    """transformWithState per-key quota: cap=3 admits the 3 smallest ids
    of batch 1 for 'a', then the lifetime budget carries across batches —
    batch 2 admits nothing more for 'a' but serves fresh keys."""
    from dnsflow_clickhouse_spark.streaming.stateful import quota_admit

    inp = tmp_path / "quota_in"
    inp.mkdir()
    _write(inp / "b1.txt", [("a", 30), ("a", 10), ("a", 20), ("a", 40), ("b", 1)])

    raw = spark.readStream.format("text").load(str(inp))
    keyed = raw.select(
        F.split("value", ",")[0].alias("key"),
        F.split("value", ",")[1].cast("long").alias("id"),
    )
    out = quota_admit(keyed, cap=3)
    q = (
        out.writeStream.format("memory")
        .queryName("quota_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "quota_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got1 = {
            (r.key, r.id): r.admit_rank
            for r in spark.sql("SELECT * FROM quota_sink").collect()
        }
        assert got1 == {("a", 10): 1, ("a", 20): 2, ("a", 30): 3, ("b", 1): 1}

        # batch 2: 'a' is exhausted, 'b' has room, 'c' is fresh
        _write(inp / "b2.txt", [("a", 5), ("b", 2), ("c", 9)])
        q.processAllAvailable()
        got2 = {
            (r.key, r.id): r.admit_rank
            for r in spark.sql("SELECT * FROM quota_sink").collect()
        }
        assert got2 == {
            ("a", 10): 1,
            ("a", 20): 2,
            ("a", 30): 3,
            ("b", 1): 1,
            ("b", 2): 2,
            ("c", 9): 1,
        }
    finally:
        q.stop()


def test_incremental_scrub_matches_full_corpus(spark):
    """Incremental span scrubbing parity: fold fingerprint-ownership
    state batch by batch (ids arriving in order) and scrub each batch
    against the prior state — the per-doc result equals the one-shot
    full-corpus scrub. The same batch==streaming contract as the
    sketch folds."""
    from dnsflow_clickhouse_spark.operators.dedup import (
        fingerprint_ownership,
        scrub_duplicate_spans,
        winnow_fingerprints,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = [
        (1, shared + " one"),
        (2, "x y " + shared),
        (3, "totally different content here now"),
        (4, shared + " tail piece"),
        (5, "x y " + shared),  # also shares the batch-1 span AND doc 2's lead
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    full = {
        r.id: (r.n_removed, r.clean_text)
        for r in scrub_duplicate_spans(df, "doc_id", "text").collect()
    }

    b1 = df.filter(F.col("doc_id") <= 2)
    b2 = df.filter(F.col("doc_id") >= 3)
    state = fingerprint_ownership(
        winnow_fingerprints(b1, "doc_id", "text")
    ).localCheckpoint(eager=True)
    inc = {}
    for r in scrub_duplicate_spans(b1, "doc_id", "text").collect():
        inc[r.id] = (r.n_removed, r.clean_text)
    for r in scrub_duplicate_spans(
        b2, "doc_id", "text", prior_state=state
    ).collect():
        inc[r.id] = (r.n_removed, r.clean_text)
    assert inc == full


def test_first_seen_under_rocksdb_state_store(spark, tmp_path):
    """Every stateful operator's scale note says 'RocksDB state store
    territory at 10^9 keys' — execute that configuration instead of
    just citing it: the same first_seen stream under the in-box
    RocksDBStateStoreProvider with changelog checkpointing must produce
    exactly the default-provider output, including cross-batch
    suppression (state round-trips through RocksDB between triggers)."""
    conf = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    changelog = (
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    )
    prev = spark.conf.get(conf, None)
    spark.conf.set(conf, rocks)
    spark.conf.set(changelog, "true")
    try:
        inp = tmp_path / "rocks_in"
        inp.mkdir()
        _write(inp / "b1.txt", [("a", 3), ("a", 1), ("b", 7)])
        raw = spark.readStream.format("text").load(str(inp))
        keyed = raw.select(
            F.split("value", ",")[0].alias("dup_key"),
            F.split("value", ",")[1].cast("long").alias("id"),
        )
        q = (
            first_seen(keyed)
            .writeStream.format("memory")
            .queryName("first_seen_rocks")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "rocks_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            got1 = {
                r.dup_key: (r.first_id, r.n_in_batch)
                for r in spark.sql("SELECT * FROM first_seen_rocks").collect()
            }
            assert got1 == {"a": (1, 2), "b": (7, 1)}
            # the provider actually engaged (not silently defaulted)
            ops = [
                p["stateOperators"]
                for p in q.recentProgress
                if p.get("stateOperators")
            ]
            assert ops and any(
                "rocksdb" in str(op).lower() for op in ops[-1]
            ), "RocksDB metrics absent from stateOperators progress"

            _write(inp / "b2.txt", [("a", 99), ("c", 5)])
            q.processAllAvailable()
            got2 = {
                r.dup_key: (r.first_id, r.n_in_batch)
                for r in spark.sql("SELECT * FROM first_seen_rocks").collect()
            }
            assert got2 == {"a": (1, 2), "b": (7, 1), "c": (5, 1)}
        finally:
            q.stop()
    finally:
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)
        spark.conf.unset(changelog)

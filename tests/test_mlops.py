"""Tests for the training-data-pipeline operator family: dedup
(exact/MinHash-LSH/SimHash/Jaccard), embedding similarity, text
analysis, and the multimodal mapInPandas plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dnsflow_clickhouse_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_band_hashes,
    minhash_bands_df,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash,
    simhash_df,
    token_ngrams,
)
from dnsflow_clickhouse_spark.operators.dedup import simhash_near_pairs
from dnsflow_clickhouse_spark.operators.multimodal import extract_features
from dnsflow_clickhouse_spark.operators.similarity import (
    cosine_topk,
    hyperplane_lsh_topk,
    int_dot,
    int_dot_pandas,
    ivf_topk,
    quantize,
)
from dnsflow_clickhouse_spark.operators.text_analysis import analyze_documents

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog again and again"),
    (1, "the quick brown fox jumps over the lazy dog again and again"),  # dup of 0
    (2, "the quick brown fox jumps over the lazy dog again and AGAIN!"),  # near-dup
    (3, "completely different words about spark catalyst tungsten engine"),
    (4, ""),
    (5, "one two"),  # fewer tokens than the trigram width
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_token_ngrams_edges(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",), ("",)], ["t"])
    out = [r[0] for r in df.select(token_ngrams(F.col("t"), 3)).collect()]
    assert out[0] == ["a b c", "b c d"]
    assert out[1] == ["a b"]  # short doc -> single joined gram
    assert out[2] == []


def test_exact_dedup(docs):
    out = exact_dedup(docs, ["text"], "doc_id").select("doc_id", "keep_id", "is_dup")
    got = {r.doc_id: (r.keep_id, r.is_dup) for r in out.collect()}
    assert got[0] == (0, 0) and got[1] == (0, 1)  # 1 is dup of 0
    assert got[2] == (2, 0) and got[3] == (3, 0)


def test_minhash_bands_df_matches_column_form(docs):
    """The staged bulk pipeline must equal banding the Column-form sig."""
    sig = minhash_signature(F.col("text"), 8, ngram=3)
    expected = (
        docs.select(
            F.col("doc_id").alias("id"),
            F.explode(minhash_band_hashes(sig, 4, 2)).alias("bh"),
        )
        .select("id", "bh.band", "bh.band_hash")
    )
    staged = minhash_bands_df(docs, "doc_id", "text", 8, 4, 3)
    assert sorted(map(tuple, staged.collect())) == sorted(map(tuple, expected.collect()))


def test_minhash_bands_df_xxhash64_scale_knob(docs):
    """The documented scale knob (``hash_fn=F.xxhash64`` — dedup.py
    module docstring) must actually run: raw xxhash64 values span the
    full int64 range, and the permutation fold ``a*h + b`` overflowed
    under Spark 4 ANSI mode until the fold reduced h mod POLY_MOD first
    (an identity for the default poly-hash path, whose values are
    already reduced — oracle hashes unchanged). Exact dups must still
    collide in every band, and the output must be deterministic."""
    out1 = minhash_bands_df(docs, "doc_id", "text", 8, 4, 3, hash_fn=F.xxhash64)
    rows1 = sorted(map(tuple, out1.collect()))
    assert len(rows1) == docs.count() * 4  # n_bands rows per doc
    by_doc = {}
    for doc_id, band, band_hash in rows1:
        by_doc.setdefault(doc_id, {})[band] = band_hash
    assert by_doc[0] == by_doc[1]  # doc 1 is an exact dup of doc 0
    out2 = minhash_bands_df(docs, "doc_id", "text", 8, 4, 3, hash_fn=F.xxhash64)
    assert rows1 == sorted(map(tuple, out2.collect()))
    # and the top-level miner's passthrough: exact dups always collide
    pairs = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(
            docs, "doc_id", "text", hash_fn=F.xxhash64
        ).collect()
    }
    assert (0, 1) in pairs


def test_minhash_from_base_arrow_fold_matches_expression(spark):
    """The hash_fn path's Arrow permutation fold (r10: replaces
    n_hashes interpreted array_min passes — 330 s at the 4096x tier)
    must be value-identical to the textbook ``_sig_from_base``
    expression it replaced, including raw negative xxhash64 base
    values (numpy ``%`` must match Spark ``pmod``) and empty docs
    (POLY_MOD sentinel)."""
    from dnsflow_clickhouse_spark.operators.dedup import (
        _base_hashes,
        _minhash_sig_from_base_udf,
        _sig_from_base,
        staged_grams,
    )

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta"),
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
            (3, ""),
            (4, "   "),
            (5, "solo"),
        ],
        "doc_id long, text string",
    )
    for n_hashes in (8, 64):
        grams = staged_grams(docs, "doc_id", "text", 3)
        base = grams.select(
            "id", _base_hashes(F.col("grams"), F.xxhash64).alias("__base")
        )
        old = {
            r.id: r.sig
            for r in base.select(
                "id", _sig_from_base(F.col("__base"), n_hashes).alias("sig")
            ).collect()
        }
        new = {
            r.id: r.sig
            for r in base.select(
                "id",
                _minhash_sig_from_base_udf(n_hashes)(F.col("__base")).alias("sig"),
            ).collect()
        }
        assert old == new, n_hashes
        from dnsflow_clickhouse_spark.functions.textfn import POLY_MOD

        assert new[3] == [POLY_MOD] * n_hashes  # empty-doc sentinel


def test_lsh_finds_duplicates(docs):
    pairs = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(docs, "doc_id", "text").collect()}
    assert (0, 1) in pairs  # exact dups always collide in every band
    for a, b in pairs:  # no pair may involve the unrelated doc 3
        assert 3 not in (a, b)


def test_jaccard_pairs(docs):
    out = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5).collect()
    }
    assert out[(0, 1)] == 1.0
    assert (0, 3) not in out


def test_simhash_df_matches_column_form(docs):
    col_form = {
        r.doc_id: r.s for r in docs.select("doc_id", simhash(F.col("text"), 16).alias("s")).collect()
    }
    staged = {r.id: r.simhash for r in simhash_df(docs, "doc_id", "text", 16).collect()}
    assert staged == col_form
    assert staged[0] == staged[1]  # identical docs -> identical simhash


def test_int_dot_pandas_matches_expression(spark):
    df = spark.createDataFrame(
        [(list(range(10)), list(range(10, 20))), ([1, 2], [3, 4])], ["a", "b"]
    ).select(
        F.col("a").cast("array<long>").alias("a"), F.col("b").cast("array<long>").alias("b")
    )
    got = df.select(
        int_dot_pandas(F.col("a"), F.col("b")).alias("p"),
        int_dot(F.col("a"), F.col("b")).alias("e"),
    ).collect()
    for r in got:
        assert r.p == r.e


def test_cosine_topk(spark):
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),  # closest to 0
            (2, [0.0, 1.0, 0.0]),
            (3, [-1.0, 0.0, 0.0]),
        ],
        ["vec_id", "embedding"],
    ).select("vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
    out = cosine_topk(vecs, vecs, "vec_id", "embedding", k=2).collect()
    by_query = {}
    for r in out:
        by_query.setdefault(r.query_id, []).append((r.rnk, r.neighbor_id))
    assert sorted(by_query[0])[0] == (1, 1)  # rank-1 neighbor of 0 is 1
    for q, lst in by_query.items():
        assert all(n != q for _, n in lst)  # self excluded
        assert [rk for rk, _ in sorted(lst)] == [1, 2]


def test_hyperplane_signature_arrow_matches_expr(spark):
    """The Arrow GEMM signature must be bit-identical to the portable
    expression form the oracles replay (ragged dims included)."""
    import random

    from dnsflow_clickhouse_spark.operators.similarity import (
        hyperplane_signature,
        hyperplane_signature_expr,
        quantize,
    )

    rnd = random.Random(11)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(200)]
    rows.append((200, [0.5] * 7))  # ragged row exercises the fallback
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", quantize(F.col("embedding").cast("array<float>")).alias("q")
    )
    both = vecs.select(
        "vec_id",
        hyperplane_signature(F.col("q"), 8).alias("arrow_sig"),
        hyperplane_signature_expr(F.col("q"), 8).alias("expr_sig"),
        # r10 multi-table knob: table t hashes with the disjoint plane
        # family at offset t*n_planes — kernel/expr parity must hold at
        # every offset, and the offset family must actually differ
        hyperplane_signature(F.col("q"), 8, plane_offset=8).alias("arrow_t1"),
        hyperplane_signature_expr(F.col("q"), 8, plane_offset=8).alias("expr_t1"),
    ).collect()
    assert len(both) == 201
    for r in both:
        assert r.arrow_sig == r.expr_sig, r.vec_id
        assert r.arrow_t1 == r.expr_t1, r.vec_id
    assert any(r.arrow_sig != r.arrow_t1 for r in both), (
        "offset plane family degenerated to the table-0 hashes"
    )


def test_multitable_lsh_recall_dominates_single_table(spark):
    """L independent tables can only ADD candidates (table 0 IS the
    single-table hashing), so recall against the exact top-k is
    monotone in n_tables; and the n_tables=1 path must stay the
    pre-knob plan (same rows)."""
    import random

    from dnsflow_clickhouse_spark.operators.similarity import (
        cosine_topk,
        hyperplane_lsh_topk,
    )

    rnd = random.Random(23)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(120)]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qs = vecs.filter(F.col("vec_id") < 30)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(qs, vecs, "vec_id", "embedding", k=3).collect()
    }

    def hits(n_tables):
        got = {
            (r.query_id, r.neighbor_id)
            for r in hyperplane_lsh_topk(
                qs, vecs, "vec_id", "embedding", k=3, n_tables=n_tables
            ).collect()
        }
        return len(got & exact)

    h1, h2, h4 = hits(1), hits(2), hits(4)
    assert h1 <= h2 <= h4, (h1, h2, h4)
    assert h4 > h1, "4 tables found nothing beyond table 0 on random vectors"


def test_hyperplane_lsh_subset_of_exact(spark):
    import random

    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(50)]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    ann = hyperplane_lsh_topk(vecs, vecs, "vec_id", "embedding", k=3, n_planes=4)
    got = ann.collect()
    assert len(got) > 0
    for r in got:
        assert r.query_id != r.neighbor_id
        assert -1.0 <= r.cosine <= 1.0


def test_simhash_near_pairs_wide_signature_scale_setting(docs):
    """The 100 TB setting from SCALE_SMOKE.md — 48-bit signature, 4
    bands (2^12 values per band), xxhash64 — must keep the same
    contract: exact dups pair at hamming 0, unrelated docs don't."""
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_pairs(
            docs, "doc_id", "text", n_bits=48, n_bands=4, max_hamming=1,
            hash_fn=F.xxhash64,
        ).collect()
    }
    assert pairs.get((0, 1)) == 0  # identical docs -> hamming 0
    for a, b in pairs:
        assert 3 not in (a, b)  # unrelated doc never pairs


def test_simhash_near_pairs_finds_exact_dups(docs):
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_pairs(docs, "doc_id", "text", 16, 2, 1).collect()
    }
    assert pairs.get((0, 1)) == 0  # identical docs -> hamming 0
    for a, b in pairs:
        assert 3 not in (a, b)  # unrelated doc never pairs


def test_ivf_topk_shape(spark):
    import random

    rnd = random.Random(11)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(40)]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    out = ivf_topk(vecs.filter(F.col("vec_id") < 5), vecs, "vec_id", "embedding", k=3, n_cells=4)
    got = out.collect()
    assert got
    by_q = {}
    for r in got:
        assert r.query_id != r.neighbor_id
        by_q.setdefault(r.query_id, []).append(r.rnk)
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_analyze_documents_columns(docs):
    out = analyze_documents(docs)
    row = {r.doc_id: r for r in out.collect()}
    assert row[0].toks == 12 and row[4].toks == 0
    assert row[0].lang_guess == "en"
    assert row[3].quality > 0
    assert row[0].fp == row[1].fp  # identical docs -> identical fingerprint
    assert row[0].fp != row[2].fp


def test_multimodal_plumbing(spark):
    assets = spark.createDataFrame(
        [
            Row(asset_id=1, kind="image", payload=bytearray(b"\x89PNG fake bytes")),
            Row(asset_id=2, kind="video", payload=bytearray(b"\x00\x00ftyp fake")),
            Row(asset_id=3, kind="audio", payload=None),
        ]
    )
    out = extract_features(assets, decode_stub=True).collect()
    by_id = {r.asset_id: r for r in out}
    assert by_id[1].byte_len == 15 and by_id[3].byte_len == 0
    assert len(by_id[1].content_sha) == 64
    assert 1 <= by_id[2].frames_sampled <= 4
    # the stub is deterministic: same payload -> same features
    out2 = extract_features(assets, decode_stub=True).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_multimodal_real_decode_raises(spark):
    assets = spark.createDataFrame(
        [Row(asset_id=1, kind="image", payload=bytearray(b"x"))]
    )
    with pytest.raises(Exception, match="NotImplementedError|real media"):
        extract_features(assets, decode_stub=False).collect()


def test_embedding_neardup_distributed_paths(spark):
    """Both near-dup plans are fully distributed (no driver collect of
    the corpus). The exact block-pair GEMM must equal a brute-force
    check; the bucketed path must return a SUBSET of the exact pairs
    (cross-bucket pairs are the documented recall loss) with identical
    cosines on the pairs it keeps."""
    import math

    from dnsflow_clickhouse_spark.operators.dedup import embedding_near_dups

    vecs = [
        (1, [1.0, 0.0, 0.2]),
        (2, [0.9, 0.1, 0.2]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0]),
        (4, [0.05, 0.98, 0.0]),  # near-dup of 3
        (5, [-1.0, 0.3, 0.1]),
        (6, [1.0, 0.02, 0.21]),  # near-dup of 1 and 2
    ]
    df = spark.createDataFrame(vecs, "id long, v array<double>")

    def brute(thr):
        out = {}
        q = {i: [round(x * 10000) for x in v] for i, v in vecs}
        for i, qi in q.items():
            for j, qj in q.items():
                if i < j:
                    dot = sum(a * b for a, b in zip(qi, qj))
                    c = round(
                        dot
                        / (
                            math.sqrt(sum(a * a for a in qi))
                            * math.sqrt(sum(b * b for b in qj))
                        ),
                        6,
                    )
                    if c >= thr:
                        out[(i, j)] = c
        return out

    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dups(df, "id", "v", threshold=0.9).collect()
    }
    assert exact == brute(0.9)

    bucketed = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dups(
            df, "id", "v", threshold=0.9, n_planes=4
        ).collect()
    }
    assert set(bucketed) <= set(exact)
    for pair, cos in bucketed.items():
        assert cos == exact[pair]


def test_prefix_filtered_jaccard_matches_naive_with_fewer_candidates(spark):
    from dnsflow_clickhouse_spark.operators.dedup import (
        prefix_filtered_jaccard_pairs,
        staged_grams,
    )

    # shared boilerplate gram ("common words here") on every doc makes
    # the naive shared-gram join quadratic; distinctive content only on
    # some near-dup pairs
    rows = [
        (i, f"common words here and filler text plus doc {i % 7} body {i % 7} tail {i % 7}")
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    naive = {
        (r.id_a, r.id_b): (r.inter, r.jaccard)
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5).collect()
    }
    pref = {
        (r.id_a, r.id_b): (r.inter, r.jaccard)
        for r in prefix_filtered_jaccard_pairs(
            docs, "doc_id", "text", 3, 0.5
        ).collect()
    }
    assert pref == naive and naive  # identical output (lossless)

    # candidate generation really is narrower: pairs sharing ANY gram vs
    # pairs sharing a rare-first PREFIX gram
    g = staged_grams(docs, "doc_id", "text", 3).select(
        "id", F.explode("grams").alias("g")
    )
    a, b = g.alias("a"), g.alias("b")
    naive_cands = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .select("a.id", "b.id")
        .distinct()
        .count()
    )
    assert naive_cands == 40 * 39 / 2  # the boilerplate gram pairs everyone
    # prefix candidates: only the docs sharing distinctive (rare) grams
    assert len(pref) < naive_cands


def test_ivf_nprobe_dial(spark):
    """nprobe = n_cells degrades IVF to exact brute force; intermediate
    nprobe recall is monotone (candidate sets only grow)."""
    import random

    rnd = random.Random(23)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(60)]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    qs = vecs.filter(F.col("vec_id") < 6)

    def pairs(df):
        return {(r.query_id, r.rnk): r.neighbor_id for r in df.collect()}

    exact = pairs(cosine_topk(qs, vecs, "vec_id", "embedding", k=3))
    full = pairs(
        ivf_topk(qs, vecs, "vec_id", "embedding", k=3, n_cells=4, nprobe=4)
    )
    assert full == exact

    def hits(nprobe):
        got = pairs(
            ivf_topk(
                qs, vecs, "vec_id", "embedding", k=3, n_cells=4, nprobe=nprobe
            )
        )
        return sum(got.get(k2) == v for k2, v in exact.items())

    assert hits(1) <= hits(2) <= hits(4) == len(exact)


def _ppm(w, h):
    import numpy as np

    img = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3)
    return b"P6\n# test image\n%d %d\n255\n" % (w, h) + img.tobytes(), img


def test_decode_pnm_and_nearest_resize():
    import numpy as np

    from dnsflow_clickhouse_spark.operators.multimodal import (
        decode_pnm,
        resize_nearest,
    )

    payload, img = _ppm(8, 6)
    got = decode_pnm(payload)
    assert got.shape == (6, 8, 3) and (got == img).all()
    small = resize_nearest(got, (4, 3))
    assert small.shape == (3, 4, 3)
    # nearest-neighbor: output (y,x) == source (y*6//3, x*8//4)
    for y in range(3):
        for x in range(4):
            assert (small[y, x] == img[y * 6 // 3, x * 8 // 4]).all()
    # grayscale P5 with 16-bit raster
    g = (np.arange(12) * 300).astype(">u2").reshape(3, 4)
    p5 = b"P5 4 3 65535\n" + g.tobytes()
    assert (decode_pnm(p5) == g).all()
    import pytest

    with pytest.raises(ValueError):
        decode_pnm(b"\x89PNG....")


def test_extract_features_real_pnm_decode_path(spark):
    from dnsflow_clickhouse_spark.operators.multimodal import extract_features

    p1, _ = _ppm(8, 6)
    p2, _ = _ppm(40, 50)
    assets = spark.createDataFrame(
        [(1, "image", bytearray(p1)), (2, "image", bytearray(p2))],
        "asset_id long, kind string, payload binary",
    )
    rows = {
        r.asset_id: r
        for r in extract_features(
            assets, decode_stub=False, target_size=(16, 16)
        ).collect()
    }
    # both resized to the 16x16 target through the REAL decoder
    assert rows[1].feat_width == 16 and rows[1].feat_height == 16
    assert rows[2].feat_width == 16 and rows[2].feat_height == 16
    assert rows[1].frames_sampled == 1
    assert rows[1].byte_len == len(p1)


def test_decode_wav_and_audio_feature_mapping(spark):
    import struct

    import numpy as np

    from dnsflow_clickhouse_spark.operators.multimodal import (
        decode_wav,
        extract_features,
    )

    # 3 s of 2-channel 16-bit PCM at 8 kHz
    rate, secs, ch = 8000, 3, 2
    pcm = (np.arange(rate * secs * ch) % 32000 - 16000).astype("<i2")
    data = pcm.tobytes()
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16)
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    samples, got_rate = decode_wav(wav)
    assert got_rate == rate and samples.shape == (rate * secs, ch)
    assert (samples.reshape(-1) == pcm).all()

    assets = spark.createDataFrame(
        [(7, "audio", bytearray(wav))],
        "asset_id long, kind string, payload binary",
    )
    row = extract_features(assets, decode_stub=False, frame_stride=2).collect()[0]
    # channels / kHz / ceil(3s / 2s-stride) through the real decoder
    assert (row.feat_width, row.feat_height, row.frames_sampled) == (2, 8, 2)


def test_lsh_multiprobe_recall_dominates_single_probe(spark):
    import random

    rnd = random.Random(31)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(80)]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    qs = vecs.filter(F.col("vec_id") < 8)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(qs, vecs, "vec_id", "embedding", k=3).collect()
    }

    def hits(multiprobe):
        got = {
            (r.query_id, r.neighbor_id)
            for r in hyperplane_lsh_topk(
                qs, vecs, "vec_id", "embedding", k=3, n_planes=4,
                multiprobe=multiprobe,
            ).collect()
        }
        return len(got & exact)

    # flipping one plane bit can only ADD reachable neighbors
    assert hits(True) >= hits(False)


def test_kmeans_quantized_separates_two_blobs(spark):
    from dnsflow_clickhouse_spark.operators.similarity import kmeans_quantized

    # two tight blobs; ids 0 and 1 (the k=2 seeds) land one in each
    pts = [
        (0, [0.0, 0.0]), (2, [0.01, 0.0]), (4, [0.0, 0.02]),
        (1, [1.0, 1.0]), (3, [0.99, 1.0]), (5, [1.0, 0.98]),
    ]
    df = spark.createDataFrame(pts, ["vec_id", "embedding"])
    assigned, cents = kmeans_quantized(df, "vec_id", "embedding", k=2, iters=2)
    got = {r.id: r.cid for r in assigned.collect()}
    assert got[0] == got[2] == got[4] == 0
    assert got[1] == got[3] == got[5] == 1
    # centroid 0 = floor-mean of quantized blob members
    assert cents[0] == [
        (0 + 100 + 0) // 3,
        (0 + 0 + 200) // 3,
    ]


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    from dnsflow_clickhouse_spark.operators.similarity import kmeans_quantized

    # identical seeds [0],[0]: round 1 ties all points to cid 0 (struct
    # ordering -> lowest cid), cluster 1 goes EMPTY and must keep its
    # init centroid [0]. Round 2 assigns against ([750],[0]): the two
    # zero-points defect to the surviving cluster 1, the rest stay.
    # Hand trace: c0 [0]->750->1500, c1 [0] (kept) -> 0.
    pts = [(0, [0.0]), (1, [0.0]), (2, [0.1]), (3, [0.2])]
    df = spark.createDataFrame(pts, ["vec_id", "embedding"])
    assigned, cents = kmeans_quantized(df, "vec_id", "embedding", k=2, iters=2)
    got = {r.id: r.cid for r in assigned.collect()}
    assert got == {0: 1, 1: 1, 2: 0, 3: 0}
    assert cents == [[1500], [0]]


def test_kmeans_train_cap_binding_is_deterministic_and_exact(spark):
    """When train_cap BINDS, codebooks come from the hash-ordered sample
    but the corpus-wide assignment must still be the exact argmin against
    them, deterministically reproducible run-to-run."""
    from dnsflow_clickhouse_spark.operators.similarity import kmeans_quantized

    pts = [(i, [float(i % 5), float(i % 3)]) for i in range(20)]
    df = spark.createDataFrame(pts, ["vec_id", "embedding"])
    a1, c1 = kmeans_quantized(df, "vec_id", "embedding", k=2, iters=2, train_cap=6)
    a2, c2 = kmeans_quantized(df, "vec_id", "embedding", k=2, iters=2, train_cap=6)
    assert c1 == c2 and len(c1) == 2
    rows = {r.id: (r.cid, r.dist) for r in a1.collect()}
    assert set(rows) == set(range(20))
    for i, v in pts:
        q = [round(x * 10000) for x in v]
        dists = [sum((a - b) ** 2 for a, b in zip(q, c)) for c in c1]
        best = min(range(2), key=lambda ci: (dists[ci], ci))
        assert rows[i] == (best, dists[best])


def test_kmeans_cap_not_binding_matches_uncapped(spark):
    """A cap at or above the corpus size is a no-op: identical books and
    assignments to the effectively-unbounded run (the property that keeps
    the unrolled-CTE oracles valid at test scales)."""
    from dnsflow_clickhouse_spark.operators.similarity import (
        grouped_kmeans_quantized,
        kmeans_quantized,
        quantize,
    )
    import pyspark.sql.functions as F

    pts = [(i, [float(i % 7), float((i * 3) % 5)]) for i in range(12)]
    df = spark.createDataFrame(pts, ["vec_id", "embedding"])
    _, c_cap = kmeans_quantized(df, "vec_id", "embedding", k=3, iters=2, train_cap=12)
    _, c_big = kmeans_quantized(df, "vec_id", "embedding", k=3, iters=2, train_cap=10**6)
    assert c_cap == c_big

    subs = df.select(
        F.col("vec_id").alias("id"),
        F.lit(0).alias("g"),
        quantize(F.col("embedding")).alias("q"),
    )
    _, b_cap = grouped_kmeans_quantized(subs, "id", "g", "q", 1, k=3, iters=2, train_cap=12)
    _, b_big = grouped_kmeans_quantized(subs, "id", "g", "q", 1, k=3, iters=2, train_cap=10**6)
    assert b_cap == b_big == [c_cap]


def test_ivf_with_trained_centroids_exhaustive_probe_is_exact(spark):
    """kmeans centroids plug into the IVF quantizer; probing every cell
    must reproduce brute-force top-k regardless of the quantizer."""
    import random

    from dnsflow_clickhouse_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        kmeans_quantized,
    )

    rnd = random.Random(7)
    vecs = [
        (i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(40)
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    _, cents = kmeans_quantized(df, "vec_id", "embedding", k=4, iters=2)
    q = df.filter(F.col("vec_id") < 3)
    exact = cosine_topk(q, df, "vec_id", "embedding", k=3)
    ivf = ivf_topk(
        q, df, "vec_id", "embedding", k=3, n_cells=4, nprobe=4,
        centroids=cents,
    )
    assert sorted(map(tuple, ivf.collect())) == sorted(map(tuple, exact.collect()))


# ---------------------------------------------------------------------------
# Product quantization
# ---------------------------------------------------------------------------


def _pq_blobs(spark, n_per=12, dim=8):
    # two well-separated blobs in every subspace: PQ must rank
    # same-blob vectors above cross-blob ones
    import random

    rng = random.Random(11)
    rows = []
    for i in range(n_per):
        rows.append((i, [1.0 + rng.uniform(-0.05, 0.05) for _ in range(dim)]))
    for i in range(n_per):
        rows.append(
            (100 + i, [-1.0 + rng.uniform(-0.05, 0.05) for _ in range(dim)])
        )
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_pq_codes_shape_and_determinism(spark):
    from dnsflow_clickhouse_spark.operators.similarity import pq_train_encode

    df = _pq_blobs(spark)
    codes, books = pq_train_encode(df, "vec_id", "embedding", dim=8, m=2, k=4)
    rows = codes.collect()
    # r13 packed shape: ONE row per vector carrying its m codes
    assert len(rows) == 24
    assert all(len(r.codes) == 2 and all(0 <= c < 4 for c in r.codes) for r in rows)
    assert len(books) == 2 and all(len(b) == 4 for b in books)
    # independent of input partitioning
    codes2, books2 = pq_train_encode(
        df.repartition(7), "vec_id", "embedding", dim=8, m=2, k=4
    )
    assert books == books2
    key = lambda r: (r.id, tuple(r.codes))
    assert sorted(map(key, rows)) == sorted(map(key, codes2.collect()))


def test_pq_adc_ranks_same_blob_first(spark):
    from dnsflow_clickhouse_spark.operators.similarity import (
        pq_adc_topk,
        pq_train_encode,
    )

    df = _pq_blobs(spark)
    codes, books = pq_train_encode(df, "vec_id", "embedding", dim=8, m=2, k=4)
    out = pq_adc_topk(
        codes, books, df.filter(F.col("vec_id").isin(0, 100)), "vec_id",
        "embedding", 5,
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 100}
    for qid, rows in by_q.items():
        assert len(rows) == 5
        assert [r.rnk for r in sorted(rows, key=lambda r: r.rnk)] == [1, 2, 3, 4, 5]
        for r in rows:
            assert r.neighbor_id != qid  # self excluded
            # same blob: ids 0-11 vs 100-111
            assert (r.neighbor_id >= 100) == (qid >= 100)


# ---------------------------------------------------------------------------
# Perceptual image hashing (dHash)
# ---------------------------------------------------------------------------


def _pgm(pixels):
    # P5 grayscale payload from a 2-D numpy array (maxval 255)
    import numpy as np

    a = np.asarray(pixels, dtype=np.uint8)
    h, w = a.shape
    return b"P5 %d %d 255\n" % (w, h) + a.tobytes()


def test_dhash_real_decode_matches_column_expression(spark):
    import numpy as np

    from dnsflow_clickhouse_spark.operators.multimodal import (
        DHASH_H,
        DHASH_W,
        dhash64_expr,
        dhash_from_image,
        resize_nearest,
    )

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(32, 36))
    # reference path: real P5 decode -> resize -> 64 bits
    h_ref = dhash_from_image(_pgm(img))
    # column path over the same resized grid
    small = resize_nearest(img.astype(np.int64), (DHASH_W, DHASH_H))
    flat = [int(v) for v in small.flatten()]
    row = (
        spark.createDataFrame([(flat,)], "px array<int>")
        .select(
            dhash64_expr([F.element_at("px", i + 1) for i in range(72)]).alias("h")
        )
        .collect()[0]
    )
    assert row.h == h_ref


def test_dhash_survives_reencoding_and_banded_join_finds_the_pair(spark):
    import numpy as np

    from dnsflow_clickhouse_spark.operators.multimodal import (
        dhash_from_image,
        image_near_dup_pairs,
    )

    rng = np.random.RandomState(3)
    base = rng.randint(0, 250, size=(32, 36))
    # a "re-processed copy": +2 brightness (gradients survive) vs an
    # unrelated image; md5 of the payloads obviously differs
    bright = np.clip(base + 2, 0, 255)
    other = rng.randint(0, 250, size=(32, 36))
    sigs = [
        (1, dhash_from_image(_pgm(base))),
        (2, dhash_from_image(_pgm(bright))),
        (3, dhash_from_image(_pgm(other))),
    ]
    pairs = image_near_dup_pairs(
        spark.createDataFrame(sigs, "id long, dhash long"), "id", "dhash"
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in found
    assert all(p == (1, 2) for p in found), f"unrelated image matched: {found}"


def test_grouped_kmeans_matches_per_subspace_kmeans(spark):
    from dnsflow_clickhouse_spark.operators.similarity import (
        _subspace_frame,
        grouped_kmeans_quantized,
        kmeans_quantized,
        quantize,
    )

    df = _pq_blobs(spark, n_per=10, dim=8)
    base = df.select(
        F.col("vec_id").alias("id"), quantize(F.col("embedding")).alias("qv")
    )
    subs = _subspace_frame(base, "qv", 2, 4)
    jcodes, jbooks = grouped_kmeans_quantized(subs, "id", "g", "q", 2, k=3, iters=2)
    for s in range(2):
        sub_df = df.select(
            "vec_id", F.slice(F.col("embedding"), s * 4 + 1, 4).alias("sv")
        )
        assigned, cents = kmeans_quantized(sub_df, "vec_id", "sv", k=3, iters=2)
        assert jbooks[s] == cents, f"subspace {s} centroids diverge"
        solo = {r.id: r.cid for r in assigned.collect()}
        joint = {
            r.id: r.code for r in jcodes.filter(F.col("s") == s).collect()
        }
        assert joint == solo, f"subspace {s} assignments diverge"


def test_pq_packed_codes_match_grouped_reference(spark):
    """The r13 packed one-kernel encode must stay bit-identical to the
    exploded reference path (grouped_kmeans_quantized over the subspace
    frame): same books, same per-(vector, subspace) code. This is the
    equivalence the unchanged DuckDB oracles rely on."""
    import pyspark.sql.functions as F

    from dnsflow_clickhouse_spark.operators.similarity import (
        _subspace_frame,
        grouped_kmeans_quantized,
        pq_train_encode,
        quantize,
    )

    df = _pq_blobs(spark)
    codes, books = pq_train_encode(df, "vec_id", "embedding", dim=8, m=2, k=4)
    base = df.select(
        F.col("vec_id").alias("id"), quantize(F.col("embedding")).alias("qv")
    )
    subs = _subspace_frame(base, "qv", 2, 4)
    ref_codes, ref_books = grouped_kmeans_quantized(
        subs, "id", "g", "q", 2, k=4, iters=2
    )
    assert books == ref_books
    ref: dict = {}
    for r in ref_codes.collect():
        ref.setdefault(r.id, [0, 0])[r.s] = r.code
    got = {r.id: list(r.codes) for r in codes.collect()}
    assert got == ref


def test_ivfpq_same_blob_ranking_and_probe_pruning(spark):
    from dnsflow_clickhouse_spark.operators.similarity import (
        ivfpq_build,
        ivfpq_topk,
    )

    df = _pq_blobs(spark, n_per=12, dim=8)
    codes, cells, books = ivfpq_build(
        df, "vec_id", "embedding", dim=8, n_cells=2, m=2, k=4
    )
    # every vector carries its cell and m packed codes (r13: one row
    # per vector, codes as array<int> of length m)
    crows = codes.collect()
    assert len(crows) == 24
    assert all(len(r.codes) == 2 and all(0 <= c < 4 for c in r.codes) for r in crows)
    out = ivfpq_topk(
        codes, cells, books, df.filter(F.col("vec_id").isin(0, 100)),
        "vec_id", "embedding", 5, nprobe=1,
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rows in by_q.items():
        assert len(rows) == 5
        for r in rows:
            assert r.neighbor_id != qid
            assert (r.neighbor_id >= 100) == (qid >= 100)  # same blob


def test_component_aware_shards_colocate_families(spark):
    """Every member of a near-dup family must land in the SAME shard
    (the whole point of family-aware sharding), singletons get their own
    family key, and the assignment is a pure function of the data."""
    from dnsflow_clickhouse_spark.queries.catalog_mlops import (
        component_aware_shards,
    )

    rows = component_aware_shards(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == len({r.doc_id for r in rows})  # one row per doc
    by_family: dict = {}
    for r in rows:
        by_family.setdefault(r.family, set()).add(r.shard)
        assert 0 <= r.shard < 8
    assert all(len(s) == 1 for s in by_family.values())  # co-located
    multi = [f for f, _ in by_family.items()
             if next(r.family_size for r in rows if r.family == f) > 1]
    assert multi, "fixture corpus should contain at least one dup family"


def test_argmin_assign_arrow_ties_go_to_lowest_cid(spark):
    """The Arrow assignment kernel's tie-break is load-bearing: the
    DuckDB oracles replay assignment as row_number() ORDER BY (dist,
    cid), so equal distances MUST resolve to the lowest cid — np.argmin
    keeps the first minimum, pinned here with a point equidistant from
    two centroids (and a second group to exercise per-group routing)."""
    import pyspark.sql.functions as F

    from dnsflow_clickhouse_spark.operators.similarity import (
        _argmin_assign_arrow,
    )

    # group 0: centroids at 0 and 2 -> q=[1] is equidistant (dist 1)
    # group 1: centroids at 10 and 2 -> q=[6] is equidistant (dist 16)
    books = [[[0], [2]], [[10], [2]]]
    df = spark.createDataFrame(
        [(0, 0, [1]), (1, 1, [6]), (2, 0, [2])], ["id", "g", "q"]
    ).select("id", "g", F.col("q").cast("array<long>").alias("q"))
    udf = _argmin_assign_arrow(books)
    got = {
        r.id: (r.a.cid, r.a.dist)
        for r in df.withColumn("a", udf("g", "q")).collect()
    }
    assert got[0] == (0, 1)  # tie -> lowest cid
    assert got[1] == (0, 16)  # tie -> lowest cid, group 1's books
    assert got[2] == (1, 0)  # exact member of centroid 1


def test_overlap_containment_subsumed_doc(spark):
    from dnsflow_clickhouse_spark.operators.dedup import (
        ngram_jaccard_pairs,
        overlap_containment_pairs,
    )

    df = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4"),                    # grams {123, 234}
            (2, "w1 w2 w3 w4 w5 w6 w7 w8"),        # 6 grams, contains doc1's
            (3, "x1 x2 x3 x4"),                    # disjoint
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.id_a, r.id_b): r
        for r in overlap_containment_pairs(
            df, "doc_id", "text", ngram=3, threshold=0.8
        ).collect()
    }
    # doc1 wholly subsumed by doc2: C = 2/min(2,6) = 1.0
    assert set(pairs) == {(1, 2)}
    r = pairs[(1, 2)]
    assert (r.inter, r.size_a, r.size_b, r.containment) == (2, 2, 6, 1.0)
    # ...while symmetric Jaccard = 2/6 misses it at the same threshold
    jac = ngram_jaccard_pairs(df, "doc_id", "text", ngram=3, threshold=0.8)
    assert jac.count() == 0


def test_cluster_balanced_sample_quota_and_determinism(spark):
    from dnsflow_clickhouse_spark.queries.catalog_mlops import (
        _CBS_QUOTA,
        cluster_balanced_sample,
    )

    rows = cluster_balanced_sample(spark, "/root/testdata/sf0.001").collect()
    per_cid = {}
    for r in rows:
        per_cid.setdefault(r.cid, []).append((r.rk, r.vec_id, r.pri))
    # quota respected per cluster, ranks contiguous from 1, priorities
    # non-decreasing in rank (the hash-priority ordering)
    for cid, members in per_cid.items():
        assert len(members) <= _CBS_QUOTA
        ranks = [m[0] for m in sorted(members)]
        assert ranks == list(range(1, len(members) + 1))
        pris = [m[2] for m in sorted(members)]
        assert pris == sorted(pris)
    # byte-identical rerun
    again = cluster_balanced_sample(spark, "/root/testdata/sf0.001").collect()
    assert rows == again


def test_winnow_fingerprints_match_python_reference(spark):
    from dnsflow_clickhouse_spark.functions.textfn import POLY_MOD, POLY_MULT
    from dnsflow_clickhouse_spark.operators.dedup import winnow_fingerprints

    def py_poly(s: str) -> int:
        h = 0
        for ch in s:
            h = (h * POLY_MULT + ord(ch)) % POLY_MOD
        return h

    def py_winnow(text: str, k: int, w: int) -> set[tuple[int, int]]:
        toks = text.split()
        grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        hs = [py_poly(g) for g in grams]
        out = set()
        for start in range(len(hs) - w + 1):
            window = hs[start : start + w]
            m = min(window)
            # rightmost minimal hash (the paper's tie rule)
            pos = start + max(i for i, h in enumerate(window) if h == m)
            out.add((m, pos + 1))  # 1-based
        return out

    texts = [
        (1, "a b c d e f g h i j"),
        (2, "the cat sat on the mat the cat sat on the mat"),
        (3, "x y"),  # shorter than k: no fingerprints
        (4, "one two three four five six seven"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        (r.id, r.fp_hash, r.fp_pos)
        for r in winnow_fingerprints(df, "doc_id", "text", 3, 4).collect()
    }
    want = {
        (i, h, p) for i, t in texts for (h, p) in py_winnow(t, 3, 4)
    }
    assert got == want


def test_winnowing_shared_span_guarantee(spark):
    """Any shared token run of >= w + k - 1 tokens must share at least
    one selected fingerprint hash (the paper's detection guarantee)."""
    from dnsflow_clickhouse_spark.operators.dedup import winnow_fingerprints

    span = "quick brown fox jumps over the lazy dog tonight"  # 9 >= 4+3-1
    texts = [
        (1, "alpha beta " + span + " gamma delta epsilon"),
        (2, "completely different prefix words here " + span),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    fps = winnow_fingerprints(df, "doc_id", "text", 3, 4).collect()
    h1 = {r.fp_hash for r in fps if r.id == 1}
    h2 = {r.fp_hash for r in fps if r.id == 2}
    assert h1 & h2, "shared span produced no shared fingerprint"


def test_mmr_rerank_matches_python_greedy(spark):
    import math

    from dnsflow_clickhouse_spark.operators.similarity import (
        QUANT_SCALE,
        mmr_rerank,
    )

    vecs = {
        0: [1.0, 0.0, 0.0],
        1: [0.9, 0.1, 0.0],   # close to query 0
        2: [0.89, 0.11, 0.0],  # near-dup of 1
        3: [0.0, 1.0, 0.0],   # diverse
        4: [0.5, 0.5, 0.0],
        5: [0.4, 0.1, 0.9],
    }
    rows = [(i, v) for i, v in vecs.items()]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    k_pool, k_sel, lam = 5, 3, 700_000
    got = mmr_rerank(
        df.filter("vec_id = 0"), df, "vec_id", "embedding",
        k_pool=k_pool, k_sel=k_sel, lambda_ppm=lam,
    ).orderBy("rnk").collect()

    # pure-python replay over the same quantized integers
    q = {i: [round(float(x) * QUANT_SCALE) for x in v] for i, v in vecs.items()}

    def sim(a, b):
        d = sum(x * y for x, y in zip(q[a], q[b]))
        na = math.sqrt(sum(x * x for x in q[a]))
        nb = math.sqrt(sum(x * x for x in q[b]))
        return math.floor(d / (na * nb) * 1e6 + 0.5)

    cand = sorted(
        (i for i in vecs if i != 0),
        key=lambda i: (-sim(0, i), i),
    )[:k_pool]
    picked = []
    remaining = sorted(cand)
    for _ in range(k_sel):
        if not picked:
            best = max(remaining, key=lambda i: (sim(0, i), -i))
        else:
            best = max(
                remaining,
                key=lambda i: (
                    lam * sim(0, i)
                    - (1_000_000 - lam) * max(sim(i, s) for s in picked),
                    -i,
                ),
            )
        picked.append(best)
        remaining.remove(best)
    assert [r.neighbor_id for r in got] == picked
    assert [r.simq_micro for r in got] == [sim(0, i) for i in picked]


# --- band-group execution (r12: scratch-bounded LSH mining) ---------------


def test_minhash_bands_df_band_range_bit_equal(docs):
    """band_range slices must union to EXACTLY the full banding — global
    permutation constants and band seeds, so each group's rows are
    bit-equal to the corresponding subset of the one-shot build. Both
    hash paths (portable Arrow kernel and the xxhash64 production knob)."""
    for hf in (None, F.xxhash64):
        full = sorted(
            map(tuple, minhash_bands_df(
                docs, "doc_id", "text", 8, 4, 3, hash_fn=hf
            ).collect())
        )
        for n_groups in (2, 4):
            bpg = 4 // n_groups
            got = []
            for g in range(n_groups):
                got.extend(
                    map(tuple, minhash_bands_df(
                        docs, "doc_id", "text", 8, 4, 3,
                        hash_fn=hf, band_range=(g * bpg, bpg),
                    ).collect())
                )
            assert sorted(got) == full, (hf, n_groups)


def test_minhash_bands_df_band_range_validation(docs):
    with pytest.raises(ValueError):
        minhash_bands_df(docs, "doc_id", "text", 8, 4, 3, band_range=(3, 2))
    with pytest.raises(ValueError):
        minhash_bands_df(docs, "doc_id", "text", 8, 4, 3, band_range=(-1, 1))


def test_lsh_candidate_pairs_grouped_bit_equal(docs, tmp_path):
    """The grouped miner must emit the IDENTICAL pair set as the
    one-shot plan, for every group count and both hash paths."""
    from dnsflow_clickhouse_spark.operators.dedup import (
        lsh_candidate_pairs_grouped,
    )

    for hf in (None, F.xxhash64):
        one_shot = sorted(
            (r.id_a, r.id_b)
            for r in lsh_candidate_pairs(
                docs, "doc_id", "text", 8, 4, 3, hash_fn=hf
            ).collect()
        )
        assert one_shot, "fixture corpus must mine at least one pair"
        for n_groups in (2, 4):
            out = lsh_candidate_pairs_grouped(
                docs, "doc_id", "text", 8, 4, 3, hash_fn=hf,
                n_band_groups=n_groups,
                scratch_dir=str(tmp_path / f"g{n_groups}_{hf is None}"),
            )
            assert sorted((r.id_a, r.id_b) for r in out.collect()) == one_shot


def test_lsh_candidate_pairs_grouped_hot_bucket_audit(spark, tmp_path):
    """Grouped mining with the hot-bucket guard: per-group drop counts
    sum to the one-shot audit, the eager tag feeds the same audit API,
    and the surviving pair set matches the one-shot guarded run."""
    from dnsflow_clickhouse_spark.operators.dedup import (
        lsh_candidate_pairs_grouped,
        lsh_hot_bucket_audit,
        lsh_hot_bucket_counts,
    )

    rows = [(i, "aa bb cc dd ee ff gg hh ii jj") for i in range(4)]
    rows += [(10, "xx yy zz ww vv uu tt ss rr qq"),
             (11, "xx yy zz ww vv uu tt ss rr qq")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    ref = lsh_candidate_pairs(
        df, "doc_id", "text", 8, 4, 3, max_bucket_size=3
    )
    ref_pairs = sorted((r.id_a, r.id_b) for r in ref.collect())
    ref_audit = lsh_hot_bucket_audit(ref)
    assert ref_audit["n_hot"] == 4  # the 4-member clique drops in all 4 bands
    assert (0, 1) not in ref_pairs and (10, 11) in ref_pairs

    out = lsh_candidate_pairs_grouped(
        df, "doc_id", "text", 8, 4, 3, max_bucket_size=3,
        n_band_groups=2, scratch_dir=str(tmp_path / "hot"),
    )
    assert sorted((r.id_a, r.id_b) for r in out.collect()) == ref_pairs
    audit = lsh_hot_bucket_audit(out)
    assert audit == ref_audit
    counts = lsh_hot_bucket_counts(out)
    row = counts.collect()[0]
    assert (row.n_hot_buckets, row.max_bucket_size_seen) == (
        ref_audit["n_hot"], ref_audit["max_bucket"],
    )


def test_lsh_candidate_pairs_grouped_validation(docs, tmp_path):
    from dnsflow_clickhouse_spark.operators.dedup import (
        lsh_candidate_pairs_grouped,
    )

    with pytest.raises(ValueError):
        lsh_candidate_pairs_grouped(
            docs, "doc_id", "text", 8, 4, 3, n_band_groups=3,
            scratch_dir=str(tmp_path),
        )


def test_lsh_candidate_pairs_grouped_all_groups_empty(spark, tmp_path):
    """A corpus with no shared buckets anywhere: every group writes an
    EMPTY pair frame (AQE can coalesce it to zero part files), and the
    union read must still see the schema and return 0 rows."""
    from dnsflow_clickhouse_spark.operators.dedup import (
        lsh_candidate_pairs_grouped,
    )

    rows = [(i, f"w{i}a w{i}b w{i}c w{i}d w{i}e") for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = lsh_candidate_pairs_grouped(
        df, "doc_id", "text", 8, 4, 3, n_band_groups=4,
        scratch_dir=str(tmp_path / "empty"),
    )
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id_a", "id_b"]


def test_choose_n_band_groups_model():
    """The G auto-dial against the calibrated scratch model: one-shot
    when it fits, smallest fitting divisor otherwise, tightest envelope
    (n_bands) when nothing fits. free_bytes injected — no statvfs."""
    from dnsflow_clickhouse_spark.operators.dedup import (
        choose_n_band_groups,
    )

    gb = 2**30
    # tiny corpus, huge volume: the one-shot plan fits outright
    assert choose_n_band_groups(10_000, 64, 16, free_bytes=100 * gb) == 1
    # the 16384x tier (81.92M docs x 64 hashes): G=2 models 34.4 GiB,
    # G=4 models 28.0 GiB, one-shot 110.9 GiB. At round-13's real
    # volume state (52 GiB free -> budget 34.7) G=2 just fits; a
    # tighter volume (46 GiB free -> budget 30.7) forces G=4.
    assert choose_n_band_groups(
        81_920_000, 64, 16, free_bytes=52 * gb
    ) == 2
    assert choose_n_band_groups(
        81_920_000, 64, 16, free_bytes=46 * gb
    ) == 4
    # the 8192x tier with the r12 run's roomier volume: G=2 suffices
    assert choose_n_band_groups(
        40_960_000, 64, 16, free_bytes=63 * gb
    ) == 2
    # nothing fits: fall back to the tightest envelope the knob offers
    assert choose_n_band_groups(
        81_920_000, 64, 16, free_bytes=1 * gb
    ) == 16
    # G candidates are divisors of n_bands only (12 -> 2,3,4,6,12)
    assert choose_n_band_groups(
        40_960_000, 64, 12, free_bytes=40 * gb
    ) in (2, 3, 4, 6, 12)


def test_release_group_scratch_size_gate(spark, monkeypatch):
    """Small inputs must skip the GC nudge + settle entirely; unknown
    (None) sizes are treated as large and keep it."""
    from dnsflow_clickhouse_spark.operators import dedup as dd

    slept: list[float] = []
    monkeypatch.setattr(dd, "_settle", lambda s: slept.append(s))
    dd._release_group_scratch(spark, 1 << 20)  # 1 MB: gated out
    assert slept == []
    dd._release_group_scratch(spark, None)  # unknown: conservative
    assert slept == [2.0]


def test_plan_input_size_bytes(docs):
    from dnsflow_clickhouse_spark.operators.dedup import (
        _plan_input_size_bytes,
    )

    n = _plan_input_size_bytes(docs)
    assert n is None or (isinstance(n, int) and n >= 0)


def test_grouped_auto_dial(docs, tmp_path, monkeypatch):
    """n_band_groups='auto' consults the model (never picking 1 — the
    grouped form stands) and still mines the one-shot pair set; a
    non-int non-'auto' value is rejected."""
    from dnsflow_clickhouse_spark.operators import dedup as dd

    seen: dict = {}

    def fake_choose(n_docs, n_hashes=64, n_bands=16, **kw):
        seen["args"] = (n_docs, n_hashes, n_bands)
        return 1  # model says one-shot fits -> auto clamps to G=2

    monkeypatch.setattr(dd, "choose_n_band_groups", fake_choose)
    one_shot = sorted(
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(docs, "doc_id", "text", 8, 4, 3).collect()
    )
    out = dd.lsh_candidate_pairs_grouped(
        docs, "doc_id", "text", 8, 4, 3,
        n_band_groups="auto", scratch_dir=str(tmp_path / "auto"),
    )
    assert sorted((r.id_a, r.id_b) for r in out.collect()) == one_shot
    assert seen["args"] == (docs.count(), 8, 4)
    with pytest.raises(ValueError):
        dd.lsh_candidate_pairs_grouped(
            docs, "doc_id", "text", 8, 4, 3, n_band_groups="3",
        )


def test_expanded_sq_dists_match_broadcast_reference():
    """r14: the expanded-form distance helpers (the r13-ADVICE memory
    fix — no (n, c, dim)/(n, m, k, sub) broadcast temporaries) must be
    bit-identical int64 to the squared-difference form every PQ/IVF
    kernel previously materialized, including argmin tie positions."""
    import numpy as np

    from dnsflow_clickhouse_spark.operators.similarity import (
        _rows_sq_dists,
        _subspace_sq_dists,
    )

    rng = np.random.RandomState(7)
    X = rng.randint(-10000, 10001, size=(53, 64)).astype(np.int64)
    C = rng.randint(-10000, 10001, size=(16, 64)).astype(np.int64)
    C[3] = C[5]  # force a tie so argmin order is exercised
    ref = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2, dtype=np.int64)
    got = _rows_sq_dists(X, C)
    assert got.dtype == np.int64
    assert (ref == got).all()
    assert (ref.argmin(axis=1) == got.argmin(axis=1)).all()

    m, k, sub = 4, 8, 8
    Xs = rng.randint(-10000, 10001, size=(31, m, sub)).astype(np.int64)
    mats = rng.randint(-10000, 10001, size=(m, k, sub)).astype(np.int64)
    mats[1, 2] = mats[1, 6]  # tie inside one subspace
    ref2 = ((Xs[:, :, None, :] - mats[None, :, :, :]) ** 2).sum(
        axis=3, dtype=np.int64
    )
    got2 = _subspace_sq_dists(Xs, mats)
    assert got2.dtype == np.int64
    assert (ref2 == got2).all()
    assert (ref2.argmin(axis=2) == got2.argmin(axis=2)).all()


def test_topk_prune_nan_guard_keeps_nan_rows():
    """r14 (r13 ADVICE): NaN cosines (zero-norm vectors) must not make
    the in-kernel prune drop a query's whole batch. The kernels now
    substitute +inf for the mask — mirroring Spark's NaN-as-largest
    window ordering, i.e. the exact pre-prune behavior — so NaN entries
    are kept and finite candidates still prune correctly."""
    import numpy as np

    from dnsflow_clickhouse_spark.operators.similarity import _topk_prune_mask

    cos = np.array([[np.nan, np.nan, 0.9, 0.8, 0.7]])
    # the kernel-side substitution under test
    pr = np.where(np.isnan(cos), np.inf, cos)
    mask = _topk_prune_mask(np.where(np.ones_like(cos, bool), pr, -np.inf), 2)
    # without the guard the kth value is NaN and everything is dropped
    assert mask[0].tolist() == [True, True, False, False, False]
    # finite-only rows are unaffected
    cos2 = np.array([[0.1, 0.5, 0.4, 0.2, 0.3]])
    mask2 = _topk_prune_mask(np.where(np.isnan(cos2), np.inf, cos2), 2)
    assert mask2[0].tolist() == [False, True, True, False, False]


def test_winnow_hashes_only_matches_distinct_fingerprints(docs):
    """r14: the hashes_only kernel path must return exactly the
    (id, fp_hash) distinct projection of the positional fingerprint
    table — same selections, positions dropped after selection."""
    from dnsflow_clickhouse_spark.operators.dedup import winnow_fingerprints

    full = winnow_fingerprints(docs, "doc_id", "text", 3, 4)
    ref = sorted(
        set((r.id, r.fp_hash) for r in full.collect())
    )
    got = sorted(
        (r.id, r.fp_hash)
        for r in winnow_fingerprints(
            docs, "doc_id", "text", 3, 4, hashes_only=True
        ).collect()
    )
    assert got == ref and len(got) > 0

"""Semantic tests for the training-data-pipeline operators (dedup,
similarity, text analysis, multimodal) on small planted fixtures —
the differential oracle tests in test_analytics_oracle.py cover the
registered queries; these pin the operator semantics directly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chicago_crash_data_pipeline_dashboard_spark.functions import text as TX
from chicago_crash_data_pipeline_dashboard_spark.operators import dedup as DD
from chicago_crash_data_pipeline_dashboard_spark.operators import multimodal as MM
from chicago_crash_data_pipeline_dashboard_spark.operators import similarity as SIM

BASE = "the quick brown fox jumps over the lazy dog again and again today"
NEAR = "the quick brown fox jumps over the lazy dog again and again tonight"
OTHER = "completely different words about spark catalyst tungsten shuffles everywhere"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE, "a"),
        (2, BASE, "a"),  # exact dup of 1
        (3, NEAR, "b"),  # near dup of 1
        (4, OTHER, "b"),
        (5, "  THE  QUICK brown fox jumps over the lazy dog again and again today ", "c"),
        # normalizes to BASE
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "source"])


def test_exact_duplicates_groups(docs):
    groups = DD.exact_duplicates(docs, "doc_id", "text").collect()
    assert len(groups) == 1
    assert groups[0]["doc_ids"] == "1,2,5"  # whitespace/case-normalized


def test_dedup_exact_keeps_min_id(docs):
    kept = sorted(r.doc_id for r in DD.dedup_exact(docs, "doc_id", "text").collect())
    assert kept == [1, 3, 4]


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in DD.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3).collect()
    }
    # exact dups have jaccard 1.0
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 5)] == 1.0
    # one-word suffix change on a 13-token doc: 11 shingles, 10 shared
    assert 0.7 < pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


@pytest.mark.parametrize("hash_mode", ["murmur3", "md5"])
def test_minhash_near_duplicates(docs, hash_mode):
    pairs = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in DD.minhash_near_duplicates(
            docs, "doc_id", "text", threshold=0.5, num_hashes=32, bands=8,
            hash_mode=hash_mode,
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical signature
    assert pairs[(1, 5)] == 1.0
    assert (1, 3) in pairs  # near dup estimated high
    assert (1, 4) not in pairs


@pytest.fixture(scope="module")
def hot_docs(spark):
    """Corpus with a planted hot bucket: 6 identical clones share every
    band bucket, so with max_bucket<6 all their buckets are dropped."""
    pair_a = "spark catalyst rewrites logical plans into physical plans very quickly today"
    pair_b = "spark catalyst rewrites logical plans into physical plans very quickly tonight"
    rows = [(i, BASE, "clone") for i in range(10, 16)] + [
        (1, pair_a, "a"),
        (3, pair_b, "b"),
        (4, OTHER, "b"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "source"])


def test_minhash_hot_bucket_guard_drops_degenerate_bucket(hot_docs):
    kw = dict(threshold=0.5, num_hashes=32, bands=8, shingle_n=3, hash_mode="md5")
    # uncapped: the 6 clones yield all 15 clone pairs
    pairs_all = {
        (r.doc_a, r.doc_b)
        for r in DD.minhash_near_duplicates(hot_docs, "doc_id", "text", **kw).collect()
    }
    clone_pairs = {(a, b) for a in range(10, 16) for b in range(a + 1, 16)}
    assert clone_pairs <= pairs_all
    assert (1, 3) in pairs_all
    # capped below the clone-bucket size: clone pairs are dropped (the
    # exact-dedup path owns literal clones), the small near-dup survives
    pairs_capped = {
        (r.doc_a, r.doc_b)
        for r in DD.minhash_near_duplicates(
            hot_docs, "doc_id", "text", max_bucket=5, **kw
        ).collect()
    }
    assert not (clone_pairs & pairs_capped)
    assert (1, 3) in pairs_capped


def test_minhash_lsh_candidates_pairs_and_cap(docs, hot_docs):
    """The candidates-only variant: near dups co-bucket, unrelated docs
    don't, and the hot-bucket cap drops the degenerate clone bucket."""
    sigs = DD.minhash_signatures(docs, "doc_id", "text", num_hashes=32, hash_mode="md5")
    cands = {
        (r.doc_a, r.doc_b)
        for r in DD.minhash_lsh_candidates(sigs, bands=8, rows_per_band=4).collect()
    }
    assert {(1, 2), (1, 5), (2, 5)} <= cands  # identical docs share every band
    assert (1, 4) not in cands
    hot_sigs = DD.minhash_signatures(
        hot_docs, "doc_id", "text", num_hashes=32, hash_mode="md5"
    )
    capped = {
        (r.doc_a, r.doc_b)
        for r in DD.minhash_lsh_candidates(
            hot_sigs, bands=8, rows_per_band=4, max_bucket=5
        ).collect()
    }
    clone_pairs = {(a, b) for a in range(10, 16) for b in range(a + 1, 16)}
    assert not (clone_pairs & capped)
    assert (1, 3) in capped


def test_minhash_hot_bucket_guard_matches_oracle(spark, hot_docs, tmp_path):
    """Differential: the capped Spark path vs the oracle's `hot` CTE on
    the SAME corpus (written to parquet, viewed as `documents`)."""
    import duckdb

    from chicago_crash_data_pipeline_dashboard_spark.plans.llm_ops import _minhash_oracle

    pq = str(tmp_path / "documents.parquet")
    hot_docs.toPandas().to_parquet(pq)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{pq}'")
    oracle_rows = {
        tuple(r)
        for r in con.execute(
            _minhash_oracle(
                num_hashes=32, bands=8, shingle_n=3, seed=42, threshold=0.5, max_bucket=5
            )
        ).fetchall()
    }
    con.close()
    spark_rows = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in DD.minhash_near_duplicates(
            hot_docs, "doc_id", "text",
            threshold=0.5, num_hashes=32, bands=8, shingle_n=3, seed=42,
            hash_mode="md5", max_bucket=5,
        ).collect()
    }
    assert spark_rows == oracle_rows
    assert spark_rows  # non-vacuous: the surviving near-dup pair is present


@pytest.mark.parametrize("hash_mode", ["murmur3", "md5"])
def test_simhash_identical_fingerprints(docs, hash_mode):
    fp = {r.doc: r.simhash for r in DD.simhash(docs, "doc_id", "text", hash_mode=hash_mode).collect()}
    assert fp[1] == fp[2] == fp[5]
    assert fp[1] != fp[4]
    groups = DD.simhash_near_duplicates(docs, "doc_id", "text", hash_mode=hash_mode).collect()
    assert any(g["doc_ids"] == "1,2,5" for g in groups)


@pytest.fixture(scope="module")
def vecs(spark):
    dim = 8
    base = [1.0, 0.5, -0.25, 0.75, -1.0, 0.1, 0.0, 0.3]
    near = [v * 1.01 + (0.001 if i == 0 else 0.0) for i, v in enumerate(base)]
    orth = [0.0, 0.0, 1.0, 0.0, 0.5, -0.5, 1.0, -0.2]
    anti = [-v for v in base]
    rows = [(0, base), (1, near), (2, orth), (3, anti)]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]), dim


def test_semantic_dedup_keeps_min_id_per_near_dup_group(spark):
    """SemDeDup: near-identical embeddings (cos ≥ threshold) collapse to
    their min id; dissimilar vectors all survive."""
    base = [1.0, 0.5, -0.25, 0.75, -1.0, 0.1, 0.0, 0.3]
    orth = [0.0, 0.0, 1.0, 0.0, 0.5, -0.5, 1.0, -0.2]
    rows = [
        (0, base),
        (1, [v * 1.001 for v in base]),        # cos ≈ 1 with 0
        (2, [v + (0.001 if i == 0 else 0.0) for i, v in enumerate(base)]),
        (3, orth),
        (4, [v * 0.999 for v in orth]),        # cos ≈ 1 with 3
        (5, [-v for v in base]),               # antipode: cos = -1, survives
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    kept = sorted(
        r.vec_id
        for r in DD.semantic_dedup(
            df, "vec_id", "embedding", n_clusters=3, threshold=0.99, seed=7
        ).collect()
    )
    assert kept == [0, 3, 5]


def test_semantic_dedup_oversize_cluster_skipped(spark):
    """Clusters beyond max_cluster are kept undeduped (bounded work),
    never pair-exploded — the skew guard of the quadratic step."""
    base = [1.0, 0.5, -0.25, 0.75, -1.0, 0.1, 0.0, 0.3]
    rows = [(i, [v * (1 + i * 1e-4) for v in base]) for i in range(6)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    kept_capped = sorted(
        r.vec_id
        for r in DD.semantic_dedup(
            df, "vec_id", "embedding", n_clusters=1, threshold=0.99, seed=7,
            max_cluster=5,
        ).collect()
    )
    assert kept_capped == [0, 1, 2, 3, 4, 5]  # 6-member cluster skipped
    kept = sorted(
        r.vec_id
        for r in DD.semantic_dedup(
            df, "vec_id", "embedding", n_clusters=1, threshold=0.99, seed=7
        ).collect()
    )
    assert kept == [0]  # uncapped: one survivor


def test_brute_force_topk_ranks_by_cosine(vecs):
    df, _ = vecs
    out = SIM.brute_force_topk(df, df.filter(F.col("vec_id") == 0), k=3).collect()
    ranked = [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)]
    assert ranked[0] == 1  # scaled copy ≈ cosine 1
    assert ranked[-1] == 3  # antipode last
    assert out[0].cos <= 1.0


def test_lsh_topk_recall_on_testdata(spark, sf_oracle):
    emb = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8)
    exact = SIM.brute_force_topk(emb, q, k=5).select("query_id", "neighbor_id")
    approx = SIM.lsh_topk(emb, q, k=5, n_planes=4, dim=64)
    hit = exact.join(approx, ["query_id", "neighbor_id"], "inner").count()
    assert hit / exact.count() >= 0.4  # multi-probe 16-bucket LSH recall floor


def test_embedding_near_duplicates(vecs):
    df, dim = vecs
    pairs = DD.embedding_near_duplicates(
        df, "vec_id", "embedding", threshold=0.95, n_planes=4, dim=dim
    ).collect()
    assert [(p.doc_a, p.doc_b) for p in pairs] == [(0, 1)]
    assert pairs[0].cosine > 0.99


def test_text_function_edges(spark):
    rows = [
        (1, ""),
        (2, "   "),
        (3, "one"),
        (4, "Hello, world! This is a test of the quality system."),
        (5, "le chat est sur la table et le chien est dans le jardin"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            TX.token_count(F.col("text")).alias("tc"),
            TX.quality_score(F.col("text")).alias("q"),
            TX.lang_id(F.col("text")).alias("lang"),
            TX.word_shingles(F.col("text"), 3).alias("sh"),
        ).collect()
    }
    assert out[1].tc == 0 and out[2].tc == 0
    assert out[3].tc == 1 and out[3].sh == ["one"]
    assert 0.0 <= out[4].q <= 1.0
    assert out[4].lang == "en"
    assert out[5].lang == "fr"
    assert out[1].lang == "und"


def test_media_featurize_schema_and_determinism(spark):
    media = MM.make_media_fixture(spark, n=32)
    feats = MM.decode_and_featurize(media)
    assert [f.name for f in feats.schema.fields] == [
        "media_id", "media_type", "n_bytes", "features", "feature_source",
    ]
    rows = feats.collect()
    a = {r.media_id: r.features for r in rows}
    b = {r.media_id: r.features for r in MM.decode_and_featurize(media).collect()}
    assert a == b  # deterministic across runs
    assert all(len(v) == 16 for v in a.values())
    assert all(-1.0 <= x <= 1.0 for v in a.values() for x in v)
    # no decode requested -> every vector is flagged as a stand-in
    assert all(r.feature_source == "stub" for r in rows)


def test_media_stub_fallback_is_flagged(spark):
    """on_undecodable='stub': codec rows degrade to sha256 features
    marked 'stub'; raw rows still decode for real, marked 'decoded' —
    provenance keeps the two populations distinguishable."""
    media = MM.make_media_fixture(spark, n=10)  # ids 3, 8 are mp4
    rows = {r.media_id: r for r in
            MM.decode_and_featurize(media, real_decode=True,
                                    on_undecodable="stub").collect()}
    assert {i for i, r in rows.items() if r.feature_source == "stub"} == {3, 8}
    assert {i for i, r in rows.items() if r.feature_source == "decoded"} == {0, 1, 2, 4, 5, 6, 7, 9}
    assert all(len(r.features) == 16 for r in rows.values())


def test_media_corrupt_bmp_degrades_cleanly():
    """Header-declared offset/bpp are corruption-controlled: a pixel
    offset past the payload or bpp < 8 must yield zero samples, not an
    executor crash."""
    good = MM.make_bmp(4, 3, seed=1)
    bad_offset = good[:10] + (10**6).to_bytes(4, "little") + good[14:]
    assert MM._decode_samples(bad_offset, "bmp").size == 0
    bad_bpp = good[:28] + (1).to_bytes(2, "little") + good[30:]
    assert MM._decode_samples(bad_bpp, "bmp").size == 0
    assert MM._decode_samples(good, "bmp").size == 3 * 4 * 3


def test_media_corrupt_wav_degrades_cleanly():
    """WAV header fields are corruption-controlled too: a sub-byte
    bits_per_sample (truthy, but bits // 8 == 0) must not divide by
    zero, and a declared data-chunk size overrunning the payload must
    clamp, not crash np.frombuffer."""
    good = MM.make_wav(16, seed=2)
    bad_bits = good[:34] + (4).to_bytes(2, "little") + good[36:]
    meta = MM.parse_media_header(bad_bits)
    assert meta is not None and meta["duration_ms"] is None
    assert len(MM._real_features(bad_bits)) > 0  # still decodes samples
    bad_size = good[:40] + (10**6).to_bytes(4, "little") + good[44:]
    assert MM._decode_samples(bad_size, "wav").size == 16
    assert MM._decode_samples(good, "wav").size == 16


def test_media_codec_decode_is_stubbed(spark):
    """Only CODEC formats (the mp4 rows) lack an in-container decoder;
    raw wav/bmp/ppm decode for real (see test_media_real_decode)."""
    media = MM.make_media_fixture(spark, n=4)  # id 3 is mp4
    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        MM.decode_and_featurize(media, real_decode=True).collect()


def test_media_real_decode_raw_formats(spark):
    """wav/bmp/ppm rows produce REAL sample-statistic features from
    the decoded payload bytes — deterministic, bounded, nonzero."""
    from pyspark.sql import functions as F

    media = MM.make_media_fixture(spark, n=32).filter(
        F.col("meta.format") != "mp4"
    )
    feats = {r.media_id: r.features for r in
             MM.decode_and_featurize(media, real_decode=True).collect()}
    assert len(feats) == 26  # 32 minus the 6 mp4 rows (i%5==3)
    for v in feats.values():
        assert len(v) == 16
        assert all(-1.0 <= x <= 1.0 for x in v)
    # a real signal: std (f1) and rms (f4) of actual payloads are > 0
    assert all(v[1] > 0 and v[4] > 0 for v in feats.values())


def test_media_header_parsers_roundtrip():
    wav = MM.make_wav(1200, sample_rate=8000, n_channels=2, seed=7)
    m = MM.parse_media_header(wav)
    assert m == {"media_type": "audio", "format": "wav", "width": None,
                 "height": None, "duration_ms": 150, "n_channels": 2}
    bmp = MM.make_bmp(10, 7, seed=3)
    m = MM.parse_media_header(bmp)
    assert (m["format"], m["width"], m["height"], m["n_channels"]) == ("bmp", 10, 7, 3)
    assert len(bmp) == 54 + 7 * ((3 * 10 + 3) // 4 * 4)
    ppm = MM.make_ppm(5, 4, seed=1)
    m = MM.parse_media_header(ppm)
    assert (m["format"], m["width"], m["height"]) == ("ppm", 5, 4)
    assert len(ppm) == 11 + 3 * 5 * 4
    # comment-tolerant PPM header
    m = MM.parse_ppm(b"P6\n# a comment\n6 2\n255\n" + bytes(36))
    assert (m["width"], m["height"]) == (6, 2)
    # unknown magic -> None
    assert MM.parse_media_header(b"\x00\x01\x02rubbish") is None


def test_extract_media_meta_headers_beat_provided(spark):
    """Parsed header fields must win over the provided meta struct for
    raw formats (meta_source records which path fired)."""
    media = MM.make_media_fixture(spark, n=8)
    rows = {r.media_id: r for r in MM.extract_media_meta(media).collect()}
    assert rows[0].meta_source == "header" and rows[0].format == "bmp"
    assert rows[0].width == 8 and rows[0].height == 6
    assert rows[1].meta_source == "header" and rows[1].format == "wav"
    assert rows[1].duration_ms == 105 and rows[1].n_channels == 2
    assert rows[2].meta_source == "header" and rows[2].format == "ppm"
    assert rows[3].meta_source == "provided" and rows[3].format == "mp4"
    assert rows[3].duration_ms == 5300
    assert rows[4].meta_source == "header" and rows[4].format == "png"
    assert rows[4].width == 6 and rows[4].height == 8  # w=5+(4%3), h=4+(4%6)
    assert rows[4].n_bytes == 68 + 8 * (3 * 6 + 1)  # stored-block closed form


def test_frame_sample_plan(spark):
    media = MM.make_media_fixture(spark, n=9)  # ids 3, 8 are video
    frames = MM.frame_sample_plan(media, every_ms=1000).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r.media_id, []).append(r.frame_ts_ms)
    # duration 5000+i*100 → ids 3, 8 → 5300, 5800 ms → 6 samples each
    assert set(by_id) == {3, 8}
    assert all(ts == sorted(ts) and ts[0] == 0 and len(ts) == 6 for ts in by_id.values())


def test_ivf_topk_recall_on_testdata(spark, sf_oracle):
    emb = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8)
    exact = SIM.brute_force_topk(emb, q, k=5).select("query_id", "neighbor_id")
    approx = SIM.ivf_topk(emb, q, k=5, n_clusters=16, n_probe=4)
    assert approx.count() == exact.count() == 40  # 8 queries × k
    hit = exact.join(approx, ["query_id", "neighbor_id"], "inner").count()
    assert hit / exact.count() >= 0.5  # 4/16-probe recall floor


def test_minhash_rejects_indivisible_bands(docs):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="divisible"):
        DD.minhash_near_duplicates(docs, "doc_id", "text", num_hashes=30, bands=8)


def test_bmp_features_exclude_row_padding():
    """BMP rows are padded to 4 bytes; feature statistics must cover
    pixel bytes only (9-wide rows carry 1 pad byte each)."""
    from chicago_crash_data_pipeline_dashboard_spark.operators.multimodal import (
        _decode_samples,
        make_bmp,
    )

    w, h = 9, 4
    bmp = make_bmp(w, h, seed=0)
    samples = _decode_samples(bmp, "bmp")
    assert samples.size == 3 * w * h  # not stride*h (= 28*4)
    # seed=0 pixels are (3*(y*w+x)+c) % 256 — never the padding zeros
    # beyond index 85, so a padding leak would show up as extra -1.0s
    expected_zeros = sum(
        1 for y in range(h) for x in range(w) for c in range(3)
        if (3 * (y * w + x) + c) % 256 == 0
    )
    assert (samples == -1.0).sum() == expected_zeros


def test_repetition_signal_edges(spark):
    rows = [
        (1, "a b\na b\na b"),            # 3 identical lines -> 2/3 dup
        (2, "x y\n\n  \nz w"),           # blank lines excluded -> 0 dup
        (3, "spam spam spam spam"),      # one dominant 2-gram
        (4, "one"),                      # < 2 tokens -> whole text as gram
        (5, "a b c d"),                  # all 2-grams distinct
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            TX.line_dup_ratio(F.col("text")).alias("dl"),
            TX.word_ngram_list(F.col("text"), 2).alias("grams"),
        ).collect()
    }
    assert abs(got[1].dl - 2 / 3) < 1e-12
    assert got[2].dl == 0.0
    assert got[3].grams == ["spam spam"] * 3
    assert got[4].grams == ["one"]
    assert got[5].grams == ["a b", "b c", "c d"]
    assert got[5].dl == 0.0  # single line


def test_png_decode_roundtrip_all_filters():
    """Real PNG decode (stdlib zlib, no codec library): every scanline
    filter type (None/Sub/Up/Average/Paeth) must reconstruct the exact
    pixels that were encoded."""
    import numpy as np

    w, h, seed = 5, 10, 7
    filters = [0, 1, 2, 3, 4, 4, 3, 2, 1, 0]
    blob = MM.make_png(w, h, seed=seed, filters=filters)
    meta = MM.parse_media_header(blob)
    assert meta == {
        "media_type": "image", "format": "png", "width": w, "height": h,
        "duration_ms": None, "n_channels": 3,
    }
    expect = np.array(
        [(seed + j) % 256 for j in range(3 * w * h)], dtype=np.float64
    ) / 127.5 - 1.0
    got = MM._decode_samples(blob, "png")
    assert got.shape == expect.shape
    assert np.allclose(got, expect)
    # real-decode featurization flows through the same stats path
    feats = MM._real_features(blob)
    assert feats[:2] == [float(expect.mean()), float(expect.std())]


def test_png_corrupt_degrades_cleanly():
    blob = MM.make_png(4, 3, seed=1)
    # truncated IDAT: zlib error -> zero samples, not a crash
    assert MM._decode_samples(blob[:40], "png").size == 0
    # 16-bit depth / palette color types are out of scope -> zeros
    deep = bytearray(blob); deep[24] = 16
    assert MM._decode_samples(bytes(deep), "png").size == 0
    pal = bytearray(blob); pal[25] = 3
    assert MM._decode_samples(bytes(pal), "png").size == 0
    # metadata still parses for the in-scope blob
    assert MM.parse_media_header(blob)["format"] == "png"


def test_png_zlib_bomb_is_bounded():
    """A tiny header promising 4x3 pixels with an IDAT inflating to
    ~64 MB must cap the inflate at the promised scanline bytes, not
    materialize the bomb."""
    import struct
    import zlib

    blob = MM.make_png(4, 3, seed=1)
    bomb = zlib.compress(b"\x00" * (64 * 1024 * 1024))

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    sig_ihdr = blob[: 8 + 25]  # signature + IHDR chunk (25 = 12 + 13)
    evil = sig_ihdr + chunk(b"IDAT", bomb) + chunk(b"IEND", b"")
    s = MM._decode_samples(evil, "png")
    # rows decode as filter-0 zeros from the capped stream
    assert s.size == 3 * 4 * 3
    assert (s == -1.0).all()


def test_make_png_filters_length_validated():
    with pytest.raises(ValueError, match="one entry per row"):
        MM.make_png(4, 3, filters=[0, 1])


# --------------------------------------------------------------------------
# PII scrubbing (pii_counts / scrub_pii) — real PII strings; the gate
# query doc_pii_scrub verifies the same machinery differentially on
# injected fixtures (the synthetic corpus itself carries no PII).
# --------------------------------------------------------------------------

PII_TEXT = (
    "write to alice.smith+spam@mail.example.org or bob@ex.io, "
    "ssh to 192.168.0.17 then call 312-555-0148 or 773.555.0199"
)


def test_pii_counts_each_kind(spark):
    df = spark.createDataFrame([(PII_TEXT,), ("no pii here at all",)], ["text"])
    got = df.select(TX.pii_counts(F.col("text")).alias("c")).collect()
    assert (got[0]["c"]["email"], got[0]["c"]["ipv4"], got[0]["c"]["phone"]) == (2, 1, 2)
    assert (got[1]["c"]["email"], got[1]["c"]["ipv4"], got[1]["c"]["phone"]) == (0, 0, 0)


def test_scrub_pii_redacts_and_is_idempotent(spark):
    df = spark.createDataFrame([(PII_TEXT,)], ["text"])
    once = df.select(TX.scrub_pii(F.col("text")).alias("t"))
    row = once.collect()[0]["t"]
    assert "alice" not in row and "192.168" not in row and "555-0148" not in row
    assert row.count("<PII>") == 5
    # idempotent: scrubbing scrubbed text changes nothing
    twice = once.select(TX.scrub_pii(F.col("t")).alias("t")).collect()[0]["t"]
    assert twice == row
    # non-PII text passes through untouched
    clean = spark.createDataFrame([("plain text, nothing here",)], ["text"])
    assert (
        clean.select(TX.scrub_pii(F.col("text")).alias("t")).collect()[0]["t"]
        == "plain text, nothing here"
    )


def test_scrub_pii_email_consumed_before_ipv4(spark):
    # the numeric-domain address must be eaten whole by the email pass,
    # not half-redacted by the ipv4 pass (order reversed, 1.2.3.4 would
    # be chewed out of the middle of the address first)
    df = spark.createDataFrame([("mail x@1.2.3.4.com done",)], ["text"])
    out = df.select(TX.scrub_pii(F.col("text")).alias("t")).collect()[0]["t"]
    assert out == "mail <PII> done"


# --------------------------------------------------------------------------
# Sequence packing (doc_pack_bins semantics) on a hand-computed fixture
# --------------------------------------------------------------------------


def test_pack_bins_hand_computed(spark):
    from chicago_crash_data_pipeline_dashboard_spark.plans.llm_ops import (
        _PACK_BIN,
        _PACK_SHARDS,
    )

    assert (_PACK_BIN, _PACK_SHARDS) == (512, 8)
    # one source, shard 0 only (doc_ids multiples of 8), token counts
    # 300/300/300: starts at 0, 300, 600 → bins 0, 0, 1
    rows = [(0, "w " * 299 + "w", "s"), (8, "w " * 299 + "w", "s"), (16, "w " * 299 + "w", "s")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    from pyspark.sql import Window

    toks = df.select(
        "doc_id",
        "source",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        TX.token_count(F.col("text")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    got = {
        (r["doc_id"], r["bin"]) for r in toks.withColumn("bin", (start / _PACK_BIN).cast("long")).collect()
    }
    assert got == {(0, 0), (8, 0), (16, 1)}


# --------------------------------------------------------------------------
# Product quantization (pq_topk)
# --------------------------------------------------------------------------


def test_pq_codes_shape_and_determinism(spark, sf_oracle):
    emb = spark.read.parquet(f"{sf_oracle}/embeddings.parquet").limit(64)
    sample = [r[0] for r in emb.select("embedding").collect()]
    cb = SIM.pq_train(sample, dim=64, m=16, ks=8, seed=7)
    assert len(cb) == 16 and len(cb[0]) == 8 and len(cb[0][0]) == 4
    codes = emb.select(
        "vec_id", SIM._pq_codes(F.col("embedding"), cb).alias("codes")
    )
    a = {r.vec_id: r.codes for r in codes.collect()}
    b = {r.vec_id: r.codes for r in codes.collect()}
    assert a == b  # deterministic
    assert all(len(v) == 16 and all(0 <= c < 8 for c in v) for v in a.values())


def test_pq_train_rejects_indivisible_dim():
    with pytest.raises(ValueError, match="not divisible"):
        SIM.pq_train([[0.0] * 10], dim=10, m=3)


def test_pq_topk_recall_on_testdata(spark, sf_oracle):
    emb = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8)
    exact = SIM.brute_force_topk(emb, q, k=5).select("query_id", "neighbor_id")
    approx = SIM.pq_topk(emb, q, k=5, dim=64, m=16, ks=16, refine=8)
    rows = approx.collect()
    # exactly k results per query, ranks 1..5, cosine within bounds
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    assert all(sorted(x.rank for x in v) == [1, 2, 3, 4, 5] for v in per_q.values())
    assert all(-1.0 <= r.cos <= 1.0 for r in rows)
    hit = exact.join(approx, ["query_id", "neighbor_id"], "inner").count()
    assert hit / exact.count() >= 0.85  # measured 0.9 at sf0.01


def test_fit_quantizer_matches_naive_reference_bitwise():
    """The incremental k-means++ seeding + per-center Lloyd assignment
    must be BIT-IDENTICAL to the naive 3-d-broadcast reference (same
    per-center float expression, exact min/argmin) — the r6 rewrite is
    an O(k²·n·d) → O(k·n·d) memory/flops fix, not an algorithm change,
    so every gate built on the quantizer keeps its exact results."""
    import numpy as np

    def naive(sample, n_clusters, seed, max_iter=20):
        x = np.asarray(sample, dtype=np.float64)
        rng = np.random.RandomState(seed)
        centers = [x[rng.randint(len(x))]]
        for _ in range(1, n_clusters):
            d2 = np.min(
                ((x[:, None, :] - np.asarray(centers)[None, :, :]) ** 2).sum(-1), axis=1
            )
            probs = d2 / d2.sum() if d2.sum() > 0 else None
            centers.append(x[rng.choice(len(x), p=probs)])
        c = np.asarray(centers)
        for _ in range(max_iter):
            assign = ((x[:, None, :] - c[None, :, :]) ** 2).sum(-1).argmin(axis=1)
            new_c = np.array(
                [x[assign == j].mean(axis=0) if (assign == j).any() else c[j]
                 for j in range(n_clusters)]
            )
            if np.allclose(new_c, c):
                break
            c = new_c
        return c

    rng = np.random.RandomState(7)
    sample = (rng.rand(600, 16) - 0.5).tolist()
    # include duplicate rows and a zero vector — degenerate but legal
    sample[10] = sample[11]
    sample[12] = [0.0] * 16
    for k, seed in [(4, 42), (16, 42), (23, 7)]:
        got = SIM._fit_quantizer(sample, k, seed)
        want = naive(sample, k, seed)
        assert np.array_equal(got, want), (k, seed)


def test_assign_clusters_batched_agrees_with_hof(spark, sf_oracle):
    """The Arrow-batched matmul assignment (the large-k scale path)
    must agree with the constant-folded HOF assignment on separated
    data — same nearest centroid, same lowest-index tie policy."""
    emb = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    sample = SIM._driver_sample(emb, "embedding", 65536, 42)
    cents = SIM._fit_quantizer(sample, 8, 42)
    hof = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        SIM._nearest_centroid(F.col("embedding"), cents).alias("_cluster"),
    )
    batched = SIM.assign_clusters_batched(emb, cents).select(
        "neighbor_id", "_cluster"
    )
    a = {r.neighbor_id: r._cluster for r in hof.collect()}
    b = {r.neighbor_id: r._cluster for r in batched.collect()}
    assert a == b


def test_ivf_topk_batched_assignment_matches_hof_results(spark, sf_oracle):
    """ivf_topk(assignment='batched') — the r7 wiring of the large-k
    path into the public API — must return the same (query, neighbor,
    cos) rows as the default HOF assignment: same centroids (shared
    quantizer), agreeing assignments (test above), identical scoring."""
    emb = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 4)
    kw = dict(id_col="vec_id", vec_col="embedding", k=3, n_clusters=8, n_probe=3, seed=42)
    hof = SIM.ivf_topk(emb, q, **kw)
    batched = SIM.ivf_topk(emb, q, assignment="batched", **kw)
    assert sorted(map(tuple, hof.collect())) == sorted(map(tuple, batched.collect()))


def test_assign_clusters_batched_rejects_null_embeddings(spark):
    """NULL vectors fail with the explicit contract error, not an
    opaque numpy stack error (ADVICE r6)."""
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None)], "vec_id long, embedding array<double>"
    )
    out = SIM.assign_clusters_batched(df, [[1.0, 0.0], [0.0, 1.0]])
    with pytest.raises(Exception, match="not .*assignable|assignable"):
        out.collect()


def test_ivf_index_rejects_unknown_assignment(spark):
    df = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="assignment"):
        SIM.ivf_index(df, assignment="nope")


def test_dedup_exact_reserved_column_raises(spark):
    df = spark.createDataFrame([(1, "a", 0)], "doc_id long, text string, _rn int")
    with pytest.raises(ValueError, match="_rn"):
        DD.dedup_exact(df, "doc_id", "text")


def test_pq_index_roundtrip_codebook(spark, sf_oracle, tmp_path):
    """write_pq_index persists the codebook bit-exactly (JSON round-
    trips doubles via repr → correctly-rounded parse)."""
    emb = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    path = str(tmp_path / "pq_index")
    written = SIM.write_pq_index(emb, path, dim=64, m=8, ks=8, seed=7)
    read = SIM.read_pq_codebook(spark, path)
    assert read == [[[float(x) for x in c] for c in cs] for cs in written]


def test_pq_topk_salted_equals_unsalted(spark, sf_oracle):
    """The two-phase (salted) ADC top-k must return EXACTLY the single-
    window result — the same superset argument cap_per_key(salts=)
    proves, here for the (adc asc, neighbor_id asc) total order."""
    emb = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8)
    kw = dict(k=5, dim=64, m=16, ks=16, refine=8)
    salted = SIM.pq_topk(emb, q, salts=8, **kw).collect()
    single = SIM.pq_topk(emb, q, salts=None, **kw).collect()
    assert sorted(map(tuple, salted)) == sorted(map(tuple, single))


# --------------------------------------------------------------------------
# SimHash Hamming-distance-k pairs (pigeonhole segment probe)
# --------------------------------------------------------------------------


def _hamming_docs(spark):
    """Corpus with planted near-dups: two identical docs (distance 0),
    one off-by-a-word doc (small distance), plus real testdata texts."""
    base = " ".join(f"token{i}" for i in range(60))
    rows = [
        (1001, base),
        (1002, base),  # identical → distance 0
        (1003, base.replace("token30", "changed")),  # near → small distance
        (1004, "completely different text about other topics entirely"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.mark.parametrize("hash_mode", ["murmur3", "md5"])
def test_simhash_hamming_pairs_match_bruteforce(spark, hash_mode):
    """Differential: the segment-probe candidate set, verified by
    popcount, must equal the all-pairs brute force — the pigeonhole
    guarantee (≤ d flipped bits touch ≤ d of the d+1 segments, so one
    segment matches exactly)."""
    docs = _hamming_docs(spark)
    d = 3
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in DD.simhash_hamming_pairs(
            docs, "doc_id", "text", max_distance=d, hash_mode=hash_mode
        ).collect()
    }
    fp = DD.simhash(docs, "doc_id", "text", hash_mode=hash_mode)
    a = fp.select(F.col("doc").alias("doc_a"), F.col("simhash").alias("fa"))
    b = fp.select(F.col("doc").alias("doc_b"), F.col("simhash").alias("fb"))
    brute = {
        (r.doc_a, r.doc_b, int(r.h))
        for r in a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("h", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))))
        .filter(F.col("h") <= d)
        .collect()
    }
    assert got == brute
    assert (1001, 1002, 0) in got  # the planted identical pair


def test_simhash_hamming_pairs_on_testdata(spark, sf_oracle):
    docs = spark.read.parquet(f"{sf_oracle}/documents.parquet").limit(200)
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in DD.simhash_hamming_pairs(docs, "doc_id", "text", max_distance=3).collect()
    }
    fp = DD.simhash(docs, "doc_id", "text")
    a = fp.select(F.col("doc").alias("doc_a"), F.col("simhash").alias("fa"))
    b = fp.select(F.col("doc").alias("doc_b"), F.col("simhash").alias("fb"))
    brute = {
        (r.doc_a, r.doc_b, int(r.h))
        for r in a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("h", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))))
        .filter(F.col("h") <= 3)
        .collect()
    }
    assert got == brute


def test_simhash_hamming_max_bucket_drops_hot_segment(spark):
    """Opt-in cap: identical docs all share every segment bucket, so a
    cap below the clone count suppresses their pairs (clones remain the
    exact-dedup path's job), while the uncapped default finds them."""
    rows = [(i, "the same exact document text repeated") for i in range(8)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = DD.simhash_hamming_pairs(docs, "doc_id", "text", max_distance=2)
    assert uncapped.count() == 8 * 7 // 2
    capped = DD.simhash_hamming_pairs(
        docs, "doc_id", "text", max_distance=2, max_bucket=5
    )
    assert capped.count() == 0


def test_simhash_hamming_rejects_bad_distance(spark):
    docs = _hamming_docs(spark)
    with pytest.raises(ValueError, match="max_distance"):
        DD.simhash_hamming_pairs(docs, "doc_id", "text", max_distance=0)


def test_chunk_overlap_hand_computed(spark):
    """300 tokens at 128-window/96-stride: chunks start at 0/96/192
    with lengths 128/128/108 — NO fourth window (its 12 tokens are
    already inside chunk 2); a 100-token doc fits one window; empty
    docs produce no chunks."""
    from chicago_crash_data_pipeline_dashboard_spark.plans.llm_ops import (
        _CHUNK,
        _STRIDE,
    )

    assert (_CHUNK, _STRIDE) == (128, 96)
    rows = [
        (1, " ".join(f"w{i}" for i in range(300)), "s"),
        (2, "", "s"),
        (3, " ".join(f"w{i}" for i in range(100)), "s"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    toks = df.select(
        "doc_id",
        TX.tokens(F.col("text")).alias("t"),
        TX.token_count(F.col("text")).alias("n_tokens"),
    ).withColumn(
        "nc",
        F.expr(
            f"CASE WHEN n_tokens = 0 THEN 0 ELSE "
            f"1 + (greatest(n_tokens - {_CHUNK}, 0) + {_STRIDE} - 1) DIV {_STRIDE} END"
        ),
    )
    got = {r.doc_id: r.nc for r in toks.collect()}
    assert got == {1: 3, 2: 0, 3: 1}
    chunks = toks.select(
        "doc_id",
        F.explode(
            F.when(F.col("nc") > 0, F.sequence(F.lit(0), F.col("nc") - 1))
            .otherwise(F.array().cast("array<int>"))
        ).alias("ci"),
        "t",
    ).select(
        "doc_id", "ci", F.size(F.slice(F.col("t"), F.col("ci") * _STRIDE + 1, _CHUNK)).alias("n")
    )
    lens = sorted((r.doc_id, r.ci, r.n) for r in chunks.collect())
    assert lens == [(1, 0, 128), (1, 1, 128), (1, 2, 108), (3, 0, 100)]


def test_quantizer_ops_reject_empty_corpus(spark):
    """ivf/pq/semantic paths fail with a CLEAR error on an empty input
    frame instead of numpy's opaque randint ValueError."""
    import pytest

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    with pytest.raises(ValueError, match="empty corpus"):
        SIM.ivf_topk(empty, empty, k=3)
    with pytest.raises(ValueError, match="empty corpus"):
        DD.semantic_dedup(empty, "vec_id", "embedding")
    with pytest.raises(ValueError, match="empty corpus"):
        SIM.pq_topk(empty, empty, k=3, dim=8, m=4)


def test_clone_offset_guard_rejects_colliding_corpus(spark, sf_oracle):
    """The planted-clone gates must fail LOUDLY when the corpus id
    space reaches the clone offset (ADVICE r7): a collision would let
    a real corpus vector masquerade as a planted hit and silently
    corrupt the recall gate. The cross-run gates' held-out split runs
    the same guard, refuses an empty plant, and selects the same ids
    as its DuckDB twin."""
    from chicago_crash_data_pipeline_dashboard_spark.plans.llm_ops import (
        _AGAINST_CLONE_OFFSET,
        _IVF_CLONE_OFFSET,
        _clone_queries,
        _planted_split,
        _planted_split_sql,
    )
    from chicago_crash_data_pipeline_dashboard_spark.plans.registry import load

    from .oracle_harness import duckdb_run

    clean = spark.createDataFrame(
        [(0, [1.0, 0.0]), (7, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    q = clean.filter("vec_id = 0")
    clones = _clone_queries(clean, q, _IVF_CLONE_OFFSET)
    assert [r.vec_id for r in clones.collect()] == [_IVF_CLONE_OFFSET]

    colliding = spark.createDataFrame(
        [(0, [1.0, 0.0]), (_IVF_CLONE_OFFSET + 5, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(AssertionError, match="collides"):
        _clone_queries(colliding, colliding.filter("vec_id = 0"), _IVF_CLONE_OFFSET)

    docs = spark.createDataFrame(
        [(1, "a"), (_AGAINST_CLONE_OFFSET + 5, "b")], "doc_id long, text string"
    )
    with pytest.raises(AssertionError, match="collides"):
        _planted_split(docs, "doc_id", "text")
    no_plant = spark.createDataFrame(
        [(0, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    )
    with pytest.raises(AssertionError, match="vacuous"):
        _planted_split(no_plant, "doc_id", "text")

    for table, key, payload in (
        ("documents", "doc_id", "text"),
        ("embeddings", "vec_id", "embedding"),
    ):
        corpus, batch, planted = _planted_split(
            load(spark, sf_oracle, table), key, payload
        )
        corpus_sql, batch_sql = _planted_split_sql(table, key, payload)
        for frame, sql in ((corpus, corpus_sql), (batch, batch_sql)):
            ids = sorted(r[key] for r in frame.select(key).collect())
            _, rows = duckdb_run(f"SELECT {key} FROM ({sql})", sf_oracle)
            assert ids == sorted(r[0] for r in rows)
        assert planted <= {r[key] for r in batch.select(key).collect()}


def test_fit_quantizer_matmul_lloyd_agrees_with_percenter(monkeypatch):
    """Above _LLOYD_MATMUL_MIN_K the Lloyd assignment runs as chunked
    float32 sgemm (the r10 1M-probe fix: 444 s -> seconds to train at
    k=1000). On separated data the f32 argmin picks the same centers
    every iteration, so the final centroids — float64 means of
    identical member sets — must match the per-center path exactly."""
    import numpy as np

    rng = np.random.RandomState(3)
    k, d = 80, 16
    true_centers = rng.standard_normal((k, d)) * 10.0
    sample = (
        true_centers[np.repeat(np.arange(k), 12)]
        + 0.05 * rng.standard_normal((k * 12, d))
    ).tolist()

    assert k >= SIM._LLOYD_MATMUL_MIN_K
    got_matmul = SIM._fit_quantizer(sample, k, seed=42)
    with monkeypatch.context() as m:
        m.setattr(SIM, "_LLOYD_MATMUL_MIN_K", 10**9)
        got_percenter = SIM._fit_quantizer(sample, k, seed=42)
    assert np.array_equal(got_matmul, got_percenter)
    # and small odd chunk sizes don't change the result either
    with monkeypatch.context() as m:
        m.setattr(SIM, "_LLOYD_CHUNK", 37)
        got_chunked = SIM._fit_quantizer(sample, k, seed=42)
    assert np.array_equal(got_matmul, got_chunked)


def test_signatures_at_rest_cross_run_dedup(spark, docs, tmp_path):
    """VERDICT r10 item 3: persist corpus MinHash signatures, then
    dedup an incoming batch against them WITHOUT touching corpus text.
    Planted: the batch re-ingests doc 1's text (new id 100) and one
    fresh doc — the clone must surface with est_jaccard 1.0 against
    both members of the corpus's exact-dup group; the fresh doc must
    surface against nothing."""
    path = str(tmp_path / "sigs")
    DD.write_minhash_signatures(
        docs, path, "doc_id", "text",
        num_hashes=32, bands=8, shingle_n=3, seed=42, parts=8,
    )
    batch = spark.createDataFrame(
        [(100, BASE), (101, "entirely novel content nobody has ingested before now")],
        ["doc_id", "text"],
    )
    pairs = {
        (r.corpus_doc, r.batch_doc): r.est_jaccard
        for r in DD.near_duplicates_against(
            batch, path, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert pairs[(1, 100)] == 1.0
    assert pairs[(2, 100)] == 1.0
    assert pairs[(5, 100)] == 1.0  # normalized clone of BASE
    assert (3, 100) in pairs  # near dup crosses the 0.5 estimate too
    assert not any(b == 101 for (_, b) in pairs)


def test_signatures_append_then_probe(spark, docs, tmp_path):
    """append_minhash_signatures grows the table under the SAVED
    params; a later batch probes against original + appended corpora
    in one scan. Probing the appended batch itself BEFORE the append
    (the documented order) must equal probing a from-scratch write of
    the grown corpus."""
    path = str(tmp_path / "sigs_grow")
    corpus0 = docs.filter(F.col("doc_id") <= 3).select("doc_id", "text")
    growth = docs.filter(F.col("doc_id") > 3).select("doc_id", "text")
    DD.write_minhash_signatures(
        corpus0, path, "doc_id", "text",
        num_hashes=32, bands=8, shingle_n=3, seed=42, parts=8,
    )
    DD.append_minhash_signatures(growth, path, "doc_id", "text")

    rebuilt = str(tmp_path / "sigs_full")
    DD.write_minhash_signatures(
        docs.select("doc_id", "text"), rebuilt, "doc_id", "text",
        num_hashes=32, bands=8, shingle_n=3, seed=42, parts=8,
    )
    batch = spark.createDataFrame([(100, BASE)], ["doc_id", "text"])
    got = sorted(
        map(tuple, DD.near_duplicates_against(batch, path, "doc_id", "text", threshold=0.5).collect())
    )
    want = sorted(
        map(tuple, DD.near_duplicates_against(batch, rebuilt, "doc_id", "text", threshold=0.5).collect())
    )
    assert got == want
    assert any(c == 5 for (c, _, _) in got)  # appended docs are probed


def test_signatures_hot_bucket_cap_is_scan_side(spark, hot_docs, tmp_path):
    """max_bucket drops corpus buckets via the STORED bucket_size
    column (write-time count) — the degenerate identical-text bucket
    yields no pairs under a cap it exceeds, and the full pair set
    without the cap."""
    path = str(tmp_path / "sigs_hot")
    DD.write_minhash_signatures(
        hot_docs, path, "doc_id", "text",
        num_hashes=32, bands=8, shingle_n=3, seed=42, parts=8,
    )
    batch = spark.createDataFrame([(9999, BASE)], ["doc_id", "text"])
    uncapped = DD.near_duplicates_against(batch, path, "doc_id", "text", threshold=0.5)
    capped = DD.near_duplicates_against(
        batch, path, "doc_id", "text", threshold=0.5, max_bucket=3
    )
    assert uncapped.count() > 0
    assert capped.count() == 0


def test_fingerprints_at_rest_exact_cross_run_dedup(spark, docs, tmp_path):
    """Exact cross-run dedup against a fingerprint table at rest: a
    batch re-ingesting known content (byte-identical OR
    normalization-identical) is filtered out; genuinely new content
    survives; appending then catches it on the next run."""
    path = str(tmp_path / "fps")
    DD.write_fingerprints(docs, path, "doc_id", "text", parts=8)

    batch = spark.createDataFrame(
        [
            (100, BASE),  # byte-identical re-ingest
            (101, "  THE  QUICK brown fox jumps over the lazy dog again and again today "),
            # ^ normalizes to BASE (doc 5's quirk) — must also drop
            (102, "genuinely new content never ingested before"),
        ],
        ["doc_id", "text"],
    )
    kept = DD.dedup_exact_against(batch, path, "doc_id", "text")
    assert [r.doc_id for r in kept.collect()] == [102]
    assert kept.columns == batch.columns  # passthrough schema

    # append the survivors; a re-run of the same batch now drops 102 too
    DD.append_fingerprints(kept, path, "doc_id", "text")
    assert DD.dedup_exact_against(batch, path, "doc_id", "text").count() == 0

    # the corpus scan is partition-pruned and text-free
    plan_df = DD.dedup_exact_against(batch, path, "doc_id", "text")
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plan_df.explain("formatted")
    plan = buf.getvalue()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("part" in l and "IN" in l.upper() for l in pf), pf
    fp_schemas = [l for l in plan.splitlines() if "ReadSchema" in l and "fingerprint" in l]
    assert fp_schemas and all("text" not in l for l in fp_schemas)


def test_simhash_index_at_rest_cross_run(spark, docs, tmp_path):
    """Cross-run SimHash dedup against segments at rest: a batch
    re-ingesting identical content pairs at hamming 0; a near-dup
    (one-word change) pairs within the distance; unrelated content
    pairs with nothing. Lowering max_distance at probe time is legal;
    raising it beyond the index's segmentation is rejected."""
    path = str(tmp_path / "sh_idx")
    DD.write_simhash_index(
        docs, path, "doc_id", "text", max_distance=3, hash_mode="md5", parts=8
    )
    batch = spark.createDataFrame(
        [(100, BASE), (101, OTHER + " but reworded a bit here")],
        ["doc_id", "text"],
    )
    pairs = {
        (r.corpus_doc, r.batch_doc): r.hamming
        for r in DD.simhash_near_duplicates_against(
            batch, path, "doc_id", "text"
        ).collect()
    }
    assert pairs[(1, 100)] == 0 and pairs[(2, 100)] == 0 and pairs[(5, 100)] == 0
    assert all(h <= 3 for h in pairs.values())

    # probe-time distance may shrink (pigeonhole still complete)...
    tight = DD.simhash_near_duplicates_against(
        batch, path, "doc_id", "text", max_distance=0
    ).collect()
    assert {(r.corpus_doc, r.batch_doc) for r in tight} >= {(1, 100), (2, 100), (5, 100)}
    assert all(r.hamming == 0 for r in tight)
    # ...but not grow beyond the stored segmentation
    with pytest.raises(ValueError, match="exceeds the index's segmentation"):
        DD.simhash_near_duplicates_against(
            batch, path, "doc_id", "text", max_distance=5
        ).collect()

    # append inherits params; a re-run then catches the appended docs
    DD.append_simhash_index(batch, path, "doc_id", "text")
    again = {
        (r.corpus_doc, r.batch_doc)
        for r in DD.simhash_near_duplicates_against(
            batch, path, "doc_id", "text"
        ).collect()
    }
    assert (100, 100) in again  # self-match after append, as documented


def test_simhash_against_matches_in_frame_pairs(spark, docs, tmp_path):
    """Differential vs the in-frame generator: probing batch B against
    an index of corpus C must produce exactly the C×B pairs the
    in-frame simhash_hamming_pairs finds over C ∪ B (same segments,
    same popcount verify)."""
    path = str(tmp_path / "sh_diff")
    corpus = docs.select("doc_id", "text")
    batch = spark.createDataFrame(
        [(100, BASE), (101, NEAR), (102, "unrelated words entirely")],
        ["doc_id", "text"],
    )
    DD.write_simhash_index(
        corpus, path, "doc_id", "text", max_distance=3, hash_mode="md5", parts=8
    )
    got = {
        (r.corpus_doc, r.batch_doc, r.hamming)
        for r in DD.simhash_near_duplicates_against(
            batch, path, "doc_id", "text"
        ).collect()
    }
    union = corpus.unionByName(batch)
    in_frame = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in DD.simhash_hamming_pairs(
            union, "doc_id", "text", max_distance=3, hash_mode="md5"
        ).collect()
    }
    want = {(a, b, h) for (a, b, h) in in_frame if a < 100 and b >= 100}
    assert got == want and got


def test_cross_run_ingest_round_composition(spark, docs, tmp_path):
    """The complete cross-run ingest round, composed from the at-rest
    pieces: corpus signatures + cluster assignments persisted; a new
    batch (1) probes near-dup pairs against the corpus WITHOUT reading
    corpus text, (2) finds its within-batch pairs, (3) folds both edge
    sets into the standing clusters in place, (4) keeps one canonical
    per cluster, and (5) appends only the survivors' signatures — so a
    LATER batch cloning a survivor is caught too."""
    from chicago_crash_data_pipeline_dashboard_spark.operators.graph import (
        connected_components,
        extend_components_at_rest,
        read_components,
        write_components,
    )

    params = dict(num_hashes=32, bands=8, shingle_n=3, seed=42)
    sigs = str(tmp_path / "sigs")
    comps = str(tmp_path / "comps")
    corpus = docs.select("doc_id", "text")
    DD.write_minhash_signatures(corpus, sigs, "doc_id", "text", parts=8, **params)
    corpus_pairs = DD.minhash_near_duplicates(
        corpus, "doc_id", "text", threshold=0.5, **params
    )
    write_components(
        connected_components(corpus_pairs, src="doc_a", dst="doc_b"), comps, parts=8
    )

    novel_a = "entirely novel content nobody has ingested before now"
    batch = spark.createDataFrame(
        [
            (100, BASE),       # cross-run clone -> joins cluster {1,2,3,5}
            (101, novel_a),    # novel, duplicated within the batch by 102
            (102, novel_a),
            (103, "another brand new document with its own words"),
        ],
        ["doc_id", "text"],
    )
    vs_corpus = DD.near_duplicates_against(batch, sigs, "doc_id", "text", threshold=0.5)
    within = DD.minhash_near_duplicates(batch, "doc_id", "text", threshold=0.5, **params)
    edges = vs_corpus.select(
        F.col("corpus_doc").alias("src"), F.col("batch_doc").alias("dst")
    ).unionByName(within.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")))

    extend_components_at_rest(spark, comps, edges)
    assign = {r["node"]: r["comp"] for r in read_components(spark, comps).collect()}
    assert assign[100] == 1 and assign[102] == 101 and assign[101] == 101
    assert 103 not in assign  # never paired -> singleton by absence

    # keep-one policy: a batch doc survives iff it's its own canonical
    # or it has no cluster at all
    clustered = read_components(spark, comps)
    survivors = sorted(
        r.doc_id
        for r in batch.join(
            clustered.filter(F.col("node") != F.col("comp")),
            batch["doc_id"] == F.col("node"),
            "left_anti",
        ).collect()
    )
    assert survivors == [101, 103]

    DD.append_minhash_signatures(
        batch.filter(F.col("doc_id").isin(survivors)), sigs, "doc_id", "text"
    )
    # a later batch cloning survivor 101 is caught against the at-rest corpus
    batch2 = spark.createDataFrame([(200, novel_a)], ["doc_id", "text"])
    hits = {
        r.corpus_doc
        for r in DD.near_duplicates_against(
            batch2, sigs, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert 101 in hits and 102 not in hits  # only the survivor was appended


def test_signature_table_compaction_probe_unchanged(spark, docs, tmp_path):
    """The signature table is a hive-partitioned lake table, so the
    generic compact_partitioned is its maintenance path: appends bloat
    part dirs, compaction restores one file per partition, and the
    cross-run probe is unchanged."""
    import glob as globmod

    from chicago_crash_data_pipeline_dashboard_spark.sources.compact import (
        compact_partitioned,
    )

    path = str(tmp_path / "sigs_compact")
    corpus0 = docs.filter(F.col("doc_id") <= 3).select("doc_id", "text")
    DD.write_minhash_signatures(
        corpus0, path, "doc_id", "text",
        num_hashes=32, bands=8, shingle_n=3, seed=42, parts=4,
    )
    DD.append_minhash_signatures(
        docs.filter(F.col("doc_id") > 3).select("doc_id", "text"), path, "doc_id", "text"
    )
    assert any(
        len(globmod.glob(f"{d}/*.parquet")) > 1
        for d in globmod.glob(f"{path}/banded/part=*")
    )
    batch = spark.createDataFrame([(100, BASE)], ["doc_id", "text"])
    before = sorted(
        map(tuple, DD.near_duplicates_against(batch, path, "doc_id", "text", threshold=0.5).collect())
    )
    stats = compact_partitioned(spark, f"{path}/banded")
    assert stats["compacted"] >= 1
    for d in globmod.glob(f"{path}/banded/part=*"):
        assert len(globmod.glob(f"{d}/*.parquet")) == 1, d
    after = sorted(
        map(tuple, DD.near_duplicates_against(batch, path, "doc_id", "text", threshold=0.5).collect())
    )
    assert before == after


def test_minhash_ingest_round_one_call(spark, tmp_path):
    """The one-call dedup round: ingest policy drops ANY batch member
    of a corpus-containing component — including a batch id that sorts
    BELOW the corpus id, where bare min-label canonicalization would
    wrongly keep the newcomer — keeps exactly one member of each
    corpus-free component, appends only survivors, and folds the edges
    into the standing cluster table."""
    from chicago_crash_data_pipeline_dashboard_spark.operators.graph import (
        connected_components,
        read_components,
        write_components,
    )

    corpus = spark.createDataFrame(
        [(10, BASE), (11, BASE), (12, OTHER)], ["doc_id", "text"]
    )
    sigs = str(tmp_path / "sigs")
    comps = str(tmp_path / "comps")
    DD.write_minhash_signatures(
        corpus, sigs, "doc_id", "text",
        num_hashes=32, bands=8, shingle_n=3, seed=42, parts=8,
    )
    pairs = DD.minhash_near_duplicates(
        corpus, "doc_id", "text", threshold=0.5, num_hashes=32, bands=8, shingle_n=3, seed=42
    )
    write_components(connected_components(pairs, src="doc_a", dst="doc_b"), comps, parts=8)

    novel = "entirely novel content nobody has ingested before now"
    batch = spark.createDataFrame(
        [
            (0, BASE),    # clone with id BELOW the corpus ids — must still drop
            (5, novel),   # within-batch dup pair; 5 is the canonical
            (6, novel),
            (7, "another brand new document with its own words"),
        ],
        ["doc_id", "text"],
    )
    rep = DD.minhash_ingest_round(
        batch, sigs, "doc_id", "text", comp_path=comps, threshold=0.5
    )
    assert rep["n_batch"] == 4 and rep["n_survivors"] == 2
    assert sorted(r.doc_id for r in rep["survivors"].collect()) == [5, 7]
    assert rep["n_cross_pairs"] >= 2 and rep["n_within_pairs"] >= 1
    assert rep["extended"]["touched_comps"] >= 1

    # the cluster table absorbed the round (min-label bookkeeping)
    assign = {r["node"]: r["comp"] for r in read_components(spark, comps).collect()}
    assert assign[0] == assign[10] == assign[11]
    assert assign[6] == assign[5] == 5

    # only survivors were appended: a later clone of 5 hits, of the
    # dropped 0/6 only through the surviving twin's signature
    batch2 = spark.createDataFrame([(200, novel), (201, BASE)], ["doc_id", "text"])
    hits = {
        (r.corpus_doc, r.batch_doc)
        for r in DD.near_duplicates_against(batch2, sigs, "doc_id", "text", threshold=0.5).collect()
    }
    assert (5, 200) in hits and all(c != 6 for c, _ in hits)
    assert (10, 201) in hits and all(c != 0 for c, _ in hits)


def test_simhash_64bit_production_width(spark, tmp_path):
    """The Manku production configuration (64-bit fingerprints,
    distance 3) — found broken by the r12 1M probe: the 32-bit token
    hash left fingerprint bits 32-63 constant (every upper Manku
    segment bucket held the WHOLE corpus — quadratic candidates), and
    the bit-63 / full-mask literals overflowed a signed long. Gates:
    real entropy in the upper 32 bits, exact clones at hamming 0,
    in-frame pairs == at-rest segment-index probe, and the
    oracle-portable md5 mode refusing widths past its 60-bit slice."""
    import random

    import pytest

    from chicago_crash_data_pipeline_dashboard_spark.operators import dedup as DD

    rows = []
    for i in range(80):
        rng = random.Random(1000 + i)
        rows.append((i, " ".join(f"w{rng.randrange(5000)}" for _ in range(30))))
    clone_src = dict(rows[:3])
    corpus_rows = rows[:60]
    df = spark.createDataFrame(corpus_rows, "doc_id long, text string")

    fp = DD.simhash(df, "doc_id", "text", bits=64, hash_mode="murmur3")
    upper = fp.select(F.shiftright("simhash", 32).alias("u")).distinct().count()
    assert upper > 50  # bits 32-63 carry entropy, not a constant pad

    # at-rest index at 64 bits == brute-force expectations
    path = str(tmp_path / "sh64")
    DD.write_simhash_index(
        df, path, "doc_id", "text", max_distance=3, bits=64,
        hash_mode="murmur3", parts=8,
    )
    batch = spark.createDataFrame(
        rows[60:] + [(200 + k, clone_src[k]) for k in clone_src],
        "doc_id long, text string",
    )
    pairs = DD.simhash_near_duplicates_against(batch, path, "doc_id", "text")
    got = {(r.corpus_doc, r.batch_doc): r.hamming for r in pairs.collect()}
    for k in clone_src:
        assert got[(k, 200 + k)] == 0  # planted clones at hamming 0
    # random-vocab docs: no accidental <=3 pair at 64 bits
    assert all(h == 0 for h in got.values())
    assert set(got) == {(k, 200 + k) for k in clone_src}

    # in-frame pigeonhole pairs over the union == the cross-run probe
    union = df.unionByName(batch)
    inframe = DD.simhash_hamming_pairs(
        union, "doc_id", "text", max_distance=3, bits=64, hash_mode="murmur3"
    )
    inframe_pairs = {
        (min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b)) for r in inframe.collect()
    }
    assert inframe_pairs == {(k, 200 + k) for k in clone_src}

    with pytest.raises(ValueError, match="bits <= 60"):
        DD.simhash(df, "doc_id", "text", bits=64, hash_mode="md5").collect()
    # 60-bit md5 mode works (the widest oracle-portable slice)
    fp60 = DD.simhash(df, "doc_id", "text", bits=60, hash_mode="md5")
    assert fp60.select(F.shiftright("simhash", 32).alias("u")).distinct().count() > 50

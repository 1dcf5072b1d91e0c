"""Operator unit tests: relational helpers, text analysis, dedup, similarity,
multimodal plumbing — small hand-checkable frames with known answers."""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from door2door_etl_spark.operators import dedup as D
from door2door_etl_spark.operators import similarity as S
from door2door_etl_spark.operators import text as X
from door2door_etl_spark.operators.multimodal import (
    attach_binary_content,
    extract_features,
    fake_decode_features,
    sample_frames,
)
from door2door_etl_spark.operators.relational import (
    dedup_first_wins,
    interval_join,
    latest_per_key,
    topk_per_group,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy cat"),
        Row(doc_id=3, text="completely different words entirely unrelated content here now"),
        Row(doc_id=4, text="the quick brown fox jumps over the lazy dog"),  # dup of 1
        Row(doc_id=5, text="tiny"),
    ]
    return spark.createDataFrame(rows)


def test_latest_per_key(spark):
    df = spark.createDataFrame(
        [Row(k="a", ts=1, v="old"), Row(k="a", ts=2, v="new"), Row(k="b", ts=5, v="x")]
    )
    out = {r["k"]: r["v"] for r in latest_per_key(df, ["k"], "ts", ["v"]).collect()}
    assert out == {"a": "new", "b": "x"}


def test_topk_per_group_deterministic_ties(spark):
    df = spark.createDataFrame(
        [Row(g="a", score=1.0, id=i) for i in range(5)]  # all-tied scores
    )
    out = topk_per_group(df, ["g"], [F.desc("score"), F.col("id")], 2).collect()
    assert sorted(r["id"] for r in out) == [0, 1]  # id tie-break, stable


def test_interval_join(spark):
    facts = spark.createDataFrame([Row(ts=5), Row(ts=15), Row(ts=25)])
    periods = spark.createDataFrame([Row(p="p1", lo=0, hi=10), Row(p="p2", lo=20, hi=30)])
    out = interval_join(facts, periods, "ts", "lo", "hi").select("ts", "p").collect()
    assert {(r["ts"], r["p"]) for r in out} == {(5, "p1"), (25, "p2")}


def test_dedup_first_wins(spark):
    df = spark.createDataFrame(
        [Row(k="a", ts=2, v="keep"), Row(k="a", ts=1, v="drop")]
    )
    out = dedup_first_wins(df, ["k"], [F.desc("ts")]).collect()
    assert len(out) == 1 and out[0]["v"] == "keep"


# -- text -------------------------------------------------------------------

def test_tokens_and_counts(spark):
    df = spark.createDataFrame([Row(t="Hello, World!  foo_bar 42")])
    row = df.select(
        X.tokens(F.col("t")).alias("toks"),
        X.token_count(F.col("t")).alias("n"),
        X.subword_count_estimate(F.col("t")).alias("sub"),
    ).first()
    assert row["toks"] == ["hello", "world", "foo", "bar", "42"]
    assert row["n"] == 5
    # ceil(5/4)+ceil(5/4)+ceil(3/4)+ceil(3/4)+ceil(2/4) = 2+2+1+1+1
    assert row["sub"] == 7


def test_shingles_and_fingerprint(spark):
    df = spark.createDataFrame([Row(t="a b c d"), Row(t="x y")])
    rows = df.select(X.shingles(F.col("t"), 3).alias("sh")).collect()
    assert rows[0]["sh"] == ["a b c", "b c d"]
    assert rows[1]["sh"] == ["x y"]  # short doc collapses to whole-doc shingle
    fp = df.select(X.fingerprint(F.col("t"), 3).alias("fp")).collect()
    assert all(len(r["fp"]) == 64 for r in fp)


def test_repetition_signals_known_answers(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b a b a b"),  # bigrams: "a b"x3, "b a"x2
            Row(doc_id=2, text="p q r s"),  # all grams unique
            Row(doc_id=3, text="x y"),  # short doc: trigram collapses
        ]
    )
    got = {r["doc_id"]: r for r in X.repetition_signals(df).collect()}
    assert got[1]["top_bigram_frac"] == pytest.approx(3 / 5)
    assert got[1]["dup_trigram_frac"] == 1.0  # "a b a"x2, "b a b"x2
    assert got[2]["top_bigram_frac"] == pytest.approx(1 / 3)
    assert got[2]["dup_trigram_frac"] == 0.0
    assert got[3]["top_bigram_frac"] == 1.0
    assert got[3]["dup_trigram_frac"] == 0.0


def test_predict_language(spark):
    df = spark.createDataFrame(
        [
            Row(t="the cat and the dog of the house"),
            Row(t="der hund und die katze ist nicht da"),
            Row(t="qqq zzz xxx"),
        ]
    )
    out = [r[0] for r in df.select(X.predict_language(F.col("t"))).collect()]
    assert out == ["en", "de", "und"]


def test_quality_score_bounds(spark, docs):
    vals = [r[0] for r in docs.select(X.quality_score(F.col("text"))).collect()]
    assert all(0.0 <= v <= 1.0 for v in vals)


# -- dedup ------------------------------------------------------------------

def test_exact_dedup_groups(spark, docs):
    groups = D.exact_dedup_groups(docs).collect()
    by_canon = {r["canonical_id"]: r["n_copies"] for r in groups}
    assert by_canon[1] == 2  # docs 1 and 4 identical
    assert len(groups) == 4


def test_minhash_lsh_finds_near_dup(spark, docs):
    pairs = D.minhash_similarity_pairs(docs, num_hashes=16, bands=8, shingle_n=3)
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs.collect()}
    assert (1, 4) in got and got[(1, 4)] == 1.0  # identical docs always collide
    for (a, b), est in got.items():
        assert 0.0 <= est <= 1.0


def test_ngram_jaccard_exact_values(spark, docs):
    pairs = D.ngram_jaccard_pairs(docs, shingle_n=3, max_df=10)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 4)] == 1.0
    # docs 1,2 share 6 of their 7 shingles each -> |I|=6, |U|=8
    assert math.isclose(got[(1, 2)], 6 / 8)


def test_simhash_identical_docs_equal(spark, docs):
    sh = {r["doc_id"]: r["simhash"] for r in D.simhash32(docs).collect()}
    assert sh[1] == sh[4]
    assert 0 <= sh[1] < 2**32
    pairs = D.simhash_near_pairs(docs, max_hamming=0)
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} >= {(1, 4)}


def test_embedding_near_dup(spark):
    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0], label=0),
        Row(vec_id=2, embedding=[0.99, 0.1], label=0),
        Row(vec_id=3, embedding=[0.0, 1.0], label=0),
        Row(vec_id=4, embedding=[1.0, 0.0], label=1),  # other block: not compared
    ]
    df = spark.createDataFrame(rows)
    pairs = D.embedding_near_dup_pairs(df, min_cosine=0.9)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(1, 2)}


# -- similarity -------------------------------------------------------------

def test_cosine_and_topk(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0], label=0),
        Row(vec_id=1, embedding=[1.0, 0.01], label=0),
        Row(vec_id=2, embedding=[0.5, 0.5], label=1),
        Row(vec_id=3, embedding=[-1.0, 0.0], label=1),
    ]
    df = spark.createDataFrame(rows)
    top = S.brute_force_topk(df, query_id=0, k=2).collect()
    assert [r["vec_id"] for r in top] == [1, 2]
    assert top[0]["cosine"] > 0.99

    ivf = S.ivf_topk(df, query_id=0, k=2, nprobe=1)
    assert [r["vec_id"] for r in ivf.collect()] == [1]  # only cell 0 probed


def test_mmr_topk_trades_relevance_for_diversity(spark):
    """MMR known answer: pure relevance ranks the query's two
    near-clones first, but after picking one clone the redundancy
    penalty pushes the second clone BELOW the orthogonal candidate;
    λ=1 degenerates to pure relevance order.  max_sim is 0 for the
    first pick, mmr values are 6dp-rounded and descending-decisive."""
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0], label=0),
        Row(vec_id=1, embedding=[0.9, 0.44], label=0),    # most relevant
        Row(vec_id=2, embedding=[0.9, 0.45], label=0),    # clone of 1
        Row(vec_id=3, embedding=[0.85, -0.44], label=1),  # relevant, OTHER side
        Row(vec_id=4, embedding=[0.1, 0.99], label=1),    # low relevance
    ]
    df = spark.createDataFrame(rows)
    out = S.mmr_topk(df, query_id=0, k=3, lam=0.7, pool=10).collect()
    assert [r["step"] for r in out] == [1, 2, 3]
    assert out[0]["max_sim"] == 0.0
    # pick 1 = most relevant; pick 2 = the OTHER-SIDE vector, not the
    # clone, because sim(clone, pick1) ~ 1 wipes out its relevance edge
    assert [r["vec_id"] for r in out] == [1, 3, 2]
    # λ=1: no redundancy penalty — order is pure relevance
    pure = S.mmr_topk(df, query_id=0, k=3, lam=1.0, pool=10).collect()
    assert [r["vec_id"] for r in pure] == [1, 2, 3]
    brute = S.brute_force_topk(df, query_id=0, k=3).collect()
    assert [r["vec_id"] for r in pure] == [r["vec_id"] for r in brute]


# -- multimodal -------------------------------------------------------------

def test_multimodal_content_and_features(spark, docs):
    assets = attach_binary_content(docs, "text", "text", "text/plain")
    row = assets.filter("doc_id = 5").first()
    assert bytes(row["content"]) == b"tiny"
    assert row["meta"]["n_bytes"] == 4
    assert row["meta"]["mime"] == "text/plain"

    feats = extract_features(assets.select("doc_id", "content"), n_features=8)
    got = {r["doc_id"]: r["features"] for r in feats.collect()}
    assert got[5] == fake_decode_features(b"tiny", 8)
    assert all(abs(sum(v) - 1.0) < 1e-9 for v in got.values())


def test_sample_frames(spark):
    df = spark.createDataFrame([Row(frame_idx=i) for i in range(25)])
    assert sample_frames(df, every_nth=10).count() == 3  # frames 0, 10, 20


def test_decode_image_is_stubbed():
    from door2door_etl_spark.operators.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_wav_decode_real_codec_roundtrip_and_rejection(spark):
    """The pure-Python RIFF parser is a REAL decoder: it must agree with
    the stdlib wave module on every header field, reproduce the exact
    sample statistics, survive a stereo payload and a RIFF file with an
    extra (odd-sized, word-aligned) chunk before data, and reject
    non-WAV / non-PCM16 payloads."""
    import io
    import math
    import struct
    import wave as wavmod

    from door2door_etl_spark.operators.multimodal import (
        decode_wav_features,
        extract_features,
        pcm16_wav_bytes,
    )

    samples = [((i * 104729 + 7919) % 65536) - 32768 for i in range(90)]
    payload = pcm16_wav_bytes(samples, 8000)

    with wavmod.open(io.BytesIO(payload)) as w:
        assert (w.getnchannels(), w.getframerate(), w.getsampwidth()) == (
            1, 8000, 2,
        )
        assert w.getnframes() == 90

    ch, rate, bits, n, dur, mean, rms, peak = decode_wav_features(payload)
    assert (ch, rate, bits, n) == (1.0, 8000.0, 16.0, 90.0)
    assert dur == 90 / 8000
    assert mean == sum(samples) / len(samples)
    assert rms == math.sqrt(sum(s * s for s in samples) / len(samples))
    assert peak == max(abs(s) for s in samples)

    # stereo: frames = samples / channels, stats over the full stream
    stereo = pcm16_wav_bytes(samples, 16000, channels=2)
    ch2, rate2, _, n2, dur2, mean2, _, _ = decode_wav_features(stereo)
    assert (ch2, rate2, n2) == (2.0, 16000.0, 45.0)
    assert dur2 == 45 / 16000 and mean2 == mean

    # an odd-sized LIST chunk injected before fmt/data: the parser must
    # skip it with word alignment, not mis-seat the chunk walk
    body = payload[12:]
    extra = b"LIST" + struct.pack("<I", 3) + b"abc\x00"
    riffed = b"RIFF" + struct.pack("<I", 4 + len(extra) + len(body)) + b"WAVE" + extra + body
    assert decode_wav_features(riffed) == decode_wav_features(payload)

    for bad in (b"", b"RIFFxxxxWAVE", b"\x89PNG" + payload[4:]):
        with pytest.raises(ValueError):
            decode_wav_features(bad)
    # non-PCM16 (8-bit) rejects rather than mis-decoding
    buf = io.BytesIO()
    with wavmod.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(bytes(range(64)))
    with pytest.raises(ValueError):
        decode_wav_features(buf.getvalue())

    # and through the production plumbing: decoder rides extract_features
    df = spark.createDataFrame([(1, bytearray(payload))], "id long, content binary")
    feats = extract_features(df, n_features=8, decoder=decode_wav_features)
    assert feats.first()["features"] == [ch, rate, bits, n, dur, mean, rms, peak]


def test_bmp_codec_roundtrip_resize_and_rejection(spark):
    """The pure-Python BMP codec is REAL: encode → decode round-trips
    pixels exactly (incl. the padded odd-width rows and the bottom-up
    storage flip), a hand-built TOP-DOWN (negative-height) payload decodes
    to the same pixels, nearest-neighbor resize matches the index-map
    reference, decode_image/resize_image dispatch BMP to the real path and
    reject compressed formats, and malformed payloads raise."""
    import struct

    from door2door_etl_spark.operators.multimodal import (
        bmp24_bytes,
        decode_bmp,
        decode_bmp_features,
        decode_image,
        extract_features,
        resize_bmp,
        resize_image,
    )

    w, h = 5, 3  # odd width: 15-byte rows pad to 16
    px = [((i * 37) % 256, (i * 91) % 256, (i * 53) % 256) for i in range(w * h)]
    payload = bmp24_bytes(w, h, px)
    row_size = (3 * w + 3) // 4 * 4
    assert len(payload) == 54 + row_size * h
    assert decode_bmp(payload) == (w, h, px)
    assert decode_image(payload) == (w, h, px)

    # hand-build the same image TOP-DOWN (negative height, rows not
    # flipped): decoder must honor the sign and return identical pixels
    hdr = payload[:14]
    dib = struct.pack("<Iii", 40, w, -h) + payload[14 + 12:54]
    rows = [payload[54 + y * row_size: 54 + (y + 1) * row_size] for y in range(h)]
    top_down = hdr + dib + b"".join(reversed(rows))
    assert decode_bmp(top_down) == (w, h, px)

    feats = decode_bmp_features(payload)
    n = w * h
    assert feats[:4] == [float(w), float(h), 24.0, float(n)]
    assert feats[4] == sum(p[0] for p in px) / n
    assert feats[7] == (feats[4] + feats[5] + feats[6]) / 3

    # nearest-neighbor resize vs the index-map reference
    tw, th = 3, 2
    resized = resize_bmp(payload, tw, th)
    rw, rh, rpx = decode_bmp(resized)
    assert (rw, rh) == (tw, th)
    ref = [
        px[(y * h // th) * w + (x * w // tw)]
        for y in range(th)
        for x in range(tw)
    ]
    assert rpx == ref
    assert resize_image(payload, tw, th) == resized
    # upscale hits every source pixel at least once (NN is surjective here)
    up_w, up_h, up_px = decode_bmp(resize_bmp(payload, 10, 6))
    assert (up_w, up_h) == (10, 6) and set(up_px) == set(px)

    for bad in (b"", b"\x89PNG\r\n", b"BMxx")  :
        with pytest.raises((ValueError, NotImplementedError)):
            decode_image(bad)
    # JPEG now routes to the real baseline resizer (malformed payload ->
    # its ValueError); WebP stays behind the stub boundary
    with pytest.raises(ValueError):
        resize_image(b"\xff\xd8\xff\xe0jpeg", 2, 2)
    with pytest.raises(NotImplementedError):
        resize_image(b"RIFF\x00\x00\x00\x00WEBPVP8 ", 2, 2)
    # 8-bit / RLE BMPs reject rather than mis-decoding
    bad_bpp = payload[:28] + struct.pack("<H", 8) + payload[30:]
    with pytest.raises(ValueError):
        decode_bmp(bad_bpp)
    with pytest.raises(ValueError):
        decode_bmp(payload[:40])  # truncated pixel array

    # and through the production plumbing: decoder rides extract_features
    df = spark.createDataFrame([(1, bytearray(payload))], "id long, content binary")
    out = extract_features(df, n_features=8, decoder=decode_bmp_features)
    assert out.first()["features"] == feats


# -- wave-3 operators: asof join, sessionize, sketches -----------------------

from datetime import datetime

from door2door_etl_spark.operators.relational import asof_join, sessionize
from door2door_etl_spark.operators.sketches import (
    hash_sample,
    kmv_distinct_estimate,
    stratified_split,
    uniform_hash,
)


def _ts(s):
    return datetime.fromisoformat(s)


def test_asof_join_backward_inclusive(spark):
    left = spark.createDataFrame(
        [
            Row(ev=1, k="a", ts=_ts("2024-01-01T10:00:00")),
            Row(ev=2, k="a", ts=_ts("2024-01-01T12:00:00")),
            Row(ev=3, k="b", ts=_ts("2024-01-01T09:00:00")),  # before any right
        ]
    )
    right = spark.createDataFrame(
        [
            Row(k="a", rts=_ts("2024-01-01T10:00:00"), state="s1"),  # ties left ev=1
            Row(k="a", rts=_ts("2024-01-01T11:00:00"), state="s2"),
            Row(k="b", rts=_ts("2024-01-01T23:00:00"), state="s3"),
        ]
    )
    out = {
        r["ev"]: r["state"]
        for r in asof_join(left, right, ["k"], "ts", "rts", ["state"]).collect()
    }
    assert out[1] == "s1"  # inclusive: right row at equal ts matches
    assert out[2] == "s2"  # latest at-or-before wins
    assert out[3] is None  # left-join semantics: no earlier right row


def test_sessionize_gap_boundaries(spark):
    base = [0, 10, 2000, 2005, 9000]  # seconds; gap = 1800s
    df = spark.createDataFrame(
        [Row(u="x", ts=_ts("2024-01-01T00:00:00"), off=o) for o in base]
    ).withColumn("ts", F.col("ts") + F.make_interval(secs=F.col("off")))
    out = sessionize(df, ["u"], "ts", gap_seconds=1800, tiebreak_cols=["off"])
    seqs = [r["session_seq"] for r in out.orderBy("off").collect()]
    assert seqs == [1, 1, 2, 2, 3]


def test_uniform_hash_matches_reference_vector(spark):
    # Known-answer: sha256('42' + '')[:13] as a 52-bit fraction.
    import hashlib

    expect = int(hashlib.sha256(b"42").hexdigest()[:13], 16) / float(16**13)
    df = spark.range(42, 43).select(uniform_hash(F.col("id")).alias("u"))
    got = df.collect()[0]["u"]
    assert got == expect  # bit-exact, not approx


def test_hash_sample_deterministic_and_rate(spark):
    df = spark.range(0, 10_000)
    s1 = hash_sample(df, "id", 0.1).count()
    s2 = hash_sample(df, "id", 0.1).count()
    assert s1 == s2  # reproducible
    assert 800 <= s1 <= 1200  # ~10%


def test_stratified_split_partition_and_weights(spark):
    df = spark.range(0, 10_000)
    out = stratified_split(df, "id", [("train", 0.8), ("val", 0.1), ("test", 0.1)])
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 10_000  # total partition, no overlap/loss
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    assert 7500 <= counts["train"] <= 8500


def test_kmv_estimate_within_tolerance(spark):
    df = spark.range(0, 5_000).select((F.col("id") % 1000).alias("v"))
    row = kmv_distinct_estimate(df, "v", k=64).collect()[0]
    assert row["k"] == 64
    assert 700 <= row["est_distinct"] <= 1400  # true=1000; KMV k=64 ~ ±12% rms


# -- decontamination + packing ----------------------------------------------

def test_ngram_decontaminate_drops_overlapping_docs(spark):
    corpus = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta epsilon"),
            Row(doc_id=2, text="one two three four five"),
            Row(doc_id=3, text="nothing shared here at all"),
        ]
    )
    bench = spark.createDataFrame([Row(doc_id=99, text="xx alpha beta gamma yy")])
    kept = sorted(
        r["doc_id"]
        for r in D.ngram_decontaminate(corpus, bench, shingle_n=3).collect()
    )
    # doc 1 shares the 3-gram "alpha beta gamma" with the benchmark; 2 and 3
    # share nothing.
    assert kept == [2, 3]


def test_contiguous_token_chunks_matches_serial_prefix_sum(spark):
    from door2door_etl_spark.operators.packing import contiguous_token_chunks

    rows = [(i, (i * 37) % 90 + 10) for i in range(500)]  # weights 10..99
    df = spark.createDataFrame(rows, "k long, w long")
    budget = 750

    # Serial reference: chunk = floor(exclusive-prefix-sum / budget).
    expect, cum = {}, 0
    for k, w in rows:
        expect[k] = cum // budget
        cum += w

    for nparts in (1, 3, 8):
        got = {
            r["k"]: r["chunk_id"]
            for r in contiguous_token_chunks(
                df, "k", "w", budget, num_partitions=nparts
            ).collect()
        }
        assert got == expect  # invariant to partition-boundary placement


def test_quota_mix_sample_hits_target_mix(spark):
    from door2door_etl_spark.operators.sketches import quota_mix_sample

    rows = [(i, "a" if i < 4000 else ("b" if i < 5000 else "c")) for i in range(6000)]
    df = spark.createDataFrame(rows, "k long, grp string")
    # a:4000, b:1000, c:1000 rows; targets 50/25/25 → T = min(8000, 4000, 4000)
    # = 4000 → quotas a:2000, b:1000 (all), c:1000 (all).
    out = quota_mix_sample(df, "grp", "k", {"a": 0.5, "b": 0.25, "c": 0.25})
    counts = {r["grp"]: r["n"] for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert counts["b"] == 1000 and counts["c"] == 1000  # rate 1.0 keeps all
    assert 1800 <= counts["a"] <= 2200  # hash threshold ≈ quota
    # Deterministic: identical on rerun.
    again = {r["grp"]: r["n"] for r in quota_mix_sample(df, "grp", "k", {"a": 0.5, "b": 0.25, "c": 0.25}).groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert again == counts


def test_kmeans_recovers_separated_clusters(spark):
    from door2door_etl_spark.operators.clustering import kmeans_fit_predict

    # Three tight blobs along dim 0 at -10/0/+10; ids 0,1,2 land one per
    # blob so the deterministic init starts inside each.
    rows = []
    for i in range(90):
        blob = i % 3
        center = (blob - 1) * 10.0
        rows.append((i, [center + (i % 7) * 0.01] + [0.0] * 3))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, centroids = kmeans_fit_predict(
        df, vec_col="embedding", id_col="vec_id", k=3, dim=4, iterations=3
    )
    got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    # Every member of a blob shares one cluster, and blobs are distinct.
    blob_clusters = {b: {got[i] for i in range(90) if i % 3 == b} for b in range(3)}
    assert all(len(c) == 1 for c in blob_clusters.values())
    assert len({next(iter(c)) for c in blob_clusters.values()}) == 3
    assert sorted(round(c[0]) for c in centroids) == [-10, 0, 10]


def test_kmeans_blas_path_matches_exact_path(spark):
    from door2door_etl_spark.operators.clustering import kmeans_fit_predict

    rows = []
    for i in range(120):
        blob = i % 3
        rows.append((i, [(blob - 1) * 10.0 + (i % 5) * 0.01, float(blob), 0.0, 1.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact, c_exact = kmeans_fit_predict(df, k=3, dim=4, iterations=2, use_blas=False)
    blas, c_blas = kmeans_fit_predict(df, k=3, dim=4, iterations=2, use_blas=True)
    a = {r["vec_id"]: r["cluster"] for r in exact.collect()}
    b = {r["vec_id"]: r["cluster"] for r in blas.collect()}
    assert a == b
    assert c_exact == c_blas  # exact update step is shared, so bit-equal


def test_sliding_token_chunks_known_answers(spark):
    from door2door_etl_spark.operators.packing import sliding_token_chunks

    df = spark.createDataFrame(
        [Row(doc_id=1, text="a b c d e"), Row(doc_id=2, text="")]
    )
    rows = sliding_token_chunks(df, window=3, stride=2).collect()
    got = {(r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_tokens"]) for r in rows}
    assert got == {
        (1, 0): ("a b c", 3),
        (1, 1): ("c d e", 3),
        (1, 2): ("e", 1),  # trailing window truncates
        (2, 0): ("", 0),  # empty doc yields one empty chunk
    }


def test_kmv_distinct_by_group_exact_and_sketch_paths(spark):
    from door2door_etl_spark.operators.sketches import kmv_distinct_by_group

    rows = [Row(g="small", v=i) for i in range(3)] * 4  # 3 distinct, duplicated
    rows += [Row(g="big", v=i) for i in range(200)]  # 200 distinct > k
    df = spark.createDataFrame(rows)
    got = {r["g"]: r["est_distinct"] for r in kmv_distinct_by_group(df, "g", "v", k=64).collect()}
    assert got["small"] == 3.0  # below k: the sketch IS the distinct set
    assert 120 <= got["big"] <= 280  # (k-1)/u_(k), k=64 => ~12.5% stderr


def test_token_entropy_known_answers(spark):
    import math

    from door2door_etl_spark.operators.text import token_entropy

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a a a a"),          # H = 0
            Row(doc_id=2, text="a b c d"),          # H = log2(4) = 2
            Row(doc_id=3, text="a a b b b c"),      # mixed
            Row(doc_id=4, text=""),                  # no tokens -> no row
        ]
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["distinct_tokens"], r["entropy_bits"])
        for r in token_entropy(df).collect()
    }
    assert got[1] == (4, 1, 0.0)
    assert got[2] == (4, 4, 2.0)
    ps = [2 / 6, 3 / 6, 1 / 6]
    expect = -sum(p * math.log2(p) for p in ps)
    assert abs(got[3][2] - expect) < 1e-5
    assert got[3][:2] == (6, 3)
    assert 4 not in got


def test_cross_doc_duplicated_shingle_fraction_planted(spark):
    from door2door_etl_spark.operators.text import (
        cross_doc_duplicated_shingle_fraction,
    )

    # Docs 1 and 2 share their full text (every 2-gram duplicated); doc 3 is
    # unique except it repeats doc 1's opening bigram.
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="x y z w"),
            Row(doc_id=2, text="x y z w"),
            Row(doc_id=3, text="x y unique1 unique2"),
        ]
    )
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_duplicated"], r["dup_frac"])
        for r in cross_doc_duplicated_shingle_fraction(df, n=2).collect()
    }
    assert got[1] == (3, 3, 1.0)
    assert got[2] == (3, 3, 1.0)
    # doc 3: shingles {x y, y unique1, unique1 unique2}; only "x y" is shared
    assert got[3][0] == 3 and got[3][1] == 1
    assert abs(got[3][2] - 1 / 3) < 1e-6


def test_redact_pii_counts_and_replacement(spark):
    from door2door_etl_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            Row(
                id=1,
                text="mail a.b+c@test.org or x@y.io, call +1 415 555 1234, host 10.0.0.7",
            ),
            Row(id=2, text="nothing sensitive here"),
        ]
    )
    rows = {r["id"]: r for r in redact_pii(df).collect()}
    r1 = rows[1]
    assert (r1["n_email"], r1["n_phone"], r1["n_ipv4"]) == (2, 1, 1)
    red = r1["redacted"]
    assert "test.org" not in red and "415" not in red and "10.0.0.7" not in red
    assert red.count("[PII]") == 4
    r2 = rows[2]
    assert (r2["n_email"], r2["n_phone"], r2["n_ipv4"]) == (0, 0, 0)
    assert r2["redacted"] == r2["text"]


def test_semdedup_composition_drops_planted_semantic_dup(spark):
    """kmeans cells -> within-cell cosine pairs -> components: two identical
    vectors collapse to one canonical; the far-away singleton survives."""
    from door2door_etl_spark.operators.clustering import kmeans_fit_predict
    from door2door_etl_spark.operators.dedup import (
        connected_dedup_clusters,
        embedding_near_dup_pairs,
    )

    # ids 1,2 seed the deterministic init, so they must differ
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [-1.0, -1.0, 0.0, 0.0]),  # far cluster
        (3, [1.0, 0.0, 0.0, 0.0]),    # exact semantic dup of 1
        (4, [0.0, 1.0, 0.0, 0.0]),    # same half-space as 1, low cosine
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, _ = kmeans_fit_predict(
        emb, vec_col="embedding", id_col="vec_id", k=2, dim=4, iterations=2,
        use_blas=False,
    )
    with_cell = emb.join(assigned.select("vec_id", "cluster"), "vec_id")
    pairs = embedding_near_dup_pairs(
        with_cell, block_col="cluster", min_cosine=0.95
    )
    comp = {r["doc_id"]: r["canonical_id"]
            for r in connected_dedup_clusters(pairs, "id_a", "id_b").collect()}
    assert comp == {1: 1, 3: 1}  # only the planted dup pair forms a component


def test_incremental_lsh_dedup_drops_corpus_dup_keeps_novel(spark):
    from door2door_etl_spark.operators.dedup import incremental_lsh_dedup

    corpus = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog today"),
            Row(doc_id=2, text="completely different corpus sentence about spark plans"),
        ]
    )
    batch = spark.createDataFrame(
        [
            # verbatim copy of corpus doc 1 -> every band collides -> dropped
            Row(doc_id=100, text="the quick brown fox jumps over the lazy dog today"),
            # novel content -> admitted
            Row(doc_id=101, text="unrelated fresh material with new vocabulary entirely"),
            # copy of the novel doc: new to the corpus, but the intra-batch
            # rule keeps only the smallest id
            Row(doc_id=102, text="unrelated fresh material with new vocabulary entirely"),
        ]
    )
    kept = incremental_lsh_dedup(batch, corpus)
    assert {r["doc_id"] for r in kept.collect()} == {101}

    # Without the intra-batch collapse, both copies of the novel doc pass —
    # the mega-cluster admission hole the default guards against.
    loose = incremental_lsh_dedup(batch, corpus, intra_batch=False)
    assert {r["doc_id"] for r in loose.collect()} == {101, 102}


def _lsh_index_in_sync(idx) -> bool:
    """The composite-state invariant: band doc set == admitted-id set."""
    band_ids = {r[0] for r in idx.scan().select(idx.id_col).distinct().collect()}
    ids = {r[0] for r in idx.admitted_ids().collect()}
    return band_ids == ids


def test_manifest_lsh_index_matches_inline(spark, tmp_path):
    """The manifest-versioned index admits exactly what the inline operator
    admits, its id set tracks its band set at every committed version, and
    appended admissions collide later batches."""
    from door2door_etl_spark.operators.dedup import (
        ManifestLshBandIndex,
        incremental_lsh_dedup,
    )

    corpus = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog today"),
            Row(doc_id=2, text="completely different corpus sentence about spark plans"),
        ]
    )
    day1 = spark.createDataFrame(
        [
            Row(doc_id=100, text="the quick brown fox jumps over the lazy dog today"),
            Row(doc_id=101, text="unrelated fresh material with new vocabulary entirely"),
            Row(doc_id=102, text="unrelated fresh material with new vocabulary entirely"),
        ]
    )
    idx = ManifestLshBandIndex(spark, str(tmp_path / "lshman"))
    assert idx.build(corpus) == 1
    assert {r[0] for r in idx.admitted_ids().collect()} == {1, 2}
    assert _lsh_index_in_sync(idx)

    inline = {r["doc_id"] for r in incremental_lsh_dedup(day1, corpus).collect()}
    kept = idx.admit(day1)
    assert {r["doc_id"] for r in kept.collect()} == inline == {101}
    assert {r[0] for r in idx.admitted_ids().collect()} == {1, 2, 101}
    assert _lsh_index_in_sync(idx)

    # Day 2: a copy of day 1's admission collides WITH THE INDEX.
    day2 = spark.createDataFrame(
        [
            Row(doc_id=200, text="unrelated fresh material with new vocabulary entirely"),
            Row(doc_id=201, text="genuinely novel second day content stream here"),
        ]
    )
    kept2 = idx.admit(day2, update_index=False)
    assert {r["doc_id"] for r in kept2.collect()} == {201}
    # update_index=False committed nothing
    assert {r[0] for r in idx.admitted_ids().collect()} == {1, 2, 101}

    # Compaction is a commit: same contents, invariant intact, probes agree.
    idx.compact()
    assert {r[0] for r in idx.admitted_ids().collect()} == {1, 2, 101}
    assert _lsh_index_in_sync(idx)
    kept2b = idx.admit(day2, update_index=False)
    assert {r["doc_id"] for r in kept2b.collect()} == {201}


def test_manifest_lsh_index_admit_is_atomic(spark, tmp_path, monkeypatch):
    """Crash-window pin for VERDICT r5 ask #3.

    Counterfactual first: committing bands and ids as TWO appends (a band
    append, then the caller's separate corpus write) tears on a crash
    between them.  Then the real
    admit(): one commit, so a crash at the claim leaves NOTHING visible
    — version, band set, and id set all unchanged — and the retry heals.
    """
    from door2door_etl_spark.io import manifest as M
    from door2door_etl_spark.operators.dedup import ManifestLshBandIndex

    corpus = spark.createDataFrame(
        [Row(doc_id=1, text="seed corpus document with ordinary words inside")]
    )
    day1 = spark.createDataFrame(
        [Row(doc_id=50, text="fresh admission candidate with novel vocabulary")]
    )

    # --- the torn shape the single commit kills ---
    torn = ManifestLshBandIndex(spark, str(tmp_path / "torn"))
    torn.build(corpus)
    bands_only = torn._band_table(day1)
    M.append_manifest(
        spark,
        torn.root,
        torn._unified(bands_only, day1.select("doc_id").limit(0)),
        partition_col="rel",
    )
    # ...crash here, before the id append: index and corpus now disagree.
    assert not _lsh_index_in_sync(torn)

    # --- the real path: claim fails -> nothing landed ---
    idx = ManifestLshBandIndex(spark, str(tmp_path / "atomic"))
    idx.build(corpus)
    v_before = M.ManifestTable(idx.root).current_version()

    real_claim = M.ManifestTable._claim

    def dying_claim(self, *a, **kw):
        # The claim never lands (crash / lost race); staged files are
        # dropped by the retry loop and the commit is exhausted.
        return False

    monkeypatch.setattr(M.ManifestTable, "_claim", dying_claim)
    with pytest.raises(M.ConcurrentWriteError, match="claim race"):
        idx.admit(day1)
    monkeypatch.setattr(M.ManifestTable, "_claim", real_claim)

    assert M.ManifestTable(idx.root).current_version() == v_before
    assert {r[0] for r in idx.admitted_ids().collect()} == {1}
    assert _lsh_index_in_sync(idx)

    # Replay after the crash: admits cleanly, one version, in sync.
    kept = idx.admit(day1)
    assert {r["doc_id"] for r in kept.collect()} == {50}
    assert {r[0] for r in idx.admitted_ids().collect()} == {1, 50}
    assert _lsh_index_in_sync(idx)


def test_predict_language_charngram(spark):
    from door2door_etl_spark.operators.text import (
        char_bigram_profiles,
        predict_language_charngram,
    )

    profiles = char_bigram_profiles()
    assert "th" in profiles["en"] and "ch" in profiles["de"]
    df = spark.createDataFrame(
        [
            Row(t="the weather thinks that the theory is thorough"),
            Row(t="nicht der ich dich durch nicht auf und"),
            Row(t=""),
        ]
    )
    out = [r[0] for r in df.select(predict_language_charngram(F.col("t"))).collect()]
    assert out[0] == "en"
    assert out[1] == "de"
    assert out[2] == "und"  # empty text -> zero mass


def test_normalize_text_strips_controls_and_collapses_whitespace(spark):
    from door2door_etl_spark.operators.text import normalize_text

    df = spark.createDataFrame(
        [Row(doc_id=1, text="\tfoo\x00bar  baz\r\n"),
         Row(doc_id=2, text="Already Clean")]
    )
    got = {r["doc_id"]: r["norm_text"]
           for r in normalize_text(df).collect()}
    assert got == {1: "foo bar baz", 2: "Already Clean"}
    low = normalize_text(df, lowercase=True).collect()
    assert {r["norm_text"] for r in low} == {"foo bar baz", "already clean"}


def test_unigram_logprob_known_answer(spark):
    """corpus = {a:2, b:1, c:1}, total 4 (log2=2):
    d1 = 'a a b' -> (2*log2 2 + log2 1)/3 - 2 = 2/3 - 2 = -1.333333
    d2 = 'c'     -> log2(1)/1 - 2 = -2.0"""
    from door2door_etl_spark.operators.text import unigram_logprob

    df = spark.createDataFrame(
        [Row(doc_id=1, text="a a b"), Row(doc_id=2, text="c")]
    )
    got = {r["doc_id"]: (r["n_tokens"], r["unigram_log2p"])
           for r in unigram_logprob(df).collect()}
    assert got == {1: (3, -1.333333), 2: (1, -2.0)}


def test_bigram_backoff_logprob_matches_pure_python(spark):
    """Independent reference: counts + Stupid-Backoff scoring recomputed in
    plain Python over a corpus engineered to exercise BOTH paths — repeated
    bigrams that survive the min_count=2 cutoff AND singleton bigrams that
    back off to alpha-weighted unigrams — plus a one-token doc (no bigrams)
    and an empty doc (dropped)."""
    import math

    from door2door_etl_spark.operators.text import bigram_backoff_logprob

    texts = {
        1: "the cat sat on the cat mat",
        2: "the cat sat again",
        3: "dog",
        4: "",
        5: "on the cat",
    }
    df = spark.createDataFrame(
        [Row(doc_id=k, text=v) for k, v in texts.items()]
    )
    alpha, min_count = 0.4, 2

    toks = {k: v.split() for k, v in texts.items() if v}
    uni, big = {}, {}
    for t in toks.values():
        for w in t:
            uni[w] = uni.get(w, 0) + 1
        for x, y in zip(t, t[1:]):
            big[(x, y)] = big.get((x, y), 0) + 1
    C = sum(uni.values())
    model = {k: c for k, c in big.items() if c >= min_count}

    def score(t):
        s = math.log2(uni[t[0]]) - math.log2(C)
        for x, y in zip(t, t[1:]):
            if (x, y) in model:
                s += math.log2(model[(x, y)]) - math.log2(uni[x])
            else:
                s += math.log2(alpha) + math.log2(uni[y]) - math.log2(C)
        return round(s / len(t), 6)

    want = {k: (len(t), score(t)) for k, t in toks.items()}
    got = {
        r["doc_id"]: (r["n_tokens"], r["bigram_log2p"])
        for r in bigram_backoff_logprob(df, alpha=alpha, min_count=min_count).collect()
    }
    assert set(got) == set(want)  # empty doc 4 dropped
    for k in want:
        assert got[k][0] == want[k][0]
        assert got[k][1] == pytest.approx(want[k][1], abs=2e-6)
    # Both paths really fired: ('the','cat') is in the model, ('sat','again')
    # is a singleton and backed off.
    assert ("the", "cat") in model and ("sat", "again") not in model


def test_quantize_int8_roundtrip_error_bound(spark):
    from door2door_etl_spark.operators.similarity import quantize_int8

    rows = [
        Row(vec_id=1, embedding=[1.0, -0.5, 0.25, 0.0]),
        Row(vec_id=2, embedding=[0.0, 0.0, 0.0, 0.0]),  # zero vector: scale=1
    ]
    out = {r["vec_id"]: r for r in quantize_int8(spark.createDataFrame(rows)).collect()}
    assert out[1]["qvec"] == [127, -64, 32, 0]  # max dim pins to ±127
    assert out[2]["qvec"] == [0, 0, 0, 0] and out[2]["scale"] == 1.0
    # Dequantization error is bounded by scale/2 per dim.
    scale = out[1]["scale"]
    for orig, q in zip(rows[0].embedding, out[1]["qvec"]):
        assert abs(orig - q * scale) <= scale / 2 + 1e-12


def test_resize_assets_bounds_payload_and_recomputes_meta(spark, docs):
    import hashlib

    from door2door_etl_spark.operators.multimodal import (
        fake_resize_bytes,
        resize_assets,
    )

    assets = attach_binary_content(docs, "text", "image", "image/fake")
    out = {r["doc_id"]: r for r in resize_assets(assets, 4, 2).collect()}
    for doc_id, row in out.items():
        payload = bytes(row["content"])
        assert len(payload) <= 8  # bounded by width*height
        assert row["meta"]["n_bytes"] == len(payload)
        assert row["meta"]["content_sha"] == hashlib.sha256(payload).hexdigest()
        assert row["meta"]["modality"] == "image"  # modality/mime survive
    # Short payloads pass through untouched ("tiny" = 4 bytes <= 8).
    assert bytes(out[5]["content"]) == b"tiny"
    # Deterministic: the Python fake and the Spark path agree.
    src = dict(docs.select("doc_id", "text").collect())
    assert bytes(out[1]["content"]) == fake_resize_bytes(
        src[1].encode("utf-8"), 4, 2
    )


def test_pq_encode_and_adc_ranks_planted_neighbor_first(spark):
    from door2door_etl_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks_from_min_ids,
        pq_encode,
    )

    import random

    rng = random.Random(7)
    base = [rng.uniform(-1, 1) for _ in range(8)]
    rows = [
        Row(vec_id=0, embedding=base),
        Row(vec_id=1, embedding=[x + 0.01 for x in base]),   # planted neighbor
        Row(vec_id=2, embedding=[-x for x in base]),
        Row(vec_id=3, embedding=[rng.uniform(-1, 1) for _ in range(8)]),
        Row(vec_id=4, embedding=base),                        # exact duplicate
    ]
    df = spark.createDataFrame(rows)
    cbs = pq_codebooks_from_min_ids(df, m=2, k=2)
    codes = {r["vec_id"]: (r["code0"], r["code1"]) for r in pq_encode(df, cbs).collect()}
    assert codes[0] == codes[4]  # identical vectors encode identically
    assert all(1 <= c <= 2 for pair in codes.values() for c in pair)

    top = pq_adc_topk(df, cbs, base, k_results=2, exclude_id=0).collect()
    # The exact duplicate shares the query's cell -> approx distance 0 first.
    assert top[0]["vec_id"] == 4 and top[0]["approx_dist"] == 0.0


# -- literal-query ANN serving paths + trained PQ (round 5) -----------------

def test_literal_query_vec_matches_by_id(spark):
    """VERDICT r4 ask #3: every ANN entry point accepts a provided query
    vector (serving path) and returns the same ranking the by-id form
    computes."""
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0], label=0),
        Row(vec_id=1, embedding=[1.0, 0.01], label=0),
        Row(vec_id=2, embedding=[0.5, 0.5], label=1),
        Row(vec_id=3, embedding=[-1.0, 0.0], label=1),
    ]
    df = spark.createDataFrame(rows)
    qv = [1.0, 0.0]

    by_id = S.brute_force_topk(df, query_id=0, k=2).collect()
    by_vec = S.brute_force_topk(df, query_vec=qv, k=2, exclude_id=0).collect()
    assert [(r["vec_id"], r["cosine"]) for r in by_id] == [
        (r["vec_id"], r["cosine"]) for r in by_vec
    ]

    ivf_id = S.ivf_topk(df, query_id=0, k=2, nprobe=1).collect()
    ivf_vec = [
        r for r in S.ivf_topk(df, query_vec=qv, k=3, nprobe=1).collect()
        if r["vec_id"] != 0
    ][:2]
    assert [r["vec_id"] for r in ivf_id] == [r["vec_id"] for r in ivf_vec]

    with pytest.raises(ValueError, match="exactly one"):
        S.brute_force_topk(df, query_id=0, query_vec=qv)
    with pytest.raises(ValueError, match="exactly one"):
        S.brute_force_topk(df)


def test_pq_literal_query_paths_match_by_id(spark, sf_dir):
    """ivf_pq_topk / pq_rerank_topk by-vec twins reproduce the by-id
    ranking on the real embeddings table (query row dropped from the
    by-vec result, which has nothing to exclude)."""
    from door2door_etl_spark.io import load_table
    from door2door_etl_spark.operators.similarity import (
        ivf_pq_topk,
        pq_codebooks_from_min_ids,
        pq_rerank_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cbs = pq_codebooks_from_min_ids(emb, m=4, k=8)
    qid = 7
    qvec = [float(x) for x in emb.filter(f"vec_id = {qid}").first()["embedding"]]

    by_id = ivf_pq_topk(emb, cbs, query_id=qid, k=5, nprobe=2).collect()
    by_vec = [
        r for r in ivf_pq_topk(emb, cbs, query_vec=qvec, k=6, nprobe=2).collect()
        if r["vec_id"] != qid
    ][:5]
    assert [(r["vec_id"], r["approx_dist"]) for r in by_id] == [
        (r["vec_id"], r["approx_dist"]) for r in by_vec
    ]

    rr_id = pq_rerank_topk(emb, cbs, query_id=qid, k=5, shortlist=20).collect()
    rr_vec = [
        r
        for r in pq_rerank_topk(
            emb, cbs, query_vec=qvec, k=6, shortlist=21
        ).collect()
        if r["vec_id"] != qid
    ][:5]
    assert [r["vec_id"] for r in rr_id] == [r["vec_id"] for r in rr_vec]


def test_pq_train_recall_at_k(spark):
    """VERDICT r4 ask #2: trained per-subspace k-means codebooks give the
    PQ pipeline a real accuracy story — with planted near-neighbors, the
    ADC shortlist + exact re-rank recovers >= 90% of the true top-k."""
    import numpy as np

    from door2door_etl_spark.operators.similarity import (
        brute_force_topk,
        pq_rerank_topk,
        pq_train,
    )

    rng = np.random.default_rng(0)
    dim, n_planted, n_noise, k = 16, 10, 140, 10
    query = rng.uniform(-1, 1, dim)
    planted = query + rng.normal(0, 0.05, (n_planted, dim))
    noise = rng.uniform(-1, 1, (n_noise, dim))
    vecs = np.vstack([planted, noise])
    rows = [
        Row(vec_id=i, embedding=[float(x) for x in vecs[i]])
        for i in range(len(vecs))
    ]
    df = spark.createDataFrame(rows)
    qv = [float(x) for x in query]

    true_top = {
        r["vec_id"] for r in brute_force_topk(df, query_vec=qv, k=k).collect()
    }
    assert true_top == set(range(n_planted))  # sanity: planting worked

    cbs = pq_train(df, m=4, k=8, iterations=3)
    assert len(cbs) == 4 and len(cbs[0]) == 8 and len(cbs[0][0]) == 4
    got = {
        r["vec_id"]
        for r in pq_rerank_topk(
            df, cbs, query_vec=qv, k=k, shortlist=50
        ).collect()
    }
    recall = len(got & true_top) / k
    assert recall >= 0.9, f"recall@{k} = {recall}"


def test_pq_train_rejects_indivisible_dim(spark):
    from door2door_etl_spark.operators.similarity import pq_train

    df = spark.createDataFrame([Row(vec_id=0, embedding=[1.0, 2.0, 3.0])])
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(df, m=2, k=2)


def test_incremental_lsh_dedup_cache_lifetime_bounded(spark):
    """VERDICT r4 ask #7: a long-lived driver ingesting batch after batch
    must not accumulate cached relations — each call's band-table cache is
    unpersisted before return and its (tiny) checkpointed id set is
    reclaimed by the context cleaner once the result is dropped, so the
    persistent-RDD census stays bounded instead of growing per batch."""
    import gc
    import time

    from door2door_etl_spark.operators.dedup import incremental_lsh_dedup

    corpus = spark.createDataFrame(
        [Row(doc_id=i, text=f"corpus doc {i} aaa bbb ccc ddd") for i in range(20)]
    )
    sc = spark.sparkContext
    # Count only RDDs created by the five calls below: every RDD id from
    # here on is above this watermark, so other tests' leftovers (which
    # the shared session's cleaner drains at its own pace) never count.
    watermark = sc._jsc.sc().newRddId()

    def persisted_since() -> int:
        return sum(
            1 for rdd_id in sc._jsc.getPersistentRDDs().keySet()
            if rdd_id > watermark
        )

    for i in range(5):
        batch = spark.createDataFrame(
            [Row(doc_id=100 + 10 * i + j,
                 text=f"novel batch {i} {j} xxx yyy zzz www")
             for j in range(5)]
        )
        incremental_lsh_dedup(batch, corpus).count()
        del batch
    # The context cleaner is async and acts on JVM weak references: drop
    # the py4j refs (Python gc), then run a JVM gc so the cleaner sees
    # them cleared.  A real per-batch leak would leave ~5+ entries (one
    # per batch), which the +2 bound still catches.
    for _ in range(40):
        gc.collect()
        sc._jvm.System.gc()
        if persisted_since() <= 2:
            break
        time.sleep(0.5)
    n_cached = persisted_since()
    assert n_cached <= 2, (
        f"{n_cached} persistent RDDs created by 5 batches are still cached"
    )


# -- training-order prep (round 5) ------------------------------------------

def test_epoch_shuffle_is_seeded_permutation(spark):
    from door2door_etl_spark.operators.packing import epoch_shuffle

    df = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    a = {r["doc_id"]: r["shuffle_pos"] for r in epoch_shuffle(df, seed=1).collect()}
    # A permutation: every position 1..n exactly once.
    assert sorted(a.values()) == list(range(1, 41))
    # Deterministic under the same seed...
    a2 = {r["doc_id"]: r["shuffle_pos"] for r in epoch_shuffle(df, seed=1).collect()}
    assert a == a2
    # ...and a different seed re-deals the order.
    b = {r["doc_id"]: r["shuffle_pos"] for r in epoch_shuffle(df, seed=2).collect()}
    assert a != b and sorted(b.values()) == list(range(1, 41))
    spark.catalog.clearCache()  # packing caches are caller-owned


def test_grouped_order_positions_matches_window(spark):
    """The two-phase scan must equal row_number() OVER (PARTITION BY g
    ORDER BY o) exactly — it exists to avoid that window's one-task-per-
    group execution, not to change its semantics."""
    from pyspark.sql import Window

    from door2door_etl_spark.operators.packing import grouped_order_positions

    rows = [(i, f"g{i % 3}", f"k{(i * 37) % 100:03d}") for i in range(60)]
    df = spark.createDataFrame(rows, "id long, g string, k string")
    got = {
        r["id"]: r["pos"]
        for r in grouped_order_positions(df, "g", "k", num_partitions=5).collect()
    }
    w = Window.partitionBy("g").orderBy("k")
    want = {
        r["id"]: r["rn"]
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert got == want
    spark.catalog.clearCache()


def test_grouped_order_positions_high_cardinality_fallback(spark):
    """10k distinct groups blow the driver-cell cap: the operator must
    WARN and switch to the hash-partitioned window form, producing the
    identical ranks (and the primary two-phase path must agree on the
    same frame, so both regimes are pinned against the window oracle)."""
    import warnings

    from pyspark.sql import Window

    from door2door_etl_spark.operators.packing import grouped_order_positions

    n_groups = 10_000
    rows = [
        (i, i % n_groups, f"k{(i * 37) % 30011:05d}") for i in range(30_000)
    ]
    df = spark.createDataFrame(rows, "id long, g long, k string")
    w = Window.partitionBy("g").orderBy("k")
    want = {
        r["id"]: r["rn"]
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        fb = {
            r["id"]: r["pos"]
            for r in grouped_order_positions(
                df, "g", "k", num_partitions=8, max_driver_cells=500
            ).collect()
        }
    assert any("max_driver_cells" in str(c.message) for c in caught)
    assert fb == want

    primary = {
        r["id"]: r["pos"]
        for r in grouped_order_positions(
            df, "g", "k", num_partitions=8
        ).collect()
    }
    assert primary == want
    spark.catalog.clearCache()


def test_length_bucketed_batches_properties(spark, docs):
    from door2door_etl_spark.operators.packing import length_bucketed_batches

    out = length_bucketed_batches(docs, batch_size=3, seed=5).collect()
    assert len(out) == docs.count()
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r)
        # bucket really is the log2 length bucket
        assert r["bucket"] == max(r["n_tokens"], 1).bit_length() - 1
        assert 0 <= r["pos_in_batch"] < 3
    for bucket, rows in by_bucket.items():
        # batches are filled densely: batch b holds 3 docs before b+1 opens
        idxs = sorted((r["batch_idx"], r["pos_in_batch"]) for r in rows)
        expect = [(i // 3, i % 3) for i in range(len(rows))]
        assert idxs == expect, f"bucket {bucket} not densely batched"
    spark.catalog.clearCache()


def test_quantile_thresholds_exact_vs_approx(spark, sf_dir):
    """The approx (mergeable-sketch, 100 TB) path tracks the exact oracle
    path within sketch tolerance."""
    from door2door_etl_spark.io import load_table
    from door2door_etl_spark.operators.sketches import quantile_thresholds

    d = load_table(spark, sf_dir, "documents")
    qs = [0.5, 0.9, 0.99]
    approx = {
        r["lang"]: (r["q_50"], r["q_90"], r["q_99"])
        for r in quantile_thresholds(d, "n_chars", ["lang"], qs, exact=False).collect()
    }
    # approx_percentile's guarantee is on RANK (within 1/accuracy of the
    # target quantile), so bracket each approx value between the exact
    # quantiles at q +/- 2% rank tolerance.
    lo = {
        r["lang"]: (r["q_48"], r["q_88"], r["q_97"])
        for r in quantile_thresholds(
            d, "n_chars", ["lang"], [0.48, 0.88, 0.97], exact=True
        ).collect()
    }
    hi = {
        r["lang"]: (r["q_52"], r["q_92"], r["q_100"])
        for r in quantile_thresholds(
            d, "n_chars", ["lang"], [0.52, 0.92, 1.0], exact=True
        ).collect()
    }
    assert approx.keys() == lo.keys() == hi.keys()
    for lang in approx:
        for a, l, h in zip(approx[lang], lo[lang], hi[lang]):
            assert l <= a <= h, (lang, l, a, h)


def test_ivf_full_probe_recall_is_exact(spark, sf_dir):
    """IVF with nprobe = ncells degenerates to brute force: recall 1.0 —
    the sanity anchor for the nprobe/recall trade."""
    from door2door_etl_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    ncells = emb.select("label").distinct().count()
    brute = [r["vec_id"] for r in S.brute_force_topk(emb, query_id=3, k=8).collect()]
    ivf = [
        r["vec_id"]
        for r in S.ivf_topk(emb, query_id=3, k=8, nprobe=ncells).collect()
    ]
    assert ivf == brute


def test_multi_query_topk_by_id_and_by_vec(spark, sf_dir):
    """Batched ANN serving operator: by-id and literal-vector query
    batches produce the identical ranking, in ONE corpus scan."""
    from door2door_etl_spark.io import load_table
    from door2door_etl_spark.operators.similarity import multi_query_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [3, 17]
    by_id = multi_query_topk(emb, qids, k=4).collect()
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }
    by_vec = multi_query_topk(emb, vecs, k=4).collect()
    key = lambda rows: sorted(
        (r["query_id"], r["rk"], r["vec_id"], r["cosine"]) for r in rows
    )
    assert key(by_id) == key(by_vec)
    assert len(by_id) == 8  # 2 queries x k


def test_hll_registers_estimate_and_lossless_merge(spark):
    from door2door_etl_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_register_table,
    )

    rows = [(f"u{i}", "a" if i % 2 == 0 else "b", i % 3) for i in range(3000)]
    df = spark.createDataFrame(rows, "uid string, grp string, part int")

    direct = hll_register_table(df, ["grp"], "uid")
    est = {
        r["grp"]: r["est_distinct"]
        for r in hll_estimate(direct, ["grp"]).collect()
    }
    # 1500 distinct per group; m=64 -> stderr ~13%, allow 3 sigma
    for grp in ("a", "b"):
        assert abs(est[grp] - 1500) / 1500 < 0.4, est

    # merging fine-grained sketches is lossless: identical register tables
    fine = hll_register_table(df, ["grp", "part"], "uid")
    merged = hll_merge(fine, ["grp"])
    sym_diff = direct.exceptAll(merged).union(merged.exceptAll(direct))
    assert sym_diff.count() == 0


def test_cms_upper_bounds_and_lossless_merge(spark):
    from door2door_etl_spark.operators.sketches import (
        cms_merge,
        cms_point_estimate,
        cms_sketch_table,
    )

    rows = []
    for i, (tok, n) in enumerate([("alpha", 400), ("beta", 90), ("gamma", 7)]):
        rows += [(tok, "g1" if j % 2 else "g2") for j in range(n)]
    rows += [(f"rare{i}", "g1") for i in range(200)]
    df = spark.createDataFrame(rows, "token string, grp string")

    grouped = cms_sketch_table(df, ["grp"], "token")
    merged = cms_merge(grouped, [])
    direct = cms_sketch_table(df, [], "token")
    sym_diff = merged.exceptAll(direct).union(direct.exceptAll(merged))
    assert sym_diff.count() == 0  # SUM-merge is lossless

    items = spark.createDataFrame(
        [("alpha", 400), ("beta", 90), ("gamma", 7), ("never-seen", 0)],
        "token string, true_cnt long",
    )
    est = {
        r["token"]: (r["est_cnt"], r["true_cnt"])
        for r in cms_point_estimate(merged, items, "token").collect()
    }
    for tok, (got, true) in est.items():
        assert got >= true, (tok, got, true)  # CMS never undercounts
    # the dominant token's estimate is tight: collisions add at most the
    # residual mass (297 rows) in the worst row
    assert est["alpha"][0] <= 400 + 297


def test_segment_dedup_keeps_first_occurrence_and_reassembles(spark):
    from door2door_etl_spark.operators.dedup import segment_dedup

    seg_a = " ".join(f"a{i}" for i in range(10))
    seg_b = " ".join(f"b{i}" for i in range(10))
    seg_c = " ".join(f"c{i}" for i in range(10))
    tail = "t0 t1 t2"  # short final segment
    docs = spark.createDataFrame(
        [
            (1, f"{seg_a} {seg_b}"),
            (2, f"{seg_b} {seg_c} {tail}"),  # seg_b duplicates doc 1
            (3, seg_c),  # seg_c duplicates doc 2
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in segment_dedup(docs).collect()}
    assert (out[1]["segs_total"], out[1]["segs_kept"]) == (2, 2)
    assert out[1]["clean_text"] == f"{seg_a} {seg_b}"
    assert (out[2]["segs_total"], out[2]["segs_kept"]) == (3, 2)
    assert out[2]["clean_text"] == f"{seg_c} {tail}"  # kept segs keep order
    assert (out[3]["segs_total"], out[3]["segs_kept"]) == (1, 0)
    assert out[3]["clean_text"] == ""  # fully-duplicated doc survives empty

    # a duplicate-free corpus passes through byte-identical
    unique = spark.createDataFrame(
        [(1, seg_a), (2, f"{seg_b} {tail}")], "doc_id int, text string"
    )
    clean = {r["doc_id"]: r["clean_text"] for r in segment_dedup(unique).collect()}
    assert clean == {1: seg_a, 2: f"{seg_b} {tail}"}


def test_gopher_quality_flags_each_rule(spark):
    from door2door_etl_spark.operators.text import gopher_quality_flags

    good = "the cat sat upon the soft mat and looked over to the large dog " * 4
    too_short = "the a of and to"
    no_stopwords = " ".join(f"word{i}" for i in range(40))
    long_words = " ".join("supercalifragilistic" for _ in range(40)) + " the a"
    docs = spark.createDataFrame(
        [(1, good), (2, too_short), (3, no_stopwords), (4, long_words)],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in gopher_quality_flags(docs).collect()}
    assert out[1]["keep"] is True
    assert out[2]["keep"] is False  # word count below floor
    assert out[3]["keep"] is False  # zero required stopwords
    assert out[4]["keep"] is False  # mean word length above ceiling
    assert out[1]["word_count"] == 56 and out[1]["stop_hits"] >= 2


def test_bloom_no_false_negatives_and_lossless_merge(spark):
    from door2door_etl_spark.operators.sketches import (
        bloom_bit_table,
        bloom_merge,
        bloom_probe,
    )

    members = [(f"m{i}", "g1" if i % 2 else "g2") for i in range(200)]
    df = spark.createDataFrame(members, "item string, grp string")
    grouped = bloom_bit_table(df, ["grp"], "item")
    merged = bloom_merge(grouped, [])
    direct = bloom_bit_table(df, [], "item")
    sym = merged.exceptAll(direct).union(direct.exceptAll(merged))
    assert sym.count() == 0  # union-distinct merge == direct build

    probe_items = spark.createDataFrame(
        [(f"m{i}", True) for i in range(200)]
        + [(f"absent{i}", False) for i in range(500)],
        "item string, is_member boolean",
    )
    got = bloom_probe(merged, probe_items, "item").collect()
    fp = 0
    for r in got:
        if r["is_member"]:
            assert r["maybe_present"], "Bloom false negative!"
        elif r["maybe_present"]:
            fp += 1
    # m=256, k=3, n=200 -> fill ~0.9, FP rate is high but must be < 1:
    # some absents still probe negative, proving the filter discriminates
    assert 0 < fp < 500


def test_group_reservoir_sample_uniform_and_stable(spark):
    from door2door_etl_spark.operators.sketches import group_reservoir_sample

    rows = [(i, "a" if i < 500 else "b") for i in range(600)]
    df = spark.createDataFrame(rows, "id int, grp string")
    s1 = group_reservoir_sample(df, ["grp"], "id", 7)
    got = s1.collect()
    by_grp = {}
    for r in got:
        by_grp.setdefault(r["grp"], []).append((r["sample_rank"], r["id"]))
    assert sorted(g for g in by_grp) == ["a", "b"]
    assert len(by_grp["a"]) == 7 and len(by_grp["b"]) == 7
    assert sorted(r for r, _ in by_grp["a"]) == list(range(1, 8))
    # stable across repartitioning (the property df.sample cannot give)
    s2 = group_reservoir_sample(df.repartition(13), ["grp"], "id", 7)
    assert {(r["grp"], r["sample_rank"], r["id"]) for r in s2.collect()} == {
        (r["grp"], r["sample_rank"], r["id"]) for r in got
    }


def test_temperature_mix_flattens_toward_alpha_shares(spark):
    from door2door_etl_spark.operators.sketches import temperature_mix_sample

    rows = [(f"d{i}", "big") for i in range(1600)] + [
        (f"s{i}", "small") for i in range(100)
    ]
    df = spark.createDataFrame(rows, "id string, grp string")
    # alpha=0.5: big keeps sqrt(100/1600)=0.25 of its rows, small keeps all
    kept = temperature_mix_sample(df, "grp", "id", alpha=0.5)
    counts = {
        r["grp"]: r["n"]
        for r in kept.groupBy("grp").agg(F.count("*").alias("n")).collect()
    }
    assert counts["small"] == 100  # smallest group never downsampled
    assert 320 <= counts["big"] <= 480  # ~400 expected, Bernoulli spread
    # alpha=1 keeps the natural mix untouched
    natural = temperature_mix_sample(df, "grp", "id", alpha=1.0)
    assert natural.count() == 1700


def test_temperature_mix_null_group_is_its_own_domain(spark):
    from door2door_etl_spark.operators.sketches import temperature_mix_sample

    rows = [(f"d{i}", "big") for i in range(1600)] + [
        (f"n{i}", None) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "id string, grp string")
    kept = temperature_mix_sample(df, "grp", "id", alpha=0.5)
    counts = {
        r["grp"]: r["n"]
        for r in kept.groupBy("grp").agg(F.count("*").alias("n")).collect()
    }
    # NULL is the smallest domain -> rate 1.0, never silently dropped
    assert counts[None] == 100
    assert 320 <= counts["big"] <= 480
    # and output schema is unchanged (no helper columns leak)
    assert kept.columns == df.columns


def test_profile_columns_single_scan_known_answers(spark):
    from door2door_etl_spark.operators.relational import profile_columns

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (None, "b")], "x int, s string"
    )
    got = {r["column"]: r for r in profile_columns(df, ["x", "s"]).collect()}
    assert got["x"]["n_rows"] == 4 and got["x"]["n_null"] == 1
    assert got["x"]["n_distinct"] == 3
    assert (got["x"]["min_value"], got["x"]["max_value"]) == ("1", "3")
    assert got["s"]["n_null"] == 1 and got["s"]["n_distinct"] == 2
    # one scan: the plan contains exactly one relation
    plan = profile_columns(df, ["x", "s"])._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") + plan.count("Relation") == 1


def _greedy_merge(syms, left, right):
    out, i = [], 0
    while i < len(syms):
        if i < len(syms) - 1 and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _words(text):
    import re

    return [w for w in re.split(X.TOKEN_SPLIT_REGEX, text.lower()) if w]


def _reference_bpe_train(texts, num_merges):
    """Naive BPE trainer, one merge per round: recount every adjacent
    pair over the whole vocabulary, take the (count desc, pair asc)
    argmax, apply it greedily left to right to every word."""
    from collections import Counter

    freq = Counter(w for t in texts if t is not None for w in _words(t))
    syms = {w: list(w) for w in freq}
    merges = []
    for rank in range(num_merges):
        counts = Counter()
        for w, s in syms.items():
            for p in zip(s, s[1:]):
                counts[p] += freq[w]
        if not counts:
            break
        (left, right), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append({"rank": rank, "left": left, "right": right,
                       "merged": left + right, "pair_count": cnt})
        syms = {w: _greedy_merge(s, left, right) for w, s in syms.items()}
    return merges


def _reference_bpe_encode(text, merges):
    """Encode by applying the merges one by one in rank order."""
    if text is None:
        return None
    out = []
    for w in _words(text):
        s = list(w)
        for m in merges:
            s = _greedy_merge(s, m["left"], m["right"])
        out.extend(s)
    return out


def test_bpe_train_matches_sennrich_example_and_encode_roundtrips(spark):
    from door2door_etl_spark.operators.text import bpe_encode, bpe_train

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    df = spark.createDataFrame([(text,)], "text string")
    merges = bpe_train(df, 4)
    got = [(m["left"], m["right"], m["pair_count"]) for m in merges]
    # es(9) -> est(9) -> lo(7) -> low(7): the ACL'16 worked example with
    # the deterministic (count desc, pair asc) tie-break
    assert got == [("e", "s", 9), ("es", "t", 9), ("l", "o", 7), ("lo", "w", 7)]

    enc = bpe_encode(df, merges).select("bpe_tokens").first()[0]
    assert enc[:5] == ["low"] * 5
    assert "est" in enc  # newest -> n,e,w,est at 4 merges
    # lossless: concatenating subwords reproduces the character stream
    assert "".join(enc) == text.replace(" ", "")

    # encoding with zero merges = character split
    chars = bpe_encode(df, []).select("bpe_tokens").first()[0]
    assert "".join(chars) == text.replace(" ", "")
    assert all(len(c) == 1 for c in chars)


@pytest.mark.slow
def test_bpe_train_parity_and_job_budget(spark, force_distributed, monkeypatch):
    """The trainer learns the EXACT merge sequence of the naive reference
    trainer on both of its paths — the driver-exact loop behind the
    small-input gate and the distributed disjoint-batched rounds —
    without one Spark job per merge.  Parity on the worked example, a
    500-merge property corpus (the two paths agreeing merge-for-merge,
    anchored to the reference at 100 merges), and the measured job
    budget: <= merges/20 Spark jobs on the default path."""
    import random

    from door2door_etl_spark.operators.text import bpe_train

    # Worked example: both paths reproduce the reference sequence.
    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    ex = spark.createDataFrame([(text,)], "text string")
    seq = _reference_bpe_train([text], 10)
    assert bpe_train(ex, 10) == seq
    with monkeypatch.context() as m, force_distributed() as declined:
        m.setattr(X, "BPE_PAIR_WINDOW", 8)
        assert bpe_train(ex, 10) == seq
    assert declined

    # Property corpus: seeded random vocabulary rich enough for 500+
    # genuine merges (the testdata corpus exhausts its fixed word list
    # at 89), Zipf-ish frequencies via repeated sampling.
    rng = random.Random(42)
    words = sorted(
        {
            "".join(rng.choices("abcdefghijklmnopqrstuvwxyz",
                                k=rng.randint(3, 12)))
            for _ in range(1500)
        }
    )
    rows = [(" ".join(rng.choices(words, k=25)),) for _ in range(800)]
    corpus = spark.createDataFrame(rows, "text string").coalesce(4)
    corpus = corpus.localCheckpoint(eager=True)

    sc = spark.sparkContext
    sc.setJobGroup("bpe-drv", "driver path")
    drv = bpe_train(corpus, 500)
    drv_jobs = len(sc.statusTracker().getJobIdsForGroup("bpe-drv"))
    sc.setJobGroup(None, None)
    assert len(drv) == 500
    assert drv_jobs <= 500 / 20, drv_jobs

    # Independent implementation agreement at the full 500 merges.
    with force_distributed():
        dist = bpe_train(corpus, 500)
    assert dist == drv

    # Anchor to the reference trainer on a 100-merge prefix — a prefix
    # of a longer run IS the shorter run.
    assert _reference_bpe_train([r[0] for r in rows], 100) == drv[:100]


def test_profile_columns_approx_path_brackets_exact(spark):
    from door2door_etl_spark.operators.relational import profile_columns

    df = spark.createDataFrame([(i % 500,) for i in range(5000)], "x int")
    exact = profile_columns(df, ["x"]).first()
    approx = profile_columns(df, ["x"], approx=True).first()
    assert exact["n_distinct"] == 500
    assert abs(approx["n_distinct"] - 500) / 500 < 0.15  # rsd 5%, 3 sigma


def test_segment_dedup_null_text_parity_with_oracle(spark, tmp_path):
    """The NULL-text contract is pinned on BOTH engines: the Spark operator
    keeps a NULL-text doc as one empty-segment row, and the DuckDB oracle
    (coalesce-fixed) produces the identical result — the catalog data has
    no NULLs, so without this test the symmetry claim would be untested
    for the very input the coalesce fix targets."""
    import duckdb

    from door2door_etl_spark.operators.dedup import segment_dedup
    from door2door_etl_spark.queries.training_catalog import (
        SQL_SEGMENT_DEDUP_CORPUS,
    )

    rows = [(1, "w0 w1 w2"), (2, None), (3, "w0 w1 w2 tail")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    pq = str(tmp_path / "documents.parquet")
    docs.write.mode("overwrite").parquet(pq)

    got = {
        r["doc_id"]: (r["segs_total"], r["segs_kept"], r["clean_text"])
        for r in segment_dedup(docs).collect()
    }
    assert got[2] == (1, 1, "")  # NULL doc survives as one empty segment

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{pq}/*.parquet'")
    oracle = {
        r[0]: (r[1], r[2], r[3])
        for r in con.sql(SQL_SEGMENT_DEDUP_CORPUS).fetchall()
    }
    assert oracle == got


def test_negative_samples_deterministic_no_self_pairs(spark):
    from door2door_etl_spark.operators.sketches import negative_samples

    cached_before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    df = spark.createDataFrame([(i,) for i in range(200)], "id int")
    s1 = negative_samples(df, "id", k=3, seed=5)
    rows = s1.collect()
    by_anchor = {}
    for r in rows:
        assert r["id"] != r["negative_id"]  # never a self-pair
        by_anchor.setdefault(r["id"], []).append(r["neg_rank"])
    assert all(len(v) <= 3 for v in by_anchor.values())
    assert sum(len(v) for v in by_anchor.values()) >= 200 * 3 - 10
    # stable under repartitioning (the property rand() pairing cannot give)
    s2 = negative_samples(df.repartition(17), "id", k=3, seed=5)
    assert {(r["id"], r["neg_rank"], r["negative_id"]) for r in s2.collect()} == {
        (r["id"], r["neg_rank"], r["negative_id"]) for r in rows
    }
    # a different seed re-deals the pairing
    s3 = negative_samples(df, "id", k=3, seed=6)
    assert {(r["id"], r["neg_rank"], r["negative_id"]) for r in s3.collect()} != {
        (r["id"], r["neg_rank"], r["negative_id"]) for r in rows
    }
    # Cache contract since the prefix-scan boundary fix (the sf1 sweep
    # showed two independently-planned executions sampling DIFFERENT
    # range boundaries — silent position corruption — so the two-phase
    # scan now always persists its partitioning): the operator may leave
    # a cache-manager entry, and clearCache() releases it fully.
    spark.catalog.clearCache()
    assert (
        spark.sparkContext._jsc.sc().getPersistentRDDs().size()
        <= cached_before
    )
    # NULL anchors are rejected loudly, not silently desynchronized
    with pytest.raises(ValueError, match="NULL"):
        negative_samples(
            spark.createDataFrame([(1,), (None,)], "id int"), "id", k=2
        ).collect()


def test_bpe_encode_scalable_matches_fold_on_worked_example(spark):
    from door2door_etl_spark.operators.text import bpe_encode, bpe_train

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    df = spark.createDataFrame([(text,), (None,)], "text string")
    merges = bpe_train(df, 4)
    fold = [_reference_bpe_encode(t, merges) for t in (text, None)]
    fast = [r["bpe_tokens"] for r in bpe_encode(df, merges).collect()]
    assert fast == fold
    assert fast[1] is None  # NULL text stays NULL

    # >=1,000 merges: pad the learned sequence with inert vocabulary
    # entries (symbols this corpus never produces) interleaved around the
    # real rules, so the 4-rule fold output IS the expected encoding.
    padded = []
    rank = 0
    for i, m in enumerate(merges):
        for j in range(375):
            padded.append(
                {"rank": rank, "left": f"zq{i}_{j}x", "right": f"zq{i}_{j}y",
                 "merged": f"zq{i}_{j}xzq{i}_{j}y"}
            )
            rank += 1
        padded.append({**m, "rank": rank})
        rank += 1
    assert len(padded) >= 1500
    fast_padded = [
        r["bpe_tokens"] for r in bpe_encode(df, padded).collect()
    ]
    assert fast_padded == fold


def test_bpe_encode_scalable_equivalence_property(spark):
    """Fold-in-rank-order and greedy-min-rank agree on a corpus with
    genuinely interacting merges (chains, overlaps, repeats)."""
    import random

    from door2door_etl_spark.operators.text import bpe_encode, bpe_train

    rng = random.Random(42)
    vocab = ["aba", "abab", "bab", "aabb", "abba", "baab", "aaab", "abc",
             "cab", "bca", "aa", "bb", "ab", "ba", "abcabc", "aabbaa"]
    docs = [
        (" ".join(rng.choices(vocab, k=rng.randint(3, 12))),)
        for _ in range(40)
    ]
    df = spark.createDataFrame(docs, "text string")
    merges = bpe_train(df, 40)
    assert len(merges) >= 10  # the tiny alphabet must actually chain
    fold = [_reference_bpe_encode(d[0], merges) for d in docs]
    fast = [r["bpe_tokens"] for r in bpe_encode(df, merges).collect()]
    assert fast == fold
    # lossless on every row
    text_of = [d[0] for d in docs]
    for enc, t in zip(fast, text_of):
        assert "".join(enc) == t.replace(" ", "")


def test_segment_dedup_viral_segment_bounded_skew(spark):
    """VERDICT r5 ask #7: a boilerplate segment in 50% of documents.

    AQE's skew-split cannot reach this join (the first-occurrence
    aggregate pins the build side's partitioning — verified by probing
    the executed plan for skew=true with forced-low thresholds: none),
    so the operator splits by measured frequency.  Pins: (a) the viral
    segment rides the BROADCAST path while cold keys keep per-key join
    input <= hot_threshold; (b) results are identical to the single-join
    path; (c) first-occurrence semantics hold for the viral segment."""
    from door2door_etl_spark.operators.dedup import segment_dedup

    boiler = " ".join(f"boilerplate{w}" for w in range(10))
    rows = []
    for i in range(2000):
        uniq = " ".join(f"doc{i}word{w}" for w in range(10))
        rows.append((i, (boiler + " " + uniq) if i % 2 == 0 else uniq))
    df = spark.createDataFrame(rows, "doc_id int, text string")

    split = segment_dedup(df, hot_threshold=100)
    got = sorted(map(tuple, split.collect()))
    plan = split._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan  # viral key is map-side

    # Identical to the single-join path (threshold above every count).
    plain = segment_dedup(df, hot_threshold=10**9)
    assert got == sorted(map(tuple, plain.collect()))

    # First-occurrence semantics: doc 0 keeps the boilerplate, every
    # other even doc keeps only its unique tail.
    by_id = {r[0]: r for r in got}
    assert by_id[0][1:3] == (2, 2)
    for i in (2, 500, 1998):
        assert by_id[i][1:3] == (2, 1)
        assert "boilerplate" not in by_id[i][3]
    for i in (1, 999):
        assert by_id[i][1:3] == (1, 1)

    # Cold keys are bounded BY CONSTRUCTION: every segment whose count
    # exceeds the threshold left the equi-join for the broadcast side —
    # here exactly the boilerplate — so no equi-join task can receive
    # more than hot_threshold rows of any one key.
    words = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    n_segs = F.ceil(F.size(words) / F.lit(10.0)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - F.lit(1)),
        lambda i: F.array_join(F.slice(words, i * F.lit(10) + F.lit(1), 10), " "),
    )
    counts = (
        df.select(F.explode(segs).alias("seg"))
        .groupBy("seg").count()
    )
    hot_keys = [r["seg"] for r in counts.filter(F.col("count") > 100).collect()]
    assert hot_keys == [boiler]


def test_token_budget_sample_exact_prefix_and_stability(spark):
    from door2door_etl_spark.operators.sketches import token_budget_sample

    rows = [
        (f"d{i}", "a" if i < 60 else "b", "tok " * (5 + i % 7))
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "id string, grp string, text string")
    kept = token_budget_sample(df, "grp", "id", 100)
    got = kept.collect()
    by_grp = {}
    for r in got:
        by_grp.setdefault(r["grp"], []).append(r)
    for g, rs in by_grp.items():
        assert max(r["cum_tokens"] for r in rs) <= 100
    # maximal prefix: adding ANY unkept row in hash order would cross
    # the budget — equivalently the max cum_tokens is within the last
    # row's token count of the budget, per group
    for g in ("a", "b"):
        used = max(r["cum_tokens"] for r in by_grp[g])
        assert used > 100 - 12  # 11 is the max per-row token count
    # under-budget group keeps everything
    small = spark.createDataFrame(
        [("x", "solo", "just three tokens")], "id string, grp string, text string"
    )
    assert token_budget_sample(small, "grp", "id", 100).count() == 1
    # repartition-stable
    kept2 = token_budget_sample(df.repartition(13), "grp", "id", 100)
    assert {(r["id"], r["cum_tokens"]) for r in kept2.collect()} == {
        (r["id"], r["cum_tokens"]) for r in got
    }


def test_winnow_fingerprints_guarantee_and_contracts(spark):
    """Winnowing's core property (Schleimer et al. SIGMOD'03): any match
    of length >= w + k - 1 normalized chars shares a fingerprint; plus
    the short/NULL-doc one-row contract and the xxhash64 twin's
    structural parity."""
    from door2door_etl_spark.operators.text import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, f"alpha preamble words {shared} first tail content"),
        (2, f"completely different opening {shared} other ending"),
        (3, "nothing in common with either document at all here"),
        (4, "xy"),          # shorter than k
        (5, None),          # NULL text
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    fps = winnow_fingerprints(df, k=8, w=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    # guarantee: the long shared run yields at least one shared fingerprint
    assert by_doc[1] & by_doc[2]
    # no spurious sharing with the unrelated doc beyond chance: the
    # unrelated doc must NOT contain the shared run's fingerprints
    assert not (by_doc[1] & by_doc[2] & by_doc[3])
    # short and NULL docs fingerprint their whole normalized text (1 row)
    assert len(by_doc[4]) == 1 and len(by_doc[5]) == 1
    # deterministic across repartitionings
    fps2 = winnow_fingerprints(df.repartition(7), k=8, w=4)
    assert {(r["doc_id"], r["fp"]) for r in fps2.collect()} == {
        (r["doc_id"], r["fp"]) for r in fps.collect()
    }
    # the production twin selects the same POSITIONS (same structure):
    # same fingerprint count per doc for the long docs
    fx = winnow_fingerprints(df, k=8, w=4, hash_fn="xxhash64")
    cx = {r["doc_id"]: r["n"] for r in
          fx.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(cx) == set(by_doc)


def test_curriculum_order_easy_first_and_seed_redeal(spark):
    from door2door_etl_spark.operators.packing import curriculum_order

    rows = [(i, float(i)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id int, score double")
    out = curriculum_order(df, "score", seed=1, buckets=4,
                           persist_input=False).collect()
    by_pos = sorted(out, key=lambda r: r["train_pos"])
    # positions are a 1..n permutation
    assert [r["train_pos"] for r in by_pos] == list(range(1, 201))
    # easy-first: bucket sequence is nondecreasing along the schedule
    bseq = [r["difficulty_bucket"] for r in by_pos]
    assert bseq == sorted(bseq)
    assert set(bseq) == {0, 1, 2, 3}
    # same seed -> same schedule; new seed re-deals within tiers only
    again = curriculum_order(df, "score", seed=1, buckets=4,
                             persist_input=False).collect()
    assert {(r["doc_id"], r["train_pos"]) for r in again} == {
        (r["doc_id"], r["train_pos"]) for r in out
    }
    redeal = curriculum_order(df, "score", seed=2, buckets=4,
                              persist_input=False).collect()
    assert {(r["doc_id"], r["difficulty_bucket"]) for r in redeal} == {
        (r["doc_id"], r["difficulty_bucket"]) for r in out
    }
    assert {(r["doc_id"], r["train_pos"]) for r in redeal} != {
        (r["doc_id"], r["train_pos"]) for r in out
    }


def test_curriculum_order_degenerate_inputs(spark):
    from door2door_etl_spark.operators.packing import curriculum_order

    empty = spark.createDataFrame([], "doc_id int, score double")
    assert curriculum_order(empty, "score", persist_input=False).count() == 0
    one_bucket = curriculum_order(
        spark.createDataFrame([(1, 2.0), (2, 9.0)], "doc_id int, score double"),
        "score", buckets=1, persist_input=False,
    ).collect()
    assert {r["difficulty_bucket"] for r in one_bucket} == {0}
    assert sorted(r["train_pos"] for r in one_bucket) == [1, 2]
    with pytest.raises(ValueError, match="NULL"):
        curriculum_order(
            spark.createDataFrame([(1, None)], "doc_id int, score double"),
            "score", persist_input=False,
        )


def test_manifest_vector_index_serves_ivf_topk_and_adds_atomically(
    spark, tmp_path, monkeypatch
):
    """The manifest-versioned IVF index must (a) serve the same answers
    as the inline ivf_topk on the same data, (b) ingest atomically —
    vectors can never land without their cell statistics, (c) prune
    per-cell reads to cell-disjoint files after clustered compaction."""
    import random

    from door2door_etl_spark.io import manifest as M
    from door2door_etl_spark.operators.similarity import (
        ManifestVectorIndex,
        ivf_topk,
    )

    rng = random.Random(3)
    dim, cells = 8, 4

    def vec(c):
        base = [0.0] * dim
        base[c * 2] = 1.0
        return [x + rng.uniform(-0.05, 0.05) for x in base]

    rows = [(i, i % cells, vec(i % cells)) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    idx = ManifestVectorIndex(
        spark, str(tmp_path / "vecidx"), dim=dim, cell_col="label"
    )
    idx.build(df)

    q = vec(1)
    got = [(r["vec_id"], r["cosine"]) for r in idx.topk(q, k=5, nprobe=2).collect()]
    want = [
        (r["vec_id"], r["cosine"])
        for r in ivf_topk(df, k=5, nprobe=2, cell_col="label", query_vec=q).collect()
    ]
    assert got == want and len(got) == 5

    # Atomic add: a failed claim leaves version, vectors, and stats
    # untouched; replay heals; stats always equal the membership.
    v_before = M.ManifestTable(idx.root).current_version()
    monkeypatch.setattr(M.ManifestTable, "_claim", lambda self, *a, **kw: False)
    with pytest.raises(M.ConcurrentWriteError):
        idx.add(spark.createDataFrame(
            [(900, 1, q)], "vec_id long, label int, embedding array<double>"
        ))
    monkeypatch.undo()
    assert M.ManifestTable(idx.root).current_version() == v_before
    # add the QUERY VECTOR itself — it must come back as the top hit
    idx.add(spark.createDataFrame(
        [(900, 1, q)], "vec_id long, label int, embedding array<double>"
    ))
    stats = {r["cell"]: r["n"] for r in idx.cell_stats().collect()}
    members = (
        idx._table().read(spark).filter(F.col("rel") == "vector")
        .groupBy("cell").count().collect()
    )
    assert stats == {r["cell"]: r["count"] for r in members}
    assert stats[1] == 51  # the added vector counts in its cell

    # The new vector is servable and cells prune to few files post-compact.
    got2 = idx.topk(q, k=5, nprobe=1).collect()
    assert got2[0]["vec_id"] == 900 and got2[0]["cosine"] == 1.0
    # Force a multi-file clustered rewrite (AQE would coalesce this tiny
    # table to one file per rel, which can't demonstrate pruning).
    prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        idx.compact()
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)
    table = M.ManifestTable(idx.root)
    man = table.manifest(table.current_version())
    pruned = table._prune(man, {"cell": (2, 2)})
    assert 0 < len(pruned) < len(man["files"]), (len(pruned), len(man["files"]))
    got3 = idx.topk(q, k=5, nprobe=1).collect()
    assert {r["vec_id"] for r in got3} == {r["vec_id"] for r in got2}


def test_manifest_vector_index_add_auto_assigns_nearest_cell(spark, tmp_path):
    """add_auto lands each new vector in the cell whose centroid scores
    it highest (the coarse-stage geometry), commits atomically, and the
    vector is immediately servable via that cell."""
    from door2door_etl_spark.operators.similarity import ManifestVectorIndex

    dim = 4
    base = []
    for c in range(3):
        for i in range(20):
            v = [0.0] * dim
            v[c] = 1.0 + (i % 5) * 0.01
            base.append((c * 100 + i, c, v))
    df = spark.createDataFrame(base, "vec_id long, label int, embedding array<double>")
    idx = ManifestVectorIndex(spark, str(tmp_path / "vauto"), dim=dim, cell_col="label")
    idx.build(df)

    # a new vector clearly nearest cell 2's axis
    new = spark.createDataFrame(
        [(999, [0.0, 0.0, 0.97, 0.01])], "vec_id long, embedding array<double>"
    )
    idx.add_auto(new)
    placed = (
        idx._table().read(spark)
        .filter((F.col("rel") == "vector") & (F.col("vec_id") == 999))
        .select("cell").first()[0]
    )
    assert placed == 2
    stats = {r["cell"]: r["n"] for r in idx.cell_stats().collect()}
    assert stats == {0: 20, 1: 20, 2: 21}
    top = idx.topk([0.0, 0.0, 0.97, 0.01], k=3, nprobe=1).collect()
    assert top[0]["vec_id"] == 999 and top[0]["cosine"] == 1.0
    # empty index rejects auto-assignment loudly
    empty = ManifestVectorIndex(spark, str(tmp_path / "vempty"), dim=dim)
    with pytest.raises(ValueError, match="empty index|no committed manifest"):
        empty.add_auto(new)


def test_manifest_vector_index_remove_and_purge(spark, tmp_path, monkeypatch):
    """Merge-on-read removal: one commit drops the vector from serving
    AND folds negative stat deltas (scores stay consistent with the
    effective membership); apply_removals purges physically with an
    identical read; a failed removal claim changes nothing."""
    from door2door_etl_spark.io import manifest as M
    from door2door_etl_spark.operators.similarity import ManifestVectorIndex

    dim = 4
    rows = []
    for c in range(2):
        for i in range(10):
            v = [0.0] * dim
            v[c] = 1.0 + i * 0.01
            rows.append((c * 100 + i, c, v))
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    idx = ManifestVectorIndex(spark, str(tmp_path / "vrm"), dim=dim, cell_col="label")
    idx.build(df)

    ids = spark.createDataFrame([(100,), (101,)], "vec_id long")
    # crash window: failed claim leaves everything untouched
    v0 = M.ManifestTable(idx.root).current_version()
    monkeypatch.setattr(M.ManifestTable, "_claim", lambda self, *a, **kw: False)
    with pytest.raises(M.ConcurrentWriteError):
        idx.remove(ids)
    monkeypatch.undo()
    assert M.ManifestTable(idx.root).current_version() == v0

    idx.remove(ids)
    stats = {r["cell"]: r["n"] for r in idx.cell_stats().collect()}
    assert stats == {0: 10, 1: 8}  # negative deltas folded
    q = [0.0, 1.0, 0.0, 0.0]
    served = {r["vec_id"] for r in idx.topk(q, k=10, nprobe=1).collect()}
    assert served == {100 + i for i in range(2, 10)}  # doomed ids masked

    masked = sorted(map(tuple, idx.topk(q, k=10, nprobe=1).collect()))
    idx.apply_removals()
    live = idx._table().read(spark)
    assert live.filter(F.col("rel") == "tombstone").count() == 0
    assert live.filter(
        (F.col("rel") == "vector") & F.col("vec_id").isin(100, 101)
    ).count() == 0
    # one folded stat row per cell, same numbers
    assert {r["cell"]: r["n"] for r in idx.cell_stats().collect()} == stats
    assert sorted(map(tuple, idx.topk(q, k=10, nprobe=1).collect())) == masked


@pytest.mark.slow
def test_manifest_vector_index_recall_and_retrain_lifecycle(spark, tmp_path):
    """Serving-quality pin for the manifest-served ANN path (VERDICT r6
    ask #5): at the sf1 tier (20k x 64), recall@10 of the served topk vs
    brute force is >= 0.9 after build, STAYS >= 0.9 through add_auto +
    remove churn, and retrain() restores a fresh clustering via ONE
    atomic manifest swap — version advances exactly once, tombstones and
    doomed vectors fold out, per-cell stats equal the membership, and
    recall holds on the post-churn corpus."""
    import os

    from door2door_etl_spark.io import manifest as M
    from door2door_etl_spark.operators.clustering import kmeans_fit_predict
    from door2door_etl_spark.operators.similarity import (
        ManifestVectorIndex,
        brute_force_topk,
    )

    sf1 = os.environ.get("SPARK_GRAFT_SF1_DIR", "/root/repo/bench_data/sf1")
    if not os.path.exists(os.path.join(sf1, "embeddings.parquet")):
        pytest.skip("sf1 stress tier not generated (tools/gen_sf1.py)")
    emb = (
        spark.read.parquet(os.path.join(sf1, "embeddings.parquet"))
        .select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias(
                "embedding"
            ),
        )
        .localCheckpoint(eager=True)
    )

    assigned, _ = kmeans_fit_predict(emb, k=32, dim=64, iterations=2)
    idx = ManifestVectorIndex(spark, str(tmp_path / "vrl"), dim=64)
    idx.build(
        assigned.select(
            "vec_id",
            (F.col("cluster") - 1).cast("int").alias("cell"),
            "embedding",
        )
    )

    qids = [1371 * i for i in range(1, 9)]  # all survive the churn below
    qvecs = {
        r["vec_id"]: r["embedding"]
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }

    def recall_at_10(live_df, nprobe):
        tot = 0.0
        for qv in qvecs.values():
            true = {
                r["vec_id"]
                for r in brute_force_topk(live_df, query_vec=qv, k=10).collect()
            }
            got = {
                r["vec_id"]
                for r in idx.topk(qv, k=10, nprobe=nprobe).collect()
            }
            tot += len(true & got) / 10
        return tot / len(qvecs)

    assert recall_at_10(emb, nprobe=2) >= 0.9

    # Churn: remove a 600-id slab, auto-ingest 400 perturbed near-copies
    # under fresh ids (assigned to the then-stale centroids).
    removed = emb.filter(F.col("vec_id") < 600).select("vec_id")
    idx.remove(removed)
    added = (
        emb.filter((F.col("vec_id") >= 700) & (F.col("vec_id") < 1100))
        .select(
            (F.col("vec_id") + 10_000_000).alias("vec_id"),
            F.expr(
                "transform(embedding, (x, i) -> x + CASE WHEN i = "
                "CAST(vec_id % 64 AS INT) THEN 0.05 ELSE 0.0 END)"
            ).alias("embedding"),
        )
        .localCheckpoint(eager=True)
    )
    idx.add_auto(added)
    live = emb.filter(F.col("vec_id") >= 600).unionByName(added)
    assert recall_at_10(live, nprobe=4) >= 0.9

    # Retrain: ONE atomic swap commit.
    v0 = M.ManifestTable(idx.root).current_version()
    idx.retrain(k=32)
    table = M.ManifestTable(idx.root)
    assert table.current_version() == v0 + 1

    snap = table.read(spark)
    assert snap.filter(F.col("rel") == "tombstone").count() == 0
    assert (
        snap.filter((F.col("rel") == "vector") & (F.col("vec_id") < 600))
        .count()
        == 0
    )
    member_counts = {
        r["cell"]: r["count"]
        for r in snap.filter(F.col("rel") == "vector")
        .groupBy("cell")
        .count()
        .collect()
    }
    stat_counts = {
        r["cell"]: r["n"]
        for r in idx.cell_stats().filter(F.col("n") > 0).collect()
    }
    assert member_counts == stat_counts
    assert sum(member_counts.values()) == 20000 - 600 + 400
    assert recall_at_10(live, nprobe=2) >= 0.9

    # Empty-index retrain rejects loudly.
    hollow = ManifestVectorIndex(spark, str(tmp_path / "hollow"), dim=4)
    hollow.build(
        spark.createDataFrame(
            [(1, 0, [1.0, 0.0, 0.0, 0.0])],
            "vec_id long, cell int, embedding array<double>",
        )
    )
    hollow.remove(spark.createDataFrame([(1,)], "vec_id long"))
    hollow.apply_removals()
    with pytest.raises(ValueError, match="empty"):
        hollow.retrain()


def test_manifest_vector_index_remove_idempotent_and_auto_geometry(
    spark, tmp_path
):
    """Review pins: (a) remove() of an already-tombstoned id is a no-op
    (no double stat subtraction); (b) purging retains concurrency safety
    via compact_manifest (version pinned before read); (c) add_auto uses
    the PROBE's inner-product geometry — with unequal centroid norms a
    vector lands in the cell its own query would rank first — and skips
    cells emptied by removal."""
    from door2door_etl_spark.operators.similarity import ManifestVectorIndex

    dim = 2
    rows = (
        [(i, 0, [2.0 + i * 0.001, 0.0]) for i in range(5)]
        + [(100 + i, 1, [0.0, 0.5 + i * 0.001]) for i in range(5)]
    )
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    idx = ManifestVectorIndex(spark, str(tmp_path / "vgeo"), dim=dim, cell_col="label")
    idx.build(df)

    # (a) idempotent removal
    ids = spark.createDataFrame([(0,)], "vec_id long")
    idx.remove(ids)
    idx.remove(ids)  # second call must be a no-op
    stats = {r["cell"]: r["n"] for r in idx.cell_stats().collect()}
    assert stats == {0: 4, 1: 5}

    # (c) dot geometry: v=[0.9, 0] has smaller L2 distance to cell 1's
    # centroid (~[0, 0.5]) than to cell 0's (~[2, 0]), but the PROBE
    # ranks cell 0 first for it — add_auto must agree with the probe.
    new = spark.createDataFrame([(999, [0.9, 0.0])], "vec_id long, embedding array<double>")
    idx.add_auto(new)
    placed = (
        idx._table().read(spark)
        .filter((F.col("rel") == "vector") & (F.col("vec_id") == 999))
        .select("cell").first()[0]
    )
    assert placed == 0
    top = idx.topk([0.9, 0.0], k=10, nprobe=1).collect()
    by_id = {r["vec_id"]: r["cosine"] for r in top}
    assert by_id.get(999) == 1.0  # servable through its own probe

    # (c) emptied cells are skipped by auto-assignment
    idx.remove(spark.createDataFrame([(100 + i,) for i in range(5)], "vec_id long"))
    assert {r["cell"]: r["n"] for r in idx.cell_stats().collect()}[1] == 0
    idx.add_auto(spark.createDataFrame([(998, [0.0, 1.0])], "vec_id long, embedding array<double>"))
    placed2 = (
        idx._table().read(spark)
        .filter((F.col("rel") == "vector") & (F.col("vec_id") == 998))
        .select("cell").first()[0]
    )
    assert placed2 == 0  # only live cell remains

    # (b) purge folds everything out; reads identical to masked view
    before = sorted(map(tuple, idx.topk([1.0, 0.0], k=10, nprobe=1).collect()))
    idx.apply_removals()
    assert sorted(map(tuple, idx.topk([1.0, 0.0], k=10, nprobe=1).collect())) == before
    live = idx._table().read(spark)
    assert live.filter(F.col("rel") == "tombstone").count() == 0


# -- model-based quality classifier ------------------------------------------


def test_logreg_classifier_matches_reference_and_separates(spark):
    """train_logreg/score_logreg against an independent pure-Python
    reference (same sha-52 hashing trick, same full-batch GD) on a
    synthetic two-language corpus: per-doc scores agree to float noise,
    the learned filter actually separates the classes after two steps,
    feature-less docs score exactly 0.5 with pred True, and the weight
    join broadcasts (the 100 TB shape: weights are dim-bounded)."""
    import hashlib
    import math
    import re

    from door2door_etl_spark.operators.classifier import (
        hashed_features,
        score_logreg,
        train_logreg,
    )

    dim, iters, lr = 16, 2, 1.0
    en = ["the cat sat on the mat", "the dog ate the bone",
          "a man and the sea", "the quick brown fox", "to be or not to be"]
    de = ["der hund und die katze", "die sonne scheint heute",
          "ein mann und das meer", "der schnelle braune fuchs",
          "sein oder nicht sein"]
    rows = (
        [(i, t, 1.0) for i, t in enumerate(en)]
        + [(100 + i, t, 0.0) for i, t in enumerate(de)]
        + [(999, "", 0.0)]  # zero-token doc: no features at all
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, y double")

    # independent reference: same portable contract, plain dict math
    def ref():
        feats, ys = {}, {}
        for i, t, y in rows:
            toks = [w for w in re.split("[^a-z0-9]+", t.lower()) if w]
            ys[i] = y
            if not toks:
                continue
            x = {}
            for w in toks:
                f = int(hashlib.sha256((w + "feat").encode()).hexdigest()[:13], 16) % dim
                x[f] = x.get(f, 0.0) + 1.0 / len(toks)
            feats[i] = x
        w = {}
        for _ in range(iters):
            grad = {}
            for i, x in feats.items():
                m = sum(w.get(f, 0.0) * v for f, v in x.items())
                p = 1.0 / (1.0 + math.exp(-m))
                for f, v in x.items():
                    grad[f] = grad.get(f, 0.0) + (p - ys[i]) * v
            for f, g in grad.items():
                w[f] = w.get(f, 0.0) - lr * g
        out = {}
        for i, _, _ in rows:
            m = sum(w.get(f, 0.0) * v for f, v in feats.get(i, {}).items())
            out[i] = (1.0 / (1.0 + math.exp(-m)), m >= 0)
        return out

    expected = ref()
    feats = hashed_features(docs, dim=dim)
    labels = docs.select("doc_id", "y")
    w = train_logreg(feats, labels, iterations=iters, lr=lr)
    scored = score_logreg(docs, feats, w)
    got = {r["doc_id"]: (r["score"], r["pred"]) for r in scored.collect()}

    # the production quality-filter configuration (presence features,
    # intercept, class-balanced gradients) against its own reference
    def ref_balanced():
        feats, ys = {}, {}
        for i, t, y in rows:
            toks = [w for w in re.split("[^a-z0-9]+", t.lower()) if w]
            ys[i] = y
            x = {
                int(hashlib.sha256((w + "feat").encode()).hexdigest()[:13], 16) % dim: 1.0
                for w in set(toks)
            }
            x[-1] = 1.0
            feats[i] = x
        npos = sum(ys.values())
        nneg = len(ys) - npos
        cw = {1.0: 1.0 / (2 * npos), 0.0: 1.0 / (2 * nneg)}
        w = {}
        for _ in range(iters):
            grad = {}
            for i, x in feats.items():
                m = sum(w.get(f, 0.0) * v for f, v in x.items())
                p = 1.0 / (1.0 + math.exp(-m))
                for f, v in x.items():
                    grad[f] = grad.get(f, 0.0) + cw[ys[i]] * (p - ys[i]) * v
            for f, g in grad.items():
                w[f] = w.get(f, 0.0) - lr * g
        out = {}
        for i, _, _ in rows:
            m = sum(w.get(f, 0.0) * v for f, v in feats[i].items())
            out[i] = (1.0 / (1.0 + math.exp(-m)), m >= 0)
        return out

    bal_exp = ref_balanced()
    bfeats = hashed_features(docs, dim=dim, binary=True, intercept=True)
    bw = train_logreg(bfeats, labels, iterations=iters, lr=lr, class_balanced=True)
    bscored = score_logreg(docs, bfeats, bw)
    bgot = {r["doc_id"]: (r["score"], r["pred"]) for r in bscored.collect()}
    for i, (escore, epred) in bal_exp.items():
        assert abs(bgot[i][0] - escore) < 1e-9, (i, bgot[i], escore)
        assert bgot[i][1] == epred
    # intercept covers the zero-token doc too: exactly one feature row
    assert bfeats.filter("doc_id = 999").count() == 1

    assert set(got) == {i for i, _, _ in rows}
    for i, (escore, epred) in expected.items():
        assert abs(got[i][0] - escore) < 1e-9, (i, got[i], escore)
        assert got[i][1] == epred
    # the empty doc sits exactly at the neutral point
    assert got[999] == (0.5, True)
    # two GD steps must actually separate the synthetic classes
    en_scores = [got[i][0] for i, _, y in rows if y == 1.0]
    de_scores = [got[i][0] for i, _, y in rows if y == 0.0 and i != 999]
    assert min(en_scores) > max(de_scores)

    # scale shape: the weight side of the margin join is an explicit
    # broadcast — per-doc state never centralizes
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_coverage_max_select_greedy_known_answer(spark):
    """Greedy facility-location known answer: the widest doc wins round
    1; equal-gain ties break to the lower id; fully-covered docs are
    never picked (anti-join removes their every shingle), so the
    selection stops EARLY when nothing uncovered remains; covered_total
    is the running sum of gains."""
    from door2door_etl_spark.operators.selection import coverage_max_select

    docs = spark.createDataFrame(
        [
            (10, "a b c d"),       # trigrams: "a b c", "b c d"  (2)
            (11, "p q r s"),       # "p q r", "q r s"            (2, ties 10)
            (12, "x y z w v"),     # 3 trigrams — widest
            (13, "a b c"),         # single shingle, covered by doc 10
        ],
        "doc_id long, text string",
    )
    out = coverage_max_select(docs, k=4, shingle_n=3).collect()
    assert [(r.step, r.doc_id, r.gain, r.covered_total) for r in out] == [
        (1, 12, 3, 3),   # widest first
        (2, 10, 2, 5),   # tie with 11 -> lower id
        (3, 11, 2, 7),
    ]                    # doc 13 fully covered -> early stop at 3 rows


def test_dsir_matches_reference_and_ranks_targetlike_docs(spark):
    """dsir_log_weights/dsir_select against an independent pure-Python
    reference (same sha-52 gram hashing, add-one smoothing, Gumbel-max
    noise): per-doc weights agree to float noise, target-like raw docs
    outrank off-target ones, the empty doc is weight-neutral, selection
    is deterministic across runs, and the plan uses a broadcast ratio
    join + TakeOrderedAndProject (no global sort)."""
    import hashlib
    import math
    import re

    from door2door_etl_spark.operators.selection import (
        dsir_log_weights,
        dsir_select,
    )

    dim = 64
    target = [(100 + i, "apple banana cherry apple banana") for i in range(4)]
    raw = [
        (1, "apple banana cherry fruit salad"),   # target-like
        (2, "apple banana apple banana cherry"),  # very target-like
        (3, "stock market index futures trading"),
        (4, "quantum flux capacitor manifold"),
        (5, ""),                                  # no grams: neutral
    ]
    tdf = spark.createDataFrame(target, "doc_id long, text string")
    rdf = spark.createDataFrame(raw, "doc_id long, text string")

    def grams(t):
        toks = [w for w in re.split("[^a-z0-9]+", t.lower()) if w]
        if not toks:
            return []
        bi = (
            [" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)]
            if len(toks) >= 2
            else [" ".join(toks)]
        )
        return toks + bi

    def bucket(g):
        return int(hashlib.sha256((g + "dsir").encode()).hexdigest()[:13], 16) % dim

    def ref_weights():
        from collections import Counter

        tcnt, rcnt, per_doc = Counter(), Counter(), {}
        for _, t in target:
            tcnt.update(bucket(g) for g in grams(t))
        for i, t in raw:
            c = Counter(bucket(g) for g in grams(t))
            per_doc[i] = c
            rcnt.update(c)
        tp, tq = sum(tcnt.values()), sum(rcnt.values())
        out = {}
        for i, c in per_doc.items():
            out[i] = sum(
                n * (
                    math.log((tcnt.get(b, 0) + 1) / (tp + dim))
                    - math.log((rcnt.get(b, 0) + 1) / (tq + dim))
                )
                for b, n in c.items()
            )
        return out

    expected = ref_weights()
    got = {
        r["doc_id"]: r["log_w"]
        for r in dsir_log_weights(rdf, tdf, dim=dim).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5}
    for i, e in expected.items():
        assert abs(got[i] - e) < 1e-9, (i, got[i], e)
    assert got[5] == 0.0
    # target-like docs outrank off-target ones
    assert min(got[1], got[2]) > max(got[3], got[4])

    # deterministic Gumbel selection: two runs agree row-for-row; the
    # no-noise variant is the plain weight top-k
    s1 = dsir_select(rdf, tdf, k=3, dim=dim).collect()
    s2 = dsir_select(rdf, tdf, k=3, dim=dim).collect()
    assert s1 == s2
    plain = dsir_select(rdf, tdf, k=2, dim=dim, gumbel=False).collect()
    assert [r["doc_id"] for r in plain] == sorted(
        expected, key=lambda i: (-expected[i], i)
    )[:2]

    sel = dsir_select(rdf, tdf, k=3, dim=dim)
    plan = sel._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_doremi_domain_weights_reference_and_invariants(spark):
    """doremi_domain_weights against an independent pure-Python reference
    (token counts, smoothed KL, exponentiated weights, uniform mix) on a
    corpus with one distinctive domain and two near-identical ones:
    values match to float noise, weights sum to 1, the distinctive
    domain gets the largest weight, and every domain keeps at least
    uniform_mix / k mass (the DoReMi smoothing guarantee)."""
    import math
    import re
    from collections import Counter

    from door2door_etl_spark.operators.selection import (
        domain_excess_loss,
        doremi_domain_weights,
    )

    rows = [
        ("wiki", "the cat sat on the mat"),
        ("wiki", "the dog ate the bone"),
        ("web", "the cat sat near the mat"),
        ("web", "the dog ate a bone"),
        ("code", "def foo return bar import baz"),
        ("code", "class qux import foo def bar"),
    ]
    docs = spark.createDataFrame(rows, "source string, text string")
    eta, umix = 1.0, 0.2

    def ref():
        toks = {
            d: [w for w in re.split("[^a-z0-9]+", t.lower()) if w]
            for d, t in [(d, " ".join(t for dd, t in rows if dd == d))
                         for d in {r[0] for r in rows}]
        }
        corpus = Counter()
        dom = {}
        for d, ts in toks.items():
            dom[d] = Counter(ts)
            corpus.update(ts)
        tc, v = sum(corpus.values()), len(corpus)
        ex = {}
        for d, c in dom.items():
            td = sum(c.values())
            ex[d] = sum(
                n * (math.log((n2 + 1) / (td + v)) - math.log((corpus[t] + 1) / (tc + v)))
                for t, n in c.items()
                for n2 in [c[t]]
            ) / td
        z = sum(math.exp(eta * e) for e in ex.values())
        k = len(ex)
        return ex, {
            d: (1 - umix) * math.exp(eta * e) / z + umix / k
            for d, e in ex.items()
        }

    exp_ex, exp_w = ref()
    got = {
        r["domain"]: r
        for r in doremi_domain_weights(
            docs, domain_col="source", eta=eta, uniform_mix=umix
        ).collect()
    }
    assert set(got) == set(exp_w)
    for d in exp_w:
        assert abs(got[d]["excess_loss"] - exp_ex[d]) < 1e-9, d
        assert abs(got[d]["weight"] - exp_w[d]) < 1e-9, d
    total = sum(r["weight"] for r in got.values())
    assert abs(total - 1.0) < 1e-9
    # the distinctive domain dominates; smoothing floor holds for all
    assert max(got, key=lambda d: got[d]["weight"]) == "code"
    for d in got:
        assert got[d]["weight"] >= umix / len(got) - 1e-12

    # excess loss is (approximately) a KL: non-negative on clearly
    # separated domains
    ex_df = {r["domain"]: r["excess_loss"]
             for r in domain_excess_loss(docs, "source").collect()}
    assert ex_df["code"] > 0


def test_lsh_recall_report_shapes(spark, sf_dir):
    """The recall report is zero-safe (corpus with no near-dups: empty
    truth set reports recall 1.0 by convention) and on the testdata
    corpus the banding achieves full recall of the exact-Jaccard truth
    pairs with a bounded candidate set."""
    from door2door_etl_spark.queries.northstar_catalog import (
        q_lsh_recall_report,
    )

    row = q_lsh_recall_report(spark, sf_dir).first()
    assert row["n_hits"] <= row["n_truth"]
    assert row["n_hits"] <= row["n_lsh_candidates"]
    assert row["recall"] == 1.0  # banding catches every >= 0.5 pair here

    # no-near-dup corpus: truth empty, recall defined as 1.0
    import tempfile

    d = tempfile.mkdtemp()
    docs = spark.createDataFrame(
        [(i, f"completely unique document number {i} about topic {i * 7}")
         for i in range(8)],
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    row0 = q_lsh_recall_report(spark, d).first()
    assert row0["n_truth"] == 0 and row0["recall"] == 1.0


def test_hdr_histogram_bins_merge_and_quantile_bounds(spark):
    """The HDR sketch against a pure-Python reference: bin indices match
    the integer-arithmetic definition everywhere (both branches, branch
    boundary, powers of two, zero, negatives), lower-bound inversion
    round-trips, two shard histograms merge losslessly into the full
    corpus histogram, and every quantile estimate brackets the true
    value within the 2^-sub_bits relative-error contract."""
    from door2door_etl_spark.operators.sketches import (
        hdr_bin_expr,
        hdr_bin_lower_expr,
        hdr_histogram_table,
        hdr_quantiles,
    )

    s, sub = 4, 16

    def ref_bin(v):
        v = max(v, 0)
        if v < sub:
            return v
        m = v.bit_length()
        return (m - 1 - s) * sub + (v >> (m - 1 - s))

    def ref_lower(b):
        if b < sub:
            return b
        return (sub + b % sub) << (b // sub - 1)

    probes = (
        [-5, 0, 1, 15, 16, 17, 31, 32, 33, 63, 64, 100, 1023, 1024, 1025]
        + [2**k for k in (10, 20, 40)]
        + [2**k - 1 for k in (10, 20, 40)]
        + [123456789, 2**50 + 12345]
    )
    df = spark.createDataFrame([(v,) for v in probes], "v long")
    got = df.select(
        "v",
        hdr_bin_expr(F.col("v"), s).alias("b"),
        hdr_bin_lower_expr(hdr_bin_expr(F.col("v"), s), s).cast("long").alias("lo"),
    ).collect()
    for r in got:
        assert r["b"] == ref_bin(r["v"]), (r["v"], r["b"], ref_bin(r["v"]))
        assert r["lo"] == ref_lower(ref_bin(r["v"]))
        if r["v"] >= 0:
            assert r["lo"] <= max(r["v"], 0) < max(r["lo"], 1) * (1 + 2**-s) + 1

    # lossless merge: shard histograms sum to the full histogram
    import random

    rng = random.Random(7)
    vals = [rng.randrange(0, 100000) for _ in range(2000)]
    full = spark.createDataFrame([("g", v) for v in vals], "g string, v long")
    h_full = {
        (r["g"], r["bin"]): r["cnt"]
        for r in hdr_histogram_table(full, ["g"], "v", s).collect()
    }
    half1 = spark.createDataFrame([("g", v) for v in vals[:1000]], "g string, v long")
    half2 = spark.createDataFrame([("g", v) for v in vals[1000:]], "g string, v long")
    h1 = hdr_histogram_table(half1, ["g"], "v", s)
    h2 = hdr_histogram_table(half2, ["g"], "v", s)
    merged = {
        (r["g"], r["bin"]): r["cnt"]
        for r in h1.unionByName(h2)
        .groupBy("g", "bin")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    assert merged == h_full

    # quantile bracket: estimate <= true nearest-rank quantile < estimate*(1+2^-s)
    est = hdr_quantiles(
        hdr_histogram_table(full, ["g"], "v", s), ["g"], [0.5, 0.9, 0.99], s
    ).first()
    svals = sorted(vals)
    for q in (50, 90, 99):
        true_q = svals[-(-q * len(svals) // 100) - 1]  # ceil(q*n/100) rank
        lo = est[f"q_{q}"]
        assert lo <= true_q <= lo * (1 + 2**-s), (q, lo, true_q)
    assert est["n"] == len(vals)


def test_substring_dedup_matches_pure_python_reference(spark):
    """ExactSubstr (Lee et al. 2022) k-gram form vs an independent
    pure-Python implementation: cross-doc spans, exact copies, within-doc
    repetition, sub-k docs, NULL text — (n_tokens, n_removed, clean_text)
    all equal."""
    import re as _re

    from door2door_etl_spark.operators.dedup import substring_dedup

    K = 3
    docs = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "XX alpha beta gamma delta epsilon YY ZZ"),  # shared 5-token span
        (3, "alpha beta gamma delta epsilon zeta eta theta"),  # exact copy
        (4, "one two"),                                  # shorter than k
        (5, None),                                       # NULL text
        (6, "rep rep rep rep rep"),                      # within-doc repeats
        (7, "tail case alpha beta gamma"),               # span at doc end
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in substring_dedup(df, k=K).collect()}

    def toks(t):
        return [x for x in _re.split(r"[^a-z0-9]+", (t or "").lower()) if x]

    occurrences: dict[str, list[tuple[int, int]]] = {}
    for did, t in docs:
        tk = toks(t)
        for p in range(len(tk) - K + 1):
            occurrences.setdefault(" ".join(tk[p:p + K]), []).append((did, p))
    dup_starts: dict[int, set[int]] = {}
    for lst in occurrences.values():
        if len(lst) > 1:
            first = min(lst)
            for o in lst:
                if o != first:
                    dup_starts.setdefault(o[0], set()).add(o[1])
    assert len(got) == len(docs)
    for did, t in docs:
        tk = toks(t)
        cov = [False] * len(tk)
        for s in dup_starts.get(did, ()):
            for i in range(s, min(s + K, len(tk))):
                cov[i] = True
        kept = " ".join(w for w, c in zip(tk, cov) if not c)
        r = got[did]
        assert (r["n_tokens"], r["n_removed"], r["clean_text"]) == (
            len(tk), sum(cov), kept,
        ), did


def test_substring_dedup_viral_gram_broadcast_and_parity(spark):
    """Boilerplate k-gram in half the corpus: the hot gram rides the
    broadcast flag-back path (plan-asserted), results identical to the
    single-join path, and first occurrence survives verbatim."""
    from door2door_etl_spark.operators.dedup import substring_dedup

    boiler = " ".join(f"boiler{w}" for w in range(4))
    rows = []
    for i in range(600):
        uniq = " ".join(f"doc{i}w{w}" for w in range(4))
        rows.append((i, (boiler + " " + uniq) if i % 2 == 0 else uniq))
    df = spark.createDataFrame(rows, "doc_id int, text string")

    split = substring_dedup(df, k=4, hot_threshold=50)
    got = sorted(map(tuple, split.collect()))
    plan = split._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan

    plain = substring_dedup(df, k=4, hot_threshold=10**9)
    assert got == sorted(map(tuple, plain.collect()))

    by_id = {r[0]: r for r in got}
    assert by_id[0][3].startswith("boiler0 boiler1 boiler2 boiler3")
    for i in (2, 300, 598):
        assert "boiler" not in by_id[i][3]
        assert by_id[i][1:3] == (8, 4)
    for i in (1, 599):  # odd docs: unique text untouched
        assert by_id[i][1:3] == (4, 0)


def test_kmv_set_overlap_exact_below_k_and_accurate_above(spark):
    """KMV set algebra vs ground truth.  Below k the sketches ARE the
    distinct sets, so jaccard/union/intersection are exact; above k the
    estimates must land within the sketch's expected relative error
    (~1/sqrt(k-2) ≈ 13% at k=64; pinned at 25% for slack)."""
    from door2door_etl_spark.operators.sketches import (
        kmv_set_overlap,
        kmv_sketch_table,
    )

    # Small case: |A|=30, |B|=25, |A∩B|=15 — all below k=64.
    rows = [("a", f"k{i}") for i in range(30)] + [
        ("b", f"k{i}") for i in range(15, 40)
    ]
    df = spark.createDataFrame(rows, "g string, v string")
    sk = kmv_sketch_table(df, ["g"], "v", k=64)
    r = kmv_set_overlap(sk, "g", k=64).collect()[0]
    assert (r["group_a"], r["group_b"]) == ("a", "b")
    assert r["union_est"] == 40.0
    assert r["intersection_est"] == 15.0
    assert r["jaccard_est"] == round(15 / 40, 4)

    # Large case: |A|=|B|=4000, overlap 2000 → union 6000, J=1/3.
    rows = [("a", f"x{i}") for i in range(4000)] + [
        ("b", f"x{i}") for i in range(2000, 6000)
    ]
    df = spark.createDataFrame(rows, "g string, v string")
    sk = kmv_sketch_table(df, ["g"], "v", k=64)
    r = kmv_set_overlap(sk, "g", k=64).collect()[0]
    assert abs(r["union_est"] - 6000) / 6000 < 0.25, r
    assert abs(r["jaccard_est"] - 1 / 3) < 0.15, r
    assert abs(r["intersection_est"] - 2000) / 2000 < 0.40, r


def test_pagerank_matches_pure_python_reference(spark):
    """Weighted PageRank vs an independent reference on a graph with a
    dangling node and parallel-weighted edges: bit-level agreement (every
    sum is decimal-exact, every per-edge product a single double op), and
    ranks form a probability distribution."""
    from door2door_etl_spark.operators.graph import pagerank

    edges = [
        ("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 1.0),
        ("c", "a", 1.0), ("d", "a", 1.0), ("b", "e", 1.0),  # e dangles
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w double")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, weight_col="w", iterations=6).collect()
    }

    nodes = sorted({x for e in edges for x in e[:2]})
    n, d = len(nodes), 0.85
    outw: dict[str, float] = {}
    for s, t, w in edges:
        outw[s] = outw.get(s, 0.0) + w
    r = {u: 1.0 / n for u in nodes}
    for _ in range(6):
        m = sum(r[u] for u in nodes if u not in outw)
        c = {u: 0.0 for u in nodes}
        for s, t, w in edges:
            c[t] += r[s] * (w / outw[s])
        r = {u: (1 - d) / n + d * (c[u] + m / n) for u in nodes}
    assert set(got) == set(nodes)
    for u in nodes:
        assert got[u] == pytest.approx(r[u], abs=1e-13), u
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_profile_table_typed_dispatch_and_nulls(spark):
    """Column profiler: exact null/bound/mean stats per type, KMV distinct
    exact in the below-k regime formula, NULLs where a metric does not
    apply, one row per column in input order."""
    import datetime as dt

    from door2door_etl_spark.operators.profile import profile_table

    rows = [
        (1, "aa", 1.5, dt.datetime(2022, 11, 24, 10, 0, 0)),
        (2, "bbbb", 2.5, dt.datetime(2022, 11, 24, 12, 0, 0)),
        (None, None, None, None),
        (2, "aa", -1.0, dt.datetime(2022, 11, 24, 10, 0, 0)),
    ]
    df = spark.createDataFrame(
        rows, "i bigint, s string, v double, t timestamp"
    )
    prof = {r["column"]: r for r in profile_table(df).collect()}
    assert [r["column"] for r in profile_table(df).collect()] == [
        "i", "s", "v", "t"
    ]

    i = prof["i"]
    assert (i["n_rows"], i["n_nulls"]) == (4, 1)
    assert (i["min_num"], i["max_num"], i["avg_num"]) == (1.0, 2.0, 1.6667)
    assert i["min_len"] is None and i["distinct_est"] is not None

    s = prof["s"]
    assert (s["min_len"], s["max_len"]) == (2, 4)
    assert s["min_num"] is None and s["avg_num"] is None

    v = prof["v"]
    assert (v["min_num"], v["max_num"], v["avg_num"]) == (-1.0, 2.5, 1.0)
    assert v["distinct_est"] is None  # float hashing is engine-private

    t = prof["t"]
    assert t["min_num"] == 1669284000000000.0  # 2022-11-24T10:00Z in us
    assert t["avg_num"] is None and t["distinct_est"] is None


def test_bm25_topk_matches_pure_python_reference(spark):
    """bm25_topk vs an independent pure-Python BM25 (same tokenizer
    contract, Robertson-Zaragoza +1-in-log IDF): identical ranking and
    6-decimal scores on a corpus with repeated terms, varying doc
    lengths, a term absent from the corpus, and a tie broken by doc_id.
    Plan: broadcast df join + TakeOrderedAndProject, no global sort."""
    import math
    import re

    from pyspark.sql import Row

    from door2door_etl_spark.operators.text import bm25_topk

    corpus = {
        1: "spark shuffle join shuffle spark spark",
        2: "window agg window filter scan",
        3: "spark window spark window spark window spark window",
        4: "scan scan scan scan scan scan scan scan scan scan scan scan",
        5: "join filter",
        6: "spark shuffle join shuffle spark spark",  # exact dup of 1 -> tie
    }
    query = ["spark", "window", "quantum"]  # quantum: df = 0
    k1, b = 1.2, 0.75

    def toks(t):
        return [x for x in re.split(r"[^a-z0-9]+", t.lower()) if x]

    n = len(corpus)
    avgdl = sum(len(toks(t)) for t in corpus.values()) / n
    df_t = {
        q: sum(1 for t in corpus.values() if q in toks(t)) for q in query
    }
    expected = {}
    for d, t in corpus.items():
        tk = toks(t)
        s = 0.0
        for q in query:
            tf = tk.count(q)
            if tf == 0 or df_t[q] == 0:
                continue
            idf = math.log(1.0 + (n - df_t[q] + 0.5) / (df_t[q] + 0.5))
            s += idf * (tf * (k1 + 1)) / (
                tf + k1 * (1 - b + b * len(tk) / avgdl)
            )
        if s > 0:
            expected[d] = round(s, 6)

    df = spark.createDataFrame(
        [Row(doc_id=d, text=t) for d, t in corpus.items()]
    )
    out = bm25_topk(df, query, k=4)
    got = [(r["doc_id"], r["score"]) for r in out.collect()]
    want = sorted(expected.items(), key=lambda kv: (-kv[1], kv[0]))[:4]
    assert got == [(d, s) for d, s in want], (got, want)
    # the duplicate pair ties and breaks by doc_id
    tied = [d for d, s in got if s == got[0][1]]
    assert tied == sorted(tied)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan

    import pytest as _pytest

    with _pytest.raises(ValueError):
        bm25_topk(df, [])


def test_rrf_fuse_matches_reference_and_contracts(spark):
    """rrf_fuse vs hand-computed RRF on overlapping lists: fused order,
    6-decimal scores, n_lists, the c parameter, and the empty-input
    guard."""
    import pytest as _pytest
    from pyspark.sql import Row

    from door2door_etl_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame(
        [Row(doc_id=1, rank=1), Row(doc_id=2, rank=2), Row(doc_id=3, rank=3)]
    )
    b = spark.createDataFrame(
        [Row(doc_id=3, rank=1), Row(doc_id=4, rank=2), Row(doc_id=1, rank=3)]
    )
    got = [
        (r["doc_id"], r["rrf_score"], r["n_lists"])
        for r in rrf_fuse([a, b], k=3, c=60).collect()
    ]
    exp = {
        1: 1 / 61 + 1 / 63,
        2: 1 / 62,
        3: 1 / 63 + 1 / 61,
        4: 1 / 62,
    }
    ranked = sorted(exp.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))[:3]
    assert got == [
        (d, round(s, 6), 2 if d in (1, 3) else 1) for d, s in ranked
    ]
    # doc 1 and 3 tie exactly (same rank multiset) -> id ascending
    assert [d for d, *_ in got[:2]] == [1, 3]

    # a different c changes the balance but keeps the guarantee that a
    # doc in both lists with best ranks stays on top
    top_c5 = rrf_fuse([a, b], k=1, c=5).collect()[0]["doc_id"]
    assert top_c5 == 1

    with _pytest.raises(ValueError):
        rrf_fuse([])


def test_manifest_bm25_index_serves_and_grows_atomically(spark, tmp_path):
    """ManifestBM25Index parity + lifecycle: (a) topk == bm25_topk over
    the same corpus (identical expressions, rounding, tie-breaks); (b)
    incremental add = corpus union (stats deltas fold, df stays exact
    across commits); (c) clustered compaction changes the layout, not
    the ranking; (d) serving reads PRUNE: each term's probe lists fewer
    files than the table holds."""
    from pyspark.sql import Row

    from door2door_etl_spark.io.manifest import ManifestTable
    from door2door_etl_spark.operators.search import ManifestBM25Index
    from door2door_etl_spark.operators.text import bm25_topk

    vocab = ["spark", "window", "scan", "join", "filter", "agg", "sort",
             "merge", "batch", "stream"]
    docs1 = [
        Row(doc_id=i, text=" ".join(vocab[j % len(vocab)]
                                    for j in range(i, i + 8 + i % 5)))
        for i in range(40)
    ]
    docs2 = [
        Row(doc_id=100 + i, text=" ".join(vocab[(j * 3) % len(vocab)]
                                          for j in range(i, i + 6 + i % 7)))
        for i in range(25)
    ]
    # NULL and empty texts: count toward N (idf) but only the empty one
    # toward avgdl — the avg(size) parity edge
    docs2 += [Row(doc_id=990, text=None), Row(doc_id=991, text="")]
    d1 = spark.createDataFrame(docs1)
    d2 = spark.createDataFrame(docs2, schema="doc_id long, text string")
    query = ["spark", "scan", "quantum"]

    idx = ManifestBM25Index(spark, str(tmp_path / "bm25idx"))
    idx.build(d1)
    got1 = [(r["doc_id"], r["score"]) for r in idx.topk(query, k=8).collect()]
    want1 = [(r["doc_id"], r["score"])
             for r in bm25_topk(d1, query, k=8).collect()]
    assert got1 == want1

    # incremental: one atomic commit; ranking == corpus-union scoring
    idx.add(d2)
    got2 = [(r["doc_id"], r["score"]) for r in idx.topk(query, k=8).collect()]
    want2 = [(r["doc_id"], r["score"])
             for r in bm25_topk(d1.unionByName(d2), query, k=8).collect()]
    assert got2 == want2

    # compaction: layout-only
    idx.compact()
    assert [
        (r["doc_id"], r["score"]) for r in idx.topk(query, k=8).collect()
    ] == want2

    # pruning: a term's probe lists fewer files than the table holds
    table = ManifestTable(idx.root)
    man = table.manifest(table.current_version())
    kept = table._prune(man, {"term": ("spark", "spark")})
    assert 1 <= len(kept) < len(man["files"]), (len(kept), len(man["files"]))

    # duplicated query term counts ONCE (order-preserving dedup before
    # the per-term postings reads) — parity with bm25_topk's isin()
    assert [
        (r["doc_id"], r["score"])
        for r in idx.topk(["spark", "spark", "scan", "quantum"], k=8).collect()
    ] == want2

    # absent term contributes nothing; empty query rejected
    import pytest as _pytest

    with _pytest.raises(ValueError):
        idx.topk([])


def test_profile_distinct_est_exact_below_k(spark):
    """Below-k KMV regime: a low-cardinality column (enums, status flags
    — the common case) reports its EXACT distinct count, because the
    k-bounded sketch holds the entire distinct set; the (k-1)/u_(k)
    estimator is noise there (a 2-value enum could report 70)."""
    from door2door_etl_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [("x", 1), ("y", 2), ("x", 2), (None, 3)], "s string, i bigint"
    )
    prof = {r["column"]: r for r in profile_table(df).collect()}
    assert prof["s"]["distinct_est"] == 2.0
    assert prof["i"]["distinct_est"] == 3.0

    # >= k distinct values: the estimator regime (not exact, but sane —
    # within 50% of truth at k=64 on 500 distinct values)
    big = spark.range(500).selectExpr("cast(id as string) AS s")
    est = {
        r["column"]: r["distinct_est"] for r in profile_table(big).collect()
    }["s"]
    assert est != 500.0 and 250.0 <= est <= 1000.0


def test_manifest_bm25_index_remove_and_purge_parity(spark, tmp_path):
    """Document removal lifecycle: after build + add + remove, (a) topk
    equals bm25_topk over the SURVIVING corpus and equals an index built
    fresh from it (tombstones suppress postings, negative stat deltas
    keep N/avgdl honest); (b) remove is idempotent; (c) apply_removals
    physically purges without changing the ranking, after which the
    removed ids may be re-added; (d) a NULL-text doc — which has no
    postings — still decrements n_docs via its rel='doc' ledger row."""
    from pyspark.sql import Row

    from door2door_etl_spark.io.manifest import ManifestTable
    from door2door_etl_spark.operators.search import ManifestBM25Index
    from door2door_etl_spark.operators.text import bm25_topk

    vocab = ["spark", "window", "scan", "join", "filter", "agg", "sort",
             "merge", "batch", "stream"]
    docs1 = [
        Row(doc_id=i, text=" ".join(vocab[j % len(vocab)]
                                    for j in range(i, i + 8 + i % 5)))
        for i in range(40)
    ]
    docs2 = [
        Row(doc_id=100 + i, text=" ".join(vocab[(j * 3) % len(vocab)]
                                          for j in range(i, i + 6 + i % 7)))
        for i in range(25)
    ] + [Row(doc_id=990, text=None), Row(doc_id=991, text="")]
    d1 = spark.createDataFrame(docs1)
    d2 = spark.createDataFrame(docs2, schema="doc_id long, text string")
    full = d1.unionByName(d2)
    query = ["spark", "scan", "quantum"]

    idx = ManifestBM25Index(spark, str(tmp_path / "bm25rm"))
    idx.build(d1)
    idx.add(d2)

    # remove: every 3rd id among d1 plus the NULL-text doc
    doomed_ids = [i for i in range(40) if i % 3 == 0] + [990]
    surviving = full.filter(~F.col("doc_id").isin(doomed_ids))
    idx.remove(spark.createDataFrame([(i,) for i in doomed_ids], "doc_id long"))

    want = [(r["doc_id"], r["score"])
            for r in bm25_topk(surviving, query, k=8).collect()]
    got = [(r["doc_id"], r["score"]) for r in idx.topk(query, k=8).collect()]
    assert got == want
    # stats match an index built fresh from the surviving corpus
    fresh = ManifestBM25Index(spark, str(tmp_path / "bm25fresh"))
    fresh.build(surviving)
    assert idx.corpus_stats() == fresh.corpus_stats()

    # idempotence: removing the same ids again commits nothing new
    v_before = ManifestTable(idx.root).current_version()
    idx.remove(
        spark.createDataFrame([(i,) for i in doomed_ids], "doc_id long")
    )
    assert ManifestTable(idx.root).current_version() == v_before
    assert [
        (r["doc_id"], r["score"]) for r in idx.topk(query, k=8).collect()
    ] == want

    # physical purge: ranking and stats unchanged, tombstones gone
    idx.apply_removals()
    assert [
        (r["doc_id"], r["score"]) for r in idx.topk(query, k=8).collect()
    ] == want
    assert idx.corpus_stats() == fresh.corpus_stats()
    live = ManifestTable(idx.root).read(spark)
    assert live.filter(F.col("rel") == idx.REL_TOMB).count() == 0
    assert (
        live.filter(F.col("rel") == "post")
        .filter(F.col("doc_id").isin(doomed_ids))
        .count()
        == 0
    )

    # post-purge re-add of a previously removed id serves again
    idx.add(spark.createDataFrame([Row(doc_id=0, text="spark spark scan")]))
    re_served = idx.topk(["spark"], k=100)
    assert re_served.filter(F.col("doc_id") == 0).count() == 1


def test_png_codec_roundtrip_filters_resize_and_rejection():
    """Pure-Python PNG codec (stdlib zlib): (a) encode→decode round-trips
    bit-exactly for RGB and RGBA with heights >= 5 so ALL FIVE scanline
    filters (incl. Paeth) reconstruct; (b) each filter type round-trips
    in isolation; (c) NN resize matches the BMP resizer's index map;
    (d) corrupt CRC, truncated stream, unsupported forms, and non-PNG
    payloads are rejected with ValueError; (e) decode_image/resize_image
    dispatch on the PNG signature."""
    import struct
    import zlib

    import pytest as _pytest

    from door2door_etl_spark.operators.multimodal import (
        _PNG_SIG,
        _png_filter_row,
        _png_unfilter_row,
        decode_image,
        decode_png,
        decode_png_features,
        png_bytes,
        resize_image,
        resize_png,
    )

    # (a) round trip, both color types, all five filters exercised
    for alpha in (False, True):
        w, h = 6, 8
        ch = 4 if alpha else 3
        px = [
            ((x * 31 + y * 7) % 256, (x * 13 + y * 5) % 256,
             (x * 29 + y * 3) % 256, (x + y * 11) % 256)[:ch]
            for y in range(h) for x in range(w)
        ]
        W, H, bpp, out = decode_png(png_bytes(w, h, px, alpha=alpha))
        assert (W, H, bpp) == (w, h, ch)
        assert out == px

    # (b) every filter type is its own inverse through filter/unfilter
    bpp = 3
    prev = bytes(range(0, 36, 2))[:18]
    raw = bytes((i * 37 + 11) % 256 for i in range(18))
    for f in range(5):
        filtered = _png_filter_row(raw, prev, f, bpp)
        line = bytearray(filtered)
        _png_unfilter_row(line, prev, f, bpp)
        assert bytes(line) == raw, f

    # (c) NN resize: same index map as resize_bmp
    src = [(x * 40 % 256, y * 30 % 256, (x + y) % 256)
           for y in range(6) for x in range(4)]
    W, H, _, out = decode_png(resize_png(png_bytes(4, 6, src), 2, 3))
    assert (W, H) == (2, 3)
    assert out == [src[(y * 6 // 3) * 4 + (x * 4 // 2)]
                   for y in range(3) for x in range(2)]

    # features: alpha widens bits_per_pixel but not the channel means
    f8 = decode_png_features(
        png_bytes(2, 2, [(10, 20, 30, 40)] * 4, alpha=True)
    )
    assert f8 == [2.0, 2.0, 32.0, 4.0, 10.0, 20.0, 30.0, 20.0]

    # (d) rejection paths
    good = png_bytes(3, 5, [(1, 2, 3)] * 15)
    with _pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"BMnot-a-png")
    corrupt = bytearray(good)
    corrupt[-5] ^= 0xFF  # flip a bit inside IEND's CRC
    with _pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(corrupt))
    # 16-bit depth: rewrite IHDR (and its CRC) then expect rejection
    ihdr = bytearray(good[8:8 + 25])
    ihdr[8 + 8] = 16
    body = bytes(ihdr[8:8 + 13])
    patched = (
        good[:8] + ihdr[:8] + body
        + struct.pack(">I", zlib.crc32(b"IHDR" + body) & 0xFFFFFFFF)
        + good[8 + 25:]
    )
    with _pytest.raises(ValueError, match="only 8-bit"):
        decode_png(patched)

    # (e) dispatch: JPEG now routes to the REAL baseline decoder (a
    # malformed jpeg-ish payload gets its ValueError, not the stub);
    # WebP stays behind the honest NotImplementedError boundary
    assert decode_image(good)[:2] == (3, 5)
    assert resize_image(good, 2, 2)[:8] == _PNG_SIG
    with _pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0 jpeg-ish")
    with _pytest.raises(NotImplementedError):
        decode_image(b"RIFF\x00\x00\x00\x00WEBPVP8 ")


def test_skew_report_matches_reference_and_plan(spark):
    """skew_report vs a pure-Python computation over planted skew (one
    hot key at 60%, ties among cold keys broken by key asc), and the
    top-k must be a TakeOrderedAndProject — never a full-key window."""
    import math

    from door2door_etl_spark.operators.profile import skew_report

    rows = [("hot",)] * 60 + [(k,) for k in ("a", "b", "c", "d") for _ in range(10)]
    df = spark.createDataFrame(rows, "k string")
    got = [
        (r["k"], r["cnt"], r["n_keys"], r["share"], r["cum_share"],
         r["skew_factor"], r["suggested_salt"])
        for r in skew_report(df, ["k"], topk=3).collect()
    ]
    # reference
    from collections import Counter

    cnts = Counter(k for (k,) in rows)
    n_rows, n_keys = len(rows), len(cnts)
    avg = n_rows / n_keys
    top = sorted(cnts.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    cum, want = 0, []
    for k, c in top:
        cum += c
        want.append((
            k, c, n_keys, round(c / n_rows, 6), round(cum / n_rows, 6),
            round(c / avg, 4), math.ceil(c / avg),
        ))
    assert got == want
    assert got[0][0] == "hot" and got[0][6] == 3  # 60/20 -> 3 salt buckets
    plan = skew_report(df, ["k"], topk=3)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_conversion_funnel_ordered_semantics(spark):
    """Planted users: u1 full ordered path; u2 wrong order (purchase
    BEFORE click) so it must stop at click; u3 same-timestamp click
    (strictly-later rule: not counted); u4 only views; u5 does steps
    twice (counted once); noise events never enter the shuffle."""
    import datetime as dt

    from door2door_etl_spark.operators.relational import conversion_funnel

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        ("u1", "view", t(0)), ("u1", "click", t(1)), ("u1", "purchase", t(2)),
        ("u2", "view", t(0)), ("u2", "purchase", t(1)), ("u2", "click", t(2)),
        ("u3", "view", t(0)), ("u3", "click", t(0)),  # same ts: no advance
        ("u4", "view", t(5)),
        ("u5", "view", t(0)), ("u5", "click", t(1)), ("u5", "purchase", t(2)),
        ("u5", "view", t(3)), ("u5", "click", t(4)), ("u5", "purchase", t(5)),
        ("u6", "scroll", t(0)),  # no step-relevant events: excluded from n0
    ]
    df = spark.createDataFrame(rows, "user_id string, event_type string, ts timestamp")
    got = {
        r["step"]: (r["stage_idx"], r["n_users"], r["conversion_rate"])
        for r in conversion_funnel(df, ["view", "click", "purchase"]).collect()
    }
    # n0 = 5 step-relevant users; view: u1..u5 = 5; click after view:
    # u1, u2(click at t2 > first view), u5 = 3; purchase after that click:
    # u1, u5 = 2
    assert got == {
        "view": (1, 5, 1.0),
        "click": (2, 3, 0.6),
        "purchase": (3, 2, round(2 / 3, 6)),
    }


def test_retention_cohorts_reference(spark):
    """Two day-cohorts, activity in weeks 0/1/3, one user beyond
    max_offset dropped, rates vs cohort size."""
    import datetime as dt

    from door2door_etl_spark.operators.relational import retention_cohorts

    d = lambda day, u: (u, dt.datetime(2024, 1, day, 12, 0))  # noqa: E731
    rows = [
        # cohort 2024-01-01: a, b
        d(1, "a"), d(1, "b"),
        d(8, "a"),            # a active in week 1
        d(23, "b"),           # b active in week 3
        d(31, "a"),           # week 4 > max_offset: dropped
        # cohort 2024-01-02: c
        d(2, "c"), d(2, "c"),  # dup same-day activity counts once
        d(9, "c"),             # week 1
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    got = {
        (str(r["cohort_day"]), r["offset"]): (
            r["n_active"], r["cohort_size"], r["retention_rate"]
        )
        for r in retention_cohorts(df, max_offset=3).collect()
    }
    assert got == {
        ("2024-01-01", 0): (2, 2, 1.0),
        ("2024-01-01", 1): (1, 2, 0.5),
        ("2024-01-01", 3): (1, 2, 0.5),
        ("2024-01-02", 0): (1, 1, 1.0),
        ("2024-01-02", 1): (1, 1, 1.0),
    }


def test_avi_codec_roundtrip_and_rejects():
    """avi_dib_bytes -> parse_avi is pixel-exact for several geometries;
    malformed/truncated/compressed payloads raise ValueError (quarantine
    contract), never a bare struct error."""
    import struct

    import pytest as _pytest

    from door2door_etl_spark.operators.multimodal import avi_dib_bytes, parse_avi

    for (w, h, n) in [(4, 3, 2), (5, 2, 4), (1, 1, 1)]:
        frames = [
            [((f * 23 + y * 17 + x * 7) % 256,
              (f * 19 + y * 5 + x * 3) % 256,
              (f * 7 + y * 11 + x * 19) % 256)
             for y in range(h) for x in range(w)]
            for f in range(n)
        ]
        payload = avi_dib_bytes(w, h, frames)
        w2, h2, back = parse_avi(payload)
        assert (w2, h2, back) == (w, h, frames)

    with _pytest.raises(ValueError):
        parse_avi(b"not an avi at all")
    with _pytest.raises(ValueError):
        parse_avi(avi_dib_bytes(2, 2, [[(0, 0, 0)] * 4])[:40])
    # compressed stream flag in strf must be rejected
    good = avi_dib_bytes(2, 2, [[(0, 0, 0)] * 4])
    i = good.index(b"strf")
    comp_off = i + 8 + 16  # strf body + biCompression offset
    bad = good[:comp_off] + struct.pack("<I", 1) + good[comp_off + 4:]
    with _pytest.raises(ValueError):
        parse_avi(bad)
    # top-down DIB (negative biHeight) must be rejected, not silently
    # flipped: the decoder reads rows bottom-up only
    h_off = i + 8 + 8  # strf body + biHeight offset
    topdown = good[:h_off] + struct.pack("<i", -2) + good[h_off + 4:]
    with _pytest.raises(ValueError, match="top-down"):
        parse_avi(topdown)


def test_sample_video_frames_policy(spark):
    """every=2 over 5 frames keeps indices 0,2,4 with exact means."""
    from door2door_etl_spark.operators.multimodal import (
        avi_dib_bytes,
        sample_video_frames,
    )

    frames = [[(f * 10, f * 20, f * 30)] * 4 for f in range(5)]  # 2x2, constant
    payload = avi_dib_bytes(2, 2, frames)
    df = spark.createDataFrame([(7, bytearray(payload))], "doc_id long, content binary")
    got = {
        r["frame_idx"]: (r["n_frames"], r["width"], r["height"],
                         r["mean_r"], r["mean_g"], r["mean_b"])
        for r in sample_video_frames(df, every=2).collect()
    }
    assert got == {
        0: (5, 2, 2, 0.0, 0.0, 0.0),
        2: (5, 2, 2, 20.0, 40.0, 60.0),
        4: (5, 2, 2, 40.0, 80.0, 120.0),
    }


def test_blocklist_filter_token_boundaries(spark):
    """Blocklist matching is on token boundaries (no substring false
    positives), phrases match as contiguous token 2-grams, hits count
    DISTINCT matched terms, and normalization folds case/whitespace."""
    from door2door_etl_spark.operators.text import blocklist_filter

    rows = [
        (1, "the scandal word appears"),          # 'scan' must NOT match inside 'scandal'
        (2, "full scan here and scan again"),      # 1 distinct hit despite 2 occurrences
        (3, "a slow merge happened"),              # phrase hit
        (4, "merge slow order is wrong"),          # reversed phrase: no hit
        (5, "Slow   MERGE with odd spacing"),      # doc-side normalization via tokenizer
        (6, "clean document entirely"),
        (7, "scan and slow merge both"),           # 2 distinct hits
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_blocklist_hits"], r["keep"])
        for r in blocklist_filter(df, ["scan", "SLOW  merge"]).collect()
    }
    assert got == {
        1: (0, True),
        2: (1, False),
        3: (1, False),
        4: (0, True),
        5: (1, False),
        6: (0, True),
        7: (2, False),
    }
    # empty blocklist: everything kept
    all_kept = blocklist_filter(df, []).agg(
        __import__("pyspark.sql.functions", fromlist=["F"]).sum("n_blocklist_hits")
    ).first()[0]
    assert all_kept == 0


def test_market_basket_pairs_reference(spark):
    """Planted baskets vs a pure-Python Apriori-2 computation, including
    per-basket item dedup, the min-count prune, and lift ordering."""
    import itertools
    from collections import Counter

    from door2door_etl_spark.operators.relational import market_basket_pairs

    baskets = {
        "b1": ["milk", "bread", "beer"],
        "b2": ["milk", "bread"],
        "b3": ["milk", "beer", "beer"],   # dup item: counts once
        "b4": ["bread", "butter"],
        "b5": ["milk", "bread", "butter"],
        "b6": ["rare"],                   # infrequent: pruned pre-join
    }
    rows = [(b, i) for b, items in baskets.items() for i in items]
    df = spark.createDataFrame(rows, "basket string, item string")
    got = [
        (r["item_a"], r["item_b"], r["pair_count"], r["support"],
         r["conf_a_to_b"], r["conf_b_to_a"], r["lift"])
        for r in market_basket_pairs(
            df, "basket", "item", min_pair_count=2, topk=10
        ).collect()
    ]

    sets = {b: set(i) for b, i in baskets.items()}
    n = len(sets)
    ic = Counter(i for s in sets.values() for i in s)
    pc = Counter()
    for s in sets.values():
        for a, b in itertools.combinations(sorted(s), 2):
            pc[(a, b)] += 1
    want = []
    for (a, b), c in pc.items():
        if c < 2:
            continue
        want.append((
            a, b, c, round(c / n, 6), round(c / ic[a], 6),
            round(c / ic[b], 6), round(c * n / (ic[a] * ic[b]), 6),
        ))
    want.sort(key=lambda r: (-r[6], r[0], r[1]))
    assert got == want
    assert all("rare" not in (r[0], r[1]) for r in got)


def test_triangle_count_reference(spark):
    """Known graphs: K4 (4 triangles), a star (0 — the orientation must
    kill hub wedges), a triangle with a pendant, duplicate/reversed/self
    edges ignored; clustering = 3T / wedges."""
    import itertools

    from door2door_etl_spark.operators.graph import triangle_count

    def run(edge_list):
        df = spark.createDataFrame(edge_list, "src string, dst string")
        return triangle_count(df).first()

    k4 = list(itertools.combinations(["a", "b", "c", "d"], 2))
    r = run(k4)
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (4, 6, 4)
    # wedges in K4: 4 nodes * C(3,2) = 12; clustering = 12/12 = 1.0
    assert (r["n_wedges"], r["global_clustering"]) == (12, 1.0)

    star = [("hub", f"s{i}") for i in range(6)]
    r = run(star)
    assert (r["n_triangles"], r["n_wedges"]) == (0, 15)
    assert r["global_clustering"] == 0.0

    messy = [
        ("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"),  # triangle + dups
        ("c", "c"),                                        # self loop
        ("c", "d"),                                        # pendant
    ]
    r = run(messy)
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (4, 4, 1)


def test_kcore_peel_reference(spark):
    """k=2 core of a triangle with a pendant chain is exactly the
    triangle (the chain peels over two rounds — cascading removal);
    k=3 core of that graph is empty; K4 survives k=3 intact."""
    import itertools

    from door2door_etl_spark.operators.graph import kcore_peel

    tri_chain = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")]
    df = spark.createDataFrame(tri_chain, "src string, dst string")
    got = {r["node"]: r["degree"] for r in kcore_peel(df, k=2).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}

    assert kcore_peel(df, k=3).count() == 0

    k4 = spark.createDataFrame(
        list(itertools.combinations(["w", "x", "y", "z"], 2)),
        "src string, dst string",
    )
    got4 = {r["node"]: r["degree"] for r in kcore_peel(k4, k=3).collect()}
    assert got4 == {"w": 3, "x": 3, "y": 3, "z": 3}


def test_connected_components_reference(spark):
    """operators.graph.connected_components equals a pure-Python
    union-find on chains, cliques, singleton-free isolated pairs, and a
    graph needing cascaded label travel (long path)."""
    from door2door_etl_spark.operators.graph import connected_components

    edges = (
        [(f"c{i}", f"c{i+1}") for i in range(9)]              # 10-chain
        + [("k1", "k2"), ("k1", "k3"), ("k2", "k3")]          # triangle
        + [("x", "y")]                                          # pair
    )
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }

    parent: dict = {}

    def find(n):
        while parent.setdefault(n, n) != n:
            parent[n] = parent[parent[n]]
            n = parent[n]
        return n

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comps: dict = {}
    for n in parent:
        comps.setdefault(find(n), []).append(n)
    want = {
        n: min(members) for members in comps.values() for n in members
    }
    assert got == want


def test_gif_codec_roundtrip_and_rejects():
    """gif_bytes -> decode_gif is index-exact across geometries that
    exercise the LZW growth path (code width past 9 bits), a mid-stream
    CLEAR (table full at 4096), long runs (the cScSc case), and the
    1x1 degenerate; malformed payloads raise ValueError."""
    import random
    import struct

    import pytest as _pytest

    from door2door_etl_spark.operators.multimodal import (
        _GIF_PALETTE,
        decode_gif,
        decode_image,
        gif_bytes,
    )

    rng = random.Random(7)
    cases = [
        [rng.randrange(256) for _ in range(w * h)]
        for (w, h) in [(1, 1), (3, 5), (64, 48)]
    ]
    widths = [(1, 1), (3, 5), (64, 48)]
    # noisy 200x200: dictionary hits 4096 -> mid-stream CLEAR
    cases.append([rng.randrange(256) for _ in range(200 * 200)])
    widths.append((200, 200))
    # long runs + full-alphabet sweep: cScSc and deep chains
    runs = ([5] * 997 + [9] * 997 + list(range(256))) * 2
    cases.append(runs)
    widths.append((len(runs), 1))
    for (w, h), idx in zip(widths, cases):
        out_w, out_h, px = decode_gif(gif_bytes(w, h, idx))
        assert (out_w, out_h) == (w, h)
        assert px == [_GIF_PALETTE[i] for i in idx]
    # the sniffing dispatcher routes GIF to the real decoder
    assert decode_image(gif_bytes(2, 2, [1, 2, 3, 4]))[2][0] == _GIF_PALETTE[1]

    good = gif_bytes(4, 3, list(range(12)))
    with _pytest.raises(ValueError):
        decode_gif(b"not a gif")
    with _pytest.raises(ValueError):
        decode_gif(good[:40])  # truncated mid-palette/stream
    # interlace flag set in the image descriptor must be rejected
    desc = 6 + 7 + 3 * 256  # header + LSD + global palette
    assert good[desc] == 0x2C
    packed_off = desc + 9
    interlaced = good[:packed_off] + bytes([good[packed_off] | 0x40]) + good[packed_off + 1:]
    with _pytest.raises(ValueError, match="interlaced"):
        decode_gif(interlaced)
    # local-color-table flag must be rejected
    local = good[:packed_off] + bytes([good[packed_off] | 0x80]) + good[packed_off + 1:]
    with _pytest.raises(ValueError, match="local color"):
        decode_gif(local)
    # descriptor/pixel-count mismatch: shrink the declared height
    hdr_h = struct.unpack_from("<H", good, 8)[0]
    assert hdr_h == 3
    with _pytest.raises(ValueError):
        decode_gif(good[:8] + struct.pack("<H", 2) + good[10:])


def test_zipf_fit_reference(spark):
    """zipf_fit equals a pure-Python least-squares on the same ranked
    counts, and a perfectly Zipfian corpus fits slope ~ -1."""
    import math

    from door2door_etl_spark.operators.text import zipf_fit

    # term i (1-based) appears round(1000/i) times -> freq ∝ 1/rank
    docs = []
    words = []
    for i in range(1, 31):
        words += [f"w{i:02d}"] * round(1000 / i)
    docs.append(" ".join(words))
    df = spark.createDataFrame([(1, docs[0])], "doc_id long, text string")
    row = zipf_fit(df, "text", top_n=30).collect()[0]

    counts = sorted(
        ((round(1000 / i), f"w{i:02d}") for i in range(1, 31)),
        key=lambda t: (-t[0], t[1]),
    )
    xs = [math.log(r + 1) for r in range(len(counts))]
    ys = [math.log(c) for c, _ in counts]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert row["n_terms"] == 30
    assert row["slope"] == pytest.approx(slope, abs=1e-5)
    assert -1.05 < row["slope"] < -0.95


def test_radius_self_join_reference_and_plan(spark):
    """radius_self_join equals the brute-force O(n^2) pair set on random
    points (boundary-inclusive), finds each pair exactly once, and its
    plan is an equi-join on the grid cell — no cartesian product."""
    import random

    from door2door_etl_spark.operators.spatial import radius_self_join

    rng = random.Random(11)
    pts = [(i, rng.uniform(0, 20), rng.uniform(0, 20)) for i in range(300)]
    df = spark.createDataFrame(pts, "id long, x double, y double")
    r = 1.5
    got = sorted(
        (row["id_a"], row["id_b"])
        for row in radius_self_join(df, "id", "x", "y", r).collect()
    )
    want = sorted(
        (a[0], b[0])
        for i, a in enumerate(pts)
        for b in pts[i + 1:]
        if (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2 <= r * r
    )
    assert got == want and len(got) == len(set(got))

    plan = radius_self_join(df, "id", "x", "y", r)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan


def test_haversine_known_distances(spark):
    """haversine_km against published city distances (±0.5%)."""
    from door2door_etl_spark.operators.spatial import haversine_km
    from pyspark.sql import functions as F

    rows = [
        # berlin -> hamburg ~255 km, berlin -> munich ~504 km
        ("bln-hh", 52.52, 13.405, 53.5511, 9.9937, 255.0),
        ("bln-muc", 52.52, 13.405, 48.1351, 11.582, 504.0),
        ("same", 10.0, 20.0, 10.0, 20.0, 0.0),
    ]
    df = spark.createDataFrame(
        rows, "name string, lat1 double, lng1 double, lat2 double, "
              "lng2 double, want double"
    )
    got = df.select(
        "name", "want",
        haversine_km(
            F.col("lat1"), F.col("lng1"), F.col("lat2"), F.col("lng2")
        ).alias("d"),
    ).collect()
    for r in got:
        assert abs(r["d"] - r["want"]) <= max(0.005 * r["want"], 0.01), r


def test_knn_within_radius_reference_and_plan(spark):
    """knn_within_radius equals a brute-force bounded k-NN (rank by
    rounded distance, neighbor-id tiebreak), and plans the per-point
    top-k as WindowGroupLimit."""
    import random

    from door2door_etl_spark.operators.spatial import knn_within_radius

    rng = random.Random(3)
    pts = [(i, rng.uniform(0, 10), rng.uniform(0, 10)) for i in range(150)]
    df = spark.createDataFrame(pts, "id long, x double, y double")
    r, k = 2.0, 3
    out = knn_within_radius(df, "id", "x", "y", r, k)
    got = sorted(
        (row["id"], row["rank"], row["neighbor"]) for row in out.collect()
    )

    want = []
    for i, xi, yi in pts:
        nbrs = []
        for j, xj, yj in pts:
            if i == j:
                continue
            d2 = (xi - xj) ** 2 + (yi - yj) ** 2
            if d2 <= r * r:
                nbrs.append((round(d2 ** 0.5, 6), j))
        nbrs.sort()
        want += [(i, rk + 1, j) for rk, (_, j) in enumerate(nbrs[:k])]
    assert got == sorted(want)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_ngram_jaccard_rarest_k_values_stay_exact(spark, docs):
    """The rarest-k blocking budget changes which pairs are REPORTED,
    never the Jaccard of a reported pair: a generous budget reproduces
    the uncapped pair set byte-for-byte, and a tight budget reports a
    subset with identical values."""
    base = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, shingle_n=3, max_df=10).collect()
    }
    wide = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            docs, shingle_n=3, max_df=10, block_rarest_k=10_000
        ).collect()
    }
    assert wide == base
    tight = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            docs, shingle_n=3, max_df=10, block_rarest_k=1
        ).collect()
    }
    assert set(tight) <= set(base)
    assert all(base[p] == v for p, v in tight.items())
    assert (1, 4) in tight and tight[(1, 4)] == 1.0  # identical docs survive


def test_label_propagation_two_triangles_bridge(spark):
    """Known-answer synchronous LPA: two triangles joined by one bridge
    edge resolve to one community per triangle after 4 rounds (hand-run
    fixpoint: {1,2,3}->1, {10,11,12}->3), and the fixed-round unroll is
    deterministic across repeated runs."""
    from door2door_etl_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)],
        "src long, dst long",
    )
    got = {r["node"]: r["community"] for r in label_propagation(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 3, 11: 3, 12: 3}
    again = {r["node"]: r["community"] for r in label_propagation(edges).collect()}
    assert again == got


def test_jpeg_codec_roundtrip_and_rejects():
    """Baseline JPEG known-answer round-trips against the pure-Python
    encoder twin (VERDICT r9 ask #6): constant grayscale-valued color at
    quality 100 is BIT-EXACT (all-ones quantization, DC-only blocks,
    Cb=Cr=128 so the color transform cancels); gradients are bounded by
    the quantization error (|err| <= 3 at q=95, 4:4:4); 4:2:0 decodes
    with the expected chroma-subsampling tolerance; restart markers
    decode to the identical pixels; progressive and 16-bit streams are
    rejected with clear errors."""
    from door2door_etl_spark.operators.multimodal import (
        decode_image,
        decode_jpeg,
        decode_jpeg_features,
        jpeg_bytes,
    )

    # exact: constant gray, q=100
    px = [(120, 120, 120)] * (16 * 16)
    j = jpeg_bytes(16, 16, px, quality=100)
    assert decode_jpeg(j) == (16, 16, 3, px)
    assert decode_image(j) == (16, 16, 3, px)  # dispatch by FFD8 signature

    # bounded: color gradient, non-multiple-of-8 dims
    px2 = [((x * 10) % 256, (y * 10) % 256, ((x + y) * 5) % 256)
           for y in range(24) for x in range(17)]
    w, h, nc, out = decode_jpeg(jpeg_bytes(17, 24, px2, quality=95))
    assert (w, h, nc) == (17, 24, 3)
    err = max(max(abs(a - b) for a, b in zip(p, q))
              for p, q in zip(px2, out))
    assert err <= 3, err

    # 4:2:0: structure exact, chroma within subsampling tolerance
    w, h, nc, out420 = decode_jpeg(
        jpeg_bytes(17, 24, px2, quality=95, subsampling="4:2:0")
    )
    assert (w, h, nc) == (17, 24, 3)
    err420 = max(max(abs(a - b) for a, b in zip(p, q))
                 for p, q in zip(px2, out420))
    assert err420 <= 16, err420

    # restart markers: byte-aligned RSTn + DC predictor resets decode to
    # the identical pixels as the unsegmented stream
    j_rst = jpeg_bytes(17, 24, px2, quality=95, restart_interval=2)
    assert b"\xff\xdd" in j_rst and b"\xff\xd0" in j_rst
    assert decode_jpeg(j_rst)[3] == out

    # features contract
    feats = decode_jpeg_features(j, n_features=8)
    assert feats[:4] == [16.0, 16.0, 24.0, 256.0]
    assert feats[4] == feats[5] == feats[6] == 120.0

    # progressive rejected with a clear reason
    bad = bytearray(jpeg_bytes(8, 8, [(1, 2, 3)] * 64))
    i = bad.find(b"\xff\xc0")
    bad[i + 1] = 0xC2
    with pytest.raises(ValueError, match="progressive"):
        decode_jpeg(bytes(bad))
    # arithmetic-coded rejected
    bad[i + 1] = 0xC9
    with pytest.raises(ValueError, match="baseline sequential only"):
        decode_jpeg(bytes(bad))
    # truncated entropy segment rejected
    full = jpeg_bytes(16, 16, px2[:256], quality=95)
    with pytest.raises(ValueError):
        decode_jpeg(full[: len(full) // 2])


def test_jpeg_resize_real_roundtrip():
    """resize_image on a JPEG payload routes to the real decode→NN→
    re-encode path: output is a decodable baseline JFIF at the target
    dims whose pixels match the source's NN index map within the q=90
    quantization tolerance."""
    from door2door_etl_spark.operators.multimodal import (
        decode_jpeg,
        jpeg_bytes,
        resize_image,
    )

    px = [((x * 9) % 256, (y * 9) % 256, 60) for y in range(16)
          for x in range(16)]
    small = resize_image(jpeg_bytes(16, 16, px, quality=95), 8, 8)
    assert small[:2] == b"\xff\xd8"
    w, h, nc, out = decode_jpeg(small)
    assert (w, h, nc) == (8, 8, 3)
    want = [px[(y * 2) * 16 + x * 2] for y in range(8) for x in range(8)]
    err = max(max(abs(a - b) for a, b in zip(p, q))
              for p, q in zip(want, out))
    assert err <= 8, err


def test_modularity_two_triangles_bridge(spark):
    """Known-answer Newman modularity over the LPA test graph: two
    triangles bridged by one edge, labeled per triangle — each community
    has 3 intra edges and degree mass 7 over m=7 edges, so
    q_contribution = 3/7 - (7/14)^2 each and Q = 2/7 + ... = 0.357142."""
    from door2door_etl_spark.operators.graph import modularity

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)],
        "src long, dst long",
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 3), (11, 3), (12, 3)],
        "node long, community long",
    )
    got = {r.community: r for r in modularity(edges, labels).collect()}
    for c in (1, 3):
        assert got[c].n_nodes == 3
        assert got[c].intra_edges == 3
        assert got[c].degree_sum == 7
        assert got[c].q_contribution == round(3 / 7 - 0.25, 6)
    # Q = sum of the (already 6dp-rounded) per-community contributions
    assert round(sum(r.q_contribution for r in got.values()), 6) == 2 * round(
        3 / 7 - 0.25, 6
    )


def test_jpeg_marker_walk_fill_bytes_and_standalone_markers():
    """T.81 B.1.1.2 allows any number of 0xFF fill bytes before a
    marker, and TEM (0x01) / stray RSTn are standalone (no length
    field) — the header walk must skip both instead of desyncing
    (ADVICE r10 low)."""
    from door2door_etl_spark.operators.multimodal import (
        decode_jpeg,
        jpeg_bytes,
    )

    px = [(120, 120, 120)] * (16 * 16)
    j = jpeg_bytes(16, 16, px, quality=100)
    want = decode_jpeg(j)

    # inject two FF fill bytes + a TEM marker before the first DQT
    i = j.find(b"\xff\xdb")
    padded = j[:i] + b"\xff\xff" + b"\xff\x01" + j[i:]
    assert decode_jpeg(padded) == want


def test_modularity_empty_edge_list_zero_report(spark):
    """m = 0 must yield a clean zero-valued report, not NULL/NaN
    q_contribution rows (ADVICE r10 low)."""
    from door2door_etl_spark.operators.graph import modularity

    edges = spark.createDataFrame([], "src long, dst long")
    labels = spark.createDataFrame(
        [(1, 1), (2, 2)], "node long, community long"
    )
    got = {r.community: r for r in modularity(edges, labels).collect()}
    assert sorted(got) == [1, 2]
    for c in (1, 2):
        assert got[c].intra_edges == 0
        assert got[c].degree_sum == 0
        assert got[c].q_contribution == 0.0


def test_ngram_jaccard_one_sided_blocking_preserves_containment(spark):
    """One-sided rarest-k blocking is the containment-recall-preserving
    mode: a short doc fully contained in a long doc whose OWN rarest-k
    is crowded by its unique df=1 shingles is missed by both-sides
    blocking but guaranteed under block_one_sided (the contained side's
    rarest shingles all exist — and stay rare — on the containing
    side)."""
    a_text = "alpha beta gamma delta"
    b_text = a_text + " " + " ".join(f"uniq{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, a_text), (2, b_text)], "doc_id long, text string"
    )

    both = D.ngram_jaccard_pairs(
        docs, shingle_n=3, max_df=10, with_containment=True,
        block_rarest_k=2,
    ).collect()
    assert both == []  # capped keys disjoint: df=1 uniques crowd B's k

    one = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in D.ngram_jaccard_pairs(
            docs, shingle_n=3, max_df=10, with_containment=True,
            block_rarest_k=2, block_one_sided=True,
        ).collect()
    }
    assert one == {(1, 2): 1.0}

    # values stay exact and the pair set stays a subset of the uncapped
    # relation on a wider corpus
    wide_docs = spark.createDataFrame(
        [(i, f"w{i} x{i} y{i} common tail words here w{i}")
         for i in range(8)] + [(100, a_text), (101, b_text)],
        "doc_id long, text string",
    )
    base = {
        (r["id_a"], r["id_b"]): (r["jaccard"], r["containment"])
        for r in D.ngram_jaccard_pairs(
            wide_docs, shingle_n=3, max_df=10, with_containment=True
        ).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): (r["jaccard"], r["containment"])
        for r in D.ngram_jaccard_pairs(
            wide_docs, shingle_n=3, max_df=10, with_containment=True,
            block_rarest_k=2, block_one_sided=True,
        ).collect()
    }
    assert set(capped) <= set(base)
    assert all(base[p] == v for p, v in capped.items())
    assert capped[(100, 101)][1] == 1.0


def test_louvain_two_triangles_and_beats_lpa(spark):
    """Louvain on the two-triangles-plus-bridge graph finds the exact
    communities, is deterministic across re-runs, and its modularity is
    >= the LPA labeling's on the same graph (strictly greater on graphs
    LPA shreds — asserted against a ring-of-cliques where synchronous
    LPA's singleton start stalls)."""
    from door2door_etl_spark.operators.graph import (
        label_propagation,
        louvain,
        modularity,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)],
        "src long, dst long",
    )
    lv = louvain(edges)
    assert lv.columns == ["node", "community"]
    got = {r.node: r.community for r in lv.collect()}
    assert len({got[1], got[2], got[3]}) == 1
    assert len({got[10], got[11], got[12]}) == 1
    assert got[1] != got[10]
    again = {r.node: r.community for r in louvain(edges).collect()}
    assert again == got

    def q_of(labels):
        return modularity(edges, labels).agg(
            F.sum("q_contribution")
        ).collect()[0][0]

    assert q_of(lv) >= q_of(label_propagation(edges))

    # ring of 4 triangles: optimal Q groups each clique; louvain gets
    # there, LPA's synchronous singleton start cannot beat it here
    ring = []
    for c in range(4):
        n = [c * 10 + 1, c * 10 + 2, c * 10 + 3]
        ring += [(n[0], n[1]), (n[1], n[2]), (n[0], n[2])]
        ring.append((n[2], ((c + 1) % 4) * 10 + 1))
    redges = spark.createDataFrame(ring, "src long, dst long")
    rl = louvain(redges)
    q_lv, q_lpa = (
        modularity(redges, rl).agg(F.sum("q_contribution")).collect()[0][0],
        modularity(redges, label_propagation(redges)).agg(
            F.sum("q_contribution")
        ).collect()[0][0],
    )
    assert q_lv > q_lpa, (q_lv, q_lpa)
    comms = {r.node: r.community for r in rl.collect()}
    for c in range(4):
        trio = {comms[c * 10 + 1], comms[c * 10 + 2], comms[c * 10 + 3]}
        assert len(trio) == 1, comms


def test_louvain_decimal_score_path_and_early_exit_parity(spark):
    """(a) The DECIMAL(38,0) gain-score path — the automatic escape
    past the BIGINT-exact bound m ~ 1.5e9 — labels a half-sweep
    identically to the BIGINT path (both are exact integer arithmetic,
    so the (score DESC, community ASC) pick cannot differ).  (b) The
    fixed-point early exit is parity-safe: a far-oversized round budget
    returns the exact labeling the default budget does (extra rounds
    past convergence recompute the identical state, and the exit skips
    them instead)."""
    from door2door_etl_spark.operators.graph import _louvain_round, louvain

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)],
        "src long, dst long",
    )
    ew = edges.selectExpr("src AS u", "dst AS v", "CAST(1 AS LONG) AS w")
    sym = ew.unionAll(ew.selectExpr("v AS u", "u AS v", "w"))
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.sum("w").alias("k"))
    labels = deg.selectExpr("node", "node AS label", "k")
    m_val = int(ew.agg(F.sum("w").alias("_m")).collect()[0]["_m"])
    out_long = {
        (r.node, r.label, r._mv)
        for r in _louvain_round(
            sym, labels, m_val, active_class=0, use_decimal=False
        ).collect()
    }
    out_dec = {
        (r.node, r.label, r._mv)
        for r in _louvain_round(
            sym, labels, m_val, active_class=0, use_decimal=True
        ).collect()
    }
    assert out_long == out_dec

    base = {r.node: r.community for r in louvain(edges).collect()}
    wide = {
        r.node: r.community
        for r in louvain(edges, local_rounds=12).collect()
    }
    assert wide == base


@pytest.mark.slow
def test_louvain_local_path_matches_bsp(spark, force_distributed):
    """The small-graph completion path (driver Python-int sweep,
    ``local.rows_if_small`` gate) is BIT-IDENTICAL to the distributed BSP
    path — same Knuth-bit 2-coloring, strict-improvement integer
    scores, (score DESC, community ASC) pick, contraction — across
    unweighted, weighted, self-loop-bearing and pseudo-random graphs,
    odd round budgets, and 1..3 levels.  This equality is what lets the
    gate be a pure latency optimization: the hash-checked catalog row
    can take either path."""
    from door2door_etl_spark.operators.graph import louvain

    def rnd_edges(seed, n_nodes, n_edges):
        # splitmix64 finalizer per index — NOT consecutive LCG outputs,
        # whose mod-n_nodes pairs fall on lattice lines (the classic
        # spectral defect) and can never reach n_edges distinct pairs
        out = set()
        i = 0
        mask = (1 << 64) - 1
        while len(out) < n_edges:
            i += 1
            h = (seed * 0x9E3779B97F4A7C15 + i * 0xBF58476D1CE4E5B9) & mask
            h ^= h >> 31
            h = (h * 0x94D049BB133111EB) & mask
            h ^= h >> 29
            u = h % n_nodes
            v = (h >> 32) % n_nodes
            out.add((int(u), int(v)))  # self-loops included on purpose
        return sorted(out)

    graphs = [
        ("two-tri", [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12),
                     (10, 12), (3, 10)], None),
        ("weighted", [(1, 2, 5), (2, 3, 5), (1, 3, 5), (3, 4, 1),
                      (4, 5, 7), (5, 6, 7), (4, 6, 7), (2, 2, 3)], "w"),
        ("rand", [(u, v) for u, v in rnd_edges(7, 40, 120)], None),
    ]
    # config matrix trimmed to keep the BSP side's wall bounded: the
    # catalog's (4,2), an odd budget, and a 3-level run on ONE graph
    per_graph = {"two-tri": [(4, 2), (2, 3)], "weighted": [(3, 1)],
                 "rand": [(4, 2)]}
    for name, rows, wcol in graphs:
        schema = (
            "src long, dst long, w long" if wcol else "src long, dst long"
        )
        edges = spark.createDataFrame(rows, schema)
        for lr, lv in per_graph[name]:
            with force_distributed():
                bsp = {
                    r.node: r.community
                    for r in louvain(
                        edges, weight_col=wcol, local_rounds=lr, levels=lv,
                    ).collect()
                }
            loc = {
                r.node: r.community
                for r in louvain(
                    edges, weight_col=wcol, local_rounds=lr, levels=lv,
                ).collect()
            }
            assert loc == bsp, (name, lr, lv)


def test_sssp_weighted_known_answer_and_round_bound(spark):
    """Bellman-Ford known answer: the cheap 3-edge path beats the direct
    expensive edge; a path longer than the round budget stays at the
    best <=rounds-edge distance (the documented horizon semantics)."""
    from door2door_etl_spark.operators.graph import sssp_weighted

    edges = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 1), (1, 3, 10), (3, 4, 2), (1, 4, 20),
         (4, 5, 1), (5, 6, 1)],
        "src long, dst long, w long",
    )
    got = {r.node: r.dist for r in sssp_weighted(edges, 1, rounds=6).collect()}
    assert got == {1: 0, 2: 5, 3: 6, 4: 8, 5: 9, 6: 10}
    # rounds=2: node 4's best 2-edge route is the direct (1,3)+(3,4)=12?
    # no — 2 edges: 1-3 (10) + 3-4 (2) = 12, vs 1-4 direct (20);
    # the 3-edge optimum (8) is out of budget
    got2 = {r.node: r.dist for r in sssp_weighted(edges, 1, rounds=2).collect()}
    assert got2[4] == 12 and got2[3] == 6
    assert 5 not in got2 or got2.get(5) == 21  # 1-4-5 within 2 edges


def test_power_iteration_top_pc_contract(spark):
    """Top-PC power iteration: unit norm, sign-canonicalized first
    nonzero coordinate positive, deterministic across runs, and on a
    corpus with one dominant synthetic direction the component aligns
    with it (|cos| > 0.99)."""
    import math
    import random

    from door2door_etl_spark.operators.clustering import (
        power_iteration_top_pc,
    )

    rng = random.Random(7)
    dim = 8
    direction = [1.0, 2.0, -1.0, 0.5, 0.0, 3.0, -2.0, 1.5]
    dn = math.sqrt(sum(x * x for x in direction))
    rows = []
    for i in range(200):
        t = rng.gauss(0, 5)
        rows.append(
            (i, [t * d / dn + rng.gauss(0, 0.05) for d in direction])
        )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    v, lam, mean = power_iteration_top_pc(df, dim=dim, iterations=4)
    assert abs(sum(x * x for x in v) - 1.0) < 1e-9
    first_nz = next(x for x in v if abs(x) > 1e-12)
    assert first_nz > 0
    cos = abs(sum(a * b / dn for a, b in zip(v, direction)))
    assert cos > 0.99, cos
    assert lam > 0
    v2, lam2, _ = power_iteration_top_pc(df, dim=dim, iterations=4)
    assert v2 == v and lam2 == lam


def test_fd_audit_known_answers(spark):
    """g3 error and verdicts on a hand-built relation: a key FD holds
    with zero error; a violated FD's g3 equals the minimum delete
    fraction (keep the majority dependent per determinant)."""
    from door2door_etl_spark.operators.profile import fd_audit

    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 10), (3, "b", 20), (4, "b", 20),
         (5, "b", 30), (6, None, 40)],
        "k long, g string, v long",
    )
    got = {
        (r.determinant, r.dependent): r
        for r in fd_audit(df, [("k", "g"), ("g", "v")]).collect()
    }
    key_fd = got[("k", "g")]
    assert key_fd.holds and key_fd.g3_error == 0.0 and key_fd.n_groups == 5
    gv = got[("g", "v")]
    # g='b' maps to {20:2, 30:1}: delete 1 of 5 non-null rows
    assert not gv.holds
    assert gv.n_groups == 2 and gv.n_violating == 1
    assert gv.g3_error == round(1 / 5, 6)


def test_referential_audit_orphans(spark):
    """Orphan accounting: NULL FKs are counted separately (never
    orphans), orphan ROWS and distinct orphan KEYS both reported."""
    from door2door_etl_spark.operators.profile import referential_audit

    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99), (4, 99), (5, None), (6, 20)],
        "id long, fk long",
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    rows = referential_audit(
        {"c": child, "p": parent}, [("c", "fk", "p", "pk")]
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.fk == "c.fk" and r.references == "p.pk"
    assert r.child_rows == 6 and r.null_fk_rows == 1
    assert r.orphan_rows == 2 and r.orphan_keys == 1


def test_kneser_ney_bigram_known_answer(spark):
    """Hand-checked interpolated KN on a 2-doc corpus: bigram tokens
    are ab, ba, ab, bc (doc 1) + ab (doc 2), so types {ab: 3, ba: 1,
    bc: 1}; c(a.)=3, N1+(a.)=1; c(b.)=2, N1+(b.)=2; N1+(.a)=N1+(.b)=
    N1+(.c)=1; B=3."""
    from door2door_etl_spark.operators.text import (
        kneser_ney_bigram_logprob,
    )
    import math

    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in kneser_ney_bigram_logprob(docs).collect()}
    D = 0.75
    p_ab = (3 - D) / 3 + D * 1 / 3 * (1 / 3)
    p_ba = (1 - D) / 2 + D * 2 / 2 * (1 / 3)
    p_bc = (1 - D) / 2 + D * 2 / 2 * (1 / 3)
    exp1 = (2 * math.log2(p_ab) + math.log2(p_ba) + math.log2(p_bc)) / 4
    assert got[1].n_bigrams == 4
    assert abs(got[1].kn_log2p - exp1) < 1e-5, (got[1].kn_log2p, exp1)
    assert got[2].n_bigrams == 1
    assert abs(got[2].kn_log2p - math.log2(p_ab)) < 1e-5
    # single-token docs excluded, not scored
    one = spark.createDataFrame([(9, "solo")], "doc_id long, text string")
    assert kneser_ney_bigram_logprob(one).collect() == []


def test_remove_top_pc_orthogonal_residual(spark):
    """ABTT contract: residuals are orthogonal to the removed component
    (|resid . v| ~ 0) and strictly shrink the centered norm on an
    anisotropic corpus."""
    import math
    import random

    from door2door_etl_spark.operators.clustering import (
        power_iteration_top_pc,
        remove_top_pc,
    )

    rng = random.Random(3)
    direction = [2.0, -1.0, 0.5, 1.0]
    dn = math.sqrt(sum(x * x for x in direction))
    rows = []
    for i in range(100):
        t = rng.gauss(0, 3)
        rows.append(
            (i, [t * d / dn + rng.gauss(0, 0.1) for d in direction])
        )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    v, lam, mean = power_iteration_top_pc(df, dim=4, iterations=4)
    r = remove_top_pc(df, v, mean)
    vl = F.array(*[F.lit(float(x)) for x in v])
    dot = F.aggregate(
        F.zip_with(F.col("resid"), vl, lambda a, b: a * b),
        F.lit(0.0),
        lambda a, y: a + y,
    )
    nrm = F.aggregate(
        F.transform(F.col("resid"), lambda x: x * x),
        F.lit(0.0),
        lambda a, y: a + y,
    )
    got = r.select(
        F.max(F.abs(dot)).alias("mdot"), F.avg(nrm).alias("mn")
    ).collect()[0]
    assert got["mdot"] < 1e-9
    # dominant direction removed: mean residual energy << raw variance
    assert got["mn"] < 1.0, got["mn"]


def test_fastss_match_known_answers(spark):
    """FastSS d=1 contract: deletions, insertions and substitutions at
    distance 1 all match (they share a single-deletion variant);
    distance-2 strings may share a variant but the levenshtein verify
    drops them; unrelated strings never meet."""
    from door2door_etl_spark.operators.dedup import fastss_match

    dirty = spark.createDataFrame(
        [(1, "aple"), (2, "banxna"), (3, "zzz")],
        "dirty_id long, name string",
    )
    clean = spark.createDataFrame(
        [(10, "apple"), (11, "banana"), (12, "ample"), (13, "qqq")],
        "clean_id long, name string",
    )
    got = {
        (r.dirty_id, r.clean_id): r.dist
        for r in fastss_match(dirty, clean).collect()
    }
    # aple->apple (insert p), aple->ample (insert m): both distance 1
    assert got[(1, 10)] == 1 and got[(1, 12)] == 1
    assert got[(2, 11)] == 1  # banxna->banana substitution
    assert (3, 13) not in got  # distance 3, never a candidate
    assert all(d <= 1 for d in got.values())

    # d=2: distance-2 pairs (two substitutions, insert+delete mixes)
    # now match through the recursive neighborhood; distance-3 still
    # never survives the verify; d=1 results are a subset of d=2
    dirty2 = spark.createDataFrame(
        [(1, "aple"), (2, "banxnx"), (3, "zzz"), (4, "apxly")],
        "dirty_id long, name string",
    )
    got2 = {
        (r.dirty_id, r.clean_id): r.dist
        for r in fastss_match(dirty2, clean, max_dist=2).collect()
    }
    assert got2[(1, 10)] == 1  # d=1 pairs survive unchanged
    assert got2[(2, 11)] == 2  # banxnx->banana: two substitutions
    assert got2[(4, 10)] == 2  # apxly->apple: substitute + substitute
    assert (3, 13) not in got2  # zzz->qqq distance 3: verify drops it
    assert all(d <= 2 for d in got2.values())

    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_dist 1 or 2"):
        fastss_match(dirty, clean, max_dist=3)


def test_holt_winters_fold_matches_python_reference(spark):
    """The HW struct+array fold is bit-identical (at 6dp) to the
    sequential Python reference on an irregular series; keys with
    fewer than `season` points are excluded."""
    from door2door_etl_spark.operators.relational import (
        holt_winters_forecast,
    )

    vals = [10.0, 12.0, 9.0, 11.0, 10.5, 12.5, 9.5, 11.5, 11.0]
    rows = [(1, i, v) for i, v in enumerate(vals)] + [(2, 0, 5.0)]
    df = spark.createDataFrame(rows, "k long, i long, v double")
    out = {r.k: r for r in holt_winters_forecast(
        df, ["k"], ["i"], "v").collect()}
    assert 2 not in out  # single point: no seasonal estimate

    m, a, b_, g = 4, 0.3, 0.2, 0.3
    l = sum(vals[:4]) / 4.0
    b = 0.0
    s = [v - l for v in vals[:4]]
    for k, x in enumerate(vals[4:]):
        p = k % m
        nl = a * (x - s[p]) + (1 - a) * (l + b)
        nb = b_ * (nl - l) + (1 - b_) * b
        s[p] = g * (x - nl) + (1 - g) * s[p]
        l, b = nl, nb
    kk = len(vals) - m
    got = out[1]
    assert got.level == round(l, 6) and got.trend == round(b, 6)
    assert [got.s1, got.s2, got.s3, got.s4] == [round(x, 6) for x in s]
    assert got.forecast == round(l + b + s[kk % m], 6)


def test_mmr_local_path_matches_spark_steps(spark, force_distributed):
    """The small-pool completion path of mmr_topk (driver greedy over
    the one collected pool, exact IEEE-double/BigDecimal-round
    mirroring) picks BIT-IDENTICAL rows to the forced Spark step loop
    (``force_distributed``) — including duplicate vectors (maximal
    redundancy ties broken by id) and varying lambda/k/pool."""
    import random

    from door2door_etl_spark.operators.similarity import mmr_topk

    rng = random.Random(7)
    rows = []
    for i in range(40):
        vec = [round(rng.uniform(-1, 1), 3) for _ in range(8)]
        rows.append((i, [float(x) for x in vec]))
    # duplicate vectors: ties in both rel and redundancy
    rows.append((100, rows[3][1]))
    rows.append((101, rows[3][1]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [0.3, -0.2, 0.8, 0.1, -0.5, 0.4, 0.0, 0.9]
    for lam, k, pool in ((0.7, 5, 20), (0.5, 8, 50), (1.0, 3, 10)):
        loc = mmr_topk(
            df, query_vec=q, k=k, lam=lam, pool=pool
        ).collect()
        with force_distributed():  # force the Spark step loop
            bsp = mmr_topk(
                df, query_vec=q, k=k, lam=lam, pool=pool
            ).collect()
        assert [tuple(r) for r in loc] == [tuple(r) for r in bsp], (
            lam, k, pool,
        )


def test_coverage_max_local_path_matches_bsp(spark, force_distributed):
    """The small-relation completion path of coverage_max_select
    (driver set greedy, ``local.rows_if_small`` gate) picks BIT-IDENTICAL
    rows to the forced distributed loop — integer gains, (gain DESC,
    id ASC) tie-break, early stop when everything is covered."""
    from door2door_etl_spark.operators.selection import coverage_max_select

    docs = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),  # exact dup: tie
        (3, "one two three four five six seven eight nine"),
        (4, "one two three alpha beta gamma"),
        (5, "unique tokens entirely here now folks"),
        (6, "beta gamma delta"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for k in (3, 10):
        loc = coverage_max_select(df, k=k).collect()
        with force_distributed():
            bsp = coverage_max_select(df, k=k).collect()
        assert [tuple(r) for r in loc] == [tuple(r) for r in bsp], k


def test_components_local_path_matches_bsp(spark, force_distributed):
    """The small-graph completion path of connected_dedup_clusters
    (driver union-find, ``local.rows_if_small`` gate) labels EXACTLY like
    the distributed pointer-jumping fixpoint — per-component minimum —
    across chains (worst diameter), multi-component graphs, singleton
    edges, duplicate/reversed pairs, and string ids.  This equality is
    what lets the gate be a pure latency optimization: every CC-backed
    catalog row can take either path."""
    from door2door_etl_spark.operators.dedup import connected_dedup_clusters

    graphs = [
        ("chain", [(i, i + 1) for i in range(1, 40)], "a long, b long"),
        ("two-comp", [(1, 2), (2, 3), (10, 11), (12, 11), (3, 1)],
         "a long, b long"),
        ("dup-rev", [(5, 6), (6, 5), (5, 6), (7, 7)], "a long, b long"),
        ("strings", [("doc-b", "doc-a"), ("doc-c", "doc-b"),
                     ("zz", "yy")], "a string, b string"),
    ]
    for name, rows, schema in graphs:
        pairs = spark.createDataFrame(rows, schema)
        with force_distributed():
            bsp = {
                r.doc_id: r.canonical_id
                for r in connected_dedup_clusters(pairs, "a", "b").collect()
            }
        loc = {
            r.doc_id: r.canonical_id
            for r in connected_dedup_clusters(pairs, "a", "b").collect()
        }
        assert loc == bsp, name
        # and the fixpoint is the per-component minimum by construction
        for node, canon in loc.items():
            assert canon <= node, name


@pytest.mark.slow
def test_pagerank_local_path_matches_bsp(spark, force_distributed):
    """The small-graph completion path of pagerank / personalized_pagerank
    (driver mirror of the per-edge double products + DECIMAL(38,18)
    HALF_UP summand quantization + exact accumulation) is BIT-IDENTICAL
    to the forced-BSP path — weighted, unweighted, dangling-node and
    string-keyed graphs, several damping values and iteration budgets."""
    from door2door_etl_spark.operators.graph import (
        pagerank,
        personalized_pagerank,
    )

    graphs = [
        ("dangling", [(1, 2, 1.0), (2, 3, 2.5), (1, 3, 0.25)],
         "src long, dst long, w double", "w"),
        ("unweighted", [(1, 2, 1.0), (2, 1, 1.0), (3, 1, 1.0),
                        (3, 2, 1.0), (4, 4, 1.0)],
         "src long, dst long, w double", None),
        ("strings", [("GERMANY", "FRANCE", 10.5), ("FRANCE", "GERMANY", 3.25),
                     ("KENYA", "FRANCE", 7.125), ("FRANCE", "KENYA", 0.1)],
         "src string, dst string, w double", "w"),
    ]
    for name, rows, schema, wcol in graphs:
        edges = spark.createDataFrame(rows, schema)
        start = sorted(r[0] for r in rows)[0]
        for iters, d in [(6, 0.85), (3, 0.5)]:
            for fn, kw in [
                (pagerank, {}),
                (personalized_pagerank, {"restart_node": start}),
            ]:
                with force_distributed():
                    bsp = {
                        r.node: r.rank
                        for r in fn(
                            edges, weight_col=wcol, iterations=iters,
                            damping=d, **kw,
                        ).collect()
                    }
                loc = {
                    r.node: r.rank
                    for r in fn(
                        edges, weight_col=wcol, iterations=iters, damping=d,
                        **kw,
                    ).collect()
                }
                assert loc == bsp, (name, fn.__name__, iters, d)


@pytest.mark.slow
def test_integer_graph_ops_local_path_matches_bsp(spark, force_distributed):
    """bfs_hops / sssp_weighted / label_propagation / kcore_peel
    small-graph completion paths reproduce the forced-BSP results
    exactly (pure integer arithmetic on both sides): chains (worst
    diameter/horizon), multi-component graphs, hub stars, self-loops,
    and tight round budgets that stop BEFORE convergence."""
    from door2door_etl_spark.operators.graph import (
        bfs_hops,
        kcore_peel,
        label_propagation,
        sssp_weighted,
        triangle_count,
    )

    graphs = [
        ("chain", [(i, i + 1, (i % 3) + 1) for i in range(1, 20)]),
        ("star+tri", [(1, k, 2) for k in range(2, 8)]
         + [(2, 3, 1), (3, 4, 1), (2, 4, 5), (20, 21, 7)]),
        ("selfloop", [(5, 5, 1), (5, 6, 2), (6, 7, 9), (8, 9, 1)]),
    ]
    for name, rows in graphs:
        edges = spark.createDataFrame(rows, "src long, dst long, w long")
        src0 = rows[0][0]
        for fn, kwargs in [
            (bfs_hops, {"source": src0, "max_hops": 3}),
            (bfs_hops, {"source": src0, "max_hops": 25}),
            (sssp_weighted, {"source": src0, "rounds": 2}),
            (sssp_weighted, {"source": src0, "rounds": 8}),
            (label_propagation, {"rounds": 4}),
            (kcore_peel, {"k": 2, "rounds": 1}),
            (kcore_peel, {"k": 2, "rounds": 6}),
            (kcore_peel, {"k": 3, "rounds": 6}),
            (triangle_count, {}),
        ]:
            with force_distributed():
                bsp = sorted(map(tuple, fn(edges, **kwargs).collect()))
            loc = sorted(map(tuple, fn(edges, **kwargs).collect()))
            assert loc == bsp, (name, fn.__name__, kwargs)


def test_power_iteration_local_matches(spark, force_distributed):
    """power_iteration_top_pc's small-corpus completion path returns a
    BIT-IDENTICAL (component, lambda, mean) triple to the forced
    distributed path — irregular doubles, negative values, a dominant
    direction, and the degenerate constant corpus."""
    from door2door_etl_spark.operators.clustering import (
        power_iteration_top_pc,
    )

    dim = 8

    def vec(i):
        return [
            ((i * 37 + d * 11) % 17 - 8) * 0.37 + (0.01 if d == 2 else 0.0) * i
            for d in range(dim)
        ]

    rows = [(i, vec(i)) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for iters in (1, 3):
        with force_distributed():
            dist = power_iteration_top_pc(df, dim=dim, iterations=iters)
        loc = power_iteration_top_pc(df, dim=dim, iterations=iters)
        assert loc == dist, iters
    const = spark.createDataFrame(
        [(i, [1.5] * dim) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    with force_distributed():
        dist = power_iteration_top_pc(const, dim=dim)
    loc = power_iteration_top_pc(const, dim=dim)
    assert loc == dist and loc[1] == 0.0

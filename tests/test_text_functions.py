"""Text-analysis operator tests (north-star; SURVEY §7.3.6)."""

from pyspark.sql import functions as F

from kafka_sink_azure_kusto_spark.functions import text as T


def _docs(spark):
    rows = [
        (0, "the cat sat on the mat"),
        (1, "el gato y la casa de que"),
        (2, "xyzzy plugh quux"),
        (3, "the the the a a of"),
        (4, "Hello, World! How's it going?"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_count(spark):
    got = {r.doc_id: r.n for r in _docs(spark).select(
        "doc_id", T.token_count("text").alias("n")).collect()}
    assert got[0] == 6 and got[2] == 3


def test_language_id(spark):
    got = {r.doc_id: r.lang for r in _docs(spark).select(
        "doc_id", T.language_id("text").alias("lang")).collect()}
    assert got[0] == "en"
    assert got[1] == "es"
    assert got[2] == "und"
    assert got[3] == "en"


def test_fingerprint_normalizes(spark):
    df = spark.createDataFrame(
        [(0, "Hello  World"), (1, "  hello world "), (2, "different")],
        "doc_id long, text string",
    )
    fps = [r.fp for r in df.select(T.fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1] != fps[2]
    assert len(fps[0]) == 32  # md5 hex


def test_quality_features(spark):
    feats = T.quality_features(_docs(spark)).filter(F.col("doc_id") == 4).collect()[0]
    assert feats.q_chars == 29
    assert feats.q_tokens == 5
    assert feats.q_punct_ratio > 0  # punctuation present
    assert abs(feats.q_mean_token_len - 29 / 5) < 1e-12


def test_quality_score_bounds(spark):
    scored = T.quality_score(_docs(spark)).select("quality_score").collect()
    assert all(0.0 <= r.quality_score <= 1.0 for r in scored)


def test_rolling_hashes_window_count(spark):
    df = spark.createDataFrame([(0, " ".join(str(i) for i in range(12)))],
                               "doc_id long, text string")
    n = df.select(F.size(T.rolling_hashes("text", k=8)).alias("n")).collect()[0].n
    assert n == 5  # 12 - 8 + 1


def test_bpe_ish_longer_than_words(spark):
    df = spark.createDataFrame(
        [(0, "antidisestablishmentarianism"), (1, "a b c")], "doc_id long, text string"
    )
    got = {r.doc_id: r.n for r in df.select(
        "doc_id", T.bpe_ish_token_count("text").alias("n")).collect()}
    assert got[0] == 7  # ceil(28/4) pieces for one long word
    assert got[1] == 3


def test_multimodal_feature_extract_decoded_content(spark):
    from kafka_sink_azure_kusto_spark.functions import multimodal as M

    df = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")  # ppm, wav, bmp
    out = M.synth_feature_extract(df).collect()
    assert len(out) == 24  # 8 features per doc, long form
    got = {(r.doc_id, r.feat_idx): r.feature for r in out}

    # independent expectation from the fixture value model (not the codecs)
    def expected_samples(doc_id):
        if doc_id % 3 == 2:
            n = 50 + doc_id % 100
            return [((doc_id * 131 + i * 17) % 65536) - 32768 for i in range(n)]
        w, h = 4 + doc_id % 13, 3 + doc_id % 7
        return [
            (doc_id * (31, 37, 41)[c] + i * (7, 11, 13)[c]) % 256
            for i in range(w * h) for c in range(3)
        ]

    for doc_id in (1, 2, 3):
        s = expected_samples(doc_id)
        assert got[(doc_id, 0)] == len(s)
        assert got[(doc_id, 1)] == sum(s)
        assert got[(doc_id, 2)] == min(s)
        assert got[(doc_id, 3)] == max(s)
        assert got[(doc_id, 4)] == sum((j + 1) * v for j, v in enumerate(s))
        assert got[(doc_id, 5)] == sum(v * v for v in s)
        assert got[(doc_id, 6)] == s[0]
        assert got[(doc_id, 7)] == s[-1]


def test_multimodal_frame_sample_every_k(spark):
    from kafka_sink_azure_kusto_spark.functions import multimodal as M

    df = spark.createDataFrame([(1, "x" * 13)], "doc_id long, text string")
    rows = M.frame_sample(M.with_media_blob(df), every_k=5).collect()
    # 13 bytes ⇒ n_frames = 14 ⇒ sampled indices 0,5,10
    assert [(r.n_frames, r.frame_idx) for r in rows] == [(14, 0), (14, 5), (14, 10)]


def test_quality_classifier_matches_python_reference(spark):
    """r8 hashed linear classifier: exact against a pure-Python replay
    of the same feature hashing + milli-weight formula, including the
    single-token (no-bigram) edge and the score/label boundary math."""
    import hashlib
    import math

    from kafka_sink_azure_kusto_spark.functions import text as T

    def bucket(f):
        return int(hashlib.md5(f.encode()).hexdigest()[:2], 16)

    def milliweight(b):
        return (b * T.CLF_WEIGHT_MULT + T.CLF_WEIGHT_ADD) % T.CLF_WEIGHT_MOD - 1000

    def expected(text):
        toks = text.split(" ")
        feats = [f"u:{t}" for t in toks] + [
            f"b:{a} {b}" for a, b in zip(toks, toks[1:])
        ]
        ms = sum(milliweight(bucket(f)) for f in feats)
        n = len(feats)
        score = 1.0 / (1.0 + math.exp(-(ms / 1000.0) / n))
        return n, ms, score

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "single"),
        (3, "a a a a a"),
        (4, "x y"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in T.quality_classifier(df, "text", "doc_id").collect()
    }
    for doc_id, text in rows:
        n, ms, score = expected(text)
        r = got[doc_id]
        assert r.n_features == n, (doc_id, r.n_features, n)
        assert r.milliweight_sum == ms, (doc_id, r.milliweight_sum, ms)
        assert abs(r.clf_score - score) < 1e-12
        assert r.clf_keep == (score >= 0.5)

"""Dedup + similarity operator tests (north-star; SURVEY §7.3.6)."""

import pytest
from pyspark.sql import functions as F

from kafka_sink_azure_kusto_spark.functions import dedup as D
from kafka_sink_azure_kusto_spark.functions import similarity as S


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tonight"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, near),  # near dup of 0
        (3, "completely different words about spark streaming engines here"),
        (4, "another unrelated document mentioning databases and queries"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact(spark):
    out = {r.doc_id: r.dup_count for r in D.dedup_exact(_docs(spark)).collect()}
    assert out[0] == 2  # docs 0+1 collapse, canonical = min id
    assert 1 not in out
    assert out[3] == 1


def test_shingles(spark):
    df = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    sh = df.select(D.shingles("text", 3).alias("sh")).collect()[0].sh
    assert sh == ["a b c", "b c d"]
    # short doc → no shingles
    df2 = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    assert df2.select(D.shingles("text", 3).alias("sh")).collect()[0].sh == []


def test_minhash_lsh_finds_near_dups(spark):
    pairs = D.minhash_lsh_pairs(_docs(spark), jaccard_threshold=0.5).collect()
    got = {(r.left_id, r.right_id) for r in pairs}
    assert (0, 1) in got  # exact dup: est_jaccard = 1
    assert (0, 2) in got and (1, 2) in got  # near dup
    assert all({l, r} <= {0, 1, 2} for l, r in got)  # no false positives


def test_minhash_exact_dup_signature_identical(spark):
    sigs = {r.id: r.sig for r in D.minhash_signatures_df(_docs(spark)).collect()}
    assert sigs[0] == sigs[1]
    assert sigs[0] != sigs[3]


def test_simhash_near_dups_close(spark):
    pairs = {(r.left_id, r.right_id): r.hamming for r in D.simhash_pairs(_docs(spark)).collect()}
    assert pairs[(0, 1)] == 0  # identical docs
    assert 0 < pairs[(0, 2)] == pairs[(1, 2)] <= 8  # near dup, within max_hamming
    assert set(pairs) == {(0, 1), (0, 2), (1, 2)}  # unrelated docs never pair


def test_ngram_jaccard_exact_values(spark):
    pairs = {(r.left_id, r.right_id): r.jaccard for r in
             D.ngram_jaccard_pairs(_docs(spark), threshold=0.1).collect()}
    assert pairs[(0, 1)] == pytest.approx(1.0)
    assert 0.5 < pairs[(0, 2)] < 1.0


def test_connected_components_transitive(spark):
    nodes = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    # chain 0-1-2, pair 5-6, isolated 3,4,7; edge direction mixed
    edges = spark.createDataFrame(
        [(1, 0), (1, 2), (5, 6)], "left_id long, right_id long"
    )
    got = {r.doc_id: r.cluster_id for r in
           D.connected_components(nodes, edges).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 5, 6: 5, 7: 7}


def test_connected_components_long_chain_converges(spark):
    # a 12-node path needs multiple propagation rounds — exercises the
    # fixpoint loop, not just one join
    n = 12
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "left_id long, right_id long"
    )
    got = {r.doc_id: r.cluster_id for r in
           D.connected_components(nodes, edges).collect()}
    assert set(got.values()) == {0}


def _emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0], 0),  # close to 0
        (2, [0.0, 1.0, 0.0], 1),
        (3, [0.0, 0.95, 0.05], 1),  # close to 2
        (4, [0.0, 0.0, 1.0], 2),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_bruteforce_topk(spark):
    emb = _emb(spark)
    out = S.brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=2)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert [r.neighbor_id for r in rows] == [1, 2]  # nearest first
    assert rows[0].score > 0.99


def test_ivf_topk_restricts_to_cell(spark):
    emb = _emb(spark)
    out = S.ivf_topk(emb, emb.filter(F.col("vec_id") == 2), k=5)
    ids = {r.neighbor_id for r in out.collect()}
    assert ids == {3}  # only same-label candidates


def test_hyperplane_buckets_deterministic(spark):
    emb = _emb(spark)
    a = {r.id: r.bucket for r in S.hyperplane_lsh_buckets(emb, num_planes=8, dim=3).collect()}
    b = {r.id: r.bucket for r in S.hyperplane_lsh_buckets(emb, num_planes=8, dim=3).collect()}
    assert a == b
    assert all(len(v) == 8 and set(v) <= {"0", "1"} for v in a.values())


def test_cosine_exact(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0])],
        "a array<float>, b array<float>",
    )
    got = [r.c for r in df.select(S.cosine("a", "b").alias("c")).collect()]
    assert got[0] == pytest.approx(0.0)
    assert got[1] == pytest.approx(1.0)


def test_band_member_cap_bounds_templated_corpus(spark):
    # 10% boilerplate corpus: 20 docs share one template (every band
    # identical -> one hot bucket per band with 20 members -> 190
    # candidate pairs per band uncapped), 180 docs are unique, plus one
    # genuine near-dup pair that shares low-population bands. The cap
    # must drop the hot-template buckets (bounding the pair explosion)
    # while keeping the genuine near-dup pair.
    template = "all rights reserved license header " * 4
    base = "a genuinely unique document about topic"
    rows = [(i, template) for i in range(20)]
    rows += [(100 + i, f"{base} {i} with extra words number {i * 7}") for i in range(180)]
    near_a = "the quick brown fox jumps over the lazy dog again and again today"
    near_b = "the quick brown fox jumps over the lazy dog again and again tonight"
    rows += [(900, near_a), (901, near_b)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = D.minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    capped = D.minhash_lsh_pairs(
        docs, jaccard_threshold=0.5, band_member_cap=5
    ).collect()

    # uncapped: the template cluster alone contributes C(20,2)=190 pairs
    assert len(uncapped) >= 190
    # capped: template buckets (20 members > cap 5) dropped entirely;
    # only genuinely small-bucket pairs survive -> bounded, not quadratic
    assert len(capped) < 20
    capped_pairs = {(r.left_id, r.right_id) for r in capped}
    assert (900, 901) in capped_pairs  # genuine near-dup survives
    assert not any(l < 20 and r < 20 for l, r in capped_pairs)  # template gone


def _emb_synth(spark, n=120, dim=8, cells=4):
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: (
            (F.pmod(F.hash(F.concat(F.col("vec_id"), F.lit(":"), d)), F.lit(1000)) / 500.0) - 1.0
        ).cast("double"),
    )
    return (
        spark.range(n)
        .withColumnRenamed("id", "vec_id")
        .select("vec_id", vec.alias("embedding"),
                (F.col("vec_id") % cells).cast("int").alias("label"))
    )


def test_cell_centroids_are_cell_means(spark):
    emb = _emb_synth(spark, n=20, dim=4, cells=2)
    cents = {r.cell: r.centroid for r in S.cell_centroids(emb).collect()}
    rows = emb.collect()
    for cell in (0, 1):
        vs = [r.embedding for r in rows if r.label == cell]
        expect = [sum(v[d] for v in vs) / len(vs) for d in range(4)]
        got = cents[cell]
        assert all(abs(a - b) < 1e-9 for a, b in zip(got, expect))


def test_ivf_multiprobe_recall_increases_to_exact(spark):
    emb = _emb_synth(spark, n=120, dim=8, cells=4)
    queries = emb.filter(F.col("vec_id") < 5)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(emb, queries, k=5).collect()
    }
    cents = S.cell_centroids(emb)

    def recall(n_probe):
        got = {
            (r.query_id, r.neighbor_id)
            for r in S.ivf_topk(
                emb, queries, k=5, n_probe=n_probe, centroids=cents
            ).collect()
        }
        return len(got & truth) / len(truth)

    r1, r4 = recall(1), recall(4)
    assert r1 <= r4
    # probing EVERY cell must recover the exact brute-force result
    assert r4 == 1.0


def test_ivf_multiprobe_requires_centroids(spark):
    emb = _emb_synth(spark, n=20, dim=4, cells=2)
    with pytest.raises(ValueError, match="centroids"):
        S.ivf_topk(emb, emb.limit(2), n_probe=3)


def test_pq_encode_reconstruction_and_self_codes(spark):
    emb = _emb_synth(spark, n=40, dim=16, cells=2)
    cb = S.subvectors(emb.filter(F.col("vec_id") < 4), 4, 4).select(
        "m", F.col("id").alias("code"), F.col("sv").alias("c")
    )
    out = S.pq_encode(emb, cb, num_subspaces=4, sub_len=4).collect()
    assert len(out) == 40 * 4  # one code per (vec, subspace)
    by_vec = {}
    for r in out:
        by_vec.setdefault(r.vec_id, {})[r.m] = r
    # codebook vectors quantize to THEMSELVES with zero error
    for vid in range(4):
        for m in range(4):
            r = by_vec[vid][m]
            assert r.code == vid and abs(r.qerr) < 1e-12
    # every error is the true min over the codebook (spot-check vec 20)
    vecs = {r.vec_id: r.embedding for r in emb.collect()}
    for m in range(4):
        sv = [float(x) for x in vecs[20][m * 4:(m + 1) * 4]]
        dists = {
            c: sum((sv[i] - float(vecs[c][m * 4 + i])) ** 2 for i in range(4))
            for c in range(4)
        }
        want = min(sorted(dists), key=lambda c: (dists[c], c))
        got = by_vec[20][m]
        assert got.code == want and abs(got.qerr - dists[want]) < 1e-9


def test_subvectors_drops_short_vectors(spark):
    rows = [(0, [1.0] * 16), (1, [1.0] * 7)]  # vec 1 too short for 4x4
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = S.subvectors(df, 4, 4).collect()
    assert {r.id for r in out} == {0}
    assert len(out) == 4

def test_subvectors_on_short_error_raises_with_id(spark):
    rows = [(0, [1.0] * 16), (9, [1.0] * 7)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="shorter than 16.*id 9"):
        S.subvectors(df, 4, 4, on_short="error").collect()
    with pytest.raises(ValueError, match="on_short"):
        S.subvectors(df, 4, 4, on_short="explode")


def test_pq_adc_topk_custom_codes_id_col(spark):
    # a codes frame built with a non-default id column must work when
    # its name is passed through (ADVICE r4: was hardcoded 'vec_id')
    emb = _emb_synth(spark, n=20, dim=16, cells=2)
    renamed = emb.withColumnRenamed("vec_id", "doc_id")
    cb = S.subvectors(emb.filter(F.col("vec_id") < 4), 4, 4).select(
        "m", F.col("id").alias("code"), F.col("sv").alias("c")
    )
    codes = S.pq_encode(renamed, cb, num_subspaces=4, sub_len=4, id_col="doc_id")
    assert "doc_id" in codes.columns
    out = S.pq_adc_topk(
        codes,
        emb.filter(F.col("vec_id") == 5),
        cb,
        num_subspaces=4,
        sub_len=4,
        k=3,
        codes_id_col="doc_id",
    ).collect()
    assert len(out) == 3 and all(r.query_id == 5 for r in out)


def test_brute_force_topk_query_broadcast_guard(spark):
    emb = _emb(spark)
    with pytest.raises(ValueError, match="max_broadcast_queries"):
        S.brute_force_topk(emb, emb, k=1, max_broadcast_queries=3)
    # under the cap and with the guard disabled both still plan + run
    assert S.brute_force_topk(emb, emb.limit(2), k=1).count() == 2
    assert (
        S.brute_force_topk(emb, emb, k=1, max_broadcast_queries=None).count() == 5
    )


def test_pq_train_reduces_quantization_error(spark):
    # clustered data: 4 clusters in 8-d; k-means-trained codebook must
    # beat the untrained init (= iters=0) on total quantization error
    import random

    rng = random.Random(7)
    centers = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(4)]
    rows = []
    for i in range(80):
        c = centers[i % 4]
        rows.append((i, [x + rng.gauss(0, 0.05) for x in c]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def total_err(cb):
        out = S.pq_encode(df, cb, num_subspaces=2, sub_len=4)
        return out.agg(F.sum("qerr")).collect()[0][0]

    init = S.pq_train(df, 2, 4, num_codes=4, iters=0)
    trained = S.pq_train(df, 2, 4, num_codes=4, iters=4)
    assert trained.count() == 2 * 4
    e0, e1 = total_err(init), total_err(trained)
    assert e1 < e0 * 0.9, (e0, e1)
    # determinism: same inputs → same codebook
    again = S.pq_train(df, 2, 4, num_codes=4, iters=4)
    a = sorted(map(tuple, trained.select("m", "code").collect()))
    b = sorted(map(tuple, again.select("m", "code").collect()))
    assert a == b
    with pytest.raises(ValueError, match="num_codes"):
        S.pq_train(df, 2, 4, num_codes=0)


def _tight_clusters(spark, n=200, dim=8, n_clusters=4, sigma=0.08):
    # clusters tight enough that raw-vector PQ collapses members onto
    # one code word per subspace (the residual-PQ motivating case)
    import random

    rng = random.Random(11)
    centers = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(n_clusters)]
    dirs = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(n_clusters)]
    rows = []
    for i in range(n):
        c = i % n_clusters
        t = rng.uniform(-1, 1)
        rows.append(
            (i, [centers[c][d] + t * dirs[c][d] * sigma for d in range(dim)], c)
        )
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, cell int")


def test_with_residuals_subtracts_cell_centroid(spark):
    emb = _tight_clusters(spark, n=40)
    cents = S.cell_centroids(emb, cell_col="cell")
    res = S.with_residuals(emb, cents)
    assert set(res.columns) == {"vec_id", "cell", "embedding"}
    # residual means per cell ~ 0 (definition of the centroid)
    mu = (
        res.select("cell", F.posexplode("embedding").alias("d", "x"))
        .groupBy("cell", "d").agg(F.avg("x").alias("mu"))
        .agg(F.max(F.abs(F.col("mu")))).collect()[0][0]
    )
    assert mu < 1e-9


def test_residual_ivf_pq_beats_raw_on_tight_clusters(spark):
    emb = _tight_clusters(spark, n=200)
    q = emb.filter(F.col("vec_id") < 4).select("vec_id", "embedding")
    truth = S.brute_force_topk(emb, q, k=5).select("query_id", "neighbor_id")
    cents = S.cell_centroids(emb, cell_col="cell")
    # raw stack
    cb_raw = S.subvectors(emb.filter(F.col("vec_id") < 8), 2, 4).select(
        "m", F.col("id").alias("code"), F.col("sv").alias("c")
    )
    codes_raw = S.pq_encode(emb, cb_raw, 2, 4).select("vec_id", "m", "code").join(
        emb.select("vec_id", "cell"), "vec_id"
    )
    raw = S.ivf_pq_topk(codes_raw, q, cb_raw, cents, 2, 4, n_probe=1, k=5)
    # residual stack (trained codebook)
    resid = S.with_residuals(emb, cents)
    cb_res = S.pq_train(resid, 2, 4, num_codes=16, iters=4)
    codes_res = S.pq_encode(resid, cb_res, 2, 4).select("vec_id", "m", "code").join(
        emb.select("vec_id", "cell"), "vec_id"
    )
    res = S.ivf_pq_residual_topk(codes_res, q, cb_res, cents, 2, 4, n_probe=1, k=5)
    n_truth = truth.count()
    r_raw = truth.join(raw.select("query_id", "neighbor_id"),
                       ["query_id", "neighbor_id"]).count() / n_truth
    r_res = truth.join(res.select("query_id", "neighbor_id"),
                       ["query_id", "neighbor_id"]).count() / n_truth
    assert r_res > r_raw, (r_raw, r_res)
    assert r_res >= 0.5, r_res


def test_compact_minhash_family_agrees_on_pairs(spark):
    """Compact (long-valued) signatures are a different permutation
    family but must find the same obvious near-dups: identical docs
    pair at est_jaccard 1.0 in both representations, and signatures/
    band hashes are fixed-width longs."""
    from kafka_sink_azure_kusto_spark.functions.dedup import (
        banded_signatures,
        minhash_lsh_pairs,
    )

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog today"),
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different words about some other topic here"),
        ],
        ["doc_id", "text"],
    )
    for compact in (False, True):
        pairs = {
            (r["left_id"], r["right_id"]): r["est_jaccard"]
            for r in minhash_lsh_pairs(docs, compact=compact).collect()
        }
        assert pairs == {(0, 1): 1.0}, (compact, pairs)
    banded = banded_signatures(docs, compact=True).collect()
    for r in banded:
        assert all(isinstance(x, int) for x in r["sig"])
        assert isinstance(r["band_hash"], int)
        assert 0 <= r["band_hash"] < 16**15  # 60-bit bound


def test_compact_minhash_matches_python_reference(spark):
    """r7 compact family: h_i(x) = (a_i·x + b_i) mod 2³¹−1 over
    x = int(md5(shingle)[:8], 16) mod 2³¹−1 — recompute the whole
    signature in pure Python and require element-exact equality (the
    overflow-free arithmetic is what lets the DuckDB oracle mirror it
    verbatim)."""
    import hashlib

    from kafka_sink_azure_kusto_spark.functions.dedup import (
        COMPACT_MERSENNE,
        COMPACT_PERMS,
        minhash_signatures_df,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame([(7, text)], ["doc_id", "text"])
    row = minhash_signatures_df(docs, compact=True).collect()[0]

    toks = text.split(" ")
    shingles = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
    bases = [
        int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % COMPACT_MERSENNE
        for s in shingles
    ]
    expected = [
        min((a * x + b) % COMPACT_MERSENNE for x in bases)
        for a, b in COMPACT_PERMS
    ]
    assert list(row["sig"]) == expected
    assert all(0 <= v < COMPACT_MERSENNE for v in row["sig"])


# ------------------------------------------------- substring-span dedup


def test_substring_span_dedup_closed_form(spark):
    """Known shared spans: doc 1/2 share an 8-token verbatim span
    (span=8, trim for the long doc, drop for the doc it covers half
    of), doc 3 is unrelated (keep), doc 4 has NULL text (keep, NULL
    n_tokens), docs 5/6 are identical 6-token docs (span=6 = whole
    doc, drop both)."""
    from kafka_sink_azure_kusto_spark.functions.dedup import (
        substring_span_dedup,
    )

    span8 = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens
    rows = [
        (1, span8 + " x1 y1 z1 w1 v1 u1 t1 s1"),   # 16 tokens, span 8 -> drop (8*2>=16)
        (2, "p1 p2 p3 p4 p5 p6 p7 p8 p9 " + span8),  # 17 tokens, span 8 -> trim
        (3, "one two three four five six seven eight nine ten"),
        (4, None),
        (5, "same same2 same3 same4 same5 same6"),
        (6, "same same2 same3 same4 same5 same6"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in substring_span_dedup(df, "text", "doc_id", k=6).collect()
    }
    assert len(out) == 6
    assert out[1].span_tokens == 8 and out[1].partner_id == 2
    assert out[1].action == "drop"  # 8*2 >= 16
    assert out[2].span_tokens == 8 and out[2].partner_id == 1
    assert out[2].action == "trim"  # 8*2 < 17
    assert out[3].action == "keep" and out[3].span_tokens == 0
    assert out[3].partner_id is None
    assert out[4].action == "keep" and out[4].n_tokens is None
    assert out[5].action == "drop" and out[5].span_tokens == 6
    assert out[5].partner_id == 6 and out[6].partner_id == 5


def test_substring_span_dedup_cap_bounds_pairs(spark):
    """A boilerplate k-gram shared by MANY docs: with bucket_cap=c only
    the first c docs (by doc_id order) can pair on it — the others
    keep. This is the member-cap guard that bounds worst-case join
    fan-out at cap² regardless of how hot the anchor is."""
    from kafka_sink_azure_kusto_spark.functions.dedup import (
        substring_span_dedup,
    )

    boiler = "terms of service apply to everyone"  # exactly 6 tokens
    rows = [
        (i, f"u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f u{i}g " + boiler)
        for i in range(30)
    ]  # 13 tokens: span 6 covers < half -> trim for the capped docs
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in substring_span_dedup(
            df, "text", "doc_id", k=6, bucket_cap=5
        ).collect()
    }
    flagged = [i for i in range(30) if out[i].action != "keep"]
    # docs 0..4 hold the 5 capped bucket slots; no one else pairs
    assert flagged == [0, 1, 2, 3, 4]
    for i in flagged:
        assert out[i].span_tokens == 6 and out[i].action == "trim"


def test_substring_span_dedup_diagonal_runs_merge(spark):
    """Two shared spans in ONE doc pair at different offsets must NOT
    merge across diagonals: spans of 7 and 6 tokens yield longest 7."""
    from kafka_sink_azure_kusto_spark.functions.dedup import (
        substring_span_dedup,
    )

    s7 = "m1 m2 m3 m4 m5 m6 m7"
    s6 = "n1 n2 n3 n4 n5 n6"
    rows = [
        (1, s7 + " gapA gapB " + s6 + " tail1 tail2 tail3 tail4 tail5 tail6"),
        (2, s6 + " other1 other2 other3 " + s7 + " other4 other5 other6 other7"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in substring_span_dedup(df, "text", "doc_id", k=6).collect()
    }
    assert out[1].span_tokens == 7
    assert out[2].span_tokens == 7


def test_substring_span_trim_closed_form(spark):
    """Trim semantics: doc 1/2 share an 8-token span; both lose exactly
    those 8 tokens and keep the rest in order. Doc 3 untouched. Doc 4
    NULL text passes through. Docs 5/6 identical -> trimmed to empty
    string, dup_tokens == n_tokens, one span. Internal repetition
    within a single doc (doc 7) does NOT trim."""
    from kafka_sink_azure_kusto_spark.functions.dedup import (
        substring_span_trim,
    )

    span8 = "alpha bravo charlie delta echo foxtrot golf hotel"
    rep6 = "r1 r2 r3 r4 r5 r6"
    rows = [
        (1, span8 + " x1 y1 z1"),
        (2, "p1 p2 p3 " + span8),
        (3, "one two three four five six seven eight"),
        (4, None),
        (5, "same same2 same3 same4 same5 same6"),
        (6, "same same2 same3 same4 same5 same6"),
        (7, rep6 + " gap1 gap2 " + rep6),  # internal repeat only
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in substring_span_trim(df, "text", "doc_id", k=6).collect()
    }
    assert out[1].dup_tokens == 8 and out[1].n_spans == 1
    assert out[1].trimmed_text == "x1 y1 z1"
    assert out[2].dup_tokens == 8 and out[2].trimmed_text == "p1 p2 p3"
    assert out[3].dup_tokens == 0 and out[3].trimmed_text == out[3].trimmed_text
    assert out[3].trimmed_text == "one two three four five six seven eight"
    assert out[4].n_tokens is None and out[4].trimmed_text is None
    assert out[5].dup_tokens == 6 == out[5].n_tokens
    assert out[5].trimmed_text == "" and out[5].n_spans == 1
    assert out[7].dup_tokens == 0  # cross-document shares only
    assert out[7].trimmed_text == rep6 + " gap1 gap2 " + rep6


def test_substring_span_trim_two_spans(spark):
    """Two disjoint shared spans in one doc: union size is exact and
    n_spans counts both; overlapping shared grams merge into one."""
    from kafka_sink_azure_kusto_spark.functions.dedup import (
        substring_span_trim,
    )

    s1 = "a1 a2 a3 a4 a5 a6"
    s2 = "b1 b2 b3 b4 b5 b6 b7"  # 7 tokens: two overlapping 6-grams
    rows = [
        (1, s1 + " mid1 mid2 mid3 " + s2 + " tail1"),
        (2, s1 + " zzz " + s2),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in substring_span_trim(df, "text", "doc_id", k=6).collect()
    }
    assert out[1].dup_tokens == 13 and out[1].n_spans == 2
    assert out[1].trimmed_text == "mid1 mid2 mid3 tail1"
    assert out[2].dup_tokens == 13 and out[2].n_spans == 2
    assert out[2].trimmed_text == "zzz"


def test_substring_trim_cross_closed_form(spark):
    """Benchmark-span decontamination: only spans shared WITH THE
    BENCHMARK trim (training-side internal duplication does not), the
    covered union is exact, and clean docs pass through untouched."""
    from kafka_sink_azure_kusto_spark.functions.dedup import (
        substring_span_trim_cross,
    )

    leak = "alpha bravo charlie delta echo foxtrot"  # 6 tokens = one anchor
    train = spark.createDataFrame(
        [
            # doc 1: benchmark span embedded mid-document
            (1, f"keep1 keep2 {leak} keep3 keep4"),
            # doc 2: clean, but duplicates doc 3 verbatim (train-internal
            # share — must NOT trim in the cross operator)
            (2, "same same2 same3 same4 same5 same6 same7"),
            (3, "same same2 same3 same4 same5 same6 same7"),
            # doc 4: exactly the benchmark text -> trims to empty
            (4, leak),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(100, leak)], ["doc_id", "text"])
    out = {
        r.doc_id: r
        for r in substring_span_trim_cross(
            train, bench, "text", "doc_id", k=6
        ).collect()
    }
    assert out[1].trimmed_text == "keep1 keep2 keep3 keep4"
    assert out[1].dup_tokens == 6 and out[1].n_spans == 1
    assert out[2].trimmed_text == "same same2 same3 same4 same5 same6 same7"
    assert out[3].trimmed_text == out[2].trimmed_text
    assert out[2].dup_tokens == 0 and out[3].dup_tokens == 0
    assert out[4].trimmed_text == "" and out[4].dup_tokens == 6

"""Unit tests for the r9b operator batch: within-document segment
dedup (C4 duplicate-line rule), the count-of-counts vocabulary
coverage curve, theta-sketch set operations, and the mutual k-NN
graph.

Load-bearing properties:
- within-doc dedup keeps FIRST occurrences in original order and never
  looks across documents;
- vocab coverage matches the naive rank-and-prefix-sum definition on a
  closed-form corpus (the count-of-counts rendition is exact, not
  approximate);
- theta set-ops are EXACT when every group is exhaustive (theta = 1)
  and the estimator stays consistent under sharding (sketch
  mergeability: union-then-rerank == single-shot);
- mutual-kNN keeps an edge iff BOTH endpoints rank each other, and the
  bucket cap binds deterministically.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from kafka_sink_azure_kusto_spark.functions.corpus import (
    vocab_coverage,
    within_doc_segment_dedup,
)
from kafka_sink_azure_kusto_spark.functions.sketches import (
    theta_setops_pairs,
    theta_sketch_rows,
)


# ------------------------------------------------- within-doc dedup

def test_within_doc_dedup_keeps_first_in_order(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b c d a b"),   # segs(2): "a b","a b","c d","a b"
            (2, "x y z w"),            # no dupes
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in within_doc_segment_dedup(df, "text", "doc_id", 2).collect()
    }
    assert out[1].clean_text == "a b c d"
    assert out[1].n_segments == 4 and out[1].n_dropped == 2
    assert out[1].dup_ratio == 0.5
    assert out[2].clean_text == "x y z w"
    assert out[2].n_dropped == 0


def test_within_doc_dedup_is_per_document(spark):
    # the same segment in two docs is kept in BOTH (no corpus effect)
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d")], ["doc_id", "text"]
    )
    rows = within_doc_segment_dedup(df, "text", "doc_id", 2).collect()
    assert all(r.clean_text == "a b c d" and r.n_dropped == 0 for r in rows)


def test_within_doc_dedup_ragged_tail_segment(spark):
    # 5 tokens / seg 2 -> 3 segments, last is the single token "e"
    df = spark.createDataFrame([(1, "a b a b e")], ["doc_id", "text"])
    r = within_doc_segment_dedup(df, "text", "doc_id", 2).collect()[0]
    assert r.clean_text == "a b e"
    assert r.n_segments == 3 and r.n_dropped == 1


# ------------------------------------------------- vocab coverage

def test_vocab_coverage_matches_naive_definition(spark):
    # corpus: "a"x6, "b"x3, "c"x1 -> total 10
    df = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a a a b")], ["doc_id", "text"]
    )
    out = {
        r.threshold_pct: r
        for r in vocab_coverage(df, "text", thresholds=(50, 90, 95, 99))
        .collect()
    }
    # 50%: need 5 -> "a" alone (6) covers
    assert out[50].vocab_size == 1 and out[50].covered_tokens == 6
    # 90%: need 9 -> a+b = 9 exactly
    assert out[90].vocab_size == 2 and out[90].covered_tokens == 9
    # 95%: need ceil(9.5)=10 -> a+b+c
    assert out[95].vocab_size == 3 and out[95].covered_tokens == 10
    assert out[99].vocab_size == 3
    assert out[50].coverage == 0.6


def test_vocab_coverage_ties_within_count_class(spark):
    # 4 tokens each count 1: 50% threshold needs 2 of the class of 4
    df = spark.createDataFrame([(1, "p q r s")], ["doc_id", "text"])
    out = {
        r.threshold_pct: r
        for r in vocab_coverage(df, "text", thresholds=(50, 99)).collect()
    }
    assert out[50].vocab_size == 2 and out[50].covered_tokens == 2
    assert out[99].vocab_size == 4


# ------------------------------------------------- theta set-ops

def test_theta_setops_exact_when_exhaustive(spark):
    # A = {1..10}, B = {6..15}: inter 5, union 15; k=64 >> sizes
    rows = [("A", i) for i in range(1, 11)] + [("B", i) for i in range(6, 16)]
    df = spark.createDataFrame(rows, ["g", "u"])
    r = theta_setops_pairs(df, "g", "u", k=64).collect()[0]
    assert (r.group_a, r.group_b) == ("A", "B")
    assert r.est_a == 10.0 and r.est_b == 10.0
    assert r.est_union == 15.0 and r.est_intersect == 5.0
    assert abs(r.est_jaccard - 5.0 / 15.0) < 1e-6


def test_theta_setops_estimates_track_truth(spark):
    # 600 vs 400 distinct with 200 shared; k=64 forces estimation
    rows = [("A", i) for i in range(600)] + [("B", i) for i in range(400, 800)]
    df = spark.createDataFrame(rows, ["g", "u"])
    r = theta_setops_pairs(df, "g", "u", k=64).collect()[0]
    assert abs(r.est_a - 600) / 600 < 0.4
    assert abs(r.est_union - 800) / 800 < 0.4
    assert 0 < r.est_intersect < 2.5 * 200


def test_theta_sketch_rows_merge_equals_single_shot(spark):
    rows = [("A", i) for i in range(500)]
    df = spark.createDataFrame(rows, ["g", "u"])
    single = theta_sketch_rows(df, "g", "u", k=32)
    # shard, sketch each shard, union, re-rank keep-k — the merge rule
    parts = [
        theta_sketch_rows(df.filter(F.col("u") % 3 == m), "g", "u", k=32)
        .select("g", "kmv_u")
        for m in range(3)
    ]
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    from pyspark.sql import Window

    w = Window.partitionBy("g").orderBy("kmv_u")
    remerged = (
        merged.distinct()
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 32)
    )
    a = sorted(r.kmv_u for r in single.select("kmv_u").collect())
    b = sorted(r.kmv_u for r in remerged.select("kmv_u").collect())
    assert a == b


# ------------------------------------------------- mutual kNN graph

def _toy_vectors(spark):
    # two tight clusters on orthogonal axes (64-dim, first two coords)
    def vec(x, y):
        v = [0.0] * 64
        v[0], v[1] = x, y
        return v

    rows = [
        (0, vec(1.0, 0.00)),
        (1, vec(1.0, 0.01)),
        (2, vec(1.0, 0.02)),
        (3, vec(0.00, 1.0)),
        (4, vec(0.01, 1.0)),
        (5, vec(0.02, 1.0)),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_knn_graph_mutual_edges_symmetric_and_ranked(spark):
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        knn_graph_mutual,
    )

    df = _toy_vectors(spark)
    edges = knn_graph_mutual(df, num_planes=2, k=2, bucket_cap=256).collect()
    assert edges, "clustered vectors must produce mutual edges"
    for e in edges:
        assert e.src < e.dst
        assert 1 <= e.rank_src <= 2 and 1 <= e.rank_dst <= 2
        assert -1.0 <= e.score <= 1.0 + 1e-9
    # no cross-cluster edge can outrank within-cluster neighbours
    cluster = lambda i: 0 if i <= 2 else 1  # noqa: E731
    assert all(cluster(e.src) == cluster(e.dst) for e in edges)


def test_knn_graph_bucket_cap_binds(spark):
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        knn_graph_mutual,
    )

    df = _toy_vectors(spark)
    # cap 1: every bucket keeps a single member -> no candidate pairs
    edges = knn_graph_mutual(df, num_planes=2, k=2, bucket_cap=1).collect()
    assert edges == []


def test_nn_descent_round_never_worsens_and_can_improve(spark):
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        lsh_topk_directed,
        nn_descent_refine,
    )

    # chain a-b-c where a and c land in different LSH buckets but share
    # neighbor b: the 2-hop expansion must let a and c discover each
    # other. Use 3 clusters of the toy grid to guarantee bucket splits.
    def vec(x, y):
        v = [0.0] * 64
        v[0], v[1] = x, y
        return v

    rows = [(i, vec(1.0, 0.002 * i)) for i in range(8)] + [
        (100 + i, vec(0.002 * i, 1.0)) for i in range(8)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    seed = lsh_topk_directed(df, num_planes=4, k=2, bucket_cap=256)
    refined = nn_descent_refine(df, num_planes=4, k=2, bucket_cap=256)
    seed_kth = {
        r.src: r.score for r in seed.collect() if r.rank == 2
    }
    ref_rows = refined.collect()
    ref_kth = {r.src: r.score for r in ref_rows if r.rank == 2}
    # refinement never worsens any node's kth-best score (the refined
    # output is rounded to 6 decimals; compare at that resolution)
    for node, s in seed_kth.items():
        assert node in ref_kth and ref_kth[node] >= round(s, 6) - 1e-9
    # per-node list sizes still <= k and ranks well-formed
    from collections import Counter

    per = Counter(r.src for r in ref_rows)
    assert all(c <= 2 for c in per.values())
    # the improved flag appears only on rank-k rows
    assert all(r.rank == 2 for r in ref_rows if r.improved)


def test_nn_descent_single_band_is_noop_two_bands_expand(spark):
    """Structural property found by this round's probe: with ONE band
    every seed edge is within-bucket, so 2-hop expansion proposes only
    already-scored candidates — refined == seed. With TWO bands the
    expansion crosses band buckets and must be able to add edges."""
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        lsh_topk_directed,
        nn_descent_refine,
    )
    from kafka_sink_azure_kusto_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    one_seed = lsh_topk_directed(
        emb, num_planes=6, k=3, bucket_cap=256, bands=1
    ).select("src", "dst")
    one_ref = nn_descent_refine(
        emb, num_planes=6, k=3, bucket_cap=256, bands=1
    ).select("src", "dst")
    assert one_ref.subtract(one_seed).count() == 0

    two_seed = lsh_topk_directed(
        emb, num_planes=6, k=3, bucket_cap=256, bands=2
    ).select("src", "dst")
    two_ref = nn_descent_refine(
        emb, num_planes=6, k=3, bucket_cap=256, bands=2
    ).select("src", "dst")
    assert two_ref.subtract(two_seed).count() > 0


def test_lsh_bands_are_independent_bucketings(spark):
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        hyperplane_lsh_buckets,
    )
    from kafka_sink_azure_kusto_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    b0 = {r.id: r.bucket for r in hyperplane_lsh_buckets(
        emb, num_planes=6, plane_offset=0).collect()}
    b1 = {r.id: r.bucket for r in hyperplane_lsh_buckets(
        emb, num_planes=6, plane_offset=6).collect()}
    assert set(b0) == set(b1)
    # the two bandings must differ for a meaningful fraction of vectors
    diff = sum(1 for i in b0 if b0[i] != b1[i])
    assert diff > len(b0) * 0.5


# --------------------------------------------- containment / snapshot diff

def test_containment_detects_subset_that_jaccard_misses(spark):
    from kafka_sink_azure_kusto_spark.functions.dedup import (
        containment_pairs,
    )

    long_text = " ".join(f"w{i}" for i in range(40))
    short_text = " ".join(f"w{i}" for i in range(10, 20))  # embedded span
    df = spark.createDataFrame(
        [(1, long_text), (2, short_text), (3, "x y z q r s t u v")],
        ["doc_id", "text"],
    )
    rows = containment_pairs(df, k=3, threshold=0.9).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.small_id, r.big_id) == (2, 1)
    assert r.containment == 1.0
    # jaccard is LOW for the same pair — the property containment adds
    assert r.jaccard < 0.25


def test_containment_hot_shingle_guard(spark):
    from kafka_sink_azure_kusto_spark.functions.dedup import (
        containment_pairs,
    )

    # every doc shares the same boilerplate trigram; with the guard at
    # max_shingle_freq=2 the boilerplate can't pair everything
    rows = [(i, f"common boiler plate unique{i} tail{i} end{i}")
            for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = containment_pairs(df, k=3, threshold=0.5, max_shingle_freq=2)
    assert out.count() == 0


def test_snapshot_diff_statuses(spark):
    from kafka_sink_azure_kusto_spark.functions.corpus import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "c2"), (4, "d")], ["doc_id", "text"]
    )
    out = {r.id: r.status for r in snapshot_diff(old, new).collect()}
    assert out == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_hard_negatives_cross_label_only(spark):
    import __spark_entry__ as e

    out = e.queries()["contrastive_hard_negatives"](
        spark, "/root/testdata/sf0.001"
    )
    rows = out.collect()
    assert rows
    assert all(r.src_label != r.dst_label for r in rows)
    from collections import Counter

    per = Counter(r.anchor_id for r in rows)
    assert all(c <= 3 for c in per.values())


def test_center_crop_geometry_and_bounds(spark):
    import numpy as np

    from kafka_sink_azure_kusto_spark.functions.multimodal import (
        DecodedMedia,
        MediaDecodeError,
        crop_center,
    )

    # 5x4 raster with v = row*100 + col*10 + channel
    h, w = 4, 5
    s = np.array(
        [r * 100 + c * 10 + ch for r in range(h) for c in range(w)
         for ch in range(3)],
        dtype=np.int64,
    )
    m = DecodedMedia("bmp", w, h, 0, s)
    out = crop_center(m, 3, 2)
    # center 3x2: rows 1..2, cols 1..3
    expect = np.array(
        [r * 100 + c * 10 + ch for r in (1, 2) for c in (1, 2, 3)
         for ch in range(3)],
        dtype=np.int64,
    )
    assert (out == expect).all()
    import pytest

    with pytest.raises(MediaDecodeError):
        crop_center(m, 6, 2)  # wider than raster


def test_incremental_index_rewrites_only_affected_cells(spark, tmp_path):
    """The incrementality observable behind
    similarity_index_incremental_update: with a 3-cell index where only
    cell B changed and cell C vanished, the update must leave cell A's
    files untouched, rewrite B, and delete C."""
    import os

    import pyspark.sql.functions as F

    def vec(seed):
        return [float(seed + i) for i in range(4)]

    old_rows = [
        (1, "A", vec(1)), (2, "A", vec(2)),
        (3, "B", vec(3)), (4, "B", vec(4)),
        (5, "C", vec(5)),
    ]
    new_rows = [
        (1, "A", vec(1)), (2, "A", vec(2)),      # unchanged
        (3, "B", vec(30)), (4, "B", vec(4)),     # 3 changed
        # 5 removed; cell C now empty
    ]
    old = spark.createDataFrame(old_rows, ["vec_id", "cell", "v"])
    new = spark.createDataFrame(new_rows, ["vec_id", "cell", "v"])
    idx = str(tmp_path / "idx")
    old.write.partitionBy("cell").parquet(idx)
    a_files = sorted(os.listdir(os.path.join(idx, "cell=A")))
    a_mtimes = {
        f: os.path.getmtime(os.path.join(idx, "cell=A", f)) for f in a_files
    }

    fp = F.md5(F.concat_ws(",", F.transform("v", lambda x: x.cast("string"))))
    o = old.select("vec_id", F.col("cell").alias("oc"), fp.alias("ofp"))
    n = new.select("vec_id", F.col("cell").alias("nc"), fp.alias("nfp"))
    diff = o.join(n, "vec_id", "full_outer").filter(
        F.col("ofp").isNull() | F.col("nfp").isNull()
        | (F.col("ofp") != F.col("nfp"))
    )
    affected = sorted(
        r.cell
        for r in diff.select(F.coalesce("nc", "oc").alias("cell"))
        .distinct()
        .collect()
    )
    assert affected == ["B", "C"]

    from kafka_sink_azure_kusto_spark.functions import similarity as S

    rewrite = S._prune_partitions(new, "cell", affected).select(
        "vec_id", "v", "cell"
    )
    assert S._rewrite_partitions(rewrite, idx, "cell", affected) == ["C"]

    # A untouched (same files, same mtimes), C gone, index == new
    assert sorted(os.listdir(os.path.join(idx, "cell=A"))) == a_files
    for f, m in a_mtimes.items():
        assert os.path.getmtime(os.path.join(idx, "cell=A", f)) == m
    assert not os.path.exists(os.path.join(idx, "cell=C"))
    got = {
        (r.vec_id, tuple(r.v))
        for r in spark.read.parquet(idx).select("vec_id", "v").collect()
    }
    want = {(i, tuple(v)) for i, _, v in new_rows}
    assert got == want

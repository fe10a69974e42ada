"""Round-10 operator tests: graph-based ANN search over a kNN edge
list (functions/similarity.graph_search_topk) and the r10 registry
queries' structural invariants."""

import pytest
from pyspark.sql import functions as F


def _line_vectors(spark, n=40, dim=8):
    """Vectors on a smooth 1-D manifold: vec i points mostly at axis
    (i // 10) with a small in-cluster drift, so true nearest neighbors
    are the adjacent ids — a graph walk along edges reaches them."""
    rows = []
    for i in range(n):
        v = [0.0] * dim
        v[i // 10] = 1.0
        v[(i // 10 + 1) % dim] = 0.01 * (i % 10)
        rows.append((i, v))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def _edges(spark, df):
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        lsh_topk_directed,
    )

    return lsh_topk_directed(df, num_planes=2, k=3, bucket_cap=256, bands=2)


def test_graph_search_reaches_beyond_entry_points(spark):
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        graph_search_topk,
    )

    df = _line_vectors(spark)
    queries = df.filter(F.col("vec_id") % 10 == 3)
    out = graph_search_topk(
        df, queries, _edges(spark, df),
        k=3, rounds=2, beam=3, entry_stride=10,
    )
    rows = out.collect()
    by_q = {}
    for r in rows:
        assert r.neighbor_id != r.query_id
        assert 1 <= r.rank <= 3
        by_q.setdefault(r.query_id, []).append(r)
    # every query got results, and at least one neighbor that is NOT an
    # entry point (vec_id % 10 == 0) — i.e. the walk expanded the graph
    assert set(by_q) == {3, 13, 23, 33}
    assert any(
        r.neighbor_id % 10 != 0 for rs in by_q.values() for r in rs
    ), "search never left the entry set — expansion is broken"


def test_graph_search_zero_rounds_is_entry_ranking(spark):
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        graph_search_topk,
    )

    df = _line_vectors(spark)
    queries = df.filter(F.col("vec_id") == 3)
    out = graph_search_topk(
        df, queries, _edges(spark, df),
        k=10, rounds=0, beam=3, entry_stride=10,
    ).collect()
    # with zero rounds only entry points (ids % 10 == 0) are visited
    assert out and all(r.neighbor_id % 10 == 0 for r in out)


def test_graph_search_visited_is_bounded_and_deduped(spark):
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        graph_search_topk,
    )

    df = _line_vectors(spark)
    queries = df.filter(F.col("vec_id") % 10 == 3)
    vis = graph_search_topk(
        df, queries, _edges(spark, df),
        rounds=2, beam=3, entry_stride=10, return_visited=True,
    )
    rows = vis.collect()
    seen = set()
    for r in rows:
        assert (r.query_id, r.nid) not in seen, "node scored twice"
        seen.add((r.query_id, r.nid))
    # budget bound: entries (4) + rounds*beam*max_degree; degree ≤ 2k
    # per band direction ≤ 12 undirected here
    per_q = {}
    for r in rows:
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
    assert all(n <= 4 + 2 * 3 * 12 for n in per_q.values())


def test_graph_search_query_cap_enforced(spark):
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        graph_search_topk,
    )

    df = _line_vectors(spark)
    with pytest.raises(ValueError, match="max_broadcast_queries"):
        graph_search_topk(
            df, df, _edges(spark, df), max_broadcast_queries=5
        )


def test_undirected_edges_symmetric(spark):
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        undirected_edges,
    )

    e = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 4)], ["src", "dst"]
    )
    out = {(r.src, r.dst) for r in undirected_edges(e).collect()}
    assert out == {(1, 2), (2, 1), (3, 4), (4, 3)}


def test_r10_registry_queries_run_and_shape(spark, sf_dir):
    from kafka_sink_azure_kusto_spark.plans.registry_r10 import (
        graph_search_recall_audit,
        knn_recall_calibration,
        similarity_graph_search,
    )

    gs = similarity_graph_search(spark, sf_dir)
    assert gs.columns == ["query_id", "neighbor_id", "score", "rank"]
    assert gs.count() > 0

    aud = graph_search_recall_audit(spark, sf_dir).collect()
    assert {r.method for r in aud} == {"graph_search", "ivf_multiprobe_1"}
    for r in aud:
        assert 0 <= r.n_hits <= r.n_possible
        assert r.n_candidates > 0

    cal = knn_recall_calibration(spark, sf_dir).collect()
    assert {(r.num_planes, r.bands) for r in cal} == {
        (4, 2), (4, 3), (6, 2), (6, 3)
    }
    for r in cal:
        assert 0 <= r.n_hits <= r.n_possible


# ---------------------------------------------------------------------
# r10: IVF index maintenance (ivf_index_upsert + the streaming loop)


def _read_idx(spark, idx_dir):
    return {
        (r.vec_id, r.cell): tuple(r.v)
        for r in spark.read.parquet(idx_dir).collect()
    }


def test_ivf_upsert_tombstone_and_empty_cell_cleanup(spark, tmp_path):
    import os

    from kafka_sink_azure_kusto_spark.functions.similarity import (
        ivf_index_upsert,
    )

    idx_dir = str(tmp_path / "idx")
    seed = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0), (3, [0.0, 1.0], 1)],
        ["vec_id", "v", "cell"],
    )
    seed.write.partitionBy("cell").parquet(idx_dir)
    # tombstone the ONLY vector of cell 1, upsert a new vector in cell 0
    batch = spark.createDataFrame(
        [(3, None, 1), (4, [0.8, 0.2], 0)],
        "vec_id long, v array<double>, cell int",
    )
    emptied = ivf_index_upsert(batch, idx_dir)
    assert emptied == [1]
    assert not os.path.exists(os.path.join(idx_dir, "cell=1"))
    assert _read_idx(spark, idx_dir) == {
        (1, 0): (1.0, 0.0), (2, 0): (0.9, 0.1), (4, 0): (0.8, 0.2),
    }


def test_ivf_upsert_untouched_cells_not_rewritten(spark, tmp_path):
    import os

    from kafka_sink_azure_kusto_spark.functions.similarity import (
        ivf_index_upsert,
    )

    idx_dir = str(tmp_path / "idx")
    spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (3, [0.0, 1.0], 1)], ["vec_id", "v", "cell"]
    ).write.partitionBy("cell").parquet(idx_dir)

    def files(cell):
        d = os.path.join(idx_dir, f"cell={cell}")
        return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))

    before_c1 = files(1)
    ivf_index_upsert(
        spark.createDataFrame(
            [(5, [0.7, 0.3], 0)], "vec_id long, v array<double>, cell int"
        ),
        idx_dir,
    )
    # the unaffected cell's data files are byte-identical (never touched)
    assert files(1) == before_c1
    assert (5, 0) in _read_idx(spark, idx_dir)


def test_ivf_upsert_last_write_wins_within_batch(spark, tmp_path):
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        ivf_index_upsert,
    )

    idx_dir = str(tmp_path / "idx")
    spark.createDataFrame(
        [(1, [1.0, 0.0], 0)], ["vec_id", "v", "cell"]
    ).write.partitionBy("cell").parquet(idx_dir)
    # a merged batch carries a value AND its later tombstone — the
    # tombstone (higher seq) must win
    batch = spark.createDataFrame(
        [(1, [0.5, 0.5], 0, 0), (1, None, 0, 1), (2, [0.1, 0.9], 0, 1)],
        "vec_id long, v array<double>, cell int, seq int",
    )
    ivf_index_upsert(batch, idx_dir, seq_col="seq")
    assert _read_idx(spark, idx_dir) == {(2, 0): (0.1, 0.9)}


def test_ivf_upsert_cell_move_removes_stale_row(spark, tmp_path):
    # The normal IVF re-embed case: vec 1 moves cell 0 → cell 1. The
    # stale copy in cell 0 must be removed even though the batch's cell
    # column never mentions cell 0 (advice r10: old cells of the batch's
    # ids are looked up from the index and added to `affected`).
    import os

    from kafka_sink_azure_kusto_spark.functions.similarity import (
        ivf_index_upsert,
    )

    idx_dir = str(tmp_path / "idx")
    spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0), (3, [0.0, 1.0], 1)],
        ["vec_id", "v", "cell"],
    ).write.partitionBy("cell").parquet(idx_dir)
    batch = spark.createDataFrame(
        [(1, [0.1, 0.9], 1)], "vec_id long, v array<double>, cell int"
    )
    emptied = ivf_index_upsert(batch, idx_dir)
    assert emptied == []
    assert _read_idx(spark, idx_dir) == {
        (1, 1): (0.1, 0.9), (2, 0): (0.9, 0.1), (3, 1): (0.0, 1.0),
    }
    # a move that DRAINS the old cell also cleans up its directory
    batch2 = spark.createDataFrame(
        [(2, [0.0, 1.0], 1)], "vec_id long, v array<double>, cell int"
    )
    assert ivf_index_upsert(batch2, idx_dir) == [0]
    assert not os.path.exists(os.path.join(idx_dir, "cell=0"))
    # a tombstone with a WRONG claimed cell still deletes the id
    batch3 = spark.createDataFrame(
        [(3, None, 7)], "vec_id long, v array<double>, cell int"
    )
    ivf_index_upsert(batch3, idx_dir)
    assert _read_idx(spark, idx_dir) == {
        (1, 1): (0.1, 0.9), (2, 1): (0.0, 1.0),
    }


def test_ivf_upsert_steady_call_writes_one_file_per_cell_in_eight_jobs(
    spark, tmp_path
):
    import os

    from kafka_sink_azure_kusto_spark.functions.similarity import (
        ivf_index_upsert,
    )

    idx_dir = str(tmp_path / "idx")
    spark.createDataFrame(
        [(i, [float(i), 1.0], i % 5) for i in range(60)],
        "vec_id long, v array<double>, cell int",
    ).repartition(3).write.partitionBy("cell").parquet(idx_dir)

    def files(cell):
        d = os.path.join(idx_dir, f"cell={cell}")
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    assert all(len(files(c)) == 3 for c in range(5))
    batch = spark.createDataFrame(
        [(100, [1.0, 0.5], 0), (101, [0.5, 1.0], 1), (2, None, 2),
         (7, [2.0, 2.0], 2)],
        "vec_id long, v array<double>, cell int",
    )
    sc = spark.sparkContext
    group = "ivf-steady-upsert"
    sc.setJobGroup(group, "one steady ivf_index_upsert call")
    try:
        assert ivf_index_upsert(batch, idx_dir) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 8
    assert [len(files(c)) for c in range(5)] == [1, 1, 1, 3, 3]
    got = _read_idx(spark, idx_dir)
    assert len(got) == 61 and got[(7, 2)] == (2.0, 2.0) and (2, 2) not in got


def test_streaming_ivf_loop_keeps_one_file_per_live_cell(spark, sf_dir):
    from kafka_sink_azure_kusto_spark.plans.registry_r10 import (
        _run_ivf_stream_loop,
    )

    stats = {}
    _run_ivf_stream_loop(spark, sf_dir, stats=stats)
    assert len(stats) == 2
    for s in stats.values():
        for files in (s["files_before"], s["files_after"]):
            assert files and all(len(f) == 1 for f in files.values()), files


def test_streaming_ivf_loop_touches_only_affected_cells(spark, sf_dir):
    from kafka_sink_azure_kusto_spark.plans.registry_r10 import (
        _run_ivf_stream_loop,
    )

    stats = {}
    out = _run_ivf_stream_loop(spark, sf_dir, stats=stats)
    assert out.count() > 0
    assert len(stats) >= 1
    for ep, s in stats.items():
        affected = {f"cell={c}" for c in s["affected_cells"]}
        for cell, before_files in s["files_before"].items():
            if cell not in affected:
                # VERDICT r9 #3's file-count assertion: untouched cells
                # keep their exact file lists across the batch
                assert s["files_after"].get(cell) == before_files, (
                    f"epoch {ep}: unaffected {cell} was rewritten"
                )
        for cell in affected:
            if cell in s["files_after"]:
                assert s["files_after"][cell], f"{cell} rewrote to empty"


# ---------------------------------------------------------------------
# r10: multimodal curation pipeline (decode-once + stage composition)


def test_media_dhash_and_features_matches_separate_kernels(spark, sf_dir):
    from kafka_sink_azure_kusto_spark.functions import multimodal as M

    docs = spark.createDataFrame(
        [(i,) for i in range(0, 30)], ["doc_id"]
    )
    mid = F.col("doc_id") % 97
    fused = M.media_dhash_and_features(docs, media_id=mid)
    # dhash branch == media_dhash output
    got_h = {
        (r.doc_id, r.dhash)
        for r in fused.filter("feat_idx = 0").select("doc_id", "dhash").collect()
    }
    want_h = {
        (r.doc_id, r.dhash) for r in M.media_dhash(docs, media_id=mid).collect()
    }
    assert got_h == want_h
    # feature branch == synth_feature_extract on the image subset,
    # with the SAME media identity
    imgs = docs.filter((F.col("doc_id") % 97) % 3 != 2)
    got_f = {
        (r.doc_id, r.feat_idx, r.feature)
        for r in fused.select("doc_id", "feat_idx", "feature").collect()
    }
    want_f = {
        (r.doc_id, r.feat_idx, r.feature)
        for r in M.synth_feature_extract(
            imgs.select((F.col("doc_id") % 97).alias("doc_id"))
        ).join(
            imgs.select(
                F.col("doc_id").alias("orig"), (F.col("doc_id") % 97).alias("doc_id")
            ),
            "doc_id",
        ).select(F.col("orig").alias("doc_id"), "feat_idx", "feature").collect()
    }
    assert got_f == want_f


def test_multimodal_curation_pipeline_decode_once_plan(spark, sf_dir):
    """VERDICT r9 #4's structural requirement: the pipeline's final
    plan contains ZERO Python/Arrow nodes — the single fused decode
    ran once at the eager localCheckpoint, and every later stage
    (block-LSH, CLIP projection, classifier, packing) is JVM-side."""
    from kafka_sink_azure_kusto_spark.plans.registry_r10 import (
        multimodal_curation_pipeline,
    )

    out = multimodal_curation_pipeline(spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for node in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan, plan
    rows = out.collect()
    assert rows, "pipeline selected nothing"
    # survivors are image docs ((doc_id % 97) % 3 != 2), packed within budget
    for r in rows:
        assert (r.doc_id % 97) % 3 != 2
        assert r.align_score >= 0.0
        assert r.shard == r.doc_id % 4
        assert r.pack_id == r.units_before // 2048


# ---------------------------------------------------------------------
# r10 third wave: hilbert key, interval-overlap join, streaming BM25


def test_hilbert_key_matches_reference_and_is_adjacent(spark):
    from kafka_sink_azure_kusto_spark.operators.layout import hilbert_key

    def xy2d(n, x, y):
        rx = ry = 0
        d = 0
        s = n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x = s - 1 - x
                    y = s - 1 - y
                x, y = y, x
            s //= 2
        return d

    pts = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)], ["x", "y"]
    )
    rows = hilbert_key(pts, "x", "y", bits=4).collect()
    assert all(r.hkey == xy2d(16, r.x, r.y) for r in rows)
    # the defining property: consecutive indices are adjacent cells
    byd = {r.hkey: (r.x, r.y) for r in rows}
    assert all(
        abs(byd[d][0] - byd[d + 1][0]) + abs(byd[d][1] - byd[d + 1][1]) == 1
        for d in range(255)
    )


def test_interval_overlap_join_counts(spark, sf_dir):
    from pyspark.sql import functions as F

    from kafka_sink_azure_kusto_spark.plans.registry_r10 import (
        _IOJ_LEN_US,
        _IOJ_N,
        _IOJ_STRIDE_US,
        interval_overlap_join,
    )
    from kafka_sink_azure_kusto_spark.sources.tables import load_table

    out = {r.window_id: r.n_events
           for r in interval_overlap_join(spark, sf_dir).collect()}
    assert set(out) == set(range(_IOJ_N))
    # brute-force check on 3 windows (the point of the bucketized join
    # is avoiding exactly this nested loop — fine at test scale)
    ev = load_table(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("tus")
    )
    t0 = ev.agg(F.min("tus")).collect()[0][0]
    for w in (0, 7, 19):
        lo = t0 + w * _IOJ_STRIDE_US
        n = ev.filter(
            (F.col("tus") >= lo) & (F.col("tus") < lo + _IOJ_LEN_US)
        ).count()
        assert out[w] == n, (w, out[w], n)


def test_streaming_bm25_matches_single_shot(spark, sf_dir):
    from kafka_sink_azure_kusto_spark.plans.registry_curation import (
        bm25_topk,
    )
    from kafka_sink_azure_kusto_spark.plans.registry_r10 import (
        streaming_bm25_maintenance,
    )

    merged = [
        (r.doc_id, r.score, r.rank)
        for r in streaming_bm25_maintenance(spark, sf_dir).collect()
    ]
    single = [
        (r.doc_id, r.score, r.rank) for r in bm25_topk(spark, sf_dir).collect()
    ]
    assert sorted(merged) == sorted(single)


def test_streaming_dsir_matches_single_shot(spark, sf_dir):
    from pyspark.sql import functions as F

    from kafka_sink_azure_kusto_spark.functions.corpus import (
        dsir_importance_weights,
    )
    from kafka_sink_azure_kusto_spark.plans.registry_r10 import (
        streaming_dsir_maintenance,
    )
    from kafka_sink_azure_kusto_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    single = {
        r.doc_id: (r.n_features, r.dsir_weight, r.keep)
        for r in dsir_importance_weights(
            docs, docs.filter(F.col("doc_id") % 25 == 0)
        ).collect()
    }
    merged = {
        r.doc_id: (r.n_features, r.dsir_weight, r.keep)
        for r in streaming_dsir_maintenance(spark, sf_dir).collect()
    }
    assert merged == single

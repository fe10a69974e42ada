"""Independent-implementation tests for round 12: streaming PQ
code-store maintenance (plans/registry_r12.py,
functions/similarity.pq_code_upsert). Every numeric claim is recomputed
in plain numpy from the parquet fixtures — no DuckDB, no shared CTE
text — so a bug that slipped past the oracle's shared constants would
still be caught here.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def _emb(sf_dir: str) -> pd.DataFrame:
    return pd.read_parquet(f"{sf_dir}/embeddings.parquet")


def _np_codes(vecs: np.ndarray, cbook: np.ndarray, m: int, sub: int):
    """(codes, qerr) per vector per subspace against cbook
    [n_codes, m, sub]; ties toward the smaller code (argmin is
    first-min in numpy, codes are ordered)."""
    n = vecs.shape[0]
    codes = np.zeros((n, m), dtype=np.int64)
    qerr = np.zeros((n, m), dtype=np.float64)
    for mm in range(m):
        sv = vecs[:, mm * sub : (mm + 1) * sub]
        d2 = ((sv[:, None, :] - cbook[None, :, mm, :]) ** 2).sum(axis=2)
        codes[:, mm] = d2.argmin(axis=1)
        qerr[:, mm] = d2.min(axis=1)
    return codes, qerr


def _dbl(spark, sf_dir):
    emb = _emb(sf_dir).sort_values("vec_id").reset_index(drop=True)
    ids = emb["vec_id"].to_numpy()
    raw = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, raw)],
        "vec_id long, v array<double>",
    )
    return df, ids, raw


def _codebook_df(spark, ids, raw, m=8, sub=8, n_codes=16):
    sel = ids < n_codes
    cb_rows = []
    order = np.argsort(ids[sel])
    cb_ids = ids[sel][order]
    cb_vecs = raw[sel][order]
    for code, v in zip(cb_ids, cb_vecs):
        for mm in range(m):
            cb_rows.append(
                (mm, int(code), [float(x) for x in v[mm * sub : (mm + 1) * sub]])
            )
    cb = spark.createDataFrame(cb_rows, "m int, code long, c array<double>")
    cbook = np.stack(
        [cb_vecs[:, mm * sub : (mm + 1) * sub] for mm in range(m)], axis=1
    )  # [n_codes, m, sub]
    return cb, cbook


def test_pq_code_upsert_store_invariant(spark, sf_dir, tmp_path):
    """After seed + upsert/tombstone batches, the on-disk code store
    must equal codes recomputed from scratch on the surviving vectors
    (numpy ground truth) — stale codes, missed tombstones, or wrong
    last-write-wins all break this. Drift registers must SUM-merge to
    the single-shot per-subspace totals of the stream-arrival
    population (the mergeability contract)."""
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        pq_code_upsert,
        pq_encode,
    )

    dbl, ids, raw = _dbl(spark, sf_dir)
    cb, cbook = _codebook_df(spark, ids, raw)
    code_dir = str(tmp_path / "codes")

    seed = dbl.filter(F.col("vec_id") % 3 == 0)
    pq_encode(seed, cb, 8, 8, vec_col="v").withColumn(
        "block", (F.col("vec_id") % 8).cast("int")
    ).select("vec_id", "m", "code", "qerr", "block").write.partitionBy(
        "block"
    ).parquet(code_dir)

    plus1 = F.expr("transform(v, x -> x + CAST(1.0 AS DOUBLE))")
    b0 = (
        dbl.filter(F.col("vec_id") % 3 == 1)
        .unionByName(dbl.filter(F.col("vec_id") % 9 == 0).withColumn("v", plus1))
        .withColumn("seq", F.lit(0))
    )
    b1 = (
        dbl.filter(F.col("vec_id") % 3 == 2)
        .unionByName(
            dbl.filter(F.col("vec_id") % 15 == 0).withColumn(
                "v", F.lit(None).cast("array<double>")
            )
        )
        .withColumn("seq", F.lit(1))
    )
    st0 = pq_code_upsert(b0, cb, code_dir, 8, 8, n_blocks=8, seq_col="seq")
    st1 = pq_code_upsert(b1, cb, code_dir, 8, 8, n_blocks=8, seq_col="seq")
    assert st0["affected_blocks"] <= 8 and st1["affected_blocks"] <= 8

    # ---- store == from-scratch codes of the surviving corpus
    survive = ids % 15 != 0
    vecs = raw.copy()
    vecs[ids % 9 == 0] += 1.0
    codes, qerr = _np_codes(vecs, cbook, 8, 8)
    expect = {
        (int(ids[i]), mm): (int(codes[i, mm]), qerr[i, mm])
        for i in range(len(ids))
        if survive[i]
        for mm in range(8)
    }
    store = spark.read.parquet(code_dir).toPandas()
    assert len(store) == len(expect)
    for r in store.itertuples(index=False):
        ec, eq = expect[(r.vec_id, r.m)]
        assert r.code == ec, (r.vec_id, r.m)
        assert abs(r.qerr - eq) < 1e-9
        assert r.block == r.vec_id % 8

    # ---- drift registers SUM-merge == single-shot on arrivals
    arr_mask_b0 = (ids % 3 == 1) | (ids % 9 == 0)
    arr_b0 = np.where(ids % 9 == 0, 1.0, 0.0)[:, None] + raw
    _, q0 = _np_codes(arr_b0[arr_mask_b0], cbook, 8, 8)
    arr_mask_b1 = ids % 3 == 2
    _, q1 = _np_codes(raw[arr_mask_b1], cbook, 8, 8)
    merged = {
        mm: (0, 0.0) for mm in range(8)
    }
    for st in (st0, st1):
        for mm, n, sq in st["drift"]:
            pn, psq = merged[mm]
            merged[mm] = (pn + n, psq + sq)
    for mm in range(8):
        n, sq = merged[mm]
        assert n == arr_mask_b0.sum() + arr_mask_b1.sum() - 0  # live rows only
        assert abs(sq - (q0[:, mm].sum() + q1[:, mm].sum())) < 1e-6


def test_pq_drift_retrain_false_without_shift(spark, sf_dir, tmp_path):
    """Control arm for the retrain gate: a stream that re-delivers the
    SAME population it was seeded from produces drift_ratio == 1 and
    retrain False — guards the comparison's sign and the ratio's
    orientation (stream/seed, not seed/stream)."""
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        pq_code_upsert,
        pq_encode,
    )

    dbl, ids, raw = _dbl(spark, sf_dir)
    cb, _ = _codebook_df(spark, ids, raw)
    code_dir = str(tmp_path / "codes")

    seed = dbl.filter(F.col("vec_id") % 3 == 0)
    seeded = pq_encode(seed, cb, 8, 8, vec_col="v").withColumn(
        "block", (F.col("vec_id") % 8).cast("int")
    ).select("vec_id", "m", "code", "qerr", "block")
    seeded.write.partitionBy("block").parquet(code_dir)
    seed_reg = {
        int(r["m"]): (int(r["n"]), float(r["sq"]))
        for r in seeded.groupBy("m")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("qerr").alias("sq"))
        .collect()
    }

    st = pq_code_upsert(
        seed.withColumn("seq", F.lit(0)), cb, code_dir, 8, 8,
        n_blocks=8, seq_col="seq",
    )
    for mm, n, sq in st["drift"]:
        sn, ssq = seed_reg[mm]
        assert n == sn
        ratio = round(round(sq / n, 6) / round(ssq / sn, 6), 6)
        assert ratio == 1.0
        assert not ratio > 1.1  # the gate's retrain predicate


def test_pq_code_upsert_corrupt_store_fails_loud(spark, tmp_path):
    """Same loud-fail contract as mih_code_upsert: an existing but
    unreadable store must raise, not silently start empty."""
    import pytest

    from kafka_sink_azure_kusto_spark.functions.similarity import (
        pq_code_upsert,
    )

    cb = spark.createDataFrame(
        [(m, 0, [0.0] * 2) for m in range(2)], "m int, code long, c array<double>"
    )
    batch = spark.createDataFrame(
        [(1, [1.0, -1.0, 0.5, 0.25])], "vec_id long, v array<double>"
    ).withColumn("seq", F.lit(0))

    corrupt = str(tmp_path / "corrupt")
    (tmp_path / "corrupt").mkdir()
    (tmp_path / "corrupt" / "block=1").mkdir()
    (tmp_path / "corrupt" / "block=1" / "part-0.parquet").write_bytes(b"junk")
    with pytest.raises(Exception):
        pq_code_upsert(batch, cb, corrupt, 2, 2, n_blocks=4, seq_col="seq")
    assert (tmp_path / "corrupt" / "block=1" / "part-0.parquet").read_bytes() == (
        b"junk"
    )


# ------------------------------------------- hierarchical graph search


def test_hierarchy_gain_audit_beats_flat(spark, sf_dir):
    """The audit's reason to exist: at (near-)equal candidate budget
    the multi-layer descent must find at least as many exact top-3
    neighbors as the flat stride-entry walk — integers, not vibes."""
    from kafka_sink_azure_kusto_spark.plans import queries

    got = queries()["graph_hierarchy_gain_audit"](spark, sf_dir).toPandas()
    rows = {r.strategy: r for r in got.itertuples(index=False)}
    assert set(rows) == {"flat_stride", "hierarchical"}
    h, f = rows["hierarchical"], rows["flat_stride"]
    assert h.n_possible == f.n_possible > 0
    assert h.n_hits >= f.n_hits
    # budget honesty: the hierarchical arm's candidates include the
    # descent layers, and stay in the same ballpark as flat's
    assert h.n_candidates <= 2 * f.n_candidates


def test_flat_hierarchical_search_is_the_layer0_search(spark):
    """With no upper layers the descent is the plain layer-0 beam
    search, and it probes the query cap itself."""
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        graph_search_topk,
        hierarchical_graph_search_topk,
        knn_graph_build_exact,
    )

    corpus = spark.createDataFrame(
        [(i, [1.0 + i % 4, 1.0 + i // 4]) for i in range(12)],
        "vec_id long, v array<double>",
    )
    edges = knn_graph_build_exact(corpus, k=3).select("src", "dst")
    queries = corpus.filter(F.col("vec_id") % 5 == 1)
    kw = dict(rounds=2, beam=2, vec_col="v", query_vec_col="v")
    want = graph_search_topk(corpus, queries, edges, k=4, **kw).collect()
    got = hierarchical_graph_search_topk(
        corpus, queries, edges, [], k=4, **kw
    ).collect()
    assert len(got) > 0 and sorted(got) == sorted(want)
    vis = hierarchical_graph_search_topk(
        corpus, queries, edges, [], return_all_visited=True, **kw
    )
    assert {r.layer for r in vis.select("layer").distinct().collect()} == {0}
    with pytest.raises(ValueError, match="max_broadcast_queries=1;"):
        hierarchical_graph_search_topk(
            corpus, queries, edges, [], max_broadcast_queries=1, **kw
        )


def test_hierarchical_search_layer_accounting(spark, sf_dir):
    """return_all_visited must label layers top-down (2, 1, 0), carry
    entries into layer 0's visited set, and keep every upper-layer node
    a member of that layer's stride subset."""
    from kafka_sink_azure_kusto_spark.plans.registry_r12 import (
        _HL_S1,
        _HL_S2,
        _hl_corpus,
        _hl_layers,
    )
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        hierarchical_graph_search_topk,
    )

    dbl, qs = _hl_corpus(spark, sf_dir)
    edges0, layers = _hl_layers(dbl)
    vis = hierarchical_graph_search_topk(
        dbl, qs, edges0, layers, rounds=1, beam=2,
        vec_col="v", query_vec_col="v", return_all_visited=True,
    ).toPandas()
    assert set(vis["layer"].unique()) == {0, 1, 2}
    top = vis[vis.layer == 2]
    mid = vis[vis.layer == 1]
    assert (top["nid"] % _HL_S2 == 0).all()
    assert (mid["nid"] % _HL_S1 == 0).all()
    # every query was seeded at the full top layer
    n_top_members = dbl.filter(f"vec_id % {_HL_S2} = 0").count()
    for _, g in top.groupby("query_id"):
        assert len(g) >= n_top_members  # all members scored (+expansions)


# ------------------------------------------------ unigram-LM tokenizer


def _py_unigram_train(texts, maxw=8, maxp=4, seed_cap=48, vcap=40, em=2):
    """Pure-Python replay of the unigram-LM trainer — independent of
    Spark AND of the DuckDB oracle's CTE text."""
    import math
    from collections import Counter

    wc = Counter()
    for t in texts:
        for w in t.split(" "):
            if w:
                wc[w] += 1
    words = {w: c for w, c in wc.items() if len(w) <= maxw}

    def lp_of(counts, cap):
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:cap]
        tot = float(sum(c for _, c in top))
        return {p: (c, round(math.log(c / tot), 6)) for p, c in top}

    seed = Counter()
    for w, c in words.items():
        for i in range(len(w)):
            for p in range(1, min(maxp, len(w) - i) + 1):
                seed[w[i : i + p]] += c
    lp = lp_of(seed, seed_cap)

    def viterbi(word):
        # state per j: (score, npieces, seg) — max score, then fewer
        # pieces, then lexicographically smallest seg
        best = {0: (0.0, 0, "")}
        for j in range(1, len(word) + 1):
            cands = []
            for p in range(1, min(maxp, j) + 1):
                if j - p not in best:
                    continue
                piece = word[j - p : j]
                if piece not in lp:
                    continue
                s, n, g = best[j - p]
                cands.append(
                    (s + lp[piece][1], n + 1, piece if g == "" else g + " " + piece)
                )
            if cands:
                best[j] = max(cands, key=lambda c: (c[0], -c[1], _neg_str(c[2])))
        return best.get(len(word))

    def _neg_str(s):
        # max() with seg ASC preference: invert each char
        return tuple(-ord(ch) for ch in s)

    segs = {}
    for _ in range(em):
        segs = {w: viterbi(w) for w in words}
        u = Counter()
        for w, st in segs.items():
            if st is None:
                continue
            for piece in st[2].split(" "):
                u[piece] += words[w]
        lp = lp_of(u, vcap)
    vocab = sorted(lp.items(), key=lambda kv: (-kv[1][0], kv[0]))
    return words, lp, vocab, viterbi


def test_unigram_train_matches_python(spark, sf_dir):
    """Final vocabulary (ids, pieces, integer usage counts, 6-dp
    log-probs) must equal the pure-Python EM replay exactly."""
    from kafka_sink_azure_kusto_spark.plans import queries

    texts = pd.read_parquet(f"{sf_dir}/documents.parquet")["text"].tolist()
    _, _, vocab, _ = _py_unigram_train(texts)
    got = (
        queries()["unigram_lm_tokenizer_train"](spark, sf_dir)
        .toPandas()
        .sort_values("tid")
        .reset_index(drop=True)
    )
    assert len(got) == len(vocab)
    for i, (piece, (cnt, lp)) in enumerate(vocab):
        r = got.iloc[i]
        assert (r.tid, r.piece, r.cnt) == (i, piece, cnt)
        assert abs(r.lp - lp) < 1e-9


def test_unigram_pack_window_contract_parity(spark, sf_dir):
    """Both tokenizer families must emit the SAME window contract:
    context length 128, every non-final window per shard full,
    contiguous window ids, n_pad complementary, and the unigram token
    total = Σ per-word piece counts + one EOS per doc (pure-Python
    recount)."""
    from kafka_sink_azure_kusto_spark.plans import queries

    Q = queries()
    texts = pd.read_parquet(f"{sf_dir}/documents.parquet")
    words, lp, vocab, viterbi = _py_unigram_train(texts["text"].tolist())

    wins = {}
    for qname in ("unigram_pack_token_windows", "bpe_pack_token_windows"):
        win = Q[qname](spark, sf_dir).toPandas()
        wins[qname] = win
        assert (win.n_real + win.n_pad == 128).all(), qname
        for sh, g in win.groupby("shard"):
            g = g.sort_values("window_id")
            assert list(g.window_id) == list(range(len(g))), qname
            assert (g.n_real.iloc[:-1] == 128).all(), qname

    # exact token accounting for the unigram arm (reuse the frame —
    # re-running the query would re-run the whole EM pipeline)
    npieces = {w: (st[1] if st else 1) for w, st in
               ((w, viterbi(w)) for w in words)}
    total = 0
    for r in texts.itertuples(index=False):
        toks = [w for w in r.text.split(" ") if w]
        total += sum(npieces.get(w, 1) for w in toks) + 1  # + EOS
    assert int(wins["unigram_pack_token_windows"].n_real.sum()) == total


# ----------------------------------------------- IVF-PQ code upsert


def test_ivfpq_code_upsert_cell_move(spark, sf_dir, tmp_path):
    """The composite kernel's distinguishing hazard: a re-delivered
    vector claiming a NEW cell must vanish from its old cell (no
    duplicate vec_id across cells) — plus the usual store invariant
    against numpy ground truth and tombstone handling."""
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        ivfpq_code_upsert,
        pq_encode,
    )

    dbl, ids, raw = _dbl(spark, sf_dir)
    cb, cbook = _codebook_df(spark, ids, raw)
    idx_dir = str(tmp_path / "codes")

    # seed: everyone in cell = vec_id % 5
    seed = dbl.withColumn("cell", (F.col("vec_id") % 5).cast("int"))
    pq_encode(seed, cb, 8, 8, vec_col="v").join(
        seed.select("vec_id", "cell"), "vec_id"
    ).select("vec_id", "m", "code", "qerr", "cell").write.partitionBy(
        "cell"
    ).parquet(idx_dir)

    # batch: ids %7==0 move to cell 9 with a +1.0 re-embed; ids %11==3
    # tombstone; within-batch conflict for id 21 (move at seq 0, then
    # tombstone at seq 1 — the tombstone must win)
    plus1 = F.expr("transform(v, x -> x + CAST(1.0 AS DOUBLE))")
    moved = (
        dbl.filter(F.col("vec_id") % 7 == 0)
        .withColumn("v", plus1)
        .withColumn("cell", F.lit(9).cast("int"))
        .withColumn("seq", F.lit(0))
    )
    tombs = (
        dbl.filter(F.col("vec_id") % 11 == 3)
        .withColumn("v", F.lit(None).cast("array<double>"))
        .withColumn("cell", (F.col("vec_id") % 5).cast("int"))
        .withColumn("seq", F.lit(1))
    )
    extra_tomb = (
        dbl.filter(F.col("vec_id") == 21)
        .withColumn("v", F.lit(None).cast("array<double>"))
        .withColumn("cell", F.lit(9).cast("int"))
        .withColumn("seq", F.lit(1))
    )
    st = ivfpq_code_upsert(
        moved.unionByName(tombs).unionByName(extra_tomb),
        cb, idx_dir, 8, 8, cell_col="cell", seq_col="seq",
    )
    assert st["batch_rows"] > 0

    store = spark.read.parquet(idx_dir).toPandas()
    # no duplicate (vec_id, m) anywhere — a surviving old-cell row
    # after a move would show up here
    assert not store.duplicated(["vec_id", "m"]).any()

    gone = {int(i) for i in ids if i % 11 == 3} | {21}
    movedids = {int(i) for i in ids if i % 7 == 0} - gone
    vecs = raw.copy()
    sel = np.isin(ids, sorted(movedids))
    vecs[sel] += 1.0
    codes, _ = _np_codes(vecs, cbook, 8, 8)
    bycell = store.groupby("vec_id")["cell"].nunique()
    assert (bycell == 1).all()
    cellmap = store.drop_duplicates("vec_id").set_index("vec_id")["cell"]
    codemap = store.set_index(["vec_id", "m"])["code"]
    for i, vid in enumerate(ids):
        vid = int(vid)
        if vid in gone:
            assert vid not in cellmap.index
            continue
        assert cellmap[vid] == (9 if vid in movedids else vid % 5)
        for mm in range(8):
            assert codemap[(vid, mm)] == codes[i, mm], (vid, mm)


def test_pq_retrain_improves_every_subspace(spark, sf_dir):
    """The retrain audit's reason to exist: k-means retrained on the
    drifted corpus must beat the stale pre-drift codebook — here in
    every subspace (the +1.0 shift moves every dimension)."""
    from kafka_sink_azure_kusto_spark.plans import queries

    got = queries()["pq_retrain_improvement_audit"](spark, sf_dir).toPandas()
    assert len(got) == 8
    assert got["improved"].all()
    assert (got["retrained_mqerr"] < got["stale_mqerr"]).all()


def test_code_store_survives_full_emptying(spark, tmp_path):
    """A store whose every row was tombstoned must behave like a
    first-run store on the next batch (the directory + _SUCCESS marker
    survive the partition deletes) — treating it as an existing store
    bricks every subsequent upsert with an unreadable-parquet error,
    while a store with actual unreadable DATA must still fail loudly."""
    from pyspark.sql import functions as F

    from kafka_sink_azure_kusto_spark.functions.similarity import (
        mih_code_upsert,
        pq_code_upsert,
    )

    cb = spark.createDataFrame(
        [(m, c, [float(c), float(m)]) for m in range(2) for c in range(2)],
        "m int, code long, c array<double>",
    )
    live = spark.createDataFrame(
        [(1, [1.0, -1.0, 0.5, 0.25]), (2, [-1.0, 1.0, 0.25, 0.5])],
        "vec_id long, v array<double>",
    ).withColumn("seq", F.lit(0))
    dead = live.withColumn("v", F.lit(None).cast("array<double>")).withColumn(
        "seq", F.lit(1)
    )

    pq_dir = str(tmp_path / "pq")
    pq_code_upsert(live, cb, pq_dir, 2, 2, n_blocks=4, seq_col="seq")
    st = pq_code_upsert(dead, cb, pq_dir, 2, 2, n_blocks=4, seq_col="seq")
    assert st["emptied_blocks"] == 2
    # fully emptied → next batch must re-seed, not crash
    st2 = pq_code_upsert(live, cb, pq_dir, 2, 2, n_blocks=4, seq_col="seq")
    assert st2["batch_rows"] == 2
    assert spark.read.parquet(pq_dir).count() == 4  # 2 ids × 2 subspaces

    mih_dir = str(tmp_path / "mih")
    big = spark.createDataFrame(
        [(1, [1.0] * 64), (2, [-1.0] * 64)], "vec_id long, v array<double>"
    ).withColumn("seq", F.lit(0))
    bigdead = big.withColumn("v", F.lit(None).cast("array<double>")).withColumn(
        "seq", F.lit(1)
    )
    mih_code_upsert(big, mih_dir, n_blocks=4, seq_col="seq")
    mih_code_upsert(bigdead, mih_dir, n_blocks=4, seq_col="seq")
    st3 = mih_code_upsert(big, mih_dir, n_blocks=4, seq_col="seq")
    assert st3["batch_rows"] == 2
    assert spark.read.parquet(mih_dir).count() == 2


def test_pq_adc_topk_half_specified_cell_raises(spark):
    """Setting only one of codes_cell_col/query_cell_col must raise —
    silently skipping the cell prune would score every query against
    ALL cells."""
    import pytest

    from kafka_sink_azure_kusto_spark.functions.similarity import pq_adc_topk

    cb = spark.createDataFrame(
        [(0, 0, [0.0, 0.0])], "m int, code long, c array<double>"
    )
    codes = spark.createDataFrame(
        [(1, 0, 0, 0)], "vec_id long, m int, code long, cell int"
    )
    q = spark.createDataFrame([(2, [1.0, 1.0])], "vec_id long, v array<double>")
    with pytest.raises(ValueError, match="together"):
        pq_adc_topk(codes, q, cb, 1, 2, query_vec_col="v",
                    codes_cell_col="cell")

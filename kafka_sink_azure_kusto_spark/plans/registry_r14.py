"""Round-14 registry queries — the serving compositions VERDICT r13
ranked:

- **IVF-PQ serving pipeline** (next-round #2): ``ivfpq_serving_pipeline``
  wires the three gated pieces into ONE production read — TRAINED
  codebook (``pq_train``, the pq_codebook_train trainer, replacing the
  frozen first-16 stand-in that capped the r13 nprobe story's absolute
  recall) → nprobe={_SV_PROBE} probed cells against the cell-partitioned
  code store → bounded ADC shortlist → EXACT full-vector rerank.
  ``ivfpq_serving_recall_audit`` prices the shortlist budget against
  final recall as exact integers, with the probed-cells ceiling row
  showing where the curve saturates.
- **Vocab-store serving read** (next-round #5):
  ``vocab_store_incremental_encode`` encodes a FRESH batch against the
  live vocabulary store the streaming loop maintains — the tokenizer
  analog of ``ivfpq_nprobe_search`` serving off the PQ code store.

Reference parity note: the reference sink (kafka-sink-azure-kusto) has
no ANN/tokenizer surface; these are north-star additions per SURVEY
§7.3.6, DuckDB oracles generated from the same loops and constants as
the Spark plans.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_sink_azure_kusto_spark.plans.registry import (
    _workdir,
    memo_substrate,
    register,
)
from kafka_sink_azure_kusto_spark.plans.registry_r10 import _cos
from kafka_sink_azure_kusto_spark.plans.registry_r12 import (
    _HL_BOOST,
    _PQ_CODES,
    _PQ_M,
    _PQ_SQL_D2,
    _PQ_SUB,
    _PT_ITERS,
    _PT_ROUND,
    _hl_corpus,
    _pq_codes_sql,
    _pq_kmeans_ctes,
    _ul_dp_ctes,
)
from kafka_sink_azure_kusto_spark.plans.registry_r13 import (
    _VB_CAP,
    _VB_MAXP,
    _VB_MAXW,
    _VB_MUT,
    _run_vocab_stream_loop,
)
from kafka_sink_azure_kusto_spark.sources.tables import load_table

# =====================================================================
# IVF-PQ serving pipeline (VERDICT r13 #2): trained codebook → nprobe
# ADC shortlist → exact rerank, composed into one read. Corpus = the
# label-BOOSTED embeddings (the hierarchical family's fixture — cells
# must be real clusters for IVF pruning to mean anything; the r13
# nprobe gates measured the raw near-isotropic corpus and were honest
# about the resulting low absolute recall). Cells = label (the
# streaming_ivfpq convention), coarse centroids = 6-dp per-cell means.

_SV_NQ = 8          # probe queries: vec_id < 8 (corpus members)
_SV_K = 10          # final depth
_SV_PROBE = 4       # probed cells per query (of 10)
_SV_SHORT = 32      # ADC shortlist per query — 3.2×k, the bounded
#   rerank budget of the GATED pipeline read. Measured (trained
#   codebook, nprobe=4): sf0.01 hits 33/50/70/80/80 of 80 at budgets
#   10/16/32/96/192 (ceiling 80/80); sf0.1 hits 23/33/44/68/80
#   (ceiling 80/80). The scale-invariant rule the audit prices:
#   reranking ≈1/8 of the EXPOSED candidates (probed cells × cell
#   size: 32/200 at sf0.01, 96/800 at sf0.1) recovers ≥80% — recall
#   at a FIXED budget decays as cells densify, and the decay is
#   entirely quantization-side (the ceiling row stays full), so the
#   budget knob — not nprobe — is what a denser corpus turns.
_SV_BUDGETS = (10, 16, 32, 96, 192)  # audit arms (10 ≡ no-rerank ADC)

_SV_CORPUS_SQL = f"""
    e AS MATERIALIZED (
      SELECT vec_id, label,
             list_transform(range(1, len(embedding) + 1),
                            i -> embedding[i]::DOUBLE
                                 + CASE WHEN (i - 1) % 10 = label
                                        THEN {_HL_BOOST} ELSE 0.0 END) AS v
      FROM embeddings)"""


def _sv_base_sql() -> str:
    """Shared CTE chain: boosted corpus → TRAINED codebook (the
    pq_codebook_train k-means twin, prefix t_) → corpus codes →
    6-dp cell centroids → probed cells (nprobe={_SV_PROBE}) → ADC
    distances over only the probed cells."""
    kmeans = ",\n    ".join(_pq_kmeans_ctes("t_", "e"))
    return f"""{_SV_CORPUS_SQL},
    {kmeans},
    cb AS MATERIALIZED (SELECT m, code, c FROM t_cb{_PT_ITERS}),
    {_pq_codes_sql("e")},
    pd AS (SELECT label AS cell, unnest(range(1, len(v) + 1)) AS i, v
           FROM e),
    cd AS (SELECT cell, i, AVG(v[i]) AS m FROM pd GROUP BY cell, i),
    cent AS MATERIALIZED (SELECT cell, list(round(m, 6) ORDER BY i)
                          AS centroid FROM cd GROUP BY cell),
    qv AS MATERIALIZED (SELECT vec_id AS query_id, v AS qvec FROM e
                        WHERE vec_id < {_SV_NQ}),
    qcall AS (SELECT query_id, cell,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY {_cos("qvec", "c.centroid")} DESC,
                                c.cell ASC) AS cr
              FROM qv CROSS JOIN cent c),
    qc AS (SELECT query_id, cell FROM qcall WHERE cr <= {_SV_PROBE}),
    q AS (SELECT vec_id AS query_id, ms.m AS m,
                 v[ms.m*{_PQ_SUB}+1 : ms.m*{_PQ_SUB}+{_PQ_SUB}] AS sv
          FROM e CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS m) ms
          WHERE vec_id < {_SV_NQ}),
    dtab AS (SELECT s.query_id, s.m, cb.code, {_PQ_SQL_D2} AS qd
             FROM q s JOIN cb ON s.m = cb.m),
    adc AS (SELECT d.query_id, c.vec_id AS neighbor_id,
                   round(SUM(d.qd), 6) AS adc_d2
            FROM codes c
            JOIN e l ON c.vec_id = l.vec_id
            JOIN qc p ON l.label = p.cell
            JOIN dtab d ON c.m = d.m AND c.code = d.code
                        AND d.query_id = p.query_id
            WHERE d.query_id <> c.vec_id
            GROUP BY 1, 2)"""


def _sv_rerank_sql(short_cte: str, tag: str) -> str:
    """Exact-L2² rerank CTE over a (query_id, neighbor_id) shortlist."""
    return f"""
    {tag} AS (SELECT s.query_id, s.neighbor_id,
               list_sum(list_transform(range(1, len(qv.qvec) + 1),
                        i -> (qv.qvec[i] - c.v[i])
                           * (qv.qvec[i] - c.v[i]))) AS d2
        FROM {short_cte} s JOIN e c ON s.neighbor_id = c.vec_id
                           JOIN qv ON s.query_id = qv.query_id)"""


_SV_PIPELINE_ORACLE = f"""
    WITH {_sv_base_sql()},
    short AS (SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc_d2 ASC,
                                           neighbor_id ASC) AS rnk
        FROM adc) WHERE rnk <= {_SV_SHORT}),
    {_sv_rerank_sql("short", "rrd")}
    SELECT query_id, neighbor_id, ROUND(d2, 6) AS d2,
           CAST(rnk AS BIGINT) AS rank
    FROM (SELECT query_id, neighbor_id, d2,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY d2 ASC,
                                             neighbor_id ASC) AS rnk
          FROM rrd) WHERE rnk <= {_SV_K}
"""


@memo_substrate
def _sv_base(spark: SparkSession, sf_dir: str):
    """Shared serving BASE, memoized per process: boosted corpus, 6-dp
    cell centroids, full-precision queries. Split out of `_sv_store`
    (r15) so the RESIDUAL pipelines — which never read the plain code
    store — stop paying the plain train→encode→write chain just to get
    the centroids and queries."""
    from kafka_sink_azure_kusto_spark.functions import similarity as S

    dbl, _ = _hl_corpus(spark, sf_dir)
    cents = S.cell_centroids(dbl, cell_col="label", vec_col="v").select(
        "cell",
        F.transform("centroid", lambda x: F.round(x, 6)).alias("centroid"),
    ).localCheckpoint()
    queries = dbl.filter(F.col("vec_id") < _SV_NQ).localCheckpoint()
    return dbl, cents, queries


@memo_substrate
def _sv_store(spark: SparkSession, sf_dir: str):
    """Serving substrate, memoized per process (shared by the pipeline
    gate and the recall audit, same policy as _np_store): the serving
    base above + the TRAINED codebook (pq_train, {_PT_ITERS} Lloyd
    iterations, {_PT_ROUND}-dp-quantized updates — the pq_codebook_train
    recipe) and the cell-partitioned code store written to parquet and
    READ BACK (cell pruning happens at the scan)."""
    from kafka_sink_azure_kusto_spark.functions import similarity as S

    dbl, _ = _hl_corpus(spark, sf_dir)
    store = os.path.join(_workdir("sv_codes_"), "codes")
    cb = S.pq_train(
        dbl, _PQ_M, _PQ_SUB, num_codes=_PQ_CODES, iters=_PT_ITERS,
        vec_col="v", round_means=_PT_ROUND,
    ).localCheckpoint()
    (
        S.pq_encode(dbl, cb, _PQ_M, _PQ_SUB, vec_col="v")
        .join(
            F.broadcast(dbl.select("vec_id", F.col("label").alias("cell"))),
            "vec_id",
        )
        .select("vec_id", "m", "code", "cell")
        .write.partitionBy("cell")
        .parquet(store)
    )
    _, cents, queries = _sv_base(spark, sf_dir)
    codes = spark.read.parquet(store)
    return dbl, cb, codes, cents, queries


@register("ivfpq_serving_pipeline", _SV_PIPELINE_ORACLE)
def ivfpq_serving_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE IVF-PQ serving read (VERDICT r13 #2), three gated
    pieces composed: (1) `functions/similarity.pq_train` — the real
    k-means codebook, not the frozen stand-in that capped the r13
    nprobe recall; (2) `multiprobe_cells` + `pq_adc_topk(query_cells=)`
    — nprobe={_SV_PROBE} asymmetric-distance shortlist of {_SV_SHORT}
    per query against the cell-PARTITIONED code store (scan prunes to
    probed cells; every scanned vector is 8 code bytes); (3)
    `rerank_topk(metric='l2sq')` — exact squared-L2 on ONLY the
    shortlist pairs (full vectors fetched by equi-join, queries
    broadcast). At 100 TB this is the read path: codebook and probed
    relation broadcast, code store scanned cell-pruned, raw vectors
    touched for queries×{_SV_SHORT} rows only. Oracle replays trainer,
    encoder, probe, ADC, and rerank from the same loops."""
    from kafka_sink_azure_kusto_spark.functions import similarity as S

    dbl, cb, codes, cents, queries = _sv_store(spark, sf_dir)
    qdf = queries.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qvec")
    )
    qcells = S.multiprobe_cells(qdf, cents, _SV_PROBE)
    short = S.pq_adc_topk(
        codes, queries, cb, _PQ_M, _PQ_SUB, k=_SV_SHORT,
        query_vec_col="v", codes_cell_col="cell", query_cells=qcells,
    ).select("query_id", "neighbor_id")
    out = S.rerank_topk(
        short, dbl, queries, k=_SV_K,
        vec_col="v", query_vec_col="v", metric="l2sq",
    )
    return out.select(
        "query_id", "neighbor_id",
        F.round("d2", 6).alias("d2"),
        F.col("rank").cast("bigint").alias("rank"),
    )


def _sv_audit_oracle() -> str:
    ctes: list[str] = [
        f"""gt AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
        SELECT qv.query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY qv.query_id
                 ORDER BY list_sum(list_transform(
                            range(1, len(qv.qvec) + 1),
                            i -> (qv.qvec[i] - c.v[i])
                               * (qv.qvec[i] - c.v[i]))) ASC,
                          c.vec_id ASC) AS rnk
        FROM qv JOIN e c ON c.vec_id <> qv.query_id)
        WHERE rnk <= {_SV_K})""",
        "tot AS (SELECT COUNT(*) AS n_possible FROM gt)",
        """ceil_h AS (SELECT COUNT(*) AS n_hits
          FROM gt g JOIN e l ON g.neighbor_id = l.vec_id
          WHERE EXISTS (SELECT 1 FROM qc p
                        WHERE p.query_id = g.query_id
                          AND p.cell = l.label))""",
    ]
    for b in _SV_BUDGETS:
        ctes += [
            f"""sh{b} AS (SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY adc_d2 ASC,
                                               neighbor_id ASC) AS rnk
            FROM adc) WHERE rnk <= {b})""",
            _sv_rerank_sql(f"sh{b}", f"rr{b}").lstrip(",\n "),
            f"""top{b} AS (SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY d2 ASC,
                                               neighbor_id ASC) AS rnk
            FROM rr{b}) WHERE rnk <= {_SV_K})""",
            f"""hit{b} AS (SELECT COUNT(*) AS n_hits FROM gt
            WHERE EXISTS (SELECT 1 FROM top{b} r
                          WHERE r.query_id = gt.query_id
                            AND r.neighbor_id = gt.neighbor_id))""",
        ]
    arm_rows = "\n    UNION ALL\n".join(
        f"""SELECT 'rerank_top{_SV_K}' AS arm,
           CAST({b} AS BIGINT) AS shortlist, hit{b}.n_hits,
           tot.n_possible,
           ROUND(hit{b}.n_hits / CAST(tot.n_possible AS DOUBLE), 6)
             AS recall
    FROM hit{b}, tot"""
        for b in _SV_BUDGETS
    )
    return f"""
    WITH {_sv_base_sql()},
    {",".join(ctes)}
    SELECT 'probed_cells_ceiling' AS arm, CAST(NULL AS BIGINT) AS shortlist,
           ceil_h.n_hits, tot.n_possible,
           ROUND(ceil_h.n_hits / CAST(tot.n_possible AS DOUBLE), 6)
             AS recall
    FROM ceil_h, tot
    UNION ALL
    {arm_rows}
"""


@register("ivfpq_serving_recall_audit", _sv_audit_oracle())
def ivfpq_serving_recall_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """What does the rerank budget BUY, end to end? The composed
    pipeline (trained codebook, nprobe={_SV_PROBE}) runs at shortlist
    ∈ {_SV_BUDGETS}, each arm's final top-{_SV_K} graded as EXACT
    INTEGER hits against brute-force L2² ground truth; shortlist
    {_SV_K} ≡ the raw ADC result set (reranking exactly k rows cannot
    change the set), so the first row IS the no-rerank baseline. The
    ``probed_cells_ceiling`` row counts ground-truth neighbors inside
    the probed cells — the recall any shortlist can reach, separating
    quantization loss (recoverable by rerank budget) from routing loss
    (recoverable only by nprobe). Measured: sf0.01 ceiling 80/80, hits
    33 → 50 → 70 → 80 → 80 of 80 at budgets {_SV_BUDGETS}; sf0.1
    ceiling 80/80, hits 23 → 33 → 44 → 68 → 80. The ≥80% done-bar
    (VERDICT r13 #2) is met by budget {_SV_SHORT} at sf0.01 and 96 at
    sf0.1 — ≈1/8 of the exposed candidates in both cases, the
    scale-invariant knob (see _SV_SHORT note); the full-ceiling rows
    prove the residual gap is entirely quantization-side, none of it
    routing."""
    from kafka_sink_azure_kusto_spark.functions import similarity as S

    dbl, cb, codes, cents, queries = _sv_store(spark, sf_dir)
    qdf = queries.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qvec")
    )
    gt = S.brute_force_topk(
        dbl, queries, k=_SV_K, vec_col="v", query_vec_col="v", metric="l2sq"
    ).select("query_id", "neighbor_id").localCheckpoint()
    qcells = S.multiprobe_cells(qdf, cents, _SV_PROBE).localCheckpoint()
    cell_of = dbl.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("cell")
    )
    rows = S.recall_arm(
        [
            F.lit("probed_cells_ceiling").alias("arm"),
            F.lit(None).cast("bigint").alias("shortlist"),
        ],
        gt, qcells.join(cell_of, "cell"), ["query_id", "neighbor_id"],
    )
    short_max = S.pq_adc_topk(
        codes, queries, cb, _PQ_M, _PQ_SUB, k=max(_SV_BUDGETS),
        query_vec_col="v", codes_cell_col="cell", query_cells=qcells,
    ).select("query_id", "neighbor_id", "rank").localCheckpoint()
    for b in _SV_BUDGETS:
        res = S.rerank_topk(
            short_max.filter(F.col("rank") <= b), dbl, queries,
            k=_SV_K, vec_col="v", query_vec_col="v", metric="l2sq",
        )
        rows = rows.unionByName(S.recall_arm(
            [
                F.lit(f"rerank_top{_SV_K}").alias("arm"),
                F.lit(b).cast("bigint").alias("shortlist"),
            ],
            gt, res, ["query_id", "neighbor_id"],
        ))
    return rows


# =====================================================================
# vocab-store serving read (VERDICT r13 #5): the maintenance loop
# persists the doc store + registers and retrains the vocabulary from
# registers; this gate ENCODES a fresh batch against that live,
# post-retrain vocabulary store — the tokenizer analog of
# ivfpq_nprobe_search serving off the PQ code store. The encode reads
# ONLY the persisted vocab parquet (vocabulary-sized) and the batch —
# never the corpus, never the doc store.

# fresh batch: a deterministic slice disjoint from nothing in
# particular (it is a READ, not an upsert), drawn from the drifted
# distribution the retrain just covered: doc_id % 25 == 7, with the
# loop's vowel mutation applied to the re-embedded % 9 == 0 docs.
_VE_FRESH_MOD = 25
_VE_FRESH_OFF = 7


def _ve_oracle() -> str:
    # The retrained vocabulary, replayed closed-form: top-_VB_CAP
    # substring pieces (by weighted count) of the FINAL surviving
    # corpus histogram, log-probs over the retained set — the same
    # lp_table(seed_substring_counts(...)) recipe the loop persists.
    ctes = [
        f"""finalc AS (SELECT doc_id,
            CASE WHEN doc_id % 9 = 0 THEN {_VE_MUT} ELSE text END AS text
        FROM documents WHERE doc_id % 15 <> 0)""",
        f"""fw AS MATERIALIZED (
        SELECT word, CAST(length(word) AS INT) AS wlen,
               CAST(COUNT(*) AS BIGINT) AS wcnt
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM finalc)
        WHERE word <> '' GROUP BY word
        HAVING length(word) <= {_VB_MAXW})""",
        f"""vsc AS (SELECT piece, CAST(SUM(wcnt) AS BIGINT) AS cnt FROM (
        SELECT substring(word, ii.i, pp.p) AS piece, wcnt
        FROM fw
        CROSS JOIN LATERAL (SELECT unnest(range(1, wlen + 1)) AS i) ii
        CROSS JOIN LATERAL (SELECT unnest(range(1,
            least({_VB_MAXP}, wlen - ii.i + 1) + 1)) AS p) pp
        ) GROUP BY piece)""",
        f"""vtop AS MATERIALIZED (SELECT piece, cnt FROM vsc
        ORDER BY cnt DESC, piece ASC LIMIT {_VB_CAP})""",
        """vlp AS MATERIALIZED (SELECT piece, cnt,
        ROUND(ln(cnt / (SELECT CAST(SUM(cnt) AS DOUBLE) FROM vtop)), 6)
          AS lp FROM vtop)""",
        """vocab AS MATERIALIZED (SELECT
        CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, piece ASC) - 1 AS INT)
          AS tid, piece FROM vlp)""",
        f"""fresh AS (SELECT doc_id,
            CASE WHEN doc_id % 9 = 0 THEN {_VE_MUT} ELSE text END AS text
        FROM documents
        WHERE doc_id % {_VE_FRESH_MOD} = {_VE_FRESH_OFF})""",
        f"""w0 AS MATERIALIZED (SELECT word,
               CAST(length(word) AS INT) AS wlen
        FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS word
              FROM fresh)
        WHERE word <> '' AND length(word) <= {_VB_MAXW})""",
    ]
    ctes += _ul_dp_ctes("e", "vlp", maxw=_VB_MAXW, maxp=_VB_MAXP)
    ctes += [
        """wid AS MATERIALIZED (SELECT word, list(tid ORDER BY ppos) AS wids
        FROM (SELECT word, pp.p - 1 AS ppos, pieces[pp.p] AS piece
              FROM (SELECT word, string_split(seg, ' ') AS pieces FROM sege)
              CROSS JOIN LATERAL (SELECT unnest(range(1, len(pieces) + 1))
                                  AS p) pp)
        JOIN vocab USING (piece) GROUP BY word)""",
        """dt AS (SELECT doc_id, g.i AS pos, ws[g.i + 1] AS word
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM fresh)
        CROSS JOIN LATERAL (SELECT unnest(range(0, len(ws))) AS i) g
        WHERE ws[g.i + 1] <> '')""",
        f"""ids AS (SELECT dt.doc_id, dt.pos,
        COALESCE(w.wids, [{_VB_CAP}::INT]) AS wids
        FROM dt LEFT JOIN wid w USING (word))""",
        """wpos AS (SELECT doc_id, wids,
        COALESCE(SUM(len(wids)) OVER (PARTITION BY doc_id
            ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
            AND 1 PRECEDING), 0) AS wstart
        FROM ids)""",
    ]
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT doc_id, CAST(wstart + g.i AS BIGINT) AS tpos,
           CAST(wids[g.i + 1] AS INT) AS tid
    FROM wpos CROSS JOIN LATERAL (SELECT unnest(range(0, len(wids)))
                                  AS i) g"""
    )


_VE_MUT = _VB_MUT  # the loop's drift mutation, reused verbatim


@register("vocab_store_incremental_encode", _ve_oracle())
def vocab_store_incremental_encode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SERVING read of the live tokenizer vocabulary (VERDICT r13 #5):
    a fresh document batch (doc_id % {_VE_FRESH_MOD} ==
    {_VE_FRESH_OFF}, drawn from the drifted distribution) is encoded
    against the vocabulary the streaming loop RETRAINED AND PERSISTED
    (`_run_vocab_stream_loop` — retrain consumed only the merged
    histogram registers). The read touches exactly two inputs: the
    batch and the persisted vocab parquet (≤ {_VB_CAP} rows, broadcast
    into the Viterbi kernel as a dict) — never the corpus, never the
    doc store; per-batch cost is |batch| + |vocab|, the same serving
    discipline as `ivfpq_nprobe_search` off the PQ code store.
    Pipeline: `unigram.viterbi_segment` (bounded DP, mapInPandas) over
    the batch's distinct words → tids by the vocabulary's (cnt DESC,
    piece ASC) rank → `unigram.unigram_encode` (UNK = {_VB_CAP} for
    unsegmentable/over-long words), exploded to (doc_id, tpos, tid)
    scalar rows for the gate. Oracle: the closed-form final-corpus
    vocabulary + the unrolled Viterbi DP + the same id/posision
    algebra, generated from the shared loops."""
    from kafka_sink_azure_kusto_spark.functions import unigram as U

    _, _, vocab_dir = _run_vocab_stream_loop(spark, sf_dir)
    lp = spark.read.parquet(vocab_dir)  # the ONLY store-side input
    wid = Window.orderBy(F.col("cnt").desc(), F.col("piece").asc())
    vocab = lp.withColumn(
        "tid", (F.row_number().over(wid) - 1).cast("int")
    ).select("tid", "piece")

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fresh = docs.filter(
        F.col("doc_id") % _VE_FRESH_MOD == _VE_FRESH_OFF
    ).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 9 == 0,
            F.translate(F.col("text"), "aeiou", "zzzzz"),
        ).otherwise(F.col("text")),
    )
    words = (
        fresh.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
        .withColumn("wlen", F.length("word").cast("int"))
        .filter(F.col("wlen") <= _VB_MAXW)
    )
    segs = U.viterbi_segment(words, lp, _VB_MAXW, _VB_MAXP)
    enc = U.unigram_encode(fresh, vocab, segs, unk_id=_VB_CAP)
    return enc.select(
        "doc_id", F.posexplode("token_ids").alias("tpos", "tid")
    ).select(
        "doc_id",
        F.col("tpos").cast("bigint").alias("tpos"),
        F.col("tid").cast("int").alias("tid"),
    )


# =====================================================================
# residual IVF-PQ serving (r14 second wave): the audit above shows the
# entire recall gap at fixed budget is QUANTIZATION-side — and residual
# encoding (FAISS IndexIVFPQ: train/encode PQ on v − centroid[cell],
# per-probed-cell query residuals at search) is the standard lever for
# exactly that loss. Same probing, same budgets, same rerank — only the
# code space changes — so the gain audit is apples-to-apples.

_RS_BUDGETS = (10, 32, 96)   # gain-audit arms (subset of _SV_BUDGETS)

@memo_substrate
def _rs_store(spark: SparkSession, sf_dir: str):
    """Residual serving substrate (memoized): residual corpus against
    the 6-dp cell centroids, pq_train on RESIDUALS, cell-partitioned
    residual code store written + read back."""
    from kafka_sink_azure_kusto_spark.functions import similarity as S

    # r15: only the BASE (corpus, centroids, queries) is needed — the
    # plain code store this used to build via _sv_store is never read
    # by the residual pipelines
    dbl, cents, queries = _sv_base(spark, sf_dir)
    rcorp = S.with_residuals(
        dbl.select("vec_id", F.col("label").alias("cell"), "v"),
        cents, vec_col="v",
    ).localCheckpoint()
    cb = S.pq_train(
        rcorp, _PQ_M, _PQ_SUB, num_codes=_PQ_CODES, iters=_PT_ITERS,
        vec_col="v", round_means=_PT_ROUND,
    ).localCheckpoint()
    store = os.path.join(_workdir("rs_codes_"), "codes")
    (
        S.pq_encode(rcorp, cb, _PQ_M, _PQ_SUB, vec_col="v")
        .join(F.broadcast(rcorp.select("vec_id", "cell")), "vec_id")
        .select("vec_id", "m", "code", "cell")
        .write.partitionBy("cell")
        .parquet(store)
    )
    codes = spark.read.parquet(store)
    return dbl, cb, codes, cents, queries


def _rs_base_sql() -> str:
    """Residual-side CTE chain on top of the plain chain: residual
    corpus er → trained residual codebook (prefix r2_, aliased r_cb) →
    residual codes → per-(query, probed-cell) residual distance tables
    → residual ADC over only the probed cells."""
    kmeans = ",\n    ".join(_pq_kmeans_ctes("r2_", "er"))
    return f"""
    er AS MATERIALIZED (SELECT e.vec_id, e.label,
             list_transform(range(1, len(e.v) + 1),
                            i -> e.v[i] - c.centroid[i]) AS v
      FROM e JOIN cent c ON e.label = c.cell),
    {kmeans},
    r_cb AS MATERIALIZED (SELECT m, code, c FROM r2_cb{_PT_ITERS}),
    {_pq_codes_sql("er", "r_")},
    rq AS (SELECT qc.query_id, qc.cell,
                  list_transform(range(1, len(qv.qvec) + 1),
                                 i -> qv.qvec[i] - c.centroid[i]) AS rvec
           FROM qc JOIN qv USING (query_id)
                   JOIN cent c ON qc.cell = c.cell),
    rqs AS (SELECT query_id, cell, ms.m AS m,
                   rvec[ms.m*{_PQ_SUB}+1 : ms.m*{_PQ_SUB}+{_PQ_SUB}] AS sv
            FROM rq CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS m) ms),
    rdtab AS (SELECT s.query_id, s.cell, s.m, cb.code, {_PQ_SQL_D2} AS qd
              FROM rqs s JOIN r_cb cb ON s.m = cb.m),
    radc AS (SELECT d.query_id, c.vec_id AS neighbor_id,
                    round(SUM(d.qd), 6) AS adc_d2
             FROM r_codes c
             JOIN e l ON c.vec_id = l.vec_id
             JOIN rdtab d ON d.cell = l.label AND c.m = d.m
                          AND c.code = d.code
             WHERE d.query_id <> c.vec_id
             GROUP BY 1, 2)"""


_RS_PIPELINE_ORACLE = f"""
    WITH {_sv_base_sql()},
    {_rs_base_sql()},
    rshort AS (SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc_d2 ASC,
                                           neighbor_id ASC) AS rnk
        FROM radc) WHERE rnk <= {_SV_SHORT}),
    {_sv_rerank_sql("rshort", "rrr")}
    SELECT query_id, neighbor_id, ROUND(d2, 6) AS d2,
           CAST(rnk AS BIGINT) AS rank
    FROM (SELECT query_id, neighbor_id, d2,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY d2 ASC,
                                             neighbor_id ASC) AS rnk
          FROM rrr) WHERE rnk <= {_SV_K}
"""


@register("ivfpq_residual_serving_pipeline", _RS_PIPELINE_ORACLE)
def ivfpq_residual_serving_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The RESIDUAL IVF-PQ serving read — FAISS IndexIVFPQ end to end
    (`functions/similarity.with_residuals` + `pq_train` on residuals +
    `ivf_pq_residual_topk` + `rerank_topk(metric='l2sq')`): codebooks
    trained on v − centroid[cell] resolve WITHIN-cell structure that
    raw-vector PQ collapses (the cells here are real planted clusters,
    the regime where residual encoding matters most), each probed cell
    scores with its own query-residual distance table, and the exact
    rerank runs on the ORIGINAL vectors. Identical probing
    (nprobe={_SV_PROBE}), shortlist ({_SV_SHORT}), and rerank as the
    plain pipeline — `ivfpq_residual_gain_audit` prices the code-space
    change alone. Scale shape unchanged: everything query-side is
    broadcast (the residual tables are nprobe× the plain ones — still
    queries-sized), the store scan stays cell-pruned 8-byte codes."""
    from kafka_sink_azure_kusto_spark.functions import similarity as S

    dbl, cb, codes, cents, queries = _rs_store(spark, sf_dir)
    short = S.ivf_pq_residual_topk(
        codes, queries, cb, cents, _PQ_M, _PQ_SUB,
        n_probe=_SV_PROBE, k=_SV_SHORT, query_vec_col="v",
    ).select("query_id", "neighbor_id")
    out = S.rerank_topk(
        short, dbl, queries, k=_SV_K,
        vec_col="v", query_vec_col="v", metric="l2sq",
    )
    return out.select(
        "query_id", "neighbor_id",
        F.round("d2", 6).alias("d2"),
        F.col("rank").cast("bigint").alias("rank"),
    )


def _rs_audit_oracle() -> str:
    ctes: list[str] = [
        f"""gt AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
        SELECT qv.query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY qv.query_id
                 ORDER BY list_sum(list_transform(
                            range(1, len(qv.qvec) + 1),
                            i -> (qv.qvec[i] - c.v[i])
                               * (qv.qvec[i] - c.v[i]))) ASC,
                          c.vec_id ASC) AS rnk
        FROM qv JOIN e c ON c.vec_id <> qv.query_id)
        WHERE rnk <= {_SV_K})""",
        "tot AS (SELECT COUNT(*) AS n_possible FROM gt)",
    ]
    rows = []
    for enc, adc_cte in (("plain", "adc"), ("residual", "radc")):
        for b in _RS_BUDGETS:
            t = f"{enc[0]}{b}"
            ctes += [
                f"""s{t} AS (SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY adc_d2 ASC,
                                                   neighbor_id ASC) AS rnk
                FROM {adc_cte}) WHERE rnk <= {b})""",
                _sv_rerank_sql(f"s{t}", f"rr{t}").lstrip(",\n "),
                f"""t{t} AS (SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY d2 ASC,
                                                   neighbor_id ASC) AS rnk
                FROM rr{t}) WHERE rnk <= {_SV_K})""",
                f"""h{t} AS (SELECT COUNT(*) AS n_hits FROM gt
                WHERE EXISTS (SELECT 1 FROM t{t} r
                              WHERE r.query_id = gt.query_id
                                AND r.neighbor_id = gt.neighbor_id))""",
            ]
            rows.append(
                f"""SELECT '{enc}' AS encoding,
               CAST({b} AS BIGINT) AS shortlist, h{t}.n_hits,
               tot.n_possible,
               ROUND(h{t}.n_hits / CAST(tot.n_possible AS DOUBLE), 6)
                 AS recall
        FROM h{t}, tot"""
            )
    return f"""
    WITH {_sv_base_sql()},
    {_rs_base_sql()},
    {",".join(ctes)}
    {"    UNION ALL ".join(rows)}
"""


@register("ivfpq_residual_gain_audit", _rs_audit_oracle())
def ivfpq_residual_gain_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What does RESIDUAL encoding buy at a fixed serving budget? The
    plain and residual pipelines run with IDENTICAL probing
    (nprobe={_SV_PROBE}), shortlist budgets {_RS_BUDGETS}, and exact
    rerank — only the code space differs — and each arm's final
    top-{_SV_K} is graded as exact integer hits against brute-force L2²
    truth. This closes the loop the serving audit opened: it proved the
    fixed-budget recall gap is quantization loss; this audit measures
    how much of that loss the standard fix recovers, per budget, as
    integers. Measured of 80: sf0.01 plain 33/70/80 vs residual
    43/74/80 at budgets {_RS_BUDGETS}; sf0.1 plain 23/44/68 vs
    residual 27/51/72 — residual encoding wins at EVERY non-saturated
    budget at both scales (`functions/similarity.with_residuals`
    docstring's r5 claim, now end-to-end gated)."""
    from kafka_sink_azure_kusto_spark.functions import similarity as S

    dbl, pcb, pcodes, cents, queries = _sv_store(spark, sf_dir)
    qdf = queries.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qvec")
    )
    gt = S.brute_force_topk(
        dbl, queries, k=_SV_K, vec_col="v", query_vec_col="v", metric="l2sq"
    ).select("query_id", "neighbor_id").localCheckpoint()
    qcells = S.multiprobe_cells(qdf, cents, _SV_PROBE).localCheckpoint()
    _, rcb, rcodes, _, _ = _rs_store(spark, sf_dir)
    plain_short = S.pq_adc_topk(
        pcodes, queries, pcb, _PQ_M, _PQ_SUB, k=max(_RS_BUDGETS),
        query_vec_col="v", codes_cell_col="cell", query_cells=qcells,
    ).select("query_id", "neighbor_id", "rank").localCheckpoint()
    res_short = S.ivf_pq_residual_topk(
        rcodes, queries, rcb, cents, _PQ_M, _PQ_SUB,
        n_probe=_SV_PROBE, k=max(_RS_BUDGETS), query_vec_col="v",
    ).select("query_id", "neighbor_id", "rank").localCheckpoint()
    rows = None
    for enc, short in (("plain", plain_short), ("residual", res_short)):
        for b in _RS_BUDGETS:
            res = S.rerank_topk(
                short.filter(F.col("rank") <= b), dbl, queries,
                k=_SV_K, vec_col="v", query_vec_col="v", metric="l2sq",
            )
            row = S.recall_arm(
                [
                    F.lit(enc).alias("encoding"),
                    F.lit(b).cast("bigint").alias("shortlist"),
                ],
                gt, res, ["query_id", "neighbor_id"],
            )
            rows = row if rows is None else rows.unionByName(row)
    return rows

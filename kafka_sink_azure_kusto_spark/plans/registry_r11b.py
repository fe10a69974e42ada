"""Round-11 second wave — retrieval-stack closure and data-quality
gates a production corpus pipeline ships next to the engine:

- ``expectation_suite_audit`` — Deequ-style declarative data-quality
  checks (completeness / uniqueness / range / set / ordering /
  referential containment) evaluated in ONE conditional-aggregation
  pass per table.
- ``retrieval_eval_metrics`` — the retrieval scorecard (precision@k,
  recall@k, MRR, nDCG@k) over a label-relevance judgment set, graded
  per query with exact integers and 6-dp doubles.
- ``hybrid_retrieval_rrf`` — reciprocal-rank fusion of a lexical BM25
  arm and a dense cosine arm (the standard hybrid-search serving
  shape), fused ranks value-hashed.
- ``similarity_binary_hamming_topk`` — 1-bit quantization (sign bits
  packed into two 32-bit words) with multi-index-hashing candidate
  generation (8×8-bit subword equi-join — Norouzi et al.'s pigeonhole:
  any neighbor within Hamming radius < 8 shares at least one exact
  subword), Hamming popcount ranking, exact-cosine rerank.

Reference parity note: the reference sink (kafka-sink-azure-kusto) is
a delivery connector with no retrieval/eval surface; these are
north-star additions per SURVEY §7.3.6. Oracles are generated from the
same constants as the Spark plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_sink_azure_kusto_spark.functions.similarity import topk_rows
from kafka_sink_azure_kusto_spark.plans.registry import register, run_replay
from kafka_sink_azure_kusto_spark.plans.registry_r10 import _cos
from kafka_sink_azure_kusto_spark.sources.tables import load_table

# ---------------------------------------------------------------------
# expectation-suite audit (Deequ-style declarative data validation)


@register(
    "expectation_suite_audit",
    """
    WITH li AS (
      SELECT COUNT(*) AS n_rows,
             SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS c_null,
             SUM(CASE WHEN l_discount < 0.0 OR l_discount > 0.1
                      THEN 1 ELSE 0 END) AS c_range,
             SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                      THEN 1 ELSE 0 END) AS c_qty,
             SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS c_pos
      FROM lineitem),
    od AS (
      SELECT COUNT(*) AS n_rows,
             COUNT(*) - COUNT(DISTINCT o_orderkey) AS c_uniq,
             SUM(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                      THEN 1 ELSE 0 END) AS c_set,
             SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS c_pos
      FROM orders),
    rc AS (
      SELECT COUNT(*) AS n_rows,
             SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS c_ref,
             SUM(CASE WHEN o.o_orderdate > l.l_shipdate
                      THEN 1 ELSE 0 END) AS c_time
      FROM lineitem l
      LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey),
    checks AS (
      SELECT 'completeness(l_quantity)' AS check_name,
             'lineitem' AS dataset, n_rows, c_null AS n_violations FROM li
      UNION ALL SELECT 'range(l_discount,0.0,0.1)', 'lineitem',
             n_rows, c_range FROM li
      UNION ALL SELECT 'range(l_quantity,1,50)', 'lineitem',
             n_rows, c_qty FROM li
      UNION ALL SELECT 'positive(l_extendedprice)', 'lineitem',
             n_rows, c_pos FROM li
      UNION ALL SELECT 'uniqueness(o_orderkey)', 'orders',
             n_rows, c_uniq FROM od
      UNION ALL SELECT 'in_set(o_orderstatus)', 'orders',
             n_rows, c_set FROM od
      UNION ALL SELECT 'positive(o_totalprice)', 'orders',
             n_rows, c_pos FROM od
      UNION ALL SELECT 'containment(l_orderkey in orders)', 'lineitem',
             n_rows, c_ref FROM rc
      UNION ALL SELECT 'ordering(o_orderdate<=l_shipdate)', 'lineitem',
             n_rows, c_time FROM rc)
    SELECT check_name, dataset,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_violations AS BIGINT) AS n_violations,
           CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS INT) AS passed,
           ROUND(n_violations / CAST(n_rows AS DOUBLE), 6) AS violation_rate
    FROM checks
    """,
)
def expectation_suite_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectation suite (the Deequ /
    Great-Expectations shape): completeness, value range, cross-column
    ordering, and positivity over ``lineitem``; key uniqueness, value
    set, and positivity over ``orders``; referential containment of
    ``l_orderkey`` in ``orders``. Every per-table family evaluates in
    ONE conditional-aggregation scan (the single aggregate row unpivots
    to check rows via ``stack`` — no per-check passes; at 100 TB each
    extra pass is a full-table read), and the containment + temporal
    checks share ONE left join. Output is the audit artifact: one row
    per check with exact violation counts and a passed flag."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")

    def unpivot(agg_row: DataFrame, dataset: str, pairs: list[tuple[str, str]]) -> DataFrame:
        # one aggregate row → one check row per counter, via stack (the
        # table is scanned ONCE regardless of how many checks it hosts)
        stack_args = ", ".join(f"'{name}', {col}" for name, col in pairs)
        return agg_row.select(
            F.expr(
                f"stack({len(pairs)}, {stack_args}) AS (check_name, nv)"
            ),
            F.lit(dataset).alias("dataset"),
            F.col("n_rows"),
        ).select(
            "check_name",
            "dataset",
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col("nv").cast("bigint").alias("n_violations"),
        )

    li_agg = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("l_quantity").isNull(), 1).otherwise(0)).alias("c_null"),
        F.sum(
            F.when(
                (F.col("l_discount") < 0.0) | (F.col("l_discount") > 0.1), 1
            ).otherwise(0)
        ).alias("c_range"),
        F.sum(
            F.when(
                (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1
            ).otherwise(0)
        ).alias("c_qty"),
        F.sum(F.when(F.col("l_extendedprice") <= 0, 1).otherwise(0)).alias("c_pos"),
    )
    od_agg = od.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("c_uniq"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1).otherwise(0)
        ).alias("c_set"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias("c_pos"),
    )
    # referential containment + cross-table temporal ordering share ONE
    # left join (orders' key side is the small/broadcastable side)
    j = li.select("l_orderkey", "l_shipdate").join(
        od.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "left",
    )
    rc = j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias(
            "c_ref"
        ),
        F.sum(
            F.when(F.col("o_orderdate") > F.col("l_shipdate"), 1).otherwise(0)
        ).alias("c_time"),
    )

    rows = (
        unpivot(li_agg, "lineitem", [
            ("completeness(l_quantity)", "c_null"),
            ("range(l_discount,0.0,0.1)", "c_range"),
            ("range(l_quantity,1,50)", "c_qty"),
            ("positive(l_extendedprice)", "c_pos"),
        ])
        .unionByName(unpivot(od_agg, "orders", [
            ("uniqueness(o_orderkey)", "c_uniq"),
            ("in_set(o_orderstatus)", "c_set"),
            ("positive(o_totalprice)", "c_pos"),
        ]))
        .unionByName(unpivot(rc, "lineitem", [
            ("containment(l_orderkey in orders)", "c_ref"),
            ("ordering(o_orderdate<=l_shipdate)", "c_time"),
        ]))
    )
    return rows.select(
        "check_name",
        "dataset",
        "n_rows",
        "n_violations",
        (F.col("n_violations") == 0).cast("int").alias("passed"),
        F.round(F.col("n_violations") / F.col("n_rows"), 6).alias(
            "violation_rate"
        ),
    )


# ---------------------------------------------------------------------
# retrieval evaluation metrics (precision@k / recall@k / MRR / nDCG@k)

_EV_K = 10
_EV_QMOD = 50  # queries: vec_id % 50 == 1


@register(
    "retrieval_eval_metrics",
    f"""
    WITH e AS MATERIALIZED (SELECT vec_id AS nid, label,
                                   embedding::DOUBLE[] AS v
                            FROM embeddings),
    q AS MATERIALIZED (SELECT nid AS qid, label AS qlabel, v AS qv
                       FROM e WHERE nid % {_EV_QMOD} = 1),
    run AS MATERIALIZED (SELECT qid, nid, rnk FROM (
        SELECT q.qid, e.nid,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                                  ORDER BY {_cos("q.qv", "e.v")} DESC,
                                           e.nid ASC) AS rnk
        FROM q JOIN e ON e.nid <> q.qid) WHERE rnk <= {_EV_K}),
    lh AS (SELECT label, COUNT(*) AS n_lab FROM e GROUP BY label),
    nrel AS (SELECT q.qid, lh.n_lab - 1 AS n_rel
             FROM q JOIN lh ON lh.label = q.qlabel),
    hit AS (SELECT r.qid, r.rnk FROM run r
            JOIN e ON e.nid = r.nid
            JOIN q ON q.qid = r.qid
            WHERE e.label = q.qlabel),
    hs AS (SELECT qid, COUNT(*) AS n_hits,
                  MIN(rnk) AS first_rank,
                  SUM(1.0 / log2(rnk + 1)) AS dcg
           FROM hit GROUP BY qid),
    per AS (SELECT nrel.qid, nrel.n_rel,
                   COALESCE(hs.n_hits, 0) AS n_hits,
                   COALESCE(1.0 / hs.first_rank, 0.0) AS mrr,
                   COALESCE(hs.dcg, 0.0) AS dcg,
                   list_sum(list_transform(
                       range(1, LEAST({_EV_K}, GREATEST(nrel.n_rel, 1)) + 1),
                       i -> 1.0 / log2(i + 1))) AS idcg
            FROM nrel LEFT JOIN hs ON hs.qid = nrel.qid)
    SELECT qid AS query_id,
           CAST(n_rel AS BIGINT) AS n_rel,
           CAST(n_hits AS BIGINT) AS n_hits,
           ROUND(n_hits / CAST({_EV_K} AS DOUBLE), 6) AS precision_at_k,
           ROUND(n_hits / CAST(GREATEST(n_rel, 1) AS DOUBLE), 6) AS recall_at_k,
           ROUND(mrr, 6) AS mrr,
           ROUND(dcg / idcg, 6) AS ndcg
    FROM per
    """,
)
def retrieval_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrieval scorecard: run exact cosine top-{_EV_K} per query
    (`brute_force_topk` — broadcast-query nested loop, corpus never
    shuffles), judge relevance by label equality, and emit per-query
    precision@k, recall@k, MRR, and nDCG@k. The judgment-set size per
    query comes from ONE 10-row label histogram (broadcast), never a
    per-query scan; DCG/IDCG sum in identical index order in both
    engines (sequential fold over ``sequence``), so the 6-dp rounding
    is pure tie-insurance. This is the audit every ANN variant in the
    registry (IVF / PQ / graph) is ultimately graded against — here the
    metric layer itself is the unit under test."""
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        brute_force_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    dbl = emb.select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    q = dbl.filter(F.col("vec_id") % _EV_QMOD == 1)
    run = brute_force_topk(
        dbl, q, k=_EV_K, vec_col="v", query_vec_col="v"
    ).select("query_id", F.col("neighbor_id").alias("nid"), "rank")

    lh = dbl.groupBy("label").agg(F.count(F.lit(1)).alias("n_lab"))
    nrel = (
        q.select(F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel"))
        .join(F.broadcast(lh), F.col("qlabel") == F.col("label"))
        .select("query_id", "qlabel", (F.col("n_lab") - 1).alias("n_rel"))
    )
    nbr_lab = dbl.select(F.col("vec_id").alias("nid"), F.col("label").alias("nlabel"))
    hit = (
        run.join(nbr_lab, "nid")
        .join(F.broadcast(nrel.select("query_id", "qlabel")), "query_id")
        .filter(F.col("nlabel") == F.col("qlabel"))
    )
    hs = hit.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.min("rank").alias("first_rank"),
        F.sum(1.0 / F.log2(F.col("rank") + 1)).alias("dcg"),
    )
    per = nrel.join(hs, "query_id", "left").select(
        "query_id",
        "n_rel",
        F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
        F.coalesce(1.0 / F.col("first_rank"), F.lit(0.0)).alias("mrr"),
        F.coalesce(F.col("dcg"), F.lit(0.0)).alias("dcg"),
        # GREATEST(n_rel, 1): a singleton-label query (n_rel = 0) must
        # degrade to recall 0 / ndcg 0 IDENTICALLY in both engines —
        # unguarded, Spark's sequence(1, 0) is the DESCENDING [1, 0]
        # while DuckDB's range(1, 1) is empty, and recall divides by
        # zero (ADVICE r11 #2).
        F.expr(
            f"aggregate(sequence(1, LEAST({_EV_K}, GREATEST(n_rel, 1))),"
            " CAST(0.0 AS DOUBLE), (a, i) -> a + 1.0 / log2(i + 1))"
        ).alias("idcg"),
    )
    return per.select(
        "query_id",
        F.col("n_rel").cast("bigint").alias("n_rel"),
        F.col("n_hits").cast("bigint").alias("n_hits"),
        F.round(F.col("n_hits") / F.lit(float(_EV_K)), 6).alias("precision_at_k"),
        F.round(
            F.col("n_hits") / F.greatest(F.col("n_rel"), F.lit(1)).cast("double"), 6
        ).alias("recall_at_k"),
        F.round(F.col("mrr"), 6).alias("mrr"),
        F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
    )


# ---------------------------------------------------------------------
# hybrid retrieval: BM25 lexical arm + dense cosine arm, RRF fusion

_H_QMOD = 125   # queries: id % 125 == 7 (id space shared by documents
_H_QOFF = 7     # and embeddings — doc_id == vec_id in the fixtures)
_H_TERMS = 3    # per-query lexical terms: top-3 of the query's own doc
_H_ARM_K = 20   # depth of each arm's ranked list
_H_K = 10       # fused depth
_H_RRF = 60     # the standard RRF constant
_H_K1, _H_B = 1.2, 0.75


@register(
    "hybrid_retrieval_rrf",
    f"""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents),
    q AS MATERIALIZED (SELECT doc_id AS qid FROM documents
                       WHERE doc_id % {_H_QMOD} = {_H_QOFF}),
    qt AS MATERIALIZED (SELECT qid, term FROM (
        SELECT q.qid, t.term,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                                  ORDER BY COUNT(*) DESC, t.term ASC) AS tr
        FROM q JOIN toks t ON t.doc_id = q.qid
        GROUP BY q.qid, t.term) WHERE tr <= {_H_TERMS}),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
           FROM toks WHERE term IN (SELECT DISTINCT term FROM qt)
           GROUP BY doc_id, term),
    dl AS (SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS DOUBLE) AS dlen
           FROM documents),
    stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n,
                     (SELECT AVG(dlen) FROM dl) AS avgdl),
    df AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
           FROM (SELECT DISTINCT doc_id, term FROM tf) GROUP BY term),
    lexs AS (
      SELECT qt.qid, tf.doc_id,
             SUM(ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
                 * tf.tf * ({_H_K1} + 1)
                 / (tf.tf + {_H_K1} * (1 - {_H_B}
                    + {_H_B} * dl.dlen / stats.avgdl))) AS s
      FROM qt JOIN tf USING (term)
              JOIN df USING (term)
              JOIN dl ON tf.doc_id = dl.doc_id
              CROSS JOIN stats
      WHERE tf.doc_id <> qt.qid
      GROUP BY qt.qid, tf.doc_id),
    lex AS MATERIALIZED (SELECT qid, doc_id, lrank FROM (
        SELECT qid, doc_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY ROUND(s, 6) DESC, doc_id ASC)
                 AS lrank
        FROM lexs) WHERE lrank <= {_H_ARM_K}),
    e AS MATERIALIZED (SELECT vec_id AS nid, embedding::DOUBLE[] AS v
                       FROM embeddings),
    qv AS MATERIALIZED (SELECT nid AS qid, v AS qv FROM e
                        WHERE nid % {_H_QMOD} = {_H_QOFF}),
    den AS MATERIALIZED (SELECT qid, nid AS doc_id, drank FROM (
        SELECT qv.qid, e.nid,
               ROW_NUMBER() OVER (PARTITION BY qv.qid
                                  ORDER BY {_cos("qv.qv", "e.v")} DESC,
                                           e.nid ASC) AS drank
        FROM qv JOIN e ON e.nid <> qv.qid) WHERE drank <= {_H_ARM_K}),
    fused AS (
      SELECT COALESCE(lex.qid, den.qid) AS qid,
             COALESCE(lex.doc_id, den.doc_id) AS doc_id,
             COALESCE(lex.lrank, 0) AS lex_rank,
             COALESCE(den.drank, 0) AS dense_rank,
             COALESCE(1.0 / ({_H_RRF} + lex.lrank), 0.0)
               + COALESCE(1.0 / ({_H_RRF} + den.drank), 0.0) AS rrf
      FROM lex FULL OUTER JOIN den
        ON lex.qid = den.qid AND lex.doc_id = den.doc_id)
    SELECT qid AS query_id, doc_id,
           CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(dense_rank AS BIGINT) AS dense_rank,
           ROUND(rrf, 6) AS rrf_score,
           CAST(frank AS BIGINT) AS fused_rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY rrf DESC, doc_id ASC)
                      AS frank
          FROM fused)
    WHERE frank <= {_H_K}
    """,
)
def hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search, the standard two-arm serving shape: a LEXICAL arm
    (BM25 k1={_H_K1} b={_H_B} over the query document's top-{_H_TERMS}
    terms — a deterministic query-expansion stand-in for a typed query)
    and a DENSE arm (exact cosine over the embedding twin of the same
    id space), each ranked to depth {_H_ARM_K}, fused by reciprocal-rank
    fusion ``Σ 1/({_H_RRF}+rank)`` — the Cormack/Clarke RRF that needs
    no score calibration between arms, which is exactly why production
    hybrid stacks use it.

    Scale shape: the query set is modulus-bounded (grows linearly with
    the corpus but stays broadcast-small per gate); the lexical arm
    filters the token stream to query terms BEFORE any join (the full
    posting space never shuffles — same semi-join pushdown as
    ``bm25_topk``); the dense arm is a broadcast nested loop with
    corpus unshuffled; the fusion join is keyed (query, doc) over ≤
    2·{_H_ARM_K} rows per query. Both arms rank on 6-dp-rounded BM25 /
    raw-double cosine exactly as their standalone gates do."""
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        brute_force_topk,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    q = docs.filter(F.col("doc_id") % _H_QMOD == _H_QOFF).select(
        F.col("doc_id").alias("qid")
    )
    # per-query top terms of the query's own document (tiny: |q| rows)
    qtok = toks.join(F.broadcast(q), toks.doc_id == q.qid).groupBy(
        "qid", "term"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    qt = topk_rows(qtok, "qid", ["-cnt", "term"], _H_TERMS).select("qid", "term")
    qterms = qt.select("term").distinct()
    tf = (
        toks.join(F.broadcast(qterms), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dl = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("double").alias("dlen")
    )
    n_docs = docs.count()
    avgdl = dl.agg(F.avg("dlen")).collect()[0][0]  # bounded scalar
    df_ = (
        tf.select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("double").alias("df"))
    )
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    lexs = (
        qt.join(tf, "term")
        .filter(F.col("doc_id") != F.col("qid"))
        .join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .withColumn(
            "_s",
            idf
            * F.col("tf")
            * (_H_K1 + 1)
            / (
                F.col("tf")
                + _H_K1
                * (1 - _H_B + _H_B * F.col("dlen") / F.lit(float(avgdl)))
            ),
        )
        .groupBy("qid", "doc_id")
        .agg(F.round(F.sum("_s"), 6).alias("s"))
    )
    lex = topk_rows(lexs, "qid", ["-s", "doc_id"], _H_ARM_K).select(
        "qid", "doc_id", F.col("rank").alias("lrank")
    )

    emb = load_table(spark, sf_dir, "embeddings")
    dbl = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    den = (
        brute_force_topk(
            dbl,
            dbl.filter(F.col("vec_id") % _H_QMOD == _H_QOFF),
            k=_H_ARM_K,
            vec_col="v",
            query_vec_col="v",
        )
        .select(
            F.col("query_id").alias("qid"),
            F.col("neighbor_id").alias("doc_id"),
            F.col("rank").alias("drank"),
        )
    )
    fused = lex.join(den, ["qid", "doc_id"], "full_outer").select(
        "qid",
        "doc_id",
        F.coalesce(F.col("lrank"), F.lit(0)).alias("lex_rank"),
        F.coalesce(F.col("drank"), F.lit(0)).alias("dense_rank"),
        (
            F.coalesce(1.0 / (F.lit(_H_RRF) + F.col("lrank")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(_H_RRF) + F.col("drank")), F.lit(0.0))
        ).alias("rrf"),
    )
    return topk_rows(fused, "qid", ["-rrf", "doc_id"], _H_K).select(
        F.col("qid").alias("query_id"),
        "doc_id",
        F.col("lex_rank").cast("bigint").alias("lex_rank"),
        F.col("dense_rank").cast("bigint").alias("dense_rank"),
        F.round(F.col("rrf"), 6).alias("rrf_score"),
        F.col("rank").cast("bigint").alias("fused_rank"),
    )


# ---------------------------------------------------------------------
# binary quantization + multi-index-hashing Hamming search

_BQ_QMOD = 125   # queries: vec_id % 125 == 3
_BQ_QOFF = 3
_BQ_SUBS = 8     # 8 subwords × 8 bits = the 64-bit sign code
_BQ_CAND = 32    # Hamming candidates kept per query
_BQ_K = 10       # final exact-cosine depth

# sign-bit words, identical expression in both engines: bit j of word 0
# is embedding[j] > 0 for j in 0..31, word 1 covers 32..63. Two 32-bit
# words (not one 64-bit word) so no engine ever shifts into the sign
# bit of a BIGINT.
_BQ_WORDS_SQL = """
    e AS MATERIALIZED (
      SELECT vec_id AS nid, embedding::DOUBLE[] AS v,
             CAST(list_sum(list_transform(range(1, 33),
                  j -> CASE WHEN embedding[j] > 0
                       THEN (1::BIGINT << (j - 1)) ELSE 0::BIGINT END))
                  AS BIGINT) AS w0,
             CAST(list_sum(list_transform(range(33, 65),
                  j -> CASE WHEN embedding[j] > 0
                       THEN (1::BIGINT << (j - 33)) ELSE 0::BIGINT END))
                  AS BIGINT) AS w1
      FROM embeddings)
"""


@register(
    "similarity_binary_hamming_topk",
    f"""
    WITH {_BQ_WORDS_SQL},
    sub AS MATERIALIZED (
      SELECT e.nid, t.i,
             CASE WHEN t.i < 4 THEN (e.w0 >> (8 * t.i)) & 255
                  ELSE (e.w1 >> (8 * (t.i - 4))) & 255 END AS sv
      FROM e, range(0, {_BQ_SUBS}) t(i)),
    q AS MATERIALIZED (SELECT nid AS qid, v AS qv, w0 AS qw0, w1 AS qw1
                       FROM e WHERE nid % {_BQ_QMOD} = {_BQ_QOFF}),
    qs AS (SELECT q.qid, t.i,
                  CASE WHEN t.i < 4 THEN (q.qw0 >> (8 * t.i)) & 255
                       ELSE (q.qw1 >> (8 * (t.i - 4))) & 255 END AS sv
           FROM q, range(0, {_BQ_SUBS}) t(i)),
    cand AS (SELECT DISTINCT qs.qid, sub.nid
             FROM qs JOIN sub ON qs.i = sub.i AND qs.sv = sub.sv
             WHERE sub.nid <> qs.qid),
    ham AS (SELECT c.qid, c.nid,
                   CAST(bit_count(xor(q.qw0, e.w0))
                        + bit_count(xor(q.qw1, e.w1)) AS BIGINT) AS hamming
            FROM cand c JOIN q ON q.qid = c.qid
                        JOIN e ON e.nid = c.nid),
    top AS (SELECT qid, nid, hamming FROM (
        SELECT qid, nid, hamming,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY hamming ASC, nid ASC) AS hr
        FROM ham) WHERE hr <= {_BQ_CAND})
    SELECT qid AS query_id, nid AS neighbor_id, hamming,
           ROUND(score, 6) AS score, CAST(rnk AS BIGINT) AS rank
    FROM (SELECT t.qid, t.nid, t.hamming,
                 {_cos("q.qv", "e.v")} AS score,
                 ROW_NUMBER() OVER (PARTITION BY t.qid
                                    ORDER BY {_cos("q.qv", "e.v")} DESC,
                                             t.nid ASC) AS rnk
          FROM top t JOIN q ON q.qid = t.qid
                     JOIN e ON e.nid = t.nid)
    WHERE rnk <= {_BQ_K}
    """,
)
def similarity_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized similarity search with MULTI-INDEX-HASHING
    candidate generation (Norouzi, Punjani, Fleet): pack each vector's
    64 sign bits into two 32-bit words, split the code into
    {_BQ_SUBS} 8-bit subwords, and generate candidates by EQUI-JOIN on
    (subword index, subword value) — the pigeonhole principle
    guarantees every neighbor within Hamming radius < {_BQ_SUBS} shares
    at least one exact subword, so candidate generation is a hash join
    on fixed-width keys, never a corpus×query scan. Candidates are
    ranked by popcount Hamming distance (``bit_count(w XOR w)`` — pure
    JVM integer ops), the top {_BQ_CAND} rerank by exact cosine, and
    the final top-{_BQ_K} is value-hashed against the oracle's replay
    of the identical pipeline.

    Scale shape: the quantized index is 8 bytes/vector (a 100 TB float
    corpus quantizes to ~0.8 TB of codes); subword buckets hold
    n/256 rows in expectation per index, so the candidate join's
    fan-out is linear in corpus size with a 1/32 constant; only
    {_BQ_CAND} rows per query touch the full-precision vectors."""
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        binary_hamming_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    dbl = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    return binary_hamming_topk(
        dbl,
        dbl.filter(F.col("vec_id") % _BQ_QMOD == _BQ_QOFF),
        k=_BQ_K,
        n_candidates=_BQ_CAND,
        n_sub=_BQ_SUBS,
        vec_col="v",
        score_round=6,
    )


# ---------------------------------------------------------------------
# graph analytics over the co-purchase graph: triangle counting with
# degree-ordered orientation, and synchronous label propagation

_TRI_TOPN = 20
_LPA_ITERS = 3

# shared substrate: the DISTINCT co-purchase edge list (parts appearing
# together in an order basket; the self-join is keyed on the ORDER so
# pair blow-up is bounded by basket size, never corpus-quadratic)
_EDGE_SQL = """
    items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    ed AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
"""


@register(
    "graph_triangle_count",
    f"""
    WITH {_EDGE_SQL},
    deg AS MATERIALIZED (SELECT node, COUNT(*) AS d FROM (
        SELECT p1 AS node FROM ed UNION ALL SELECT p2 FROM ed)
        GROUP BY node),
    o AS MATERIALIZED (
      SELECT CASE WHEN ka < kb THEN ed.p1 ELSE ed.p2 END AS src,
             CASE WHEN ka < kb THEN ed.p2 ELSE ed.p1 END AS dst,
             GREATEST(ka, kb) AS dk
      FROM (SELECT ed.p1, ed.p2,
                   da.d * 1000000000000 + ed.p1 AS ka,
                   db.d * 1000000000000 + ed.p2 AS kb
            FROM ed JOIN deg da ON da.node = ed.p1
                    JOIN deg db ON db.node = ed.p2) ed),
    tri AS MATERIALIZED (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM o e1 JOIN o e2 ON e1.src = e2.src AND e1.dk < e2.dk
                JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
    tot AS (SELECT COUNT(*) AS total FROM tri),
    pn AS (SELECT node, COUNT(*) AS n_triangles FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri) GROUP BY node)
    SELECT node, n_triangles, total_triangles,
           CAST(rnk AS BIGINT) AS rank
    FROM (SELECT pn.node, CAST(pn.n_triangles AS BIGINT) AS n_triangles,
                 CAST(tot.total AS BIGINT) AS total_triangles,
                 ROW_NUMBER() OVER (ORDER BY pn.n_triangles DESC,
                                             pn.node ASC) AS rnk
          FROM pn, tot)
    WHERE rnk <= {_TRI_TOPN}
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting over the co-purchase graph with
    DEGREE-ORDERED orientation (compact-forward): every edge is
    directed from its lexicographically-lower (degree, id) endpoint to
    the higher — the order is packed into ONE long (degree·10^12 + id),
    never a global row_number window (which would funnel every node
    through one task) — so intersection work totals Σ out-degree² with
    out-degree bounded by graph degeneracy, the device that makes
    triangle counting survive power-law skew at 100 TB (a raw
    id-ordered orientation would square the hub degrees instead).

    The plan is the EDGE-ITERATOR form: per oriented edge (u,v),
    ``array_intersect`` of the two endpoints' out-adjacency arrays
    counts the closing vertices — the same asymptotic work as a
    wedge self-join, but it runs inside a JVM array op over edge-count
    rows instead of materializing the wedge stream as join rows (41M
    wedges → 1.2M edge rows at sf0.1; measured 31 s → 7 s). The
    adjacency table is node-count-sized with degeneracy-bounded arrays
    → broadcast here; at true scale the same plan shuffle-joins
    co-partitioned on node id. Per-node participation sums n3 at both
    edge endpoints plus an explode of the closing set; the global
    count derives from the rollup (Σ/3), so nothing runs twice. The
    ORACLE deliberately keeps the independent wedge-join formulation.
    Output: top-{_TRI_TOPN} nodes by participation plus the global
    count, integer-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p1"))
    b = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p2"))
    ed = (
        a.join(b, "ok")
        .filter(F.col("p1") < F.col("p2"))
        .select("p1", "p2")
        .distinct()
    )
    deg = (
        ed.select(F.col("p1").alias("node"))
        .unionAll(ed.select(F.col("p2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("node").alias("p1"), F.col("d").alias("d1"))
    db = deg.select(F.col("node").alias("p2"), F.col("d").alias("d2"))
    # the (degree, id) lexicographic order packed into ONE long
    # (degree · 10^12 + id) so the 10s-of-millions wedge comparisons
    # are single integer compares inside codegen, not struct allocs
    ka = F.col("d1") * F.lit(1_000_000_000_000) + F.col("p1")
    kb = F.col("d2") * F.lit(1_000_000_000_000) + F.col("p2")
    o = (
        ed.join(F.broadcast(da), "p1")  # degree table ≪ edge list
        .join(F.broadcast(db), "p2")
        .select(
            F.when(ka < kb, F.col("p1")).otherwise(F.col("p2")).alias("src"),
            F.when(ka < kb, F.col("p2")).otherwise(F.col("p1")).alias("dst"),
        )
        .localCheckpoint()  # oriented edges reused (adjacency + probe)
    )
    # edge-iterator form: instead of materializing the wedge stream
    # (E·avg-out-degree rows — 41M at sf0.1) and hash-closing it, join
    # each oriented edge (u,v) to BOTH endpoints' out-adjacency arrays
    # and intersect — the same Σ out-deg² work, but it runs inside
    # array_intersect over edge-count rows (1.2M), never 10s of
    # millions of join rows. The adjacency table is node-count-sized
    # with degeneracy-bounded arrays → broadcast here; at true 100 TB
    # scale the same plan shuffle-joins co-partitioned on node id.
    adj = o.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    adj_u = adj.select(F.col("src").alias("u"), F.col("nbrs").alias("nu"))
    adj_v = adj.select(F.col("src").alias("v"), F.col("nbrs").alias("nv"))
    empty = F.expr("CAST(array() AS array<bigint>)")
    ew = (
        o.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .join(F.broadcast(adj_u), "u")
        .join(F.broadcast(adj_v), "v", "left")
        .select(
            "u",
            "v",
            F.array_intersect("nu", F.coalesce("nv", empty)).alias("cs"),
        )
        .withColumn("n3", F.size("cs").cast("bigint"))
        .filter(F.col("n3") > 0)
        .localCheckpoint()  # edges-with-triangles, reused by 3 rollups
    )
    pn = (
        ew.select(F.col("u").alias("node"), F.col("n3").alias("w"))
        .unionAll(ew.select(F.col("v").alias("node"), F.col("n3").alias("w")))
        .unionAll(
            ew.select(F.explode("cs").alias("node"), F.lit(1).cast("bigint").alias("w"))
        )
        .groupBy("node")
        .agg(F.sum("w").cast("bigint").alias("n_triangles"))
        .localCheckpoint()  # node-sized; tot + top-N reuse, not recompute
    )
    tot = pn.agg(
        (F.sum("n_triangles") / 3).cast("bigint").alias("total_triangles")
    )
    return topk_rows(
        pn.crossJoin(F.broadcast(tot)), [], ["-n_triangles", "node"], _TRI_TOPN
    ).select(
        "node", "n_triangles", "total_triangles",
        F.col("rank").cast("bigint").alias("rank"),
    )


def _copurchase_lpa(spark: SparkSession, sf_dir: str):
    """Shared LPA engine: build the distinct co-purchase edge list and
    run {_LPA_ITERS} synchronous label-propagation rounds. Returns
    (edges, final labels); consumed by ``graph_label_propagation`` and
    ``graph_modularity_audit`` from the SAME loop, so the two gates can
    never drift apart."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p1"))
    b = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p2"))
    ed = (
        a.join(b, "ok")
        .filter(F.col("p1") < F.col("p2"))
        .select("p1", "p2")
        .distinct()
        .localCheckpoint()  # reused every round + by modularity stats
    )
    und = ed.select(
        F.col("p1").alias("src"), F.col("p2").alias("dst")
    ).unionAll(ed.select(F.col("p2").alias("src"), F.col("p1").alias("dst")))
    lbl = (
        ed.select(F.col("p1").alias("node"))
        .unionAll(ed.select(F.col("p2").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
    )
    for _ in range(_LPA_ITERS):
        msgs = und.join(
            lbl.select(F.col("node").alias("dst"), "lbl"), "dst"
        ).select(F.col("src").alias("node"), "lbl")
        cnt = msgs.groupBy("node", "lbl").agg(F.count(F.lit(1)).alias("c"))
        # per-node modal label via max(struct(c, -lbl)) — identical
        # tie-break to ORDER BY c DESC, lbl ASC (labels are nonnegative
        # part keys, so max(-lbl) = min(lbl)), but as an aggregate it
        # map-side-combines to one candidate per node per partition
        # and never sorts; the window form paid a full per-round sort
        # and shuffled every (node, lbl, c) row
        lbl = (
            cnt.groupBy("node")
            .agg(F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("nl"))).alias("t"))
            .select("node", (-F.col("t.nl")).alias("lbl"))
        )
    return ed, lbl.localCheckpoint()


def _lpa_chain() -> str:
    """The shared unrolled LPA CTE chain (edges + iterations); the
    final labels live in CTE ``l{_LPA_ITERS}``. One spec, two
    consumers: the community rollup and the modularity audit."""
    parts = [
        "und AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM ed"
        " UNION ALL SELECT p2, p1 FROM ed)",
        "l0 AS (SELECT DISTINCT p1 AS node, p1 AS lbl FROM ed"
        " UNION SELECT DISTINCT p2, p2 FROM ed)",
    ]
    for t in range(1, _LPA_ITERS + 1):
        parts.append(
            f"""c{t} AS (SELECT u.src AS node, l.lbl, COUNT(*) AS c
        FROM und u JOIN l{t - 1} l ON l.node = u.dst
        GROUP BY u.src, l.lbl),
    l{t} AS MATERIALIZED (SELECT node, lbl FROM (
        SELECT node, lbl, ROW_NUMBER() OVER (PARTITION BY node
                 ORDER BY c DESC, lbl ASC) AS pr FROM c{t})
        WHERE pr = 1)"""
        )
    return f"WITH {_EDGE_SQL},\n    " + ",\n    ".join(parts)


def _lpa_sql() -> str:
    """Unrolled synchronous label-propagation oracle: per iteration,
    each node adopts the modal label of its neighbors (count DESC,
    label ASC tie-break) — same CTE chain the Spark loop builds."""
    return (
        _lpa_chain()
        + f"""
    SELECT lbl AS community,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MIN(node) AS min_node, MAX(node) AS max_node
    FROM l{_LPA_ITERS} GROUP BY lbl"""
    )


@register("graph_label_propagation", _lpa_sql())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation over the
    co-purchase graph: every node starts as its own label; each of the
    {_LPA_ITERS} rounds, every node adopts the modal label among its
    neighbors (count DESC, label ASC — the deterministic tie-break that
    makes the fixed-round result exact in both engines). Each round is
    exactly one Pregel superstep expressed relationally: a message join
    (edges ⋈ labels, keyed on the neighbor), a (node, label) count
    aggregate, and a per-node top-1 window — three shuffles per round,
    state is one label per node, nothing accumulates across rounds.
    That per-round shape is what scales: a 100 TB edge list runs the
    same three stages with label state co-partitioned on node id.
    Output: final communities with member counts and id ranges."""
    _ed, lbl = _copurchase_lpa(spark, sf_dir)
    return lbl.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


@register(
    "graph_modularity_audit",
    _lpa_chain()
    + f"""
    ,deg AS (SELECT node, CAST(COUNT(*) AS DOUBLE) AS d FROM (
        SELECT p1 AS node FROM ed UNION ALL SELECT p2 FROM ed)
        GROUP BY node),
    m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m FROM ed),
    lb AS (SELECT node, lbl FROM l{_LPA_ITERS}),
    ein AS (SELECT la.lbl, CAST(COUNT(*) AS DOUBLE) AS e_in
            FROM ed JOIN lb la ON la.node = ed.p1
                    JOIN lb lc ON lc.node = ed.p2
            WHERE la.lbl = lc.lbl GROUP BY la.lbl),
    dsum AS (SELECT lb.lbl, SUM(deg.d) AS d_sum,
                    CAST(COUNT(*) AS BIGINT) AS n_members
             FROM lb JOIN deg ON deg.node = lb.node GROUP BY lb.lbl),
    per AS (SELECT dsum.lbl, dsum.n_members,
                   COALESCE(ein.e_in, 0.0) AS e_in, dsum.d_sum,
                   COALESCE(ein.e_in, 0.0) / m.m
                     - (dsum.d_sum / (2 * m.m)) * (dsum.d_sum / (2 * m.m))
                     AS contrib
            FROM dsum LEFT JOIN ein ON ein.lbl = dsum.lbl CROSS JOIN m),
    q AS (SELECT SUM(contrib) AS q FROM per)
    SELECT per.lbl AS community, per.n_members,
           CAST(per.e_in AS BIGINT) AS internal_edges,
           CAST(per.d_sum AS BIGINT) AS degree_sum,
           ROUND(per.contrib, 6) AS contribution,
           ROUND(q.q, 6) AS modularity
    FROM per CROSS JOIN q
    """,
)
def graph_modularity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA partition — the metric that says
    whether the communities MEAN anything:
    ``Q = Σ_c [ e_c/m − (d_c/2m)² ]`` (fraction of edges inside each
    community minus the degree-preserving-null expectation). Runs the
    SAME {_LPA_ITERS}-round LPA loop as ``graph_label_propagation``
    (one shared engine, `_copurchase_lpa`), then: per-community
    internal-edge counts via two label joins on the edge list,
    degree sums via one join, and the global Q as a 1-row broadcast.
    Per-community rows carry exact integer counts; contribution and Q
    are 6-dp. The audit shape matters at 100 TB: Q is how you detect
    that a partition degenerated (one giant community → Q ≈ 0) without
    eyeballing millions of labels."""
    ed, lbl = _copurchase_lpa(spark, sf_dir)
    deg = (
        ed.select(F.col("p1").alias("node"))
        .unionAll(ed.select(F.col("p2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("double").alias("d"))
    )
    m = float(ed.count())  # bounded scalar; ed is checkpointed
    la = lbl.select(F.col("node").alias("p1"), F.col("lbl").alias("l1"))
    lc = lbl.select(F.col("node").alias("p2"), F.col("lbl").alias("l2"))
    ein = (
        ed.join(la, "p1")
        .join(lc, "p2")
        .filter(F.col("l1") == F.col("l2"))
        .groupBy(F.col("l1").alias("lbl"))
        .agg(F.count(F.lit(1)).cast("double").alias("e_in"))
    )
    dsum = (
        lbl.join(deg, "node")
        .groupBy("lbl")
        .agg(
            F.sum("d").alias("d_sum"),
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
        )
    )
    per = (
        dsum.join(ein, "lbl", "left")
        .select(
            "lbl",
            "n_members",
            F.coalesce(F.col("e_in"), F.lit(0.0)).alias("e_in"),
            "d_sum",
        )
        .withColumn(
            "contrib",
            F.col("e_in") / m
            - (F.col("d_sum") / (2 * m)) * (F.col("d_sum") / (2 * m)),
        )
        # materialized ONCE (tiny: one row per community): the final
        # plan referenced `per` twice — the rows and, through the
        # broadcast Q aggregate, the whole ein/dsum join subtree again
        # (both SortMergeJoin chains verbatim in the r14 plan dump,
        # nodes 7-46 vs 52-91) — so every edge-label join ran twice
        # per action. One checkpoint halves that work at any scale.
        .localCheckpoint()
    )
    q = per.agg(F.sum("contrib").alias("q"))
    return per.crossJoin(F.broadcast(q)).select(
        F.col("lbl").alias("community"),
        "n_members",
        F.col("e_in").cast("bigint").alias("internal_edges"),
        F.col("d_sum").cast("bigint").alias("degree_sum"),
        F.round("contrib", 6).alias("contribution"),
        F.round("q", 6).alias("modularity"),
    )


# ---------------------------------------------------------------------
# GIF decode gate: GIF is LOSSLESS (palette indices round-trip exactly)
# so, unlike the JPEG gate, the decoded CONTENT joins the closed-form
# value-hash oracle directly — the oracle replays the fixture's value
# model (frame/pixel/channel formula) and never sees the bytes, so the
# LZW walk, code-size growth, interlace inversion, palette priority
# (local over global), and sub-block framing must all be exactly right.


@register(
    "multimodal_gif_decode",
    """
    WITH base AS (
      SELECT doc_id,
             1 + doc_id % 3 AS nf,
             6 + doc_id % 7 AS w,
             5 + doc_id % 5 AS h
      FROM documents),
    idx AS (SELECT *, unnest(generate_series(0, nf * w * h * 3 - 1)) AS j
            FROM base),
    vals AS (
      SELECT doc_id, nf, w, h, j,
             (doc_id * 31 + (j // (3 * w * h)) * 17
              + ((j % (3 * w * h)) // 3) * 7) % 256 AS k,
             j % 3 AS c
      FROM idx),
    v2 AS (
      SELECT doc_id, nf, w, h, j,
             CAST(CASE c WHEN 0 THEN k
                         WHEN 1 THEN (3 * k + 1) % 256
                         ELSE (7 * k + 5) % 256 END AS BIGINT) AS v
      FROM vals)
    SELECT doc_id,
           any_value('gif') AS media_type,
           CAST(any_value(w) AS BIGINT) AS width,
           CAST(any_value(h) AS BIGINT) AS height,
           CAST(any_value(nf) AS BIGINT) AS n_frames,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(v) AS BIGINT) AS sample_sum,
           CAST(SUM((j + 1) * v) AS BIGINT) AS checksum
    FROM v2 GROUP BY doc_id
    """,
)
def multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: synthesize a deterministic GIF (1-3 frames, odd
    frames INTERLACED, odd docs shipping the palette as a LOCAL color
    table over a deliberately scrambled global one), decode it through
    the production magic-byte dispatch, and emit integer-exact content
    stats over the concatenated frames. One fused synthesize+decode
    mapInPandas pass, no shuffle (`functions/gif.py`); the oracle
    replays the value model from the closed-form pixel formula alone."""
    from typing import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from kafka_sink_azure_kusto_spark.functions.codecs import (
        decode_media_bytes,
    )
    from kafka_sink_azure_kusto_spark.functions.gif import encode_gif
    from kafka_sink_azure_kusto_spark.functions.parallelism import (
        ensure_min_parallelism,
    )

    schema = StructType([
        StructField("doc_id", LongType(), False),
        StructField("media_type", StringType(), False),
        StructField("width", LongType(), False),
        StructField("height", LongType(), False),
        StructField("n_frames", LongType(), False),
        StructField("n_samples", LongType(), False),
        StructField("sample_sum", LongType(), False),
        StructField("checksum", LongType(), False),
    ])

    ks = np.arange(256, dtype=np.int64)
    palette = np.stack([ks, (3 * ks + 1) % 256, (7 * ks + 5) % 256], axis=1)

    def body(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = {k: [] for k in ("doc_id", "media_type", "width", "height",
                                "n_frames", "n_samples", "sample_sum",
                                "checksum")}
        for pdf in it:
            for d in pdf["doc_id"]:
                doc = int(d)
                nf = 1 + doc % 3
                w = 6 + doc % 7
                h = 5 + doc % 5
                p = np.arange(w * h, dtype=np.int64)
                frames = [(doc * 31 + f * 17 + p * 7) % 256
                          for f in range(nf)]
                blob = encode_gif(
                    w, h, frames, palette,
                    local_palette=(doc % 2 == 1),
                    interlaced_frames={f for f in range(nf) if f % 2 == 1},
                )
                m = decode_media_bytes(blob)
                j = np.arange(m.samples.size, dtype=np.int64)
                rows["doc_id"].append(doc)
                rows["media_type"].append(m.media_type)
                rows["width"].append(m.width)
                rows["height"].append(m.height)
                rows["n_frames"].append(m.n_frames)
                rows["n_samples"].append(int(m.samples.size))
                rows["sample_sum"].append(int(m.samples.sum()))
                rows["checksum"].append(int(((j + 1) * m.samples).sum()))
        yield pd.DataFrame({
            "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
            "media_type": rows["media_type"],
            "width": pd.Series(rows["width"], dtype="int64"),
            "height": pd.Series(rows["height"], dtype="int64"),
            "n_frames": pd.Series(rows["n_frames"], dtype="int64"),
            "n_samples": pd.Series(rows["n_samples"], dtype="int64"),
            "sample_sum": pd.Series(rows["sample_sum"], dtype="int64"),
            "checksum": pd.Series(rows["checksum"], dtype="int64"),
        })

    docs = ensure_min_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )
    return docs.mapInPandas(body, schema=schema)


# ---------------------------------------------------------------------
# inverted-index postings compression accounting (delta + varint)

_PC_TOPN = 50

# varint byte-length ladder — exact integer CASE in both engines (no
# floating log2 at power-of-two boundaries)
_VB_SQL = (
    "CASE WHEN {g} < 128 THEN 1 WHEN {g} < 16384 THEN 2 "
    "WHEN {g} < 2097152 THEN 3 WHEN {g} < 268435456 THEN 4 ELSE 5 END"
)


@register(
    "inverted_index_compression",
    f"""
    WITH post AS (
      SELECT DISTINCT term, doc_id FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents)),
    gaps AS (
      SELECT term, doc_id,
             doc_id - COALESCE(LAG(doc_id) OVER (PARTITION BY term
                                                 ORDER BY doc_id), 0) AS g
      FROM post),
    per AS (
      SELECT term,
             CAST(COUNT(*) AS BIGINT) AS n_postings,
             CAST(8 * COUNT(*) AS BIGINT) AS raw_bytes,
             CAST(SUM({_VB_SQL.format(g="g")}) AS BIGINT) AS compressed_bytes
      FROM gaps GROUP BY term)
    SELECT term, n_postings, raw_bytes, compressed_bytes,
           ROUND(compressed_bytes / CAST(raw_bytes AS DOUBLE), 6) AS ratio,
           CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY n_postings DESC, term ASC)
                      AS rnk
          FROM per)
    WHERE rnk <= {_PC_TOPN}
    """,
)
def inverted_index_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Postings-list compression accounting — the index-size planning
    artifact next to ``inverted_index_postings``: per term, sort the
    posting doc_ids, delta-encode (first id raw, then gaps), and charge
    each delta its varint byte length via an exact integer CASE ladder
    (1 byte < 2^7, 2 < 2^14, ... — no floating log at power-of-two
    boundaries). Output: the top-{_PC_TOPN} heaviest terms with raw
    (8 B/id) vs compressed bytes and the ratio.

    Scale shape: ONE shuffle keyed by term; the per-term lag window is
    the posting list's natural order (the same order a real index
    writer streams), so state per group is one previous id. Delta+varint
    is what makes a 100 TB corpus's inverted index fit: hot terms have
    dense postings → small gaps → 1-2 bytes instead of 8."""
    docs = load_table(spark, sf_dir, "documents")
    post = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .select("term", "doc_id")
        .distinct()
    )
    wlag = Window.partitionBy("term").orderBy("doc_id")
    gaps = post.withColumn(
        "g", F.col("doc_id") - F.coalesce(F.lag("doc_id").over(wlag), F.lit(0))
    )
    vb = (
        F.when(F.col("g") < 128, 1)
        .when(F.col("g") < 16384, 2)
        .when(F.col("g") < 2097152, 3)
        .when(F.col("g") < 268435456, 4)
        .otherwise(5)
    )
    per = gaps.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_postings"),
        (8 * F.count(F.lit(1))).cast("bigint").alias("raw_bytes"),
        F.sum(vb).cast("bigint").alias("compressed_bytes"),
    )
    return topk_rows(per, [], ["-n_postings", "term"], _PC_TOPN).select(
        "term",
        "n_postings",
        "raw_bytes",
        "compressed_bytes",
        F.round(
            F.col("compressed_bytes") / F.col("raw_bytes").cast("double"), 6
        ).alias("ratio"),
        F.col("rank").cast("bigint").alias("rank"),
    )


# ---------------------------------------------------------------------
# Kneser-Ney interpolated trigram language-model scoring

_KN_D = 0.75  # the fixed absolute discount


@register(
    "text_kneser_ney_trigram_score",
    f"""
    WITH toks AS (
      SELECT doc_id, pos, ws[pos + 1] AS w FROM (
        SELECT doc_id, ws, unnest(range(0, len(ws))) AS pos
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))),
    tri AS MATERIALIZED (
      SELECT a.doc_id, a.pos, a.w AS w1, b.w AS w2, c.w AS w3
      FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
                  JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2),
    c3 AS MATERIALIZED (SELECT w1, w2, w3, CAST(COUNT(*) AS DOUBLE) AS c3
           FROM tri GROUP BY w1, w2, w3),
    c2 AS MATERIALIZED (SELECT w1, w2, SUM(c3) AS c2, CAST(COUNT(*) AS DOUBLE) AS t_after
           FROM c3 GROUP BY w1, w2),
    bg AS MATERIALIZED (SELECT DISTINCT a.w AS w1, b.w AS w2
           FROM toks a JOIN toks b ON b.doc_id = a.doc_id
                                  AND b.pos = a.pos + 1),
    nb AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_bigram_types FROM bg),
    pcont AS MATERIALIZED (SELECT w2 AS w, CAST(COUNT(*) AS DOUBLE) AS n_pre FROM bg
              GROUP BY w2),
    fol AS MATERIALIZED (SELECT w1 AS w, CAST(COUNT(*) AS DOUBLE) AS n_fol FROM bg
            GROUP BY w1),
    mid3 AS MATERIALIZED (SELECT w2, w3, CAST(COUNT(DISTINCT w1) AS DOUBLE) AS n_pre3
             FROM c3 GROUP BY w2, w3),
    mid2 AS MATERIALIZED (SELECT w2, SUM(n_pre3) AS n_mid FROM mid3 GROUP BY w2),
    scored AS (
      SELECT t.doc_id,
             ln(GREATEST(c3.c3 - {_KN_D}, 0.0) / c2.c2
                + ({_KN_D} * c2.t_after / c2.c2)
                  * (GREATEST(m3.n_pre3 - {_KN_D}, 0.0) / m2.n_mid
                     + ({_KN_D} * f.n_fol / m2.n_mid)
                       * (pc.n_pre / nb.n_bigram_types))) AS lp
      FROM tri t
      JOIN c3 ON c3.w1 = t.w1 AND c3.w2 = t.w2 AND c3.w3 = t.w3
      JOIN c2 ON c2.w1 = t.w1 AND c2.w2 = t.w2
      JOIN mid3 m3 ON m3.w2 = t.w2 AND m3.w3 = t.w3
      JOIN mid2 m2 ON m2.w2 = t.w2
      JOIN fol f ON f.w = t.w2
      JOIN pcont pc ON pc.w = t.w3
      CROSS JOIN nb)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_trigrams,
           ROUND(AVG(lp), 6) AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
)
def text_kneser_ney_trigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney trigram scoring (D={_KN_D}) — the
    CCNet-style perplexity filter, the standard quality gate a 100 TB
    pretraining corpus is cut with. Per trigram:
    ``P(w3|w1w2) = max(c3-D,0)/c2 + D·T(w1w2·)/c2 · P(w3|w2)`` with the
    KN lower orders built from CONTINUATION counts
    (``P(w3|w2) = max(N1+(·w2w3)-D,0)/N1+(·w2·) + D·N1+(w2·)/N1+(·w2·)
    · N1+(·w3)/|bigram types|``) — the insight that "Francisco" is
    frequent but follows only "San". Scored on the training corpus
    itself, so every trigram is observed and the discounted mass
    exercises all three interpolation layers. Per document: trigram
    count and mean log-probability (6-dp; both engines evaluate the
    identical expression tree over exact integer counts).

    Scale shape: five count tables, all hash aggregates on gram keys
    (linear, map-side combinable); scoring joins are equi-joins on
    those same keys — the gram tables are the small sides and the
    trigram stream never materializes more than fixed-width rows. No
    windows, no per-doc state."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    a = toks.select("doc_id", "pos", F.col("w").alias("w1"))
    b = toks.select(
        "doc_id", (F.col("pos") - 1).alias("pos"), F.col("w").alias("w2")
    )
    c = toks.select(
        "doc_id", (F.col("pos") - 2).alias("pos"), F.col("w").alias("w3")
    )
    tri = a.join(b, ["doc_id", "pos"]).join(c, ["doc_id", "pos"])
    c3 = tri.groupBy("w1", "w2", "w3").agg(
        F.count(F.lit(1)).cast("double").alias("c3")
    )
    c2 = c3.groupBy("w1", "w2").agg(
        F.sum("c3").alias("c2"),
        F.count(F.lit(1)).cast("double").alias("t_after"),
    )
    bg = (
        a.join(b, ["doc_id", "pos"]).select("w1", "w2").distinct()
    )
    n_bigram_types = float(bg.count())  # bounded scalar (vocab², not corpus)
    pcont = bg.groupBy(F.col("w2").alias("w")).agg(
        F.count(F.lit(1)).cast("double").alias("n_pre")
    )
    fol = bg.groupBy(F.col("w1").alias("w")).agg(
        F.count(F.lit(1)).cast("double").alias("n_fol")
    )
    mid3 = c3.groupBy("w2", "w3").agg(
        F.countDistinct("w1").cast("double").alias("n_pre3")
    )
    mid2 = mid3.groupBy("w2").agg(F.sum("n_pre3").alias("n_mid"))
    d = float(_KN_D)
    lp = F.log(
        F.greatest(F.col("c3") - d, F.lit(0.0)) / F.col("c2")
        + (d * F.col("t_after") / F.col("c2"))
        * (
            F.greatest(F.col("n_pre3") - d, F.lit(0.0)) / F.col("n_mid")
            + (d * F.col("n_fol") / F.col("n_mid"))
            * (F.col("n_pre") / F.lit(n_bigram_types))
        )
    )
    scored = (
        tri.join(c3, ["w1", "w2", "w3"])
        .join(c2, ["w1", "w2"])
        .join(mid3, ["w2", "w3"])
        .join(mid2, ["w2"])
        .join(fol.withColumnRenamed("w", "w2"), ["w2"])
        .join(pcont.withColumnRenamed("w", "w3"), ["w3"])
        .withColumn("lp", lp)
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_trigrams"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
    )


# ---------------------------------------------------------------------
# streaming expectation monitor: the expectation suite run as ADDITIVE
# per-micro-batch violation registers through the real streaming engine

_EM_CHECKS_SQL = """
    SELECT 'completeness(user_id)' AS check_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations
    FROM events
    UNION ALL
    SELECT 'completeness(props)', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN props IS NULL OR props = '' THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'range(value,0,500)', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN value < 0 OR value > 500 THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'in_set(event_type)', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN event_type NOT IN
                         ('click', 'view', 'purchase', 'signup')
                    THEN 1 ELSE 0 END) AS BIGINT)
    FROM events
"""


@register(
    "streaming_expectation_monitor",
    f"""
    WITH checks AS ({_EM_CHECKS_SQL})
    SELECT check_name, n_rows, n_violations,
           CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS INT)
             AS passed,
           ROUND(n_violations / CAST(n_rows AS DOUBLE), 6) AS violation_rate
    FROM checks
    """,
)
def streaming_expectation_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The expectation suite as a STREAMING data-quality monitor — the
    shape a 100 TB ingest pipeline actually runs checks in: each
    micro-batch evaluates every expectation as a conditional aggregate
    over ONLY its own rows and writes (check, n_rows, n_violations)
    register rows epoch-keyed (overwrite — the foreachBatch
    exactly-once recipe, so a batch retry rewrites rather than
    double-counts); after the stream, registers SUM-merge per check.
    Violation counters are ADDITIVE, so the merged monitor must equal
    the single-shot batch audit exactly — the oracle IS that batch
    audit over the full table. One register row lost, duplicated, or
    double-counted breaks the value hash. The `in_set(event_type)`
    check genuinely fires on this corpus ('error' events), proving the
    monitor detects, not just tallies zeros."""
    import os

    from kafka_sink_azure_kusto_spark.plans.registry import _workdir
    from kafka_sink_azure_kusto_spark.sources.replay import key_chunks

    work = _workdir("stream_expect_")
    cols = ["event_id", "user_id", "event_type", "value", "props"]
    chunks = key_chunks(load_table(spark, sf_dir, "events"), "event_id", cols)
    reg_dir = os.path.join(work, "registers")

    def audit_batch(batch_df, epoch_id: int) -> None:
        # every check is a conditional sum in ONE aggregate over the
        # batch; the single row unpivots to register rows via stack
        checks = [
            ("completeness(user_id)", F.col("user_id").isNull()),
            ("completeness(props)",
             F.col("props").isNull() | (F.col("props") == "")),
            ("range(value,0,500)",
             (F.col("value") < 0) | (F.col("value") > 500)),
            ("in_set(event_type)",
             ~F.col("event_type").isin("click", "view", "purchase",
                                       "signup")),
        ]
        agg = batch_df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            *[
                F.sum(F.when(viol, 1).otherwise(0)).cast("bigint").alias(f"c{i}")
                for i, (_n, viol) in enumerate(checks)
            ],
        )
        stack_args = ", ".join(
            f"'{name}', c{i}" for i, (name, _v) in enumerate(checks)
        )
        regs = agg.select(
            F.expr(
                f"stack({len(checks)}, {stack_args})"
                " AS (check_name, n_violations)"
            ),
            "n_rows",
        ).select("check_name", "n_rows", "n_violations")
        regs.write.mode("overwrite").parquet(
            os.path.join(reg_dir, f"epoch={int(epoch_id)}")
        )

    run_replay(
        spark, work,
        "event_id long, user_id long, event_type string, value double, props string",
        chunks, audit_batch,
    )

    merged = (
        spark.read.parquet(reg_dir)
        .groupBy("check_name")
        .agg(
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            F.sum("n_violations").cast("bigint").alias("n_violations"),
        )
    )
    return merged.select(
        "check_name",
        "n_rows",
        "n_violations",
        (F.col("n_violations") == 0).cast("int").alias("passed"),
        F.round(F.col("n_violations") / F.col("n_rows"), 6).alias(
            "violation_rate"
        ),
    )


# ---------------------------------------------------------------------
# GIF-frame perceptual dedup: the video-dedup story on a REAL container
# format — animated GIF decode → per-frame 63-bit dHash → block-LSH
# near-dup pairs. mid = doc_id % 89 plants genuine duplicates (docs
# sharing mid have IDENTICAL frame sets), the same fixture algebra as
# multimodal_dhash_dedup.

_GF_MOD = 89
_GF_HAM = 10


@register(
    "multimodal_gif_frame_dedup",
    f"""
    WITH base AS (SELECT doc_id, doc_id % {_GF_MOD} AS mid FROM documents),
    dims AS (SELECT doc_id, mid, 1 + mid % 3 AS nf,
                    6 + mid % 7 AS w, 5 + mid % 5 AS h
             FROM base),
    units AS (SELECT doc_id, mid, w, h, fr.f AS f
              FROM dims, range(0, 3) fr(f) WHERE fr.f < nf),
    cells AS (SELECT doc_id, mid, w, h, f, gr.g AS gr, gc.c AS gc,
                     ((gr.g * h) // 8) * w + ((gc.c * w) // 9) AS p
              FROM units
              CROSS JOIN (SELECT unnest(range(0, 8)) AS g) gr
              CROSS JOIN (SELECT unnest(range(0, 9)) AS c) gc),
    lum AS (SELECT doc_id, f, gr, gc,
                   299 * ((mid * 31 + f * 17 + p * 7) % 256)
                 + 587 * ((3 * ((mid * 31 + f * 17 + p * 7) % 256) + 1) % 256)
                 + 114 * ((7 * ((mid * 31 + f * 17 + p * 7) % 256) + 5) % 256)
                     AS l
            FROM cells),
    bits AS (SELECT a.doc_id, a.f, a.gr, a.gc,
                    CASE WHEN a.l < b.l THEN 1 ELSE 0 END AS bit
             FROM lum a JOIN lum b
               ON a.doc_id = b.doc_id AND a.f = b.f AND a.gr = b.gr
              AND b.gc = a.gc + 1
             WHERE a.gc < 8),
    sig AS (SELECT doc_id * 4 + f AS u,
                   SUM(CASE WHEN gr * 8 + gc < 63
                            THEN bit * (CAST(1 AS BIGINT) << (gr * 8 + gc))
                            ELSE 0 END) AS dh
            FROM bits GROUP BY doc_id, f),
    blocks AS (SELECT u, dh, bj.j AS j, (dh >> (16 * bj.j)) & 65535 AS bb
               FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS j) bj),
    cand AS (SELECT DISTINCT l.u AS lu, r.u AS ru, l.dh AS ldh, r.dh AS rdh
             FROM blocks l JOIN blocks r
               ON l.j = r.j AND l.bb = r.bb AND l.u < r.u)
    SELECT lu // 4 AS left_doc, lu % 4 AS left_frame,
           ru // 4 AS right_doc, ru % 4 AS right_frame,
           CAST(bit_count(xor(ldh, rdh)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(ldh, rdh)) <= {_GF_HAM}
    """,
)
def multimodal_gif_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animation-frame perceptual dedup through the REAL GIF container:
    per document, synthesize a (1-3)-frame GIF (odd frames interlaced,
    odd docs with local color tables), decode it through the magic-byte
    dispatch, split the concatenated raster back into frames, and
    63-bit dHash each frame; then `dhash_neardup_pairs` finds near-dup
    FRAME pairs across the corpus (16-bit block LSH candidates →
    popcount Hamming ≤ {_GF_HAM}). The frame unit id packs as
    doc_id·4+frame so the pair machinery is the shared image-dedup
    kernel, unchanged. The mid = doc % {_GF_MOD} fixture algebra plants
    genuine duplicates (same mid ⇒ identical frame sets), so the gate
    proves detection — and the oracle replays the ENTIRE chain (pixel
    formula → 9×8 grid luma → gradient bits → blocks → Hamming)
    closed-form, never seeing a byte of LZW. Decode+hash is one Arrow
    mapInPandas pass; the only shuffle is the (block, bits) equi-join."""
    from typing import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    from kafka_sink_azure_kusto_spark.functions.codecs import (
        DecodedMedia,
        decode_media_bytes,
    )
    from kafka_sink_azure_kusto_spark.functions.gif import encode_gif
    from kafka_sink_azure_kusto_spark.functions.multimodal import (
        dhash64,
        dhash_neardup_pairs,
    )
    from kafka_sink_azure_kusto_spark.functions.parallelism import (
        ensure_min_parallelism,
    )

    ks = np.arange(256, dtype=np.int64)
    palette = np.stack([ks, (3 * ks + 1) % 256, (7 * ks + 5) % 256], axis=1)
    schema = StructType([
        StructField("doc_id", LongType(), False),
        StructField("dhash", LongType(), False),
    ])

    def body(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        units, hashes = [], []
        for pdf in it:
            for d in pdf["doc_id"]:
                doc = int(d)
                mid = doc % _GF_MOD
                nf = 1 + mid % 3
                w = 6 + mid % 7
                h = 5 + mid % 5
                p = np.arange(w * h, dtype=np.int64)
                frames = [(mid * 31 + f * 17 + p * 7) % 256
                          for f in range(nf)]
                m = decode_media_bytes(encode_gif(
                    w, h, frames, palette,
                    local_palette=(doc % 2 == 1),
                    interlaced_frames={f for f in range(nf) if f % 2 == 1},
                ))
                per = m.samples.reshape(m.n_frames, h * w * 3)
                for f in range(m.n_frames):
                    units.append(doc * 4 + f)
                    hashes.append(dhash64(
                        DecodedMedia("gif", w, h, 0, per[f])
                    ))
        yield pd.DataFrame({
            "doc_id": pd.Series(units, dtype="int64"),
            "dhash": pd.Series(hashes, dtype="int64"),
        })

    docs = ensure_min_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )
    sig = docs.mapInPandas(body, schema=schema)
    pairs = dhash_neardup_pairs(sig, max_hamming=_GF_HAM)
    return pairs.select(
        (F.col("left_id") / 4).cast("bigint").alias("left_doc"),
        (F.col("left_id") % 4).cast("bigint").alias("left_frame"),
        (F.col("right_id") / 4).cast("bigint").alias("right_doc"),
        (F.col("right_id") % 4).cast("bigint").alias("right_frame"),
        "hamming",
    )


# ---------------------------------------------------------------------
# MIH recall audit: the binary-quantized searcher graded against exact
# brute force on TWO corpora — the raw near-isotropic embeddings and a
# planted-cluster transform — so the audit measures the regime
# dependence of sign-bit codes instead of one number with no context

_MIH_SHIFT = 0.35  # ± sign shift: label-aligned components pushed
#                    positive, the rest negative — sign bits are
#                    MAGNITUDE-blind, so a one-sided boost (first
#                    attempt, measured live) changes nothing; cluster
#                    structure must live in the SIGN pattern


def _mih_arm_sql(
    p: str,
    vexpr: str,
    src: str = "embeddings",
    qpred: str | None = None,
) -> str:
    """One MIH chain (prefix ``p``): corpus ``src`` with vectors
    ``vexpr``, sign-bit words, MIH candidates, Hamming top-{_BQ_CAND},
    cosine top-{_BQ_K} (full rows in ``{p}res``, ids in ``{p}mih``),
    brute-force ground truth, per-query hit counts. ONE chain text,
    three consumers: both audit arms and the streaming maintenance
    gate — only the corpus expression / source / query predicate
    differ, exactly like the Spark side."""
    word = (
        "CAST(list_sum(list_transform(range({lo}, {hi}), "
        "j -> CASE WHEN v[j] > 0 THEN (1::BIGINT << (j - {lo})) "
        "ELSE 0::BIGINT END)) AS BIGINT)"
    )
    if qpred is None:
        qpred = f"nid % {_BQ_QMOD} = {_BQ_QOFF}"
    return f"""
    {p}e0 AS (SELECT vec_id AS nid, {vexpr} AS v FROM {src}),
    {p}e AS MATERIALIZED (
      SELECT nid, v, {word.format(lo=1, hi=33)} AS w0,
             {word.format(lo=33, hi=65)} AS w1
      FROM {p}e0),
    {p}sub AS MATERIALIZED (
      SELECT e.nid, t.i,
             CASE WHEN t.i < 4 THEN (e.w0 >> (8 * t.i)) & 255
                  ELSE (e.w1 >> (8 * (t.i - 4))) & 255 END AS sv
      FROM {p}e e, range(0, {_BQ_SUBS}) t(i)),
    {p}q AS MATERIALIZED (SELECT nid AS qid, v AS qv, w0 AS qw0,
                                 w1 AS qw1
                          FROM {p}e WHERE {qpred}),
    {p}qs AS (SELECT q.qid, t.i,
                     CASE WHEN t.i < 4 THEN (q.qw0 >> (8 * t.i)) & 255
                          ELSE (q.qw1 >> (8 * (t.i - 4))) & 255 END AS sv
              FROM {p}q q, range(0, {_BQ_SUBS}) t(i)),
    {p}cand AS (SELECT DISTINCT qs.qid, sub.nid
                FROM {p}qs qs JOIN {p}sub sub
                  ON qs.i = sub.i AND qs.sv = sub.sv
                WHERE sub.nid <> qs.qid),
    {p}ham AS (SELECT c.qid, c.nid,
                      bit_count(xor(q.qw0, e.w0))
                        + bit_count(xor(q.qw1, e.w1)) AS hamming
               FROM {p}cand c JOIN {p}q q ON q.qid = c.qid
                              JOIN {p}e e ON e.nid = c.nid),
    {p}res AS (SELECT qid, nid, hamming, ROUND(score, 6) AS score, rnk
        FROM (
        SELECT t.qid, t.nid, t.hamming,
               {_cos("q.qv", "e.v")} AS score,
               ROW_NUMBER() OVER (PARTITION BY t.qid
                                  ORDER BY {_cos("q.qv", "e.v")} DESC,
                                           t.nid ASC) AS rnk
        FROM (SELECT qid, nid, hamming FROM (
                SELECT qid, nid, hamming,
                       ROW_NUMBER() OVER (PARTITION BY qid
                                          ORDER BY hamming ASC, nid ASC)
                         AS hr FROM {p}ham) WHERE hr <= {_BQ_CAND}) t
        JOIN {p}q q ON q.qid = t.qid JOIN {p}e e ON e.nid = t.nid)
        WHERE rnk <= {_BQ_K}),
    {p}mih AS (SELECT qid, nid FROM {p}res),
    {p}gt AS MATERIALIZED (SELECT qid, nid FROM (
        SELECT q.qid, e.nid,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                                  ORDER BY {_cos("q.qv", "e.v")} DESC,
                                           e.nid ASC) AS rnk
        FROM {p}q q JOIN {p}e e ON e.nid <> q.qid)
        WHERE rnk <= {_BQ_K}),
    {p}per AS (SELECT gt.qid,
                      CAST(COUNT(*) AS BIGINT) AS n_possible,
                      CAST(SUM(CASE WHEN EXISTS (
                          SELECT 1 FROM {p}mih m
                          WHERE m.qid = gt.qid AND m.nid = gt.nid)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
               FROM {p}gt gt GROUP BY gt.qid)"""


_MIH_ISO_V = "embedding::DOUBLE[]"
_MIH_CLU_V = (
    "list_transform(range(1, len(embedding) + 1), "
    "i -> embedding[i]::DOUBLE + CASE WHEN (i - 1) % 10 = label "
    f"THEN {_MIH_SHIFT} ELSE -{_MIH_SHIFT} END)"
)


@register(
    "similarity_mih_recall_audit",
    f"""
    WITH {_mih_arm_sql("a", _MIH_ISO_V)},
    {_mih_arm_sql("b", _MIH_CLU_V)}
    SELECT 'isotropic' AS corpus, qid AS query_id, n_hits, n_possible,
           ROUND(n_hits / CAST(n_possible AS DOUBLE), 6) AS recall
    FROM aper
    UNION ALL
    SELECT 'clustered', qid, n_hits, n_possible,
           ROUND(n_hits / CAST(n_possible AS DOUBLE), 6)
    FROM bper
    """,
)
def similarity_mih_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit for the binary-MIH searcher — the honesty gate
    every ANN variant in this registry carries — run on TWO corpora
    with the SAME queries (% {_BQ_QMOD}): the raw synthetic embeddings
    (near-isotropic — 64 sign bits preserve little, measured recall
    ~0.1-0.3) and a PLANTED-CLUSTER transform (±{_MIH_SHIFT} sign
    shift on label-aligned vs other components — sign quantization is
    MAGNITUDE-blind, so the cluster structure must live in the sign
    pattern; a one-sided boost was measured live to change nothing).
    In the clustered regime label-correlated sign bits make MIH
    buckets collide within-cluster and recall climbs — the regime real
    (mean-centered) embedding corpora live in. Exact integer hit
    counts vs brute-force cosine
    top-{_BQ_K} per (corpus, query); the audit MEASURES the
    quantization trade-off and its data dependence instead of
    asserting a single context-free number."""
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        binary_hamming_topk,
        brute_force_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    iso = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    clu = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, (x, j) -> CAST(x AS DOUBLE) + "
            f"CASE WHEN j % 10 = label THEN CAST({_MIH_SHIFT} AS DOUBLE) "
            f"ELSE CAST(-{_MIH_SHIFT} AS DOUBLE) END)"
        ).alias("v"),
    )

    def arm(name: str, corpus: DataFrame) -> DataFrame:
        queries = corpus.filter(F.col("vec_id") % _BQ_QMOD == _BQ_QOFF)
        mih = binary_hamming_topk(
            corpus, queries, k=_BQ_K, n_candidates=_BQ_CAND,
            n_sub=_BQ_SUBS, vec_col="v",
        ).select(
            F.col("query_id").alias("qid"), F.col("neighbor_id").alias("nid")
        )
        gt = brute_force_topk(
            corpus, queries, k=_BQ_K, vec_col="v", query_vec_col="v"
        ).select(
            F.col("query_id").alias("qid"), F.col("neighbor_id").alias("nid")
        )
        hits = gt.join(mih, ["qid", "nid"], "left_semi").groupBy("qid").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hits")
        )
        return (
            gt.groupBy("qid")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_possible"))
            .join(hits, "qid", "left")
            .select(
                F.lit(name).alias("corpus"),
                F.col("qid").alias("query_id"),
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias(
                    "n_hits"
                ),
                "n_possible",
                F.round(
                    F.coalesce(F.col("n_hits"), F.lit(0))
                    / F.col("n_possible").cast("double"),
                    6,
                ).alias("recall"),
            )
        )

    # each arm pays an eager sign-bit-code checkpoint + the query-cap
    # guard inside binary_hamming_topk / brute_force_topk; the union
    # stays lazy
    return arm("isotropic", iso).unionByName(arm("clustered", clu))


# ---------------------------------------------------------------------
# streaming MIH code-store maintenance: the cheapest member of the
# streaming-index family (IVF / kNN-graph / BM25 / DSIR / count-min /
# expectations), completing the "every index serves without rescans"
# contract for the binary-quantized searcher

_SM_STATE_SQL = """
    fs AS MATERIALIZED (
      SELECT vec_id,
             CASE WHEN vec_id % 9 = 0
                  THEN list_transform(embedding::DOUBLE[], x -> x + 1.0)
                  ELSE embedding::DOUBLE[] END AS v
      FROM embeddings WHERE vec_id % 15 <> 0)
"""


@register(
    "streaming_mih_index_maintenance",
    f"""
    WITH {_SM_STATE_SQL},
    {_mih_arm_sql("s", "v", src="fs", qpred="nid < 8")}
    SELECT qid AS query_id, nid AS neighbor_id,
           CAST(hamming AS BIGINT) AS hamming, score,
           CAST(rnk AS BIGINT) AS rank
    FROM sres
    """,
)
def streaming_mih_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE maintenance of the binary-code store through the real
    streaming engine — the MIH member of the streaming-index family,
    and deliberately its CHEAPEST: the persisted state is one
    (vec_id, v, w0, w1) row per vector, block = vec_id % 8 is
    IMMUTABLE (the IVF cell-move staleness hazard cannot exist), and a
    batch rewrites only its ids' blocks (`mih_code_upsert`, dynamic
    partition overwrite, last-write-wins by seq, emptied-block
    deletion). Between batches the store SERVES a `binary_hamming_topk`
    probe with ``precoded=True`` — the search READS the persisted
    codes, so a stale or missed code row changes Hamming candidates
    and flips the value hash. Same fixture algebra as the IVF and
    kNN-graph loops (seed %3==0; upserts + %9==0 re-embedded at +1.0 —
    which flips signs, hence codes; %15==0 Kafka-NULL tombstones);
    gate = the FINAL probe vs an oracle that recomputes codes from the
    final corpus and replays the identical MIH chain."""
    import os

    from kafka_sink_azure_kusto_spark.functions.similarity import (
        binary_hamming_topk,
        mih_code_upsert,
        sign_bit_words,
    )
    from kafka_sink_azure_kusto_spark.plans.registry import _workdir

    work = _workdir("stream_mih_")
    emb = load_table(spark, sf_dir, "embeddings")
    dbl = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    code_dir = os.path.join(work, "codes")
    seed = dbl.filter(F.col("vec_id") % 3 == 0)
    plus1 = F.expr("transform(v, x -> x + CAST(1.0 AS DOUBLE))")
    b0 = (
        dbl.filter(F.col("vec_id") % 3 == 1)
        .unionByName(
            dbl.filter(F.col("vec_id") % 9 == 0).withColumn("v", plus1)
        )
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
    sign_bit_words(seed, "v").withColumn(
        "block", (F.col("vec_id") % 8).cast("int")
    ).select("vec_id", "v", "w0", "w1", "block").write.partitionBy(
        "block"
    ).parquet(code_dir)
    chunks = [
        [
            r[0]
            for r in b.select(
                F.to_json(F.struct("vec_id", "v", "seq"))
            ).collect()
        ]
        for b in (b0, b1)
    ]
    probes_dir = os.path.join(work, "probes")

    def upsert_and_probe(batch_df, epoch_id: int) -> None:
        mb = batch_df.sparkSession
        mih_code_upsert(batch_df, code_dir, n_blocks=8, seq_col="seq")
        store = mb.read.parquet(code_dir).select(
            "vec_id", "v", "w0", "w1"
        )
        binary_hamming_topk(
            store,
            store.filter(F.col("vec_id") < 8),
            k=_BQ_K,
            n_candidates=_BQ_CAND,
            n_sub=_BQ_SUBS,
            vec_col="v",
            score_round=6,
            precoded=True,
        ).write.mode("overwrite").parquet(
            os.path.join(probes_dir, f"epoch={int(epoch_id)}")
        )

    epochs = run_replay(
        spark, work, "vec_id long, v array<double>, seq int", chunks,
        upsert_and_probe,
    )
    return spark.read.parquet(
        os.path.join(probes_dir, f"epoch={epochs[-1]}")
    ).select("query_id", "neighbor_id", "hamming", "score", "rank")

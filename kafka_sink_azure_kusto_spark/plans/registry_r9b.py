"""Round-9 second-batch registry queries — four training-data-pipeline
operators that had no coverage:

- ``text_within_doc_dedup`` — C4's "discard duplicate lines within a
  page" rule (within-document repeated-segment removal, keep-first);
  complements corpus-wide ``segment_dedup``. Zero-exchange narrow plan.
- ``vocab_coverage_curve`` — tokenizer-planning curve: minimal
  vocabulary size covering t% of corpus token mass, computed from the
  COUNT-OF-COUNTS histogram so no global vocabulary sort exists at any
  scale.
- ``theta_sketch_setops`` — mergeable distinct-count SET operations
  (|A|, |B|, |A∪B|, |A∩B|, Jaccard) between every pair of event types
  from k-minimum-value theta sketches; the raw table is scanned once.
- ``knn_graph_mutual`` — mutual k-NN graph over embeddings via LSH
  buckets: self-join candidate generation (no corpus broadcast),
  per-node top-k, edges kept only when both endpoints agree.

No reference citations: north-star additions (SURVEY §7.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_sink_azure_kusto_spark.functions.corpus import (
    vocab_coverage,
    vocab_coverage_sql,
    within_doc_segment_dedup,
    within_doc_segment_dedup_sql,
)
from kafka_sink_azure_kusto_spark.functions.sampling import (
    md5_unit_interval_sql,
)
from kafka_sink_azure_kusto_spark.functions.similarity import topk_rows
from kafka_sink_azure_kusto_spark.functions.sketches import (
    theta_setops_pairs,
    theta_setops_sql,
)
from kafka_sink_azure_kusto_spark.plans.registry import register
from kafka_sink_azure_kusto_spark.sources.tables import load_table

_SEG = 2


@register(
    "text_within_doc_dedup",
    within_doc_segment_dedup_sql("documents", "text", "doc_id", _SEG),
)
def text_within_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repeated-segment removal (C4's duplicate-line
    rule over 2-token tumbling segments): keep the FIRST occurrence of
    each distinct segment per document, reassemble in order, report the
    drop ratio. Pure narrow projection — zero exchanges at any scale
    (`functions/corpus.within_doc_segment_dedup`)."""
    docs = load_table(spark, sf_dir, "documents")
    return within_doc_segment_dedup(docs, "text", "doc_id", seg_tokens=_SEG)


@register(
    "vocab_coverage_curve",
    vocab_coverage_sql("documents", "text", (50, 90, 95, 99)),
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-planning vocabulary coverage curve: for each threshold
    t ∈ {50, 90, 95, 99}%, the minimal top-frequency vocabulary size
    whose occurrences cover ≥ t% of corpus tokens. Computed from the
    count-of-counts histogram — bounded state after one map-side-
    combined frequency groupBy, NO global vocabulary sort
    (`functions/corpus.vocab_coverage`)."""
    docs = load_table(spark, sf_dir, "documents")
    return vocab_coverage(docs, "text", thresholds=(50, 90, 95, 99))


_THETA_K = 64


@register(
    "theta_sketch_setops",
    theta_setops_sql("events", "event_type", "user_id", _THETA_K),
)
def theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set operations between every pair of event types:
    distinct-user estimates for each side, their union and
    intersection, and the Jaccard estimate — derived entirely from
    64-hash KMV sketches (one scan of events, bounded sketch state,
    deterministic md5 hashing so the oracle reproduces the estimates
    exactly; sketches merge across shards/days by keep-k-smallest)
    (`functions/sketches.theta_setops_pairs`)."""
    ev = load_table(spark, sf_dir, "events")
    return theta_setops_pairs(ev, "event_type", "user_id", k=_THETA_K)


_KNN_PLANES = 6
_KNN_K = 3
_KNN_CAP = 256


def _hv(expr: str) -> str:
    return (
        f"(CASE WHEN ascii({expr}) >= 97 THEN ascii({expr}) - 87 "
        f"ELSE ascii({expr}) - 48 END)"
    )


def _knn_comp_sql(p: int) -> str:
    h = f"md5('{p}:' || d)"
    return (
        f"list_transform(range(0, 64), d -> "
        f"((16 * {_hv(f'substr({h}, 1, 1)')} + {_hv(f'substr({h}, 2, 1)')})"
        f" / 255.0) * 2 - 1)"
    )


def _knn_bucket_sql(plane_offset: int = 0) -> str:
    return " || ".join(
        f"(CASE WHEN list_dot_product(v, {_knn_comp_sql(p)}) >= 0 "
        f"THEN '1' ELSE '0' END)"
        for p in range(plane_offset, plane_offset + _KNN_PLANES)
    )


_KNN_BUCKET_SQL = _knn_bucket_sql(0)


@register(
    "knn_graph_mutual",
    f"""
    WITH e AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS v
               FROM embeddings),
    b AS (SELECT nid, v, {_KNN_BUCKET_SQL} AS bucket FROM e),
    capped AS (SELECT nid, v, bucket FROM (
        SELECT nid, v, bucket,
               ROW_NUMBER() OVER (
                   PARTITION BY bucket
                   ORDER BY {md5_unit_interval_sql("nid", salt="knncap:")},
                            nid) AS cr
        FROM b) WHERE cr <= {_KNN_CAP}),
    scored AS (SELECT l.nid AS src, r.nid AS dst,
                      list_dot_product(l.v, r.v) /
                      (sqrt(list_dot_product(l.v, l.v)) *
                       sqrt(list_dot_product(r.v, r.v))) AS score
               FROM capped l JOIN capped r USING (bucket)
               WHERE l.nid <> r.nid),
    topk AS (SELECT src, dst, score, rnk FROM (
        SELECT src, dst, score,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY score DESC, dst ASC) AS rnk
        FROM scored) WHERE rnk <= {_KNN_K})
    SELECT x.src, x.dst, ROUND(x.score, 6) AS score,
           CAST(x.rnk AS BIGINT) AS rank_src,
           CAST(y.rnk AS BIGINT) AS rank_dst
    FROM topk x JOIN topk y ON x.src = y.dst AND x.dst = y.src
    WHERE x.src < x.dst
    """,
)
def knn_graph_mutual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual k-NN graph over the embedding corpus: LSH-bucket
    candidate self-join (no corpus broadcast — both sides shuffle once
    on the bucket key, membership capped at 256 by deterministic md5
    rank), exact cosine top-3 per node, edge kept only when BOTH
    endpoints rank each other. The NN-descent / graph-clustering /
    SemDeDup seeding primitive
    (`functions/similarity.knn_graph_mutual`)."""
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        knn_graph_mutual as build,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return build(
        emb, "vec_id", "embedding",
        num_planes=_KNN_PLANES, k=_KNN_K, bucket_cap=_KNN_CAP,
    )


# two-band seed (OR-amplified LSH): band b = plane ids [6b, 6b+6).
# One band would make NN-descent a no-op — every seed edge stays
# within one bucket, so two-hop candidates were already scored.
_NND_SEED_SQL = f"""
    e AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS v
          FROM embeddings),
    b0 AS (SELECT nid, {_knn_bucket_sql(0)} AS bucket FROM e),
    c0 AS (SELECT nid, bucket FROM (
        SELECT nid, bucket,
               ROW_NUMBER() OVER (
                   PARTITION BY bucket
                   ORDER BY {md5_unit_interval_sql("nid", salt="knncap:")},
                            nid) AS cr
        FROM b0) WHERE cr <= {_KNN_CAP}),
    b1 AS (SELECT nid, {_knn_bucket_sql(_KNN_PLANES)} AS bucket FROM e),
    c1 AS (SELECT nid, bucket FROM (
        SELECT nid, bucket,
               ROW_NUMBER() OVER (
                   PARTITION BY bucket
                   ORDER BY {md5_unit_interval_sql("nid", salt="knncap:")},
                            nid) AS cr
        FROM b1) WHERE cr <= {_KNN_CAP}),
    prs AS (SELECT DISTINCT src, dst FROM (
        SELECT l.nid AS src, r.nid AS dst
        FROM c0 l JOIN c0 r USING (bucket) WHERE l.nid <> r.nid
        UNION ALL
        SELECT l.nid AS src, r.nid AS dst
        FROM c1 l JOIN c1 r USING (bucket) WHERE l.nid <> r.nid)),
    scored0 AS (SELECT prs.src, prs.dst,
                       list_dot_product(es.v, ed.v) /
                       (sqrt(list_dot_product(es.v, es.v)) *
                        sqrt(list_dot_product(ed.v, ed.v))) AS score
                FROM prs JOIN e es ON prs.src = es.nid
                         JOIN e ed ON prs.dst = ed.nid),
    seed AS (SELECT src, dst, score, rnk FROM (
        SELECT src, dst, score,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY score DESC, dst ASC) AS rnk
        FROM scored0) WHERE rnk <= {_KNN_K})
"""


_NND_REFINE_SQL = f"""
    fwd AS (SELECT src, dst FROM seed),
    rev AS (SELECT dst AS src, src AS dst FROM (
        SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY dst
                                  ORDER BY score DESC, src ASC) AS rr
        FROM seed) WHERE rr <= {_KNN_K}),
    nbrs AS (SELECT DISTINCT src, dst FROM
             (SELECT * FROM fwd UNION ALL SELECT * FROM rev)),
    hop2 AS (SELECT a.src AS src, bb.dst AS dst
             FROM nbrs a JOIN nbrs bb ON a.dst = bb.src
             WHERE a.src <> bb.dst),
    cand AS (SELECT DISTINCT src, dst FROM
             (SELECT * FROM fwd UNION ALL SELECT * FROM hop2)),
    sc AS (SELECT cand.src, cand.dst,
                  list_dot_product(es.v, ed.v) /
                  (sqrt(list_dot_product(es.v, es.v)) *
                   sqrt(list_dot_product(ed.v, ed.v))) AS score
           FROM cand JOIN e es ON cand.src = es.nid
                     JOIN e ed ON cand.dst = ed.nid),
    ref AS (SELECT src, dst, score, rnk FROM (
        SELECT src, dst, score,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY score DESC, dst ASC) AS rnk
        FROM sc) WHERE rnk <= {_KNN_K})
"""


@register(
    "knn_graph_nn_descent",
    f"""
    WITH {_NND_SEED_SQL},
    {_NND_REFINE_SQL},
    kth AS (SELECT src, MIN(score) AS seed_kth FROM seed GROUP BY src)
    SELECT ref.src, ref.dst, ROUND(ref.score, 6) AS score,
           CAST(ref.rnk AS BIGINT) AS rank,
           COALESCE(ref.rnk = {_KNN_K} AND ref.score > kth.seed_kth,
                    FALSE) AS improved
    FROM ref LEFT JOIN kth USING (src)
    """,
)
def knn_graph_nn_descent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One NN-descent refinement round over the TWO-BAND LSH-seeded
    k-NN lists (one band is a provable no-op: every seed edge stays
    within a bucket, so two-hop candidates were already scored and
    rejected — found by the zero-new-edges probe in this round):
    candidates = seed top-3 ∪ two-hop expansion through the undirected
    (forward ∪ reverse-capped) neighbor sets, re-scored exactly and
    re-ranked; ``improved`` marks nodes whose 3rd-best strictly beat
    the seed round. Per-node fan-out ≤ 4k² regardless of corpus size;
    every stage an equi-join — the iterate-to-converge kNN-graph
    builder at 100 TB (`functions/similarity.nn_descent_refine`)."""
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        nn_descent_refine,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return nn_descent_refine(
        emb, "vec_id", "embedding",
        num_planes=_KNN_PLANES, k=_KNN_K, bucket_cap=_KNN_CAP,
    )


@register(
    "knn_recall_audit",
    f"""
    WITH {_NND_SEED_SQL},
    {_NND_REFINE_SQL},
    gt AS (SELECT src, dst FROM (
        SELECT l.nid AS src, r.nid AS dst,
               ROW_NUMBER() OVER (
                   PARTITION BY l.nid
                   ORDER BY list_dot_product(l.v, r.v) /
                            (sqrt(list_dot_product(l.v, l.v)) *
                             sqrt(list_dot_product(r.v, r.v))) DESC,
                            r.nid ASC) AS rnk
        FROM e l JOIN e r ON l.nid <> r.nid
        WHERE l.nid % 20 = 0) WHERE rnk <= {_KNN_K}),
    tot AS (SELECT COUNT(*) AS n_possible FROM gt),
    h1 AS (SELECT COUNT(*) AS n_hits FROM gt
           WHERE EXISTS (SELECT 1 FROM seed s
                         WHERE s.src = gt.src AND s.dst = gt.dst)),
    h2 AS (SELECT COUNT(*) AS n_hits FROM gt
           WHERE EXISTS (SELECT 1 FROM ref r
                         WHERE r.src = gt.src AND r.dst = gt.dst))
    SELECT 'lsh_seed' AS method, h1.n_hits, tot.n_possible,
           ROUND(h1.n_hits / CAST(tot.n_possible AS DOUBLE), 6) AS recall
    FROM h1, tot
    UNION ALL
    SELECT 'nn_descent_1round' AS method, h2.n_hits, tot.n_possible,
           ROUND(h2.n_hits / CAST(tot.n_possible AS DOUBLE), 6) AS recall
    FROM h2, tot
    """,
)
def knn_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall AUDIT of the approximate kNN-graph builders against
    exact brute-force ground truth: for the LSH seed round and the
    one-round NN-descent refinement, the fraction of true top-3 edges
    each recovers → (method, n_hits, n_possible, recall). Hit counts
    are exact integers and the ratio is a single division, so the
    result is order-independent (no float mean over queries).

    Scale framing: ground truth is a brute-force pass — at 100 TB this
    audit runs on a deterministic SAMPLE of queries (the
    max_broadcast_queries guard in brute_force_topk enforces the
    bound); the audited builders themselves stay all-equi-join. The
    measured numbers are the recall knob's feedback loop: raise
    num_planes / add NN-descent rounds until the audit clears target
    (`functions/similarity.nn_descent_refine`)."""
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        brute_force_topk,
        lsh_topk_directed,
        nn_descent_refine,
        recall_arm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # ground truth over a DETERMINISTIC 1-in-20 query sample — the
    # audit's cost is the brute-force pass, and a sample estimates
    # recall just as well (the audited builders still run in full);
    # unsampled, the two brute passes were 85 s at sf0.1 (5000^2 pairs)
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    gt = brute_force_topk(emb, queries, k=_KNN_K).select(
        F.col("query_id").alias("src"),
        F.col("neighbor_id").alias("dst"),
    ).localCheckpoint()
    # graded directly AND reused as the refine seed
    seed_full = lsh_topk_directed(
        emb, num_planes=_KNN_PLANES, k=_KNN_K,
        bucket_cap=_KNN_CAP, bands=2,
    ).localCheckpoint()
    seed = seed_full.select("src", "dst")
    refined = nn_descent_refine(
        emb, num_planes=_KNN_PLANES, k=_KNN_K, bucket_cap=_KNN_CAP, bands=2,
        seed=seed_full,
    ).select("src", "dst")
    return recall_arm(
        [F.lit("lsh_seed").alias("method")], gt, seed, ["src", "dst"]
    ).unionByName(
        recall_arm(
            [F.lit("nn_descent_1round").alias("method")],
            gt, refined, ["src", "dst"],
        )
    )


_THETA_DAYS = 3


@register(
    "theta_sketch_merge_lifecycle",
    f"""
    WITH pairs0 AS (SELECT DISTINCT event_type AS grp, user_id AS kmv_key,
                           event_id % {_THETA_DAYS} AS day
                    FROM events WHERE user_id IS NOT NULL),
    hashed AS (SELECT grp, day, kmv_key,
                      {md5_unit_interval_sql("kmv_key", salt="kmv:")} AS u
               FROM pairs0),
    daily AS (SELECT grp, day, u FROM (
        SELECT grp, day, u,
               ROW_NUMBER() OVER (PARTITION BY grp, day
                                  ORDER BY u, kmv_key) AS r
        FROM hashed) WHERE r <= {_THETA_K}),
    merged AS (SELECT grp, u FROM (
        SELECT grp, u,
               ROW_NUMBER() OVER (PARTITION BY grp ORDER BY u) AS r
        FROM (SELECT DISTINCT grp, u FROM daily)) WHERE r <= {_THETA_K}),
    m_est AS (SELECT grp, COUNT(*) AS n_seen,
                     MAX(CASE WHEN rr = {_THETA_K} THEN u END) AS u_k
              FROM (SELECT grp, u,
                           ROW_NUMBER() OVER (PARTITION BY grp ORDER BY u)
                               AS rr FROM merged)
              GROUP BY grp),
    single AS (SELECT grp, COUNT(*) AS n_seen,
                      MAX(CASE WHEN r = {_THETA_K} THEN u END) AS u_k
               FROM (SELECT grp, u,
                            ROW_NUMBER() OVER (PARTITION BY grp
                                               ORDER BY u, kmv_key) AS r
                     FROM (SELECT DISTINCT grp, kmv_key, u FROM hashed))
               WHERE r <= {_THETA_K}
               GROUP BY grp)
    SELECT m.grp AS event_type,
           ROUND(CASE WHEN m.n_seen < {_THETA_K}
                      THEN CAST(m.n_seen AS DOUBLE)
                      ELSE {float(_THETA_K - 1)} / m.u_k END, 6)
               AS est_merged,
           ROUND(CASE WHEN s.n_seen < {_THETA_K}
                      THEN CAST(s.n_seen AS DOUBLE)
                      ELSE {float(_THETA_K - 1)} / s.u_k END, 6)
               AS est_single,
           (CASE WHEN m.n_seen < {_THETA_K}
                 THEN CAST(m.n_seen AS DOUBLE)
                 ELSE {float(_THETA_K - 1)} / m.u_k END =
            CASE WHEN s.n_seen < {_THETA_K}
                 THEN CAST(s.n_seen AS DOUBLE)
                 ELSE {float(_THETA_K - 1)} / s.u_k END) AS merge_exact
    FROM m_est m JOIN single s USING (grp)
    """,
)
def theta_sketch_merge_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch MERGEABILITY lifecycle (completes the sketch-merge
    family beside the HLL/quantile/minhash lifecycles): events split
    into 3 synthetic days, each day sketched independently,
    the daily sketch ROWS unioned and re-ranked keep-k-smallest — the
    merged estimate must EQUAL the single-shot estimate per event type
    (KMV merge is lossless below k: the k smallest of a union are a
    subset of the per-part k smallest). This is what lets a 100 TB
    deployment keep per-day sketch rows and answer any date-range
    distinct query by merge, never rescanning
    (`functions/sketches.theta_sketch_rows`)."""
    from kafka_sink_azure_kusto_spark.functions.sampling import (
        md5_unit_interval,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    pairs = ev.select(
        F.col("event_type").alias("grp"),
        F.col("user_id").alias("kmv_key"),
        (F.col("event_id") % _THETA_DAYS).alias("day"),
    ).distinct()
    hashed = pairs.withColumn(
        "u", md5_unit_interval(F.col("kmv_key"), salt="kmv:")
    )
    daily = topk_rows(hashed, ["grp", "day"], ["u", "kmv_key"], _THETA_K).select(
        "grp", "u"
    )
    merged = topk_rows(daily.distinct(), "grp", ["u"], _THETA_K)

    def estimate(ranked: DataFrame) -> DataFrame:
        per = ranked.groupBy("grp").agg(
            F.count(F.lit(1)).alias("n_seen"),
            F.max(
                F.when(F.col("rank") == _THETA_K, F.col("u"))
            ).alias("u_k"),
        )
        est = F.when(
            F.col("n_seen") < _THETA_K, F.col("n_seen").cast("double")
        ).otherwise(F.lit(float(_THETA_K - 1)) / F.col("u_k"))
        return per.select("grp", est.alias("est"))

    # the single-shot path must rank DISTINCT (group, user) hashes —
    # ``hashed`` carries one row per (group, user, day), and ranking
    # the day-duplicated multiset would pull u_k in by ~days× (the
    # merged path dedups naturally via union-distinct)
    single_ranked = topk_rows(
        hashed.select("grp", "kmv_key", "u").distinct(),
        "grp", ["u", "kmv_key"], _THETA_K,
    )
    m = estimate(merged).withColumnRenamed("est", "est_m")
    s = estimate(single_ranked).withColumnRenamed("est", "est_s")
    return m.join(s, "grp").select(
        F.col("grp").alias("event_type"),
        F.round("est_m", 6).alias("est_merged"),
        F.round("est_s", 6).alias("est_single"),
        (F.col("est_m") == F.col("est_s")).alias("merge_exact"),
    )


_CONT_K = 3
_CONT_T = 0.8
_CONT_MAXDF = 200


@register(
    "dedup_containment_subset",
    f"""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents),
    g AS (SELECT doc_id,
                 unnest(list_transform(
                     range(1, greatest(len(ws) - {_CONT_K - 2}, 1)),
                     i -> array_to_string(ws[i:i+{_CONT_K - 1}], ' '))) AS ng
          FROM words),
    d AS (SELECT DISTINCT doc_id AS id, md5(ng) AS shh FROM g),
    hot AS (SELECT shh FROM d GROUP BY shh
            HAVING COUNT(*) > {_CONT_MAXDF}),
    probe AS (SELECT id, shh FROM d
              WHERE shh NOT IN (SELECT shh FROM hot)),
    sizes AS (SELECT id, COUNT(*) AS n_sh FROM probe GROUP BY id),
    inter AS (SELECT l.id AS a, r.id AS b, COUNT(*) AS n_inter
              FROM probe l JOIN probe r
                ON l.shh = r.shh AND l.id < r.id
              GROUP BY l.id, r.id),
    pairsz AS (SELECT a, b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b
               FROM inter JOIN sizes sa ON a = sa.id
                          JOIN sizes sb ON b = sb.id),
    sf AS (SELECT CASE WHEN n_a < n_b OR (n_a = n_b AND a < b)
                       THEN a ELSE b END AS small_id,
                  CASE WHEN n_a < n_b OR (n_a = n_b AND a < b)
                       THEN b ELSE a END AS big_id,
                  n_inter,
                  LEAST(n_a, n_b) AS n_small,
                  GREATEST(n_a, n_b) AS n_big
           FROM pairsz)
    SELECT small_id, big_id,
           ROUND(n_inter / CAST(n_small AS DOUBLE), 6) AS containment,
           ROUND(n_inter / CAST(n_small + n_big - n_inter AS DOUBLE), 6)
               AS jaccard,
           n_small, n_big
    FROM sf
    WHERE n_inter / CAST(n_small AS DOUBLE) >= {_CONT_T}
    """,
)
def dedup_containment_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT pairs — the subset/quote detector that
    symmetric Jaccard misses (a short document embedded verbatim in a
    long one scores jaccard ≈ |short|/|long| but containment ≈ 1):
    shingle equi-join, per-pair intersection over boilerplate-pruned
    shingles, smaller document first, pairs with containment ≥ 0.8.
    The "drop the contained duplicate, keep the superset" decision
    input (`functions/dedup.containment_pairs`)."""
    from kafka_sink_azure_kusto_spark.functions.dedup import (
        containment_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(
        docs, "text", "doc_id",
        k=_CONT_K, threshold=_CONT_T, max_shingle_freq=_CONT_MAXDF,
    )


@register(
    "corpus_snapshot_diff",
    """
    WITH old AS (SELECT doc_id AS id, md5(text) AS old_fp FROM documents
                 WHERE doc_id % 7 <> 0),
    new AS (SELECT doc_id AS id,
                   md5(CASE WHEN doc_id % 11 = 0
                            THEN text || ' rev2' ELSE text END) AS new_fp
            FROM documents WHERE doc_id % 5 <> 0)
    SELECT COALESCE(old.id, new.id) AS id,
           CASE WHEN old_fp IS NULL THEN 'added'
                WHEN new_fp IS NULL THEN 'removed'
                WHEN old_fp = new_fp THEN 'unchanged'
                ELSE 'changed' END AS status,
           old_fp, new_fp
    FROM old FULL OUTER JOIN new ON old.id = new.id
    """,
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff — classify every doc id across two corpus
    snapshots (synthesized deterministically from the fixture: old
    drops id%7==0, new drops id%5==0 and revises id%11==0) as
    added/removed/changed/unchanged via content fingerprints. ONE
    full-outer hash join on the id, fingerprints computed in the scan
    stage — the incremental-ingest primitive that lets dedup stores,
    ANN indexes and statistics process only the delta
    (`functions/corpus.snapshot_diff`)."""
    from kafka_sink_azure_kusto_spark.functions.corpus import snapshot_diff

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 7 != 0)
    new = docs.filter(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" rev2"))
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(old, new, "doc_id", "text")


_HN_K = 3


@register(
    "contrastive_hard_negatives",
    f"""
    WITH e AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS v, label
               FROM embeddings),
    b0 AS (SELECT nid, {_knn_bucket_sql(0)} AS bucket FROM e),
    c0 AS (SELECT nid, bucket FROM (
        SELECT nid, bucket,
               ROW_NUMBER() OVER (
                   PARTITION BY bucket
                   ORDER BY {md5_unit_interval_sql("nid", salt="knncap:")},
                            nid) AS cr
        FROM b0) WHERE cr <= {_KNN_CAP}),
    b1 AS (SELECT nid, {_knn_bucket_sql(_KNN_PLANES)} AS bucket FROM e),
    c1 AS (SELECT nid, bucket FROM (
        SELECT nid, bucket,
               ROW_NUMBER() OVER (
                   PARTITION BY bucket
                   ORDER BY {md5_unit_interval_sql("nid", salt="knncap:")},
                            nid) AS cr
        FROM b1) WHERE cr <= {_KNN_CAP}),
    prs AS (SELECT DISTINCT src, dst FROM (
        SELECT l.nid AS src, r.nid AS dst
        FROM c0 l JOIN c0 r USING (bucket) WHERE l.nid <> r.nid
        UNION ALL
        SELECT l.nid AS src, r.nid AS dst
        FROM c1 l JOIN c1 r USING (bucket) WHERE l.nid <> r.nid)),
    sc AS (SELECT prs.src, prs.dst, es.label AS src_label,
                  ed.label AS dst_label,
                  list_dot_product(es.v, ed.v) /
                  (sqrt(list_dot_product(es.v, es.v)) *
                   sqrt(list_dot_product(ed.v, ed.v))) AS score
           FROM prs JOIN e es ON prs.src = es.nid
                    JOIN e ed ON prs.dst = ed.nid
           WHERE es.label <> ed.label)
    SELECT src AS anchor_id, dst AS negative_id, src_label, dst_label,
           ROUND(score, 6) AS score, CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY src
                                       ORDER BY score DESC, dst ASC) AS rnk
          FROM sc)
    WHERE rnk <= {_HN_K}
    """,
)
def contrastive_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING for contrastive/embedding training: per
    anchor vector, the top-3 most-similar vectors with a DIFFERENT
    label among its two-band LSH candidates — high-similarity
    cross-label pairs are exactly the negatives that tighten a
    contrastive margin (random negatives are trivially separable).
    Same no-corpus-broadcast candidate shape as the kNN graph; the
    label-mismatch filter applies before ranking. At 100 TB the label
    is any supervision signal: source, dedup cluster, language
    (`functions/similarity.lsh_topk_directed` + label filter)."""
    from kafka_sink_azure_kusto_spark.functions.sampling import (
        md5_unit_interval,
    )
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        dot,
        hyperplane_lsh_buckets,
        l2_norm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("v"),
        "label",
    ).withColumn("vn", l2_norm("v"))
    scored_parts = []
    for band in range(2):
        buckets = hyperplane_lsh_buckets(
            emb, num_planes=_KNN_PLANES, plane_offset=band * _KNN_PLANES
        ).withColumnRenamed("id", "nid")
        capped = topk_rows(
            vecs.join(buckets, "nid").withColumn(
                "_h", md5_unit_interval(F.col("nid"), salt="knncap:")
            ),
            "bucket", ["_h", "nid"], _KNN_CAP,
        ).select("nid", "v", "vn", "label", "bucket")
        scored_parts.append(
            capped.select(
                F.col("nid").alias("src"), F.col("v").alias("sv"),
                F.col("vn").alias("sn"),
                F.col("label").alias("src_label"), "bucket",
            )
            .join(
                capped.select(
                    F.col("nid").alias("dst"), F.col("v").alias("dv"),
                    F.col("vn").alias("dn"),
                    F.col("label").alias("dst_label"), "bucket",
                ),
                "bucket",
            )
            .filter(
                (F.col("src") != F.col("dst"))
                & (F.col("src_label") != F.col("dst_label"))
            )
            .select(
                "src", "dst", "src_label", "dst_label",
                (dot("sv", "dv") / (F.col("sn") * F.col("dn")))
                .alias("score"),
            )
        )
    scored = scored_parts[0].unionByName(scored_parts[1]).distinct()
    return topk_rows(scored, "src", ["-score", "dst"], _HN_K).select(
        F.col("src").alias("anchor_id"),
        F.col("dst").alias("negative_id"),
        "src_label", "dst_label",
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


@register(
    "corpus_data_card",
    """
    WITH per_doc AS (
      SELECT source, doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             md5(text) AS fp
      FROM documents),
    dups AS (SELECT source, COUNT(*) - COUNT(DISTINCT fp) AS n_dup_docs
             FROM per_doc GROUP BY source),
    langs AS (SELECT source, COUNT(DISTINCT lang) AS n_langs
              FROM documents GROUP BY source)
    SELECT p.source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
           ROUND(SUM(n_tokens) / CAST(COUNT(*) AS DOUBLE), 6)
               AS mean_tokens,
           MAX(d.n_dup_docs) AS n_dup_docs,
           CAST(MAX(l.n_langs) AS BIGINT) AS n_langs
    FROM per_doc p JOIN dups d USING (source)
                   JOIN langs l USING (source)
    GROUP BY p.source
    """,
)
def corpus_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus DATA CARD — the one-stop release summary a
    training-data pipeline publishes with every corpus drop: document
    and token counts, token-length range/mean, exact-duplicate count
    (fingerprint groupBy), language variety. One pass computes per-doc
    facts in the scan stage; everything aggregates on the enumerable
    source key. The 100 TB story is the same plan — the card is
    |sources| rows."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "source",
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.md5("text").alias("fp"),
    )
    dups = per.groupBy("source").agg(
        (F.count(F.lit(1)) - F.countDistinct("fp")).alias("n_dup_docs")
    )
    langs = per.groupBy("source").agg(
        F.countDistinct("lang").cast("bigint").alias("n_langs")
    )
    card = per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.min("n_tokens").cast("bigint").alias("min_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_tokens"),
        F.round(
            F.sum("n_tokens") / F.count(F.lit(1)).cast("double"), 6
        ).alias("mean_tokens"),
    )
    return card.join(dups, "source").join(langs, "source").select(
        "source", "n_docs", "total_tokens", "min_tokens", "max_tokens",
        "mean_tokens", "n_dup_docs", "n_langs",
    )


_MAT_DIM = 16
_MAT_K = 3


@register(
    "matryoshka_recall_audit",
    f"""
    WITH e AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS v
               FROM embeddings),
    t AS (SELECT nid, v[1:{_MAT_DIM}] AS tv FROM e),
    gt AS (SELECT src, dst FROM (
        SELECT l.nid AS src, r.nid AS dst,
               ROW_NUMBER() OVER (
                   PARTITION BY l.nid
                   ORDER BY list_dot_product(l.v, r.v) /
                            (sqrt(list_dot_product(l.v, l.v)) *
                             sqrt(list_dot_product(r.v, r.v))) DESC,
                            r.nid ASC) AS rnk
        FROM e l JOIN e r ON l.nid <> r.nid
        WHERE l.nid % 20 = 0) WHERE rnk <= {_MAT_K}),
    tr AS (SELECT src, dst FROM (
        SELECT l.nid AS src, r.nid AS dst,
               ROW_NUMBER() OVER (
                   PARTITION BY l.nid
                   ORDER BY list_dot_product(l.tv, r.tv) /
                            (sqrt(list_dot_product(l.tv, l.tv)) *
                             sqrt(list_dot_product(r.tv, r.tv))) DESC,
                            r.nid ASC) AS rnk
        FROM t l JOIN t r ON l.nid <> r.nid
        WHERE l.nid % 20 = 0) WHERE rnk <= {_MAT_K}),
    tot AS (SELECT COUNT(*) AS n_possible FROM gt),
    hit AS (SELECT COUNT(*) AS n_hits FROM gt
            WHERE EXISTS (SELECT 1 FROM tr
                          WHERE tr.src = gt.src AND tr.dst = gt.dst))
    SELECT CAST({_MAT_DIM} AS INT) AS truncated_dim,
           hit.n_hits, tot.n_possible,
           ROUND(hit.n_hits / CAST(tot.n_possible AS DOUBLE), 6) AS recall
    FROM hit, tot
    """,
)
def matryoshka_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA truncation audit: how much top-3 neighbor recall
    survives when embeddings are truncated to their first 16 of 64
    dims (the MRL deployment question — truncated vectors are 4× 
    cheaper to store, scan and shuffle; this measures what that buys
    away). Exact integer hit counts against full-dimension ground
    truth — same order-independent-recall discipline as
    knn_recall_audit. At 100 TB the audit runs on a sampled query set
    and the truncated index serves the fleet."""
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        brute_force_topk,
        recall_arm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # same deterministic 1-in-20 query sample as knn_recall_audit —
    # both brute-force arms are quadratic in the query-side size
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    trunc = emb.select(
        "vec_id", F.slice("embedding", 1, _MAT_DIM).alias("embedding")
    )
    tq = queries.select(
        "vec_id", F.slice("embedding", 1, _MAT_DIM).alias("embedding")
    )
    # the grading semi-join stays lazy off the two checkpoints
    gt = brute_force_topk(emb, queries, k=_MAT_K).select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
    ).localCheckpoint()
    tr = brute_force_topk(trunc, tq, k=_MAT_K).select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
    ).localCheckpoint()
    return recall_arm(
        [F.lit(_MAT_DIM).cast("int").alias("truncated_dim")],
        gt, tr, ["src", "dst"],
    )


@register(
    "multimodal_center_crop",
    """
    WITH imgs AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
                  FROM documents WHERE doc_id % 3 != 2),
    out_idx AS (SELECT doc_id, w, h, unnest(range(0, 36)) AS j FROM imgs),
    src AS (SELECT doc_id, w, h, j, j % 3 AS ch,
                   ((h - 3) // 2 + (j // 3) // 4) * w
                       + ((w - 4) // 2 + (j // 3) % 4) AS i
            FROM out_idx),
    vals AS (SELECT doc_id, j,
                    CASE ch WHEN 0 THEN (doc_id * 31 + i * 7) % 256
                            WHEN 1 THEN (doc_id * 37 + i * 11) % 256
                            ELSE (doc_id * 41 + i * 13) % 256 END AS v
             FROM src)
    SELECT doc_id, CAST(4 AS BIGINT) AS out_w, CAST(3 AS BIGINT) AS out_h,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(v) AS BIGINT) AS sample_sum,
           CAST(SUM((j + 1) * v) AS BIGINT) AS checksum
    FROM vals GROUP BY doc_id
    """,
)
def multimodal_center_crop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL center crop to 4×3 through the BMP/PPM codec path — the
    augmentation sibling of `multimodal_resize` (same decode-once
    single-MapInPandas plan, same integer-stat gate): top-left corner
    ((h−3)//2, (w−4)//2), position-weighted checksum over the cropped
    interleaved raster so a mis-centered, transposed or
    channel-swapped crop breaks the value hash. The oracle replays
    decode + crop closed-form from the pixel spec
    (`functions/multimodal.crop_center`)."""
    from kafka_sink_azure_kusto_spark.functions import multimodal as M

    docs = load_table(spark, sf_dir, "documents")
    return M.synth_crop_stats(docs, crop_w=4, crop_h=3)


@register(
    "similarity_index_incremental_update",
    """
    WITH newsnap AS (SELECT vec_id, label,
        CASE WHEN vec_id % 11 = 0
             THEN list_transform(embedding::DOUBLE[], x -> x + 1.0)
             ELSE embedding::DOUBLE[] END AS v
        FROM embeddings WHERE vec_id % 5 <> 0),
    q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv
          FROM newsnap WHERE vec_id < 8),
    scored AS (SELECT query_id, c.vec_id AS neighbor_id,
                      list_dot_product(qv, c.v) /
                      (sqrt(list_dot_product(qv, qv)) *
                       sqrt(list_dot_product(c.v, c.v))) AS score
               FROM newsnap c JOIN q ON c.label = qlabel
               WHERE c.vec_id <> query_id)
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
           ROUND(score, 6) AS score
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY score DESC,
                                                neighbor_id ASC) AS rank
          FROM scored)
    WHERE rank <= 10
    """,
)
def similarity_index_incremental_update(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL maintenance of the persisted IVF index, driven by a
    snapshot diff — `corpus_snapshot_diff`'s promise made real for the
    ANN store: the index is built from the OLD corpus snapshot
    (vec_id % 7 != 0), the NEW snapshot (vec_id % 5 != 0, vectors with
    vec_id % 11 == 0 modified by +1.0 per dim — a non-scale-invariant
    change, so a missed rewrite actually flips cosines) is DIFFED by
    fingerprint, and ONLY the cells containing added/changed/removed
    vectors are rewritten via dynamic partition overwrite; cells whose
    vectors all vanished are deleted explicitly (dynamic overwrite
    only touches partitions present in the written frame — the
    empty-cell hole every incremental-index implementation must
    plug). The probe then reads the updated index OFF DISK.

    The oracle is the whole-NEW-snapshot probe SQL (invariance): a
    stale unrewritten cell, a missed delete, a double-written vector,
    or diff misclassification breaks the value hash. At 100 TB the
    rewrite cost is |affected cells|, not |corpus| — the measured
    observables (cells rewritten vs total) are asserted in tests."""
    import os

    from kafka_sink_azure_kusto_spark.functions import similarity as S
    from kafka_sink_azure_kusto_spark.plans.registry import _workdir

    emb = load_table(spark, sf_dir, "embeddings")
    dbl = emb.select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    old = dbl.filter(F.col("vec_id") % 7 != 0)
    new = dbl.filter(F.col("vec_id") % 5 != 0).withColumn(
        "v",
        F.when(
            F.col("vec_id") % 11 == 0,
            F.expr("transform(v, x -> x + CAST(1.0 AS DOUBLE))"),
        ).otherwise(F.col("v")),
    )
    work = _workdir("ivf_incr_")
    idx_dir = os.path.join(work, "idx")
    old.withColumnRenamed("label", "cell").write.partitionBy(
        "cell"
    ).parquet(idx_dir)

    fp = F.md5(F.concat_ws(",", F.transform("v", lambda x: x.cast("string"))))
    o = old.select("vec_id", F.col("label").alias("olabel"), fp.alias("ofp"))
    n = new.select("vec_id", F.col("label").alias("nlabel"), fp.alias("nfp"))
    diff = o.join(n, "vec_id", "full_outer").filter(
        F.col("ofp").isNull()          # added
        | F.col("nfp").isNull()        # removed
        | (F.col("ofp") != F.col("nfp"))  # changed
    )
    affected = sorted(
        r["cell"]
        for r in diff.select(F.coalesce("nlabel", "olabel").alias("cell"))
        .distinct()
        .collect()  # bounded: ≤ |cells|
    )
    # cells whose vectors ALL vanished are absent from the rewrite;
    # the shared tail deletes them
    S._rewrite_partitions(
        S._prune_partitions(
            new.withColumnRenamed("label", "cell"), "cell", affected
        ).select("vec_id", "v", "cell"),
        idx_dir, "cell", affected,
    )

    index = spark.read.parquet(idx_dir).withColumnRenamed("v", "embedding")
    queries = new.filter(F.col("vec_id") < 8).withColumnRenamed(
        "v", "embedding"
    )
    out = S.ivf_topk(
        index, queries, k=10, cell_col="cell",
        query_cell_col="label",
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("bigint").alias("rank"),
        F.round("score", 6).alias("score"),
    )

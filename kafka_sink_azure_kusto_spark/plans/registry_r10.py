"""Round-10 registry queries — the retrieval-family completion the r9
verdict named plus the recall-calibration gate:

- ``similarity_graph_search`` — graph-based ANN search (HNSW layer-0
  analog): greedy beam search from fixed entry points over the
  undirected 2-band kNN edge lists, fixed rounds, every stage an
  equi-join. The substrate is the TWO-band directed top-k graph (the
  NN-descent seed) rather than the single-band mutual graph: with one
  band every edge stays inside one LSH bucket, so the search could
  never escape the entry points' buckets — the same structural no-op
  the r9b NN-descent probe found.
- ``graph_search_recall_audit`` — graph search vs IVF multiprobe at
  (measured) equal candidate budget against exact brute-force ground
  truth; candidate counts are exact integers so "equal budget" is
  evidence, not assertion.
- ``knn_recall_calibration`` — the planes×bands → recall matrix from
  PERF.md r9b as a GATED query (deterministic integer hit counts), so
  a regression anywhere in the LSH/seed stack surfaces as a hash
  mismatch instead of a silent doc drift.

Oracle note: the unrolled-search CTEs are marked ``AS MATERIALIZED`` —
each round references the previous round twice (frontier + visited
anti-join), so DuckDB's default CTE inlining re-evaluates the whole
upstream pipeline exponentially (the un-materialized audit OOM'd the
gate runner at sf0.01).

No reference citations: north-star additions (SURVEY §7.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_sink_azure_kusto_spark.functions.sampling import (
    md5_unit_interval_sql,
)
from kafka_sink_azure_kusto_spark.functions.similarity import topk_rows
from kafka_sink_azure_kusto_spark.plans.registry import register, run_replay
from kafka_sink_azure_kusto_spark.plans.registry_r9b import (
    _KNN_CAP,
    _KNN_K,
    _KNN_PLANES,
    _NND_SEED_SQL,
    _knn_comp_sql,
)
from kafka_sink_azure_kusto_spark.sources.tables import load_table

# search parameters
_GS_QMOD = 25       # queries: vec_id % 25 == 0
_GS_ENTRY = 50      # entry points: vec_id % 50 == 0 (~corpus/50)
_GS_BEAM = 4
_GS_ROUNDS = 2
_GS_K = 5


def _bucket_sql(planes: int, offset: int) -> str:
    return " || ".join(
        f"(CASE WHEN list_dot_product(v, {_knn_comp_sql(p)}) >= 0 "
        f"THEN '1' ELSE '0' END)"
        for p in range(offset, offset + planes)
    )


def _cos(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * "
        f"sqrt(list_dot_product({b}, {b})))"
    )


# undirected edge list from the 2-band directed top-k seed (r9b's
# _NND_SEED_SQL defines CTEs e and seed); sm materializes seed once so
# the two-direction union doesn't run the LSH pipeline twice
_UND_EDGES_SQL = f"""
    {_NND_SEED_SQL},
    sm AS MATERIALIZED (SELECT src, dst FROM seed),
    und AS MATERIALIZED (SELECT src, dst FROM sm
                         UNION
                         SELECT dst AS src, src AS dst FROM sm)
"""


def _search_rounds_sql(rounds: int, beam: int) -> str:
    """Unrolled beam-search CTEs: s0 (scored entry points), then per
    round r: f{r} = per-query top-``beam`` of the PREVIOUS round's new
    scores, c{r} = their edge expansion minus everything already
    visited, s{r} = exact scores of the new nodes, vis{r} = running
    visited union. Mirrors ``graph_search_topk``'s loop exactly."""
    parts = [f"""
    xq AS MATERIALIZED (SELECT nid AS qid, v AS qv FROM e
                       WHERE nid % {_GS_QMOD} = 0),
    xs0 AS MATERIALIZED (
        SELECT xq.qid, n.nid, {_cos("xq.qv", "n.v")} AS score
        FROM xq CROSS JOIN
             (SELECT nid, v FROM e WHERE nid % {_GS_ENTRY} = 0) n),
    xvis0 AS MATERIALIZED (SELECT qid, nid, score FROM xs0)"""]
    for r in range(1, rounds + 1):
        parts.append(f"""
    xf{r} AS MATERIALIZED (SELECT qid, nid FROM (
        SELECT qid, nid,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY score DESC, nid ASC) AS br
        FROM xs{r - 1}) WHERE br <= {beam}),
    xc{r} AS MATERIALIZED (SELECT DISTINCT f.qid, u.dst AS nid
             FROM xf{r} f JOIN und u ON f.nid = u.src
             WHERE NOT EXISTS (SELECT 1 FROM xvis{r - 1} vv
                               WHERE vv.qid = f.qid AND vv.nid = u.dst)),
    xs{r} AS MATERIALIZED (
        SELECT c.qid, c.nid, {_cos("xq.qv", "n.v")} AS score
        FROM xc{r} c JOIN e n ON c.nid = n.nid
                     JOIN xq ON c.qid = xq.qid),
    xvis{r} AS MATERIALIZED (SELECT qid, nid, score FROM xvis{r - 1}
               UNION ALL
               SELECT qid, nid, score FROM xs{r})""")
    return ",".join(parts)


def _search_edges_spark(emb: DataFrame) -> DataFrame:
    """The Spark twin of _UND_EDGES_SQL: 2-band directed top-k lists
    (the NN-descent seed substrate) — cross-band edges are what let the
    search hop out of any one LSH bucketing."""
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        lsh_topk_directed,
    )

    return lsh_topk_directed(
        emb, num_planes=_KNN_PLANES, k=_KNN_K, bucket_cap=_KNN_CAP, bands=2
    )


@register(
    "similarity_graph_search",
    f"""
    WITH {_UND_EDGES_SQL},
    {_search_rounds_sql(_GS_ROUNDS, _GS_BEAM)}
    SELECT qid AS query_id, nid AS neighbor_id,
           ROUND(score, 6) AS score, CAST(rnk AS BIGINT) AS rank
    FROM (SELECT qid, nid, score,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY score DESC, nid ASC) AS rnk
          FROM xvis{_GS_ROUNDS} WHERE nid <> qid)
    WHERE rnk <= {_GS_K}
    """,
)
def similarity_graph_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-based ANN search over the 2-band kNN edge lists (HNSW
    layer-0 analog): each query (vec_id % 25 == 0) starts at the fixed
    entry set (vec_id % 50 == 0), scores it exactly, then for 2 rounds
    expands its 4 best unexpanded nodes through the undirected edge
    list, scoring only newly discovered nodes; top-5 of everything
    visited. Per query the scored set is ≤ entries + rounds·beam·degree
    — independent of corpus size — and every stage is an equi-join
    (frontier⋈edges on node id, candidates⋈vectors on node id) with the
    bounded query side broadcast
    (`functions/similarity.graph_search_topk`)."""
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        graph_search_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return graph_search_topk(
        emb,
        emb.filter(F.col("vec_id") % _GS_QMOD == 0),
        _search_edges_spark(emb),
        k=_GS_K,
        rounds=_GS_ROUNDS,
        beam=_GS_BEAM,
        entry_stride=_GS_ENTRY,
    )


_AUD_K = 3  # audit grades top-3 against exact top-3 ground truth


@register(
    "graph_search_recall_audit",
    f"""
    WITH {_UND_EDGES_SQL},
    {_search_rounds_sql(_GS_ROUNDS, _GS_BEAM)},
    gvis AS MATERIALIZED (SELECT qid, nid, ROUND(score, 6) AS score
             FROM xvis{_GS_ROUNDS} WHERE nid <> qid),
    gres AS MATERIALIZED (SELECT qid, nid FROM (
        SELECT qid, nid,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY score DESC, nid ASC) AS rnk
        FROM gvis) WHERE rnk <= {_AUD_K}),
    pd AS (SELECT label AS cell, unnest(range(1, len(embedding) + 1)) AS i,
                  embedding::DOUBLE[] AS v
           FROM embeddings),
    cd AS (SELECT cell, i, AVG(v[i]) AS m FROM pd GROUP BY cell, i),
    cent AS MATERIALIZED (SELECT cell, list(round(m, 6) ORDER BY i) AS centroid
             FROM cd GROUP BY cell),
    qc AS MATERIALIZED (SELECT qid, qv, cell FROM (
        SELECT xq.qid, xq.qv, c.cell,
               ROW_NUMBER() OVER (PARTITION BY xq.qid
                 ORDER BY {_cos("xq.qv", "c.centroid")} DESC,
                          c.cell ASC) AS cr
        FROM xq CROSS JOIN cent c) WHERE cr <= 1),
    icand AS MATERIALIZED (SELECT qc.qid, cv.vec_id AS nid,
                     {_cos("qc.qv", "cv.v")} AS score
              FROM (SELECT vec_id, label, embedding::DOUBLE[] AS v
                    FROM embeddings) cv
              JOIN qc ON cv.label = qc.cell
              WHERE cv.vec_id <> qc.qid),
    ires AS MATERIALIZED (SELECT qid, nid FROM (
        SELECT qid, nid,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY score DESC, nid ASC) AS rnk
        FROM icand) WHERE rnk <= {_AUD_K}),
    gt AS MATERIALIZED (SELECT qid, nid FROM (
        SELECT xq.qid, c.nid,
               ROW_NUMBER() OVER (PARTITION BY xq.qid
                                  ORDER BY {_cos("xq.qv", "c.v")} DESC,
                                           c.nid ASC) AS rnk
        FROM xq JOIN e c ON c.nid <> xq.qid) WHERE rnk <= {_AUD_K}),
    tot AS (SELECT COUNT(*) AS n_possible FROM gt),
    gn AS (SELECT COUNT(*) AS n_candidates FROM gvis),
    inn AS (SELECT COUNT(*) AS n_candidates FROM icand),
    gh AS (SELECT COUNT(*) AS n_hits FROM gt
           WHERE EXISTS (SELECT 1 FROM gres r
                         WHERE r.qid = gt.qid AND r.nid = gt.nid)),
    ih AS (SELECT COUNT(*) AS n_hits FROM gt
           WHERE EXISTS (SELECT 1 FROM ires r
                         WHERE r.qid = gt.qid AND r.nid = gt.nid))
    SELECT 'graph_search' AS method, gn.n_candidates, gh.n_hits,
           tot.n_possible,
           ROUND(gh.n_hits / CAST(tot.n_possible AS DOUBLE), 6) AS recall
    FROM gn, gh, tot
    UNION ALL
    SELECT 'ivf_multiprobe_1' AS method, inn.n_candidates, ih.n_hits,
           tot.n_possible,
           ROUND(ih.n_hits / CAST(tot.n_possible AS DOUBLE), 6) AS recall
    FROM inn, ih, tot
    """,
)
def graph_search_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit: graph-based beam search vs IVF multiprobe (1 cell)
    at MEASURED candidate budget, graded top-3 against exact
    brute-force ground truth on the same query sample → (method,
    n_candidates, n_hits, n_possible, recall). n_candidates counts the
    vectors each method actually scored, so "equal budget" is in the
    result, not the prose: with 10 cells, one probed cell scores
    ~corpus/10 per query; the graph arm's entries + rounds·beam·degree
    bound lands in the same range by construction. All counts exact
    integers; recall is one division
    (`functions/similarity.graph_search_topk`)."""
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        brute_force_topk,
        cell_centroids,
        cosine,
        graph_search_topk,
        multiprobe_cells,
        recall_arm,
        topk_rows,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % _GS_QMOD == 0)

    def _gt_arm() -> DataFrame:
        return brute_force_topk(emb, queries, k=_AUD_K).select(
            F.col("query_id").alias("qid"), F.col("neighbor_id").alias("nid")
        ).localCheckpoint()

    def _graph_arm() -> DataFrame:
        return (
            graph_search_topk(
                emb, queries, _search_edges_spark(emb),
                rounds=_GS_ROUNDS, beam=_GS_BEAM, entry_stride=_GS_ENTRY,
                return_visited=True,
            )
            .filter(F.col("nid") != F.col("query_id"))
            .select(F.col("query_id").alias("qid"), "nid", "score")
            .localCheckpoint()
        )

    def _ivf_arm() -> DataFrame:
        cents = cell_centroids(emb, cell_col="label").select(
            "cell",
            F.transform("centroid", lambda x: F.round(x, 6)).alias("centroid"),
        )
        qc = multiprobe_cells(
            queries.select(
                F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
            ),
            cents, n_probe=1, query_id_col="qid", query_vec_col="qv",
        )
        return (
            emb.select(
                F.col("vec_id").alias("nid"),
                F.col("embedding").alias("cv"),
                F.col("label").alias("cell"),
            )
            .join(F.broadcast(qc), "cell")
            .filter(F.col("nid") != F.col("qid"))
            .select(
                "qid", "nid", cosine("qv", "cv").alias("score")
            )
            .localCheckpoint()
        )

    gt, gvis, icand = _gt_arm(), _graph_arm(), _ivf_arm()
    return recall_arm(
        [F.lit("graph_search").alias("method")], gt,
        topk_rows(gvis, "qid", ["-score", "nid"], _AUD_K), ["qid", "nid"],
        candidates=gvis,
    ).unionByName(
        recall_arm(
            [F.lit("ivf_multiprobe_1").alias("method")], gt,
            topk_rows(icand, "qid", ["-score", "nid"], _AUD_K), ["qid", "nid"],
            candidates=icand,
        )
    )


# calibration grid: planes × bands → seed recall, the ANN family's
# tuning protocol (PERF.md r9b) as integers. Small grid on purpose —
# the NN-descent increment is already graded by knn_recall_audit.
_CAL_GRID = [(4, 2), (4, 3), (6, 2), (6, 3)]
_CAL_K = 3
_CAL_CAP = 256
_CAL_GT_MOD = 20


def _cal_seed_sql(planes: int, bands: int, sfx: str) -> str:
    """Banded seed CTEs for one (planes, bands) config; band b uses
    plane ids [b·planes, (b+1)·planes) — lsh_topk_directed's layout."""
    band_ctes, band_sel = [], []
    for b in range(bands):
        band_ctes.append(f"""
    cb{sfx}_{b} AS MATERIALIZED (SELECT nid, bucket FROM (
        SELECT nid, {_bucket_sql(planes, b * planes)} AS bucket,
               ROW_NUMBER() OVER (
                   PARTITION BY {_bucket_sql(planes, b * planes)}
                   ORDER BY {md5_unit_interval_sql("nid", salt="knncap:")},
                            nid) AS cr
        FROM e) WHERE cr <= {_CAL_CAP})""")
        band_sel.append(
            f"SELECT l.nid AS src, r.nid AS dst "
            f"FROM cb{sfx}_{b} l JOIN cb{sfx}_{b} r USING (bucket) "
            f"WHERE l.nid <> r.nid"
        )
    pairs = " UNION ALL ".join(band_sel)
    return ",".join(band_ctes) + f""",
    pr{sfx} AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({pairs})),
    sd{sfx} AS MATERIALIZED (SELECT src, dst FROM (
        SELECT pr{sfx}.src, pr{sfx}.dst,
               ROW_NUMBER() OVER (
                   PARTITION BY pr{sfx}.src
                   ORDER BY {_cos("es.v", "ed.v")} DESC,
                            pr{sfx}.dst ASC) AS rnk
        FROM pr{sfx} JOIN e es ON pr{sfx}.src = es.nid
                     JOIN e ed ON pr{sfx}.dst = ed.nid)
        WHERE rnk <= {_CAL_K}),
    h{sfx} AS MATERIALIZED (SELECT COUNT(*) AS n_hits FROM gt
        WHERE EXISTS (SELECT 1 FROM sd{sfx} s
                      WHERE s.src = gt.src AND s.dst = gt.dst))"""


def _cal_sql() -> str:
    ctes = [f"""
    e AS MATERIALIZED (SELECT vec_id AS nid, embedding::DOUBLE[] AS v
                       FROM embeddings),
    gt AS MATERIALIZED (SELECT src, dst FROM (
        SELECT l.nid AS src, r.nid AS dst,
               ROW_NUMBER() OVER (PARTITION BY l.nid
                                  ORDER BY {_cos("l.v", "r.v")} DESC,
                                           r.nid ASC) AS rnk
        FROM e l JOIN e r ON l.nid <> r.nid
        WHERE l.nid % {_CAL_GT_MOD} = 0) WHERE rnk <= {_CAL_K}),
    tot AS (SELECT COUNT(*) AS n_possible FROM gt)"""]
    sels = []
    for p, b in _CAL_GRID:
        sfx = f"{p}_{b}"
        ctes.append(_cal_seed_sql(p, b, sfx))
        sels.append(f"""
    SELECT CAST({p} AS BIGINT) AS num_planes, CAST({b} AS BIGINT) AS bands,
           h{sfx}.n_hits, tot.n_possible,
           ROUND(h{sfx}.n_hits / CAST(tot.n_possible AS DOUBLE), 6) AS recall
    FROM h{sfx}, tot""")
    return "WITH " + ",".join(ctes) + (" UNION ALL ".join(sels))


@register("knn_recall_calibration", _cal_sql())
def knn_recall_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN recall-calibration matrix as a gated query: for each
    (num_planes, bands) in a 2×2 grid, the LSH seed round's exact hit
    count against brute-force top-3 ground truth on a deterministic
    1-in-20 query sample → (num_planes, bands, n_hits, n_possible,
    recall). This is PERF.md r9b's tuning table made regression-proof:
    any change to the hyperplane family, banding layout, bucket cap, or
    seed ranking flips an integer and fails the gate. Ground truth is
    computed ONCE and shared by all four configs.

    Plan shape: all 10 (config, band) bucketings union into ONE frame
    tagged by a composite bucket key (cfg:band:bucket — the cap window
    and the pair self-join then run ONCE over the union instead of 10
    sequential lsh_topk_directed pipelines; measured 13.6 → ~10 s at
    sf0.1 in the r10 driver artifact (the fusion saves the 9 redundant
    ground-truth arms; the remaining cost IS the brute-force GT arm),
    bit-identical results since capping/scoring/ranking partition on
    keys that embed the config). The per-config semantics are exactly
    ``lsh_topk_directed``'s: md5-rank member cap, exact cosine, band
    union deduped by identical deterministic scores."""
    from kafka_sink_azure_kusto_spark.functions.sampling import (
        md5_unit_interval,
    )
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        brute_force_topk,
        dot,
        hyperplane_lsh_buckets,
        l2_norm,
    )

    emb = load_table(spark, sf_dir, "embeddings")

    def _gt_arm() -> DataFrame:
        return brute_force_topk(
            emb, emb.filter(F.col("vec_id") % _CAL_GT_MOD == 0), k=_CAL_K
        ).select(
            F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
        ).localCheckpoint()

    def _seed_arm() -> DataFrame:
        vecs = emb.select(
            F.col("vec_id").alias("nid"), F.col("embedding").alias("v")
        ).withColumn("vn", l2_norm("v"))
        parts = []
        for ci, (p, b) in enumerate(_CAL_GRID):
            for band in range(b):
                buckets = hyperplane_lsh_buckets(
                    emb, num_planes=p, plane_offset=band * p
                ).withColumnRenamed("id", "nid")
                parts.append(
                    buckets.select(
                        F.lit(ci).alias("cfg"),
                        F.concat(
                            F.lit(f"{ci}:{band}:"), F.col("bucket")
                        ).alias("bkey"),
                        "nid",
                    )
                )
        allb = parts[0]
        for pt in parts[1:]:
            allb = allb.unionByName(pt)
        capped = topk_rows(
            allb.join(vecs, "nid").withColumn(
                "_h", md5_unit_interval(F.col("nid"), salt="knncap:")
            ),
            "bkey", ["_h", "nid"], _CAL_CAP,
        ).select("cfg", "bkey", "nid", "v", "vn")
        scored = (
            capped.select(
                "cfg", "bkey",
                F.col("nid").alias("src"), F.col("v").alias("sv"),
                F.col("vn").alias("sn"),
            )
            .join(
                capped.select(
                    "bkey",
                    F.col("nid").alias("dst"), F.col("v").alias("dv"),
                    F.col("vn").alias("dn"),
                ),
                "bkey",
            )
            .filter(F.col("src") != F.col("dst"))
            .select(
                "cfg", "src", "dst",
                (dot("sv", "dv") / (F.col("sn") * F.col("dn")))
                .alias("score"),
            )
            .distinct()  # multi-band repeats carry identical scores
        )
        return (
            topk_rows(scored, ["cfg", "src"], ["-score", "dst"], _CAL_K)
            .select("cfg", "src", "dst")
            .localCheckpoint()
        )

    # the final grading join is cheap and stays lazy
    gt, seeds = _gt_arm(), _seed_arm()
    tot = gt.agg(F.count(F.lit(1)).alias("n_possible"))
    hits = (
        seeds.join(gt, ["src", "dst"], "left_semi")
        .groupBy("cfg")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    grid = spark.createDataFrame(
        [(ci, p, b) for ci, (p, b) in enumerate(_CAL_GRID)],
        ["cfg", "num_planes", "bands"],
    )
    return (
        grid.join(hits, "cfg", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("num_planes").cast("long").alias("num_planes"),
            F.col("bands").cast("long").alias("bands"),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            "n_possible",
            F.round(
                F.coalesce("n_hits", F.lit(0)) / F.col("n_possible"), 6
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------
# Streaming IVF index maintenance (VERDICT r9 #3): the r9b diff-driven
# cell rewrite composed into the LIVE foreachBatch loop — upserts and
# Kafka-style NULL tombstones arrive in micro-batches, each batch
# rewrites only its affected cells (ivf_index_upsert), a probe runs
# BETWEEN batches (epoch-keyed overwrite — the exactly-once recipe),
# and the gate grades the FINAL probe against the whole-snapshot
# oracle: a stale cell, missed tombstone, double-write, or lost
# in-batch ordering flips the value hash.
#
# Fixture by vec_id (all closed-form for the oracle):
#   seed index      : vec_id % 3 == 0 (original vectors)
#   batch 0 (seq 0) : vec_id % 3 == 1, plus MODIFIED (+1.0/dim)
#                     re-deliveries of vec_id % 9 == 0
#   batch 1 (seq 1) : vec_id % 3 == 2, plus TOMBSTONES (v NULL) of
#                     vec_id % 15 == 0
# Final state: vec_id % 15 == 0 absent; vec_id % 9 == 0 at +1.0;
# everything else original. (+1.0 per dim is NOT scale-invariant, so a
# missed rewrite actually flips cosines.)

_IVF_STREAM_ORACLE = f"""
    WITH fs AS (
      SELECT vec_id, label,
             CASE WHEN vec_id % 9 = 0
                  THEN list_transform(embedding::DOUBLE[], x -> x + 1.0)
                  ELSE embedding::DOUBLE[] END AS v
      FROM embeddings WHERE vec_id % 15 <> 0),
    q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv
          FROM fs WHERE vec_id < 8),
    scored AS (SELECT query_id, c.vec_id AS neighbor_id,
                      {_cos("qv", "c.v")} AS score
               FROM fs c JOIN q ON c.label = qlabel
               WHERE c.vec_id <> query_id)
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
           round(score, 6) AS score
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY score DESC,
                                                neighbor_id ASC) AS rank
          FROM scored)
    WHERE rank <= 10
"""


_IVF_INDEX_SCHEMA = "vec_id long, v array<double>, cell int"
_IVF_PROBE_SCHEMA = "query_id long, neighbor_id long, rank bigint, score double"


def _run_ivf_stream_loop(
    spark: SparkSession, sf_dir: str, stats: dict | None = None
) -> DataFrame:
    """Engine of ``streaming_ivf_index_maintenance``; ``stats`` (tests)
    records per-epoch affected cells, emptied cells, and the per-cell
    data files before and after each batch.

    Both replay chunks come from one collect, the index and the probe
    directory are read with their known schemas (no inference job),
    and the result is the probe directory of the highest epoch the
    ``foreachBatch`` saw. Each batch's upsert leaves one data file per
    touched cell, so the index stays at one file per live cell."""
    import json
    import os

    from kafka_sink_azure_kusto_spark.functions.similarity import (
        ivf_index_upsert,
        ivf_topk,
    )
    from kafka_sink_azure_kusto_spark.plans.registry import _workdir

    work = _workdir("stream_ivf_")
    emb = load_table(spark, sf_dir, "embeddings")
    dbl = emb.select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    idx_dir = os.path.join(work, "idx")
    dbl.filter(F.col("vec_id") % 3 == 0).select(
        "vec_id", "v", F.col("label").alias("cell")
    ).write.partitionBy("cell").parquet(idx_dir)

    # Both replay chunks are built on the driver from one collect, which
    # generates far less code than a Spark union per chunk (vec_id is
    # non-negative, so Python's % agrees with Spark's). A tombstone is a
    # record without "v"; the JSON reader reads it as NULL.
    def record(r, v, seq: int) -> str:
        rec = {"vec_id": r.vec_id, "label": r.label, "seq": seq}
        return json.dumps(rec if v is None else {**rec, "v": v})

    rows = dbl.collect()
    chunks = [
        [record(r, r.v, 0) for r in rows if r.vec_id % 3 == 1]
        + [record(r, [x + 1.0 for x in r.v], 0) for r in rows if r.vec_id % 9 == 0],
        [record(r, r.v, 1) for r in rows if r.vec_id % 3 == 2]
        + [record(r, None, 1) for r in rows if r.vec_id % 15 == 0],
    ]
    probes_dir = os.path.join(work, "probes")

    def cell_files() -> dict:
        out = {}
        for d in os.listdir(idx_dir):
            if d.startswith("cell="):
                out[d] = sorted(
                    f for f in os.listdir(os.path.join(idx_dir, d))
                    if f.endswith(".parquet")
                )
        return out

    def upsert_and_probe(batch_df, epoch_id: int) -> None:
        mb = batch_df.sparkSession
        before = cell_files() if stats is not None else None
        affected = [
            r[0] for r in batch_df.select("label").distinct().collect()
        ] if stats is not None else None
        emptied = ivf_index_upsert(
            batch_df, idx_dir,
            id_col="vec_id", vec_col="v", cell_col="label", seq_col="seq",
        )
        # probe BETWEEN batches, off the updated on-disk index;
        # epoch-keyed overwrite so a micro-batch retry rewrites its own
        # directory instead of appending duplicates
        idx = mb.read.schema(_IVF_INDEX_SCHEMA).parquet(idx_dir).withColumnRenamed(
            "v", "embedding"
        )
        probe = ivf_topk(
            idx, idx.filter(F.col("vec_id") < 8),
            k=10, cell_col="cell", query_cell_col="cell",
        )
        probe.select(
            "query_id", "neighbor_id",
            F.col("rank").cast("bigint").alias("rank"),
            F.round("score", 6).alias("score"),
        ).write.mode("overwrite").parquet(
            os.path.join(probes_dir, f"epoch={int(epoch_id)}")
        )
        if stats is not None:
            stats[int(epoch_id)] = {
                "affected_cells": sorted(affected),
                "emptied_cells": emptied,
                "files_before": before,
                "files_after": cell_files(),
            }

    epochs = run_replay(
        spark, work, "vec_id long, label int, v array<double>, seq int",
        chunks, upsert_and_probe,
    )
    return spark.read.schema(_IVF_PROBE_SCHEMA).parquet(
        os.path.join(probes_dir, f"epoch={epochs[-1]}")
    )


@register("streaming_ivf_index_maintenance", _IVF_STREAM_ORACLE)
def streaming_ivf_index_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LIVE IVF index maintenance through the real streaming engine
    (VERDICT r9 #3): micro-batches of vector upserts + Kafka-style NULL
    tombstones arrive over a cell-partitioned parquet index; each batch
    rewrites ONLY its affected cells via `ivf_index_upsert` (dynamic
    partition overwrite, last-write-wins within the batch, emptied
    cells removed), then probes the updated index OFF DISK between
    batches with epoch-keyed overwrite results. Gate = the final
    probe vs the whole-snapshot oracle — a stale cell, missed
    tombstone, or double-write breaks the value hash. At 100 TB each
    batch's I/O is |affected cells|, never |index|, and each batch
    leaves one data file per touched cell; both are asserted in
    tests/test_r10_operators.py (`functions/similarity.ivf_index_upsert`)."""
    return _run_ivf_stream_loop(spark, sf_dir)


# ---------------------------------------------------------------------
# Multimodal curation pipeline (VERDICT r9 #4): the image-text
# equivalent of `curation_pipeline` — decode once → perceptual dHash
# dedup (keep-first) → CLIP-align filter → text-quality gate → pack
# manifest, one gated end-to-end query with a stage-composed oracle so
# stage BOUNDARIES (who survives each filter, their pack coordinates)
# are hash-verified, not just the final count.

def _mm_cur_sql() -> str:
    from kafka_sink_azure_kusto_spark.plans.registry_northstar import (
        _CLF_W,
        _clf_bucket_sql,
    )

    return f"""
    WITH imgs AS (SELECT doc_id, doc_id % 97 AS mid FROM documents
                  WHERE (doc_id % 97) % 3 != 2),
    ddims AS (SELECT doc_id, mid, 4 + mid % 13 AS w, 3 + mid % 7 AS h
              FROM imgs),
    dcells AS (SELECT doc_id, mid, w, h, gr.g AS gr, gc.c AS gc,
                      ((gr.g * h) // 8) * w + ((gc.c * w) // 9) AS i
               FROM ddims
               CROSS JOIN (SELECT unnest(range(0, 8)) AS g) gr
               CROSS JOIN (SELECT unnest(range(0, 9)) AS c) gc),
    dlum AS (SELECT doc_id, gr, gc,
                    299 * ((mid * 31 + i * 7) % 256)
                  + 587 * ((mid * 37 + i * 11) % 256)
                  + 114 * ((mid * 41 + i * 13) % 256) AS l
             FROM dcells),
    dbits AS (SELECT a.doc_id, a.gr, a.gc,
                     CASE WHEN a.l < b.l THEN 1 ELSE 0 END AS bit
              FROM dlum a JOIN dlum b
                ON a.doc_id = b.doc_id AND a.gr = b.gr AND b.gc = a.gc + 1
              WHERE a.gc < 8),
    dsig AS MATERIALIZED (SELECT doc_id,
                   -- CAST: DuckDB SUM(BIGINT) is HUGEINT, which pandas
                   -- renders as float64 and loses bit-62 precision
                   CAST(SUM(CASE WHEN gr * 8 + gc < 63
                            THEN bit * (CAST(1 AS BIGINT) << (gr * 8 + gc))
                            ELSE 0 END) AS BIGINT) AS dh
            FROM dbits GROUP BY doc_id),
    dblocks AS (SELECT doc_id, dh, bj.j AS j,
                       (dh >> (16 * bj.j)) & 65535 AS bb
                FROM dsig CROSS JOIN (SELECT unnest(range(0, 4)) AS j) bj),
    dpairs AS (SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id,
                               l.dh AS ldh, r.dh AS rdh
               FROM dblocks l JOIN dblocks r
                 ON l.j = r.j AND l.bb = r.bb AND l.doc_id < r.doc_id),
    dropped AS (SELECT DISTINCT right_id AS doc_id FROM dpairs
                WHERE bit_count(xor(ldh, rdh)) <= 10),
    surv AS (SELECT imgs.doc_id FROM imgs
             WHERE NOT EXISTS (SELECT 1 FROM dropped dd
                               WHERE dd.doc_id = imgs.doc_id)),
    mbase AS (SELECT doc_id, mid,
                     3 * (4 + mid % 13) * (3 + mid % 7) AS n_tot
              FROM imgs),
    midx AS (SELECT *, unnest(generate_series(0, n_tot - 1)) AS j
             FROM mbase),
    mvals AS (SELECT doc_id, n_tot, j,
              CAST(CASE
                WHEN j % 3 = 0 THEN (mid * 31 + (j // 3) * 7) % 256
                WHEN j % 3 = 1 THEN (mid * 37 + (j // 3) * 11) % 256
                ELSE (mid * 41 + (j // 3) * 13) % 256
              END AS BIGINT) AS v
              FROM midx),
    magg AS MATERIALIZED (SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS f0,
                   CAST(SUM(v) AS BIGINT) AS f1,
                   CAST(MIN(v) AS BIGINT) AS f2,
                   CAST(MAX(v) AS BIGINT) AS f3,
                   CAST(SUM((j + 1) * v) AS BIGINT) AS f4,
                   CAST(SUM(v * v) AS BIGINT) AS f5,
                   CAST(MAX(CASE WHEN j = 0 THEN v END) AS BIGINT) AS f6,
                   CAST(MAX(CASE WHEN j = n_tot - 1 THEN v END)
                        AS BIGINT) AS f7
            FROM mvals GROUP BY doc_id),
    lff AS (SELECT doc_id, CAST(0 AS BIGINT) AS fi, f0 AS feat FROM magg
            UNION ALL SELECT doc_id, 1, f1 FROM magg
            UNION ALL SELECT doc_id, 2, f2 FROM magg
            UNION ALL SELECT doc_id, 3, f3 FROM magg
            UNION ALL SELECT doc_id, 4, f4 FROM magg
            UNION ALL SELECT doc_id, 5, f5 FROM magg
            UNION ALL SELECT doc_id, 6, f6 FROM magg
            UNION ALL SELECT doc_id, 7, f7 FROM magg),
    mimg AS (SELECT doc_id, dd.d AS d,
                    SUM(feat * ((fi * 31 + dd.d * 17) % 7 - 3)) AS img_v
             FROM lff CROSS JOIN (SELECT unnest(range(0, 64)) AS d) dd
             GROUP BY doc_id, dd.d),
    mimgl AS (SELECT doc_id, list(CAST(img_v AS DOUBLE) ORDER BY d) AS iv
              FROM mimg GROUP BY doc_id),
    msc AS (SELECT i.doc_id,
                   list_dot_product(e.embedding::DOUBLE[], i.iv)
                     / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                              e.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(i.iv, i.iv))) AS s
            FROM mimgl i JOIN embeddings e ON e.vec_id = i.doc_id),
    align AS (SELECT doc_id, round(s, 6) AS align_score FROM msc
              WHERE s >= 0.0),
    ctoks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    cuni AS (SELECT doc_id, 'u:' || unnest(ws) AS f FROM ctoks),
    cbi AS (SELECT doc_id, 'b:' || ws[g.i] || ' ' || ws[g.i + 1] AS f
            FROM ctoks
            CROSS JOIN LATERAL (SELECT unnest(range(1, len(ws))) AS i) g),
    cfeats AS (SELECT * FROM cuni UNION ALL SELECT * FROM cbi),
    cagg AS (SELECT doc_id,
                    CAST(COUNT(*) AS BIGINT) AS n_features,
                    CAST(SUM({_CLF_W.format(b=_clf_bucket_sql('f'))})
                         AS BIGINT) AS mw
             FROM cfeats GROUP BY doc_id),
    cq AS (SELECT doc_id FROM cagg
           WHERE 1.0 / (1.0 + exp(-(mw / 1000.0) / n_features)) >= 0.5),
    sel AS (SELECT s.doc_id, g.dh AS dhash, a.align_score,
                   m.f0 AS n_units
            FROM surv s JOIN dsig g USING (doc_id)
                        JOIN align a USING (doc_id)
                        JOIN magg m USING (doc_id)
            WHERE EXISTS (SELECT 1 FROM cq WHERE cq.doc_id = s.doc_id)),
    pre AS (SELECT doc_id, dhash, align_score, n_units,
                   CAST(doc_id % 4 AS INT) AS shard,
                   CAST(COALESCE(SUM(n_units) OVER (
                            PARTITION BY doc_id % 4 ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0)
                        AS BIGINT) AS units_before
            FROM sel)
    SELECT doc_id, dhash, align_score, CAST(n_units AS BIGINT) AS n_units,
           shard, units_before,
           CAST(FLOOR(units_before / 2048.0) AS BIGINT) AS pack_id
    FROM pre
    """


@register("multimodal_curation_pipeline", _mm_cur_sql())
def multimodal_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end IMAGE-TEXT pair curation (VERDICT r9 #4) — the
    multimodal twin of `curation_pipeline`:

      decode ONCE (fused dHash+features mapInPandas, media id =
      doc_id % 97 so the corpus contains genuine duplicate images)
      → perceptual near-dup dedup (4×16-bit block-LSH, Hamming ≤ 10,
        keep-first: any doc appearing as the larger id of a pair drops)
      → CLIP-align filter (integer projection → cosine ≥ 0 vs the
        doc's text embedding)
      → text-quality classifier gate (clf_keep)
      → pack manifest (4 shards, ≤2048 decoded samples per pack,
        prefix-sum boundaries).

    One row per SELECTED pair with full curation coordinates:
    (doc_id, dhash, align_score, n_units, shard, units_before,
    pack_id). Decode-once is structural: the fused kernel is a single
    MapInPandas whose 32 B/row output is localCheckpoint'd and fanned
    to the dedup and align branches (plan-asserted in
    tests/test_r10_operators.py). The oracle composes the same stage
    oracles, so each filter's survivor set is hash-verified
    (`functions/multimodal.media_dhash_and_features`)."""
    from kafka_sink_azure_kusto_spark.functions import multimodal as M
    from kafka_sink_azure_kusto_spark.functions.text import (
        quality_classifier,
    )
    from kafka_sink_azure_kusto_spark.operators.packing import (
        pack_sequences,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    fused = M.media_dhash_and_features(
        docs, media_id=F.col("doc_id") % 97
    ).localCheckpoint(eager=True)
    hashes = fused.filter(F.col("feat_idx") == 0).select("doc_id", "dhash")
    pairs = M.dhash_neardup_pairs(hashes, max_hamming=10, num_blocks=4)
    dropped = pairs.select(F.col("right_id").alias("doc_id")).distinct()
    surv = hashes.join(dropped, "doc_id", "left_anti")
    aligned = M.clip_align_scores(
        fused.select("doc_id", "feat_idx", "feature"), emb,
        dim=64, threshold=0.0,
    ).filter(F.col("keep")).select("doc_id", "align_score")
    quality = (
        quality_classifier(docs, "text", "doc_id")
        .filter(F.col("clf_keep"))
        .select("doc_id")
    )
    n_units = fused.filter(F.col("feat_idx") == 0).select(
        "doc_id", F.col("feature").alias("n_units")
    )
    sel = (
        surv.join(aligned, "doc_id")
        .join(quality, "doc_id", "semi")
        .join(n_units, "doc_id")
    )
    packed = pack_sequences(
        sel, token_col="n_units", key_col="doc_id",
        max_tokens=2048, num_shards=4,
    )
    return packed.select(
        "doc_id",
        "dhash",
        "align_score",
        F.col("n_units").cast("bigint").alias("n_units"),
        "shard",
        F.col("pack_tokens_before").alias("units_before"),
        F.col("pack_id").cast("bigint").alias("pack_id"),
    )


# ---------------------------------------------------------------------
# r10 second wave: dedup-recall audit, DSIR selection, cross-modal
# retrieval, embedding-norm outlier gate.

_LSH_AUD_T = 0.5  # audit threshold (and the LSH gate's own threshold)


@register(
    "dedup_lsh_recall_audit",
    f"""
    WITH sdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
    swords AS (SELECT doc_id, string_split(text, ' ') AS ws FROM sdocs),
    ssh AS (SELECT DISTINCT doc_id,
                   md5(array_to_string(ws[g.i : g.i + 2], ' ')) AS shh
            FROM swords
            CROSS JOIN LATERAL (
                SELECT unnest(range(1, greatest(len(ws) - 1, 1))) AS i) g),
    ssz AS (SELECT doc_id, COUNT(*) AS n_sh FROM ssh GROUP BY doc_id),
    inter AS (SELECT l.doc_id AS left_id, r.doc_id AS right_id,
                     COUNT(*) AS n_inter
              FROM ssh l JOIN ssh r
                ON l.shh = r.shh AND l.doc_id < r.doc_id
              GROUP BY l.doc_id, r.doc_id),
    gt AS MATERIALIZED (
        SELECT left_id, right_id
        FROM inter JOIN ssz sl ON left_id = sl.doc_id
                   JOIN ssz sr ON right_id = sr.doc_id
        WHERE n_inter * 1.0 / (sl.n_sh + sr.n_sh - n_inter)
              >= {_LSH_AUD_T}),
    smh AS (SELECT doc_id, hs.h AS h, MIN(md5(hs.h || ':' || s)) AS mv
            FROM (SELECT doc_id,
                         unnest(list_transform(
                             range(1, greatest(len(ws) - 1, 1)),
                             i -> array_to_string(ws[i : i + 2], ' '))) AS s
                  FROM swords) sshl
            CROSS JOIN (SELECT unnest(range(0, 16)) AS h) hs
            GROUP BY doc_id, hs.h),
    ssig AS (SELECT doc_id, list(mv ORDER BY h) AS sig FROM smh
             GROUP BY doc_id),
    sband AS (SELECT doc_id, sig, bs.b AS band_id,
                     md5(array_to_string(sig[bs.b*4+1 : bs.b*4+4], '|'))
                         AS band_hash
              FROM ssig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bs),
    scand AS (SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
              FROM sband l JOIN sband r
                ON l.band_id = r.band_id AND l.band_hash = r.band_hash
               AND l.doc_id < r.doc_id),
    found AS MATERIALIZED (
        SELECT left_id, right_id
        FROM scand JOIN ssig ls ON left_id = ls.doc_id
                   JOIN ssig rs ON right_id = rs.doc_id
        WHERE len(list_intersect(ls.sig, rs.sig)) * 1.0 / 16
              >= {_LSH_AUD_T}),
    nt AS (SELECT COUNT(*) AS n_true FROM gt),
    nf AS (SELECT COUNT(*) AS n_found FROM found),
    nh AS (SELECT COUNT(*) AS n_hits FROM gt
           WHERE EXISTS (SELECT 1 FROM found f
                         WHERE f.left_id = gt.left_id
                           AND f.right_id = gt.right_id)),
    np AS (SELECT COUNT(*) AS n_false_pos FROM found
           WHERE NOT EXISTS (SELECT 1 FROM gt
                             WHERE gt.left_id = found.left_id
                               AND gt.right_id = found.right_id))
    SELECT nt.n_true, nf.n_found, nh.n_hits, np.n_false_pos,
           ROUND(nh.n_hits / CAST(GREATEST(nt.n_true, 1) AS DOUBLE), 6)
               AS recall,
           ROUND(nh.n_hits / CAST(GREATEST(nf.n_found, 1) AS DOUBLE), 6)
               AS "precision"
    FROM nt, nf, nh, np
    """,
)
def dedup_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision AUDIT of MinHash-LSH near-dup detection against
    EXACT shingle-Jaccard ground truth on a deterministic half-corpus
    sample → one row of exact integers (n_true, n_found, n_hits,
    n_false_pos) + two single-division ratios. Both error directions
    are real: banding misses true pairs (recall < 1) and the 16-hash
    signature-overlap estimate admits sub-threshold pairs (precision
    < 1) — this gate pins BOTH, so any change to the hash family,
    banding layout, or estimate arithmetic flips an integer. Ground
    truth is `ngram_jaccard_pairs` (shingle inverted index — never
    O(n²)); the audit-on-a-sample discipline matches knn_recall_audit
    (`functions/dedup.ngram_jaccard_pairs`)."""
    from kafka_sink_azure_kusto_spark.functions.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 2 == 0
    )
    # the four count aggregates stay lazy
    gt = ngram_jaccard_pairs(
        docs, k=3, threshold=_LSH_AUD_T
    ).select("left_id", "right_id").localCheckpoint()
    found = minhash_lsh_pairs(
        docs, num_hashes=16, num_bands=4, k=3,
        jaccard_threshold=_LSH_AUD_T,
    ).select("left_id", "right_id").localCheckpoint()
    nt = gt.agg(F.count(F.lit(1)).alias("n_true"))
    nf = found.agg(F.count(F.lit(1)).alias("n_found"))
    nh = gt.join(found, ["left_id", "right_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    np_ = found.join(gt, ["left_id", "right_id"], "left_anti").agg(
        F.count(F.lit(1)).alias("n_false_pos")
    )
    return (
        nt.crossJoin(F.broadcast(nf))
        .crossJoin(F.broadcast(nh))
        .crossJoin(F.broadcast(np_))
        .select(
            "n_true", "n_found", "n_hits", "n_false_pos",
            F.round(
                F.col("n_hits")
                / F.greatest(F.col("n_true"), F.lit(1)).cast("double"), 6
            ).alias("recall"),
            F.round(
                F.col("n_hits")
                / F.greatest(F.col("n_found"), F.lit(1)).cast("double"), 6
            ).alias("precision"),
        )
    )


@register(
    "dsir_importance_select",
    None,  # oracle attached below (generated twin)
)
def dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, public): hashed
    n-gram importance weights of every document against a TARGET
    distribution (every 25th doc standing in for the downstream task
    corpus) → (doc_id, n_features, dsir_weight, keep). The
    importance-resampling complement to the classifier filter: where
    `text_quality_classifier` scores intrinsic quality,
    DSIR scores DISTRIBUTIONAL MATCH to the data you actually want
    more of. Bucket counts map-side-combine to ≤256 groups, the
    log-ratio table broadcasts, one doc-keyed shuffle
    (`functions/corpus.dsir_importance_weights`)."""
    from kafka_sink_azure_kusto_spark.functions.corpus import (
        dsir_importance_weights,
    )

    docs = load_table(spark, sf_dir, "documents")
    return dsir_importance_weights(
        docs, docs.filter(F.col("doc_id") % 25 == 0)
    )


def _attach_dsir_oracle():
    from kafka_sink_azure_kusto_spark.functions.corpus import (
        dsir_importance_weights_sql,
    )
    from kafka_sink_azure_kusto_spark.plans.registry import _REGISTRY

    _REGISTRY["dsir_importance_select"] = (
        _REGISTRY["dsir_importance_select"][0],
        dsir_importance_weights_sql("TRUE", "doc_id % 25 = 0"),
    )


_attach_dsir_oracle()


_XM_QMOD = 100  # text queries: vec_id % 100 == 0
_XM_K = 5


@register(
    "multimodal_crossmodal_topk",
    f"""
    WITH imgs AS (SELECT doc_id, doc_id % 97 AS mid FROM documents
                  WHERE (doc_id % 97) % 3 != 2),
    mbase AS (SELECT doc_id, mid,
                     3 * (4 + mid % 13) * (3 + mid % 7) AS n_tot
              FROM imgs),
    midx AS (SELECT *, unnest(generate_series(0, n_tot - 1)) AS j
             FROM mbase),
    mvals AS (SELECT doc_id, n_tot, j,
              CAST(CASE
                WHEN j % 3 = 0 THEN (mid * 31 + (j // 3) * 7) % 256
                WHEN j % 3 = 1 THEN (mid * 37 + (j // 3) * 11) % 256
                ELSE (mid * 41 + (j // 3) * 13) % 256
              END AS BIGINT) AS v
              FROM midx),
    magg AS (SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS f0,
                   CAST(SUM(v) AS BIGINT) AS f1,
                   CAST(MIN(v) AS BIGINT) AS f2,
                   CAST(MAX(v) AS BIGINT) AS f3,
                   CAST(SUM((j + 1) * v) AS BIGINT) AS f4,
                   CAST(SUM(v * v) AS BIGINT) AS f5,
                   CAST(MAX(CASE WHEN j = 0 THEN v END) AS BIGINT) AS f6,
                   CAST(MAX(CASE WHEN j = n_tot - 1 THEN v END)
                        AS BIGINT) AS f7
            FROM mvals GROUP BY doc_id),
    lff AS (SELECT doc_id, CAST(0 AS BIGINT) AS fi, f0 AS feat FROM magg
            UNION ALL SELECT doc_id, 1, f1 FROM magg
            UNION ALL SELECT doc_id, 2, f2 FROM magg
            UNION ALL SELECT doc_id, 3, f3 FROM magg
            UNION ALL SELECT doc_id, 4, f4 FROM magg
            UNION ALL SELECT doc_id, 5, f5 FROM magg
            UNION ALL SELECT doc_id, 6, f6 FROM magg
            UNION ALL SELECT doc_id, 7, f7 FROM magg),
    mimg AS (SELECT doc_id, dd.d AS d,
                    SUM(feat * ((fi * 31 + dd.d * 17) % 7 - 3)) AS img_v
             FROM lff CROSS JOIN (SELECT unnest(range(0, 64)) AS d) dd
             GROUP BY doc_id, dd.d),
    mimgl AS MATERIALIZED (
        SELECT doc_id, list(CAST(img_v AS DOUBLE) ORDER BY d) AS iv
        FROM mimg GROUP BY doc_id),
    xq AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id % {_XM_QMOD} = 0),
    sc AS (SELECT xq.query_id, i.doc_id,
                  list_dot_product(xq.qv, i.iv)
                    / (sqrt(list_dot_product(xq.qv, xq.qv))
                       * sqrt(list_dot_product(i.iv, i.iv))) AS s
           FROM xq CROSS JOIN mimgl i)
    SELECT query_id, doc_id, ROUND(s, 6) AS score,
           CAST(rnk AS BIGINT) AS rank
    FROM (SELECT query_id, doc_id, s,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY s DESC, doc_id ASC) AS rnk
          FROM sc)
    WHERE rnk <= {_XM_K}
    """,
)
def multimodal_crossmodal_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-MODAL retrieval (CLIP-style text→image search): each text
    embedding query (vec_id % 100 == 0) retrieves its top-5 images by
    cosine against the integer-projected image vectors — the retrieval
    use of the projection `multimodal_clip_align_filter` uses for
    per-pair filtering. Image vectors assemble exactly once through
    the decode-once fused kernel + `clip_image_vectors` (exact integer
    arithmetic); the bounded query side broadcasts into the scoring
    join; top-k windows only scored rows
    (`functions/multimodal.clip_image_vectors`)."""
    from kafka_sink_azure_kusto_spark.functions import multimodal as M

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    fused = M.media_dhash_and_features(
        docs, media_id=F.col("doc_id") % 97
    )
    iv = M.clip_image_vectors(
        fused.select("doc_id", "feat_idx", "feature")
    ).select(
        "doc_id", F.expr("cast(_img as array<double>)").alias("iv")
    )
    q = emb.filter(F.col("vec_id") % _XM_QMOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    dot = F.expr(
        "aggregate(zip_with(qv, iv, (a, b) -> a * b), 0.0D, (a, x) -> a + x)"
    )
    qn = F.expr("aggregate(qv, 0.0D, (a, x) -> a + x * x)")
    inorm = F.expr("aggregate(iv, 0.0D, (a, x) -> a + x * x)")
    sc = iv.crossJoin(F.broadcast(q)).select(
        "query_id", "doc_id",
        (dot / (F.sqrt(qn) * F.sqrt(inorm))).alias("s"),
    )
    return topk_rows(sc, "query_id", ["-s", "doc_id"], _XM_K).select(
        "query_id", "doc_id", F.round("s", 6).alias("score"),
        F.col("rank").cast("bigint").alias("rank"),
    )


@register(
    "embedding_hygiene_audit",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
               FROM embeddings),
    corrupted AS (SELECT vec_id,
        CASE WHEN vec_id % 17 = 0
             THEN list_transform(list_zip(v, range(1, len(v) + 1)),
                                 z -> CASE WHEN z[2] > len(v) // 2
                                           THEN 0.0 ELSE z[1] END)
             WHEN vec_id % 23 = 0
             THEN list_transform(v, x -> x * 3.0)
             ELSE v END AS v
        FROM e),
    nrm AS (SELECT vec_id, ROUND(sqrt(list_dot_product(v, v)), 6) AS norm
            FROM corrupted)
    SELECT vec_id, norm,
           CASE WHEN norm < 0.9 THEN 'truncated_likely'
                WHEN norm > 1.5 THEN 'scaled_likely'
                ELSE 'ok' END AS status
    FROM nrm
    """,
)
def embedding_hygiene_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene gate: per-vector L2 norm against the corpus's
    unit-norm contract, flagging truncated (tail zeroed -> norm << 1)
    and mis-scaled (norm >> 1) vectors BEFORE they poison an ANN index.
    The fixture injects both corruption classes deterministically
    (vec_id % 17: tail half zeroed; % 23: scaled 3x) -- the
    referential_integrity_audit pattern of proving the detector on
    known-bad rows. A z-score variant was tried first and REJECTED: the
    table's embeddings are unit-normalized (population sd ~ 4e-8), so
    avg(x^2)-avg(x)^2 is pure cancellation noise and engine-divergent;
    absolute norm thresholds on 6-dp-rounded values are the stable
    contract. Zero joins, zero Python -- one codegen projection."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    half = F.size(v) / F.lit(2)
    truncated = F.zip_with(
        v,
        F.sequence(F.lit(1), F.size(v)),
        lambda x, i: F.when(i > F.floor(half), F.lit(0.0)).otherwise(x),
    )
    scaled = F.transform(v, lambda x: x * 3.0)
    cv = (
        F.when(F.col("vec_id") % 17 == 0, truncated)
        .when(F.col("vec_id") % 23 == 0, scaled)
        .otherwise(v)
    )
    norm = F.round(
        F.sqrt(F.aggregate(cv, F.lit(0.0), lambda a, x: a + x * x)), 6
    )
    return emb.select(
        "vec_id",
        norm.alias("norm"),
        F.when(norm < 0.9, F.lit("truncated_likely"))
        .when(norm > 1.5, F.lit("scaled_likely"))
        .otherwise(F.lit("ok"))
        .alias("status"),
    )


# ---------------------------------------------------------------------
# r10 third wave: Hilbert layout key, bucketized interval-overlap join,
# streaming BM25 index maintenance.

_HB = 8  # hilbert bits per dimension


def _hilbert_gate_sql() -> str:
    from kafka_sink_azure_kusto_spark.operators.layout import hilbert_sql

    chain = hilbert_sql("user_id % 256", "event_id % 256", bits=_HB)
    chain = chain.replace(
        "__HSRC__", "(SELECT event_id, user_id FROM events)"
    )
    return f"SELECT event_id, user_id, hd AS hkey FROM ({chain})"


@register("hilbert_layout_key", _hilbert_gate_sql())
def hilbert_layout_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key over (user_id, event_id) — the
    locality-preserving upgrade to `zorder_layout_key`: consecutive
    Hilbert indices are always spatially ADJACENT (Morton order jumps
    at quadrant boundaries), so a layout sorted by this key keeps
    parquet min/max footers tight on both dimensions with strictly
    better worst-case range locality. The xy→d recurrence (quadrant
    accumulate + rotate/reflect) unrolls to 8 levels of flat integer
    column arithmetic — pure codegen, zero shuffle; the oracle is
    generated from the same loop and was verified cell-exact + 100%
    step-adjacent against a reference implementation on the full
    16×16 grid (`operators/layout.hilbert_key`)."""
    from kafka_sink_azure_kusto_spark.operators.layout import hilbert_key

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id",
        (F.col("user_id") % 256).alias("_hx"),
        (F.col("event_id") % 256).alias("_hy"),
    )
    return hilbert_key(ev, "_hx", "_hy", bits=_HB).select(
        "event_id", "user_id", "hkey"
    )


_IOJ_BUCKET_US = 6 * 3600 * 1_000_000   # 6 h buckets
_IOJ_STRIDE_US = 36 * 3600 * 1_000_000  # window every 36 h
_IOJ_LEN_US = 12 * 3600 * 1_000_000     # 12 h windows
_IOJ_N = 20


@register(
    "interval_overlap_join",
    f"""
    WITH ev AS (SELECT event_id, epoch_us(ts) AS tus FROM events),
    t0 AS (SELECT MIN(tus) AS t0 FROM ev),
    win AS (SELECT w.w AS window_id,
                   t0.t0 + w.w * {_IOJ_STRIDE_US} AS w_start,
                   t0.t0 + w.w * {_IOJ_STRIDE_US} + {_IOJ_LEN_US} AS w_end
            FROM (SELECT unnest(range(0, {_IOJ_N})) AS w) w, t0),
    wb AS (SELECT window_id, w_start, w_end,
                  unnest(range(w_start // {_IOJ_BUCKET_US},
                               w_end // {_IOJ_BUCKET_US} + 1)) AS bucket
           FROM win),
    eb AS (SELECT event_id, tus, tus // {_IOJ_BUCKET_US} AS bucket FROM ev),
    hits AS (SELECT DISTINCT window_id, event_id
             FROM eb JOIN wb USING (bucket)
             WHERE tus >= w_start AND tus < w_end)
    SELECT window_id, CAST(COUNT(event_id) AS BIGINT) AS n_events
    FROM win LEFT JOIN hits USING (window_id)
    GROUP BY window_id
    """,
)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-OVERLAP join via bucketization — the scale-safe range
    join: 20 synthetic 12-hour maintenance windows (every 36 h from the
    corpus start) match events whose timestamp falls inside them. A
    naive range join is a broadcast-nested-loop over every (event,
    window) pair; here each window explodes to its covered 6-h buckets
    (≤ 3 rows), events key by their bucket, the join is an EQUI-join on
    the bucket id with the exact range predicate as a post-filter, and
    duplicate (event, window) hits from multi-bucket windows collapse
    with one distinct. At 100 TB both sides hash-partition on the
    bucket; no nested loop anywhere. Zero-match windows are kept by the
    left join (count(col) skips NULLs) → (window_id, n_events)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("tus")
    )
    t0 = ev.agg(F.min("tus").alias("t0"))
    win = (
        spark.range(_IOJ_N).withColumnRenamed("id", "window_id")
        .crossJoin(F.broadcast(t0))
        .select(
            "window_id",
            (F.col("t0") + F.col("window_id") * _IOJ_STRIDE_US)
            .alias("w_start"),
            (F.col("t0") + F.col("window_id") * _IOJ_STRIDE_US + _IOJ_LEN_US)
            .alias("w_end"),
        )
    )
    wb = win.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                (F.col("w_start") / _IOJ_BUCKET_US).cast("long"),
                (F.col("w_end") / _IOJ_BUCKET_US).cast("long"),
            )
        ),
    )
    eb = ev.withColumn(
        "bucket", (F.col("tus") / _IOJ_BUCKET_US).cast("long")
    )
    hits = (
        eb.join(F.broadcast(wb), "bucket")
        .filter((F.col("tus") >= F.col("w_start"))
                & (F.col("tus") < F.col("w_end")))
        .select("window_id", "event_id")
        .distinct()
    )
    return (
        win.join(hits, "window_id", "left")
        .groupBy("window_id")
        .agg(F.count("event_id").cast("bigint").alias("n_events"))
    )


_BM25_TERMS = ["vector", "stream", "hash"]


@register(
    "streaming_bm25_maintenance",
    """
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents),
    tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
           FROM toks GROUP BY doc_id, term),
    dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dlen
           FROM documents),
    stats AS (SELECT (SELECT count(*) FROM documents) AS n,
                     (SELECT AVG(dlen) FROM dl) AS avgdl),
    df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
           FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term),
    q AS (SELECT unnest(['vector', 'stream', 'hash']) AS term),
    scored AS (
      SELECT tf.doc_id,
             SUM(ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
                 * tf.tf * 2.2
                 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dlen / stats.avgdl))
             ) AS s
      FROM tf JOIN q USING (term)
              JOIN df USING (term)
              JOIN dl ON tf.doc_id = dl.doc_id
              CROSS JOIN stats
      GROUP BY tf.doc_id)
    SELECT doc_id, score, CAST(rank AS BIGINT) AS rank FROM (
      SELECT doc_id, round(s, 6) AS score,
             ROW_NUMBER() OVER (ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
      FROM scored)
    WHERE rank <= 20
    """,
)
def streaming_bm25_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING inverted-index maintenance for BM25 — the lexical
    twin of `streaming_countmin_maintenance`, proving the index's
    MERGE properties through the real engine: each micro-batch writes
    its own epoch-keyed registers — (term, doc, tf) postings for the
    query terms, per-term df partials, and (n_docs, sum_dlen) corpus
    stats — and after the stream the merged registers (postings are
    doc-disjoint appends; df, N, Σdlen are ADDITIVE sums) must answer
    the standard 3-term BM25 query EXACTLY like the single-shot batch
    index. That additivity is what lets a 100 TB deployment keep
    per-batch index deltas and serve retrieval without rescanning the
    corpus. Oracle: the single-shot `bm25_topk` SQL — a lost or
    double-counted register flips the value hash."""
    import os

    from kafka_sink_azure_kusto_spark.plans.registry import _workdir
    from kafka_sink_azure_kusto_spark.sources.replay import key_chunks

    work = _workdir("stream_bm25_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = key_chunks(docs, "doc_id", ["doc_id", "text"])
    reg = os.path.join(work, "registers")

    def update_index(batch_df, epoch_id: int) -> None:
        ep = int(epoch_id)
        toks = batch_df.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
        toks.filter(F.col("term").isin(_BM25_TERMS)).groupBy(
            "doc_id", "term"
        ).agg(F.count(F.lit(1)).cast("long").alias("tf")).write.mode(
            "overwrite"
        ).parquet(os.path.join(reg, f"postings/epoch={ep}"))
        toks.select("doc_id", "term").distinct().groupBy("term").agg(
            F.count(F.lit(1)).cast("long").alias("df_part")
        ).write.mode("overwrite").parquet(
            os.path.join(reg, f"df/epoch={ep}")
        )
        batch_df.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).cast("long").alias("sum_dlen"),
        ).write.mode("overwrite").parquet(
            os.path.join(reg, f"stats/epoch={ep}")
        )
        # per-doc lengths ride with the postings epoch (needed at
        # score time; doc-disjoint batches make this a plain append)
        batch_df.select(
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("dlen"),
        ).write.mode("overwrite").parquet(
            os.path.join(reg, f"dlen/epoch={ep}")
        )

    run_replay(spark, work, "doc_id long, text string", chunks, update_index)

    postings = spark.read.parquet(os.path.join(reg, "postings")).drop("epoch")
    df_ = (
        spark.read.parquet(os.path.join(reg, "df"))
        .groupBy("term")
        .agg(F.sum("df_part").cast("double").alias("df"))
        .filter(F.col("term").isin(_BM25_TERMS))
    )
    stats = spark.read.parquet(os.path.join(reg, "stats")).agg(
        F.sum("n_docs").alias("n"), F.sum("sum_dlen").alias("sd")
    )
    dl = spark.read.parquet(os.path.join(reg, "dlen")).drop("epoch")
    k1, b = 1.2, 0.75
    row = stats.collect()[0]  # two bounded scalars (N, Σdlen)
    n_docs, avgdl = float(row["n"]), float(row["sd"]) / float(row["n"])
    idf = F.log(
        (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    scored = (
        postings.withColumn("tf", F.col("tf").cast("double"))
        .join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .withColumn(
            "_s",
            idf * F.col("tf") * (k1 + 1)
            / (F.col("tf")
               + k1 * (1 - b + b * F.col("dlen").cast("double") / F.lit(avgdl))),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("_s"), 6).alias("score"))
    )
    top = scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(20)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return top.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).select("doc_id", "score", "rank")


def _dsir_stream_oracle() -> str:
    from kafka_sink_azure_kusto_spark.functions.corpus import (
        dsir_importance_weights_sql,
    )

    return dsir_importance_weights_sql("TRUE", "doc_id % 25 = 0")


@register("streaming_dsir_maintenance", _dsir_stream_oracle())
def streaming_dsir_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING maintenance of the DSIR selection state — the
    importance-resampling member of the mergeability family (count-min,
    theta, HLL, quantile, minhash, BM25): each micro-batch writes its
    epoch-keyed 256-bucket feature-count registers for the raw and
    target sides plus per-doc bucket counts; after the stream the
    registers SUM-merge (counts are additive; per-doc features are
    doc-disjoint appends), the log-ratio table derives from the MERGED
    totals, and every document's weight must equal the single-shot
    batch computation exactly. This is how a live ingest keeps data
    selection current without rescanning the corpus: bucket registers
    are 256 longs per epoch however big the batch. Oracle: the
    single-shot DSIR SQL (`functions/corpus.dsir_importance_weights`)."""
    import os

    from kafka_sink_azure_kusto_spark.functions.corpus import dsir_features
    from kafka_sink_azure_kusto_spark.plans.registry import _workdir
    from kafka_sink_azure_kusto_spark.sources.replay import key_chunks

    n_buckets = 256
    work = _workdir("stream_dsir_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = key_chunks(docs, "doc_id", ["doc_id", "text"])
    reg = os.path.join(work, "registers")

    def update_registers(batch_df, epoch_id: int) -> None:
        ep = int(epoch_id)
        # one featurization per batch (bounded by |batch|), shared by
        # all three register writes instead of re-tokenizing per write
        feats = dsir_features(batch_df, "text", "doc_id").localCheckpoint()
        # per-doc bucket multiplicities (doc-disjoint across batches)
        feats.groupBy("doc_id", "bucket").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        ).write.mode("overwrite").parquet(
            os.path.join(reg, f"docfeats/epoch={ep}")
        )
        # raw-side bucket registers (≤256 rows per epoch)
        feats.groupBy("bucket").agg(
            F.count(F.lit(1)).cast("long").alias("r_part")
        ).write.mode("overwrite").parquet(
            os.path.join(reg, f"raw/epoch={ep}")
        )
        # target-side registers: featurization is per-doc, so the
        # doc_id filter commutes through it — derive from the SAME
        # checkpointed features instead of re-tokenizing the
        # filtered batch (the second tokenization pass per epoch)
        feats.filter(F.col("doc_id") % 25 == 0).groupBy("bucket").agg(
            F.count(F.lit(1)).cast("long").alias("t_part")
        ).write.mode("overwrite").parquet(
            os.path.join(reg, f"tgt/epoch={ep}")
        )
        # all three writes are materialized; drop the checkpoint blocks
        # so a long-running stream doesn't accumulate one per epoch
        feats.unpersist()

    run_replay(spark, work, "doc_id long, text string", chunks, update_registers)

    raw_c = (
        spark.read.parquet(os.path.join(reg, "raw"))
        .groupBy("bucket")
        .agg(F.sum("r_part").alias("r_cnt"))
    )
    tgt_c = (
        spark.read.parquet(os.path.join(reg, "tgt"))
        .groupBy("bucket")
        .agg(F.sum("t_part").alias("t_cnt"))
    )
    totals = raw_c.agg(F.sum("r_cnt").alias("r_tot")).crossJoin(
        tgt_c.agg(F.sum("t_cnt").alias("t_tot"))
    )
    lr = (
        raw_c.join(tgt_c, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("r_cnt", F.lit(0)).alias("r_cnt"),
            F.coalesce("t_cnt", F.lit(0)).alias("t_cnt"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log((F.col("t_cnt") + 1).cast("double"))
                - F.log((F.col("r_cnt") + 1).cast("double"))
                + F.log((F.col("r_tot") + n_buckets).cast("double"))
                - F.log((F.col("t_tot") + n_buckets).cast("double"))
            ).alias("lr"),
        )
    )
    docfeats = spark.read.parquet(os.path.join(reg, "docfeats")).drop("epoch")
    return (
        docfeats.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_features"),
            F.round(F.sum(F.col("n") * F.col("lr")), 6).alias("dsir_weight"),
        )
        .withColumn("keep", F.col("dsir_weight") > 0)
    )


_SLK_T = 0.4  # cross-split cosine threshold for the leakage audit


@register(
    "split_semantic_leakage_audit",
    f"""
    WITH e AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS v
               FROM embeddings),
    sp AS (SELECT nid, v,
                  CASE WHEN {md5_unit_interval_sql("nid", salt="ssplit:")}
                            < 0.8 THEN 'train' ELSE 'eval' END AS part
           FROM e),
    b0 AS (SELECT nid, {_bucket_sql(6, 0)} AS bucket FROM e),
    c0 AS (SELECT nid, bucket FROM (
        SELECT nid, bucket,
               ROW_NUMBER() OVER (
                   PARTITION BY bucket
                   ORDER BY {md5_unit_interval_sql("nid", salt="knncap:")},
                            nid) AS cr
        FROM b0) WHERE cr <= 256),
    b1 AS (SELECT nid, {_bucket_sql(6, 6)} AS bucket FROM e),
    c1 AS (SELECT nid, bucket FROM (
        SELECT nid, bucket,
               ROW_NUMBER() OVER (
                   PARTITION BY bucket
                   ORDER BY {md5_unit_interval_sql("nid", salt="knncap:")},
                            nid) AS cr
        FROM b1) WHERE cr <= 256),
    prs AS (SELECT DISTINCT src, dst FROM (
        SELECT l.nid AS src, r.nid AS dst
        FROM c0 l JOIN c0 r USING (bucket) WHERE l.nid < r.nid
        UNION ALL
        SELECT l.nid AS src, r.nid AS dst
        FROM c1 l JOIN c1 r USING (bucket) WHERE l.nid < r.nid)),
    xed AS (SELECT ls.nid AS train_id, rs.nid AS eval_id,
                   ROUND({_cos("ls.v", "rs.v")}, 6) AS score
            FROM prs JOIN sp ls ON prs.src = ls.nid
                     JOIN sp rs ON prs.dst = rs.nid
            WHERE ls.part = 'train' AND rs.part = 'eval'
            UNION ALL
            SELECT rs.nid AS train_id, ls.nid AS eval_id,
                   ROUND({_cos("ls.v", "rs.v")}, 6) AS score
            FROM prs JOIN sp ls ON prs.src = ls.nid
                     JOIN sp rs ON prs.dst = rs.nid
            WHERE ls.part = 'eval' AND rs.part = 'train')
    SELECT train_id, eval_id, score FROM xed WHERE score >= {_SLK_T}
    """,
)
def split_semantic_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC split-leakage audit — the embedding-space complement to
    the lexical `leakage_safe_split`: after an 80/20 md5 split of the
    embedding corpus, find (train, eval) pairs whose cosine exceeds the
    leakage threshold among 2-band LSH candidates → (train_id, eval_id,
    score). A naive lexical split lets paraphrases/translations of an
    eval item sit in train; this audit is the release gate that counts
    them. Candidate generation is the standard capped bucket self-join
    (both bands, OR-amplified — a single band provably misses
    cross-bucket near-pairs); the split assignment is a pure md5
    function of the id so the oracle replays it exactly. Like every
    LSH-candidate audit, recall < 1 by construction — pair it with
    `knn_recall_calibration` to size planes/bands for the leakage
    tolerance (`functions/similarity.lsh_topk_directed` substrate)."""
    from kafka_sink_azure_kusto_spark.functions.sampling import (
        md5_unit_interval,
    )
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        cosine,
        hyperplane_lsh_buckets,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("v")
    ).withColumn(
        "part",
        F.when(
            md5_unit_interval(F.col("nid"), salt="ssplit:") < 0.8,
            F.lit("train"),
        ).otherwise(F.lit("eval")),
    )
    parts = []
    for band in range(2):
        buckets = hyperplane_lsh_buckets(
            emb, num_planes=6, plane_offset=band * 6
        ).withColumnRenamed("id", "nid")
        capped = topk_rows(
            buckets.withColumn(
                "_h", md5_unit_interval(F.col("nid"), salt="knncap:")
            ),
            "bucket", ["_h", "nid"], 256,
        ).select("nid", F.concat(F.lit(f"{band}:"), "bucket").alias("bkey"))
        parts.append(
            capped.select(F.col("nid").alias("src"), "bkey")
            .join(
                capped.select(F.col("nid").alias("dst"), "bkey"), "bkey"
            )
            .filter(F.col("src") < F.col("dst"))
            .select("src", "dst")
        )
    prs = parts[0].unionByName(parts[1]).distinct()
    l = vecs.select(
        F.col("nid").alias("src"), F.col("v").alias("lv"),
        F.col("part").alias("lpart"),
    )
    r = vecs.select(
        F.col("nid").alias("dst"), F.col("v").alias("rv"),
        F.col("part").alias("rpart"),
    )
    scored = (
        prs.join(l, "src").join(r, "dst")
        .filter(F.col("lpart") != F.col("rpart"))
        .select(
            F.when(F.col("lpart") == "train", F.col("src"))
            .otherwise(F.col("dst")).alias("train_id"),
            F.when(F.col("lpart") == "train", F.col("dst"))
            .otherwise(F.col("src")).alias("eval_id"),
            F.round(cosine("lv", "rv"), 6).alias("score"),
        )
    )
    return scored.filter(F.col("score") >= _SLK_T)

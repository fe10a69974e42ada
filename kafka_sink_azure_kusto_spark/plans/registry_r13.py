"""Round-13 registry queries — the three stories VERDICT r12 ranked:

- **Layered index construction at scale** (next-round #2):
  ``hierarchical_build_nn_descent`` builds EVERY layer of the
  hierarchical ANN index with NN-descent (two-band LSH seed + one
  neighbor-of-neighbor refinement round) — no ``knn_graph_build_exact``
  all-pairs stage anywhere, retiring the last quadratic build
  dependency for NEW 100 TB indexes; ``hierarchical_build_recall_audit``
  grades the approximation against the exact-built layers at equal
  descent budget, as exact integer hit counts vs brute-force truth.
- **Streaming tokenizer-vocabulary maintenance** (next-round #3):
  ``streaming_vocab_maintenance`` keeps a per-document word-count store
  + additive word-histogram registers live through the real streaming
  engine (upserts, re-deliveries, Kafka NULL tombstones);
  ``vocab_drift_retrain_audit`` is the OOV/coverage retrain gate — the
  fixture's vowel→'z' re-embedded documents shift the character
  distribution, the coverage registers trip the gate, and the retrain
  (from the REGISTERS, never the corpus) is verified to restore
  coverage, as integers.
- **Multi-cell ADC probing** (next-round #6): ``ivfpq_nprobe_search``
  generalizes the cell-pruned PQ serving read to nprobe>1 (the real
  IVF-PQ recall knob) against a cell-partitioned code store;
  ``adc_nprobe_recall_audit`` measures recall vs probed-cell budget as
  exact integers for nprobe ∈ 1/2/4.

Reference parity note: the reference sink (kafka-sink-azure-kusto) has
no ANN/tokenizer surface; these are north-star additions per SURVEY
§7.3.6, DuckDB oracles generated from the same loops and constants as
the Spark plans.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_sink_azure_kusto_spark.functions.sampling import (
    md5_unit_interval_sql,
)
from kafka_sink_azure_kusto_spark.functions.similarity import topk_rows
from kafka_sink_azure_kusto_spark.plans.registry import (
    _workdir,
    memo_substrate,
    register,
    run_replay,
)
from kafka_sink_azure_kusto_spark.plans.registry_r10 import _cos
from kafka_sink_azure_kusto_spark.plans.registry_r11 import _graph_rounds_sql
from kafka_sink_azure_kusto_spark.plans.registry_r12 import (
    _HL_AK,
    _HL_B1,
    _HL_BEAM,
    _HL_BOOST,
    _HL_CARRY1,
    _HL_CARRY2,
    _HL_GK0,
    _HL_GK1,
    _HL_K,
    _HL_QMOD,
    _HL_QOFF,
    _HL_R1,
    _HL_ROUNDS,
    _HL_S1,
    _HL_S2,
    _PQ_M,
    _PQ_SQL_CB,
    _PQ_SQL_D2,
    _PQ_SUB,
    _hl_base_sql,
    _hl_corpus,
    _hl_layers,
    _pq_codes_sql,
)
from kafka_sink_azure_kusto_spark.plans.registry_r9b import _knn_comp_sql
from kafka_sink_azure_kusto_spark.sources.tables import load_table

# =====================================================================
# multi-cell ADC probing (VERDICT r12 #6): nprobe>1 against the
# cell-partitioned PQ code store — the real IVF-PQ recall knob.
# Deterministic fixture: cells = the embeddings ``label`` column (the
# streaming_ivfpq convention), coarse centroids = per-cell means
# rounded to 6 dp in BOTH engines (the similarity_ivf_multiprobe
# convention), codebook = the frozen first-16 stand-in (_PQ_* family).

_NP_NQ = 8        # probe queries: ORIGINAL vec_id < 8
_NP_K = 10
_NP_PROBE = 2     # headline serving read probes 2 cells
_NP_ARMS = (1, 2, 4)   # audit arms

# probed-cells CTE: per query, top-n cells by cosine(query, centroid),
# ties toward the smaller cell id — multiprobe_cells' exact twin
# (centroids rounded to 6 dp before ranking in both engines).
_NP_CELLS_SQL = f"""
    lab AS (SELECT e.vec_id, emb.label, e.v
            FROM e JOIN embeddings emb ON e.vec_id = emb.vec_id),
    pd AS (SELECT label AS cell, unnest(range(1, len(v) + 1)) AS i, v
           FROM lab),
    cd AS (SELECT cell, i, AVG(v[i]) AS m FROM pd GROUP BY cell, i),
    cent AS MATERIALIZED (SELECT cell, list(round(m, 6) ORDER BY i)
                          AS centroid FROM cd GROUP BY cell),
    qv AS (SELECT vec_id AS query_id, v AS qvec FROM e
           WHERE vec_id < {_NP_NQ}),
    qcall AS (SELECT query_id, cell,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY {_cos("qvec", "c.centroid")} DESC,
                                c.cell ASC) AS cr
              FROM qv CROSS JOIN cent c)
"""


def _np_adc_ctes(n_probe: int) -> list[str]:
    """Ranked-ADC CTEs for one nprobe arm — codes restricted to the
    query's top-``n_probe`` cells; otherwise the streaming_ivfpq ADC."""
    return [
        f"""qc{n_probe} AS (SELECT query_id, cell FROM qcall
             WHERE cr <= {n_probe})""",
        f"""adc{n_probe} AS (SELECT d.query_id, c.vec_id AS neighbor_id,
                   round(SUM(d.qd), 6) AS adc_d2
            FROM codes c
            JOIN lab l ON c.vec_id = l.vec_id
            JOIN qc{n_probe} p ON l.label = p.cell
            JOIN dtab d ON c.m = d.m AND c.code = d.code
                        AND d.query_id = p.query_id
            WHERE d.query_id <> c.vec_id
            GROUP BY 1, 2)""",
        f"""res{n_probe} AS (SELECT query_id, neighbor_id, adc_d2,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY adc_d2 ASC,
                                               neighbor_id ASC) AS rnk
            FROM adc{n_probe})""",
    ]


_NP_SEARCH_ORACLE = f"""
    WITH {_PQ_SQL_CB},
    {_pq_codes_sql("e")},
    {_NP_CELLS_SQL},
    q AS (SELECT vec_id AS query_id, ms.m AS m,
                 v[ms.m*{_PQ_SUB}+1 : ms.m*{_PQ_SUB}+{_PQ_SUB}] AS sv
          FROM e CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS m) ms
          WHERE vec_id < {_NP_NQ}),
    dtab AS (SELECT s.query_id, s.m, cb.code, {_PQ_SQL_D2} AS qd
             FROM q s JOIN cb ON s.m = cb.m),
    {",".join(_np_adc_ctes(_NP_PROBE))}
    SELECT query_id, neighbor_id, adc_d2, CAST(rnk AS BIGINT) AS rank
    FROM res{_NP_PROBE} WHERE rnk <= {_NP_K}
"""


@memo_substrate
def _np_store(spark: SparkSession, sf_dir: str):
    """Shared fixture for the two nprobe gates: cell-partitioned code
    store written to parquet and READ BACK (the store-side serving
    path — cell pruning happens at the scan), 6-dp-rounded centroids,
    frozen codebook, full-precision queries. Memoized per process."""
    from kafka_sink_azure_kusto_spark.functions import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    dbl = emb.select(
        "vec_id", "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    cb = (
        S.subvectors(
            dbl.filter(F.col("vec_id") < 16), _PQ_M, _PQ_SUB, vec_col="v"
        )
        .select("m", F.col("id").alias("code"), F.col("sv").alias("c"))
        .localCheckpoint()
    )
    store = os.path.join(_workdir("np_codes_"), "codes")

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
    cents = S.cell_centroids(dbl, cell_col="label", vec_col="v").select(
        "cell",
        F.transform("centroid", lambda x: F.round(x, 6)).alias("centroid"),
    ).localCheckpoint()
    queries = dbl.filter(F.col("vec_id") < _NP_NQ).localCheckpoint()
    codes = spark.read.parquet(store)
    return dbl, cb, codes, cents, queries


@register("ivfpq_nprobe_search", _NP_SEARCH_ORACLE)
def ivfpq_nprobe_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ serving read with REAL multi-cell probing (VERDICT r12
    #6): each query expands to its {_NP_PROBE} nearest coarse cells
    (`functions/similarity.multiprobe_cells` — cosine over 6-dp-rounded
    per-cell mean centroids, broadcast) and asymmetric-distance top-k
    runs over ONLY those cells of the cell-PARTITIONED code store
    (`functions/similarity.pq_adc_topk` ``query_cells`` path — the
    probed relation is an extra broadcast equi-key of the ADC join, so
    the store scan prunes to n_probe/n_cells of the corpus and every
    vector scanned is 8 code bytes, never raw floats). A corpus code
    lives in exactly one cell, so no dedup stage exists to get wrong.
    Oracle: the identical expansion + lookup-sum replayed in SQL."""
    from kafka_sink_azure_kusto_spark.functions import similarity as S

    dbl, cb, codes, cents, queries = _np_store(spark, sf_dir)
    qcells = S.multiprobe_cells(
        queries.select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qvec")
        ),
        cents,
        _NP_PROBE,
    )
    out = S.pq_adc_topk(
        codes, queries, cb, _PQ_M, _PQ_SUB, k=_NP_K,
        query_vec_col="v", codes_cell_col="cell", query_cells=qcells,
    )
    return out.select(
        "query_id", "neighbor_id", "adc_d2",
        F.col("rank").cast("bigint").alias("rank"),
    )


def _np_audit_oracle() -> str:
    ctes: list[str] = []
    for np_ in _NP_ARMS:
        ctes += _np_adc_ctes(np_)
        ctes += [
            f"""top{np_} AS (SELECT query_id, neighbor_id FROM res{np_}
                 WHERE rnk <= {_NP_K})""",
            f"""hit{np_} AS (SELECT COUNT(*) AS n_hits FROM gt
                 WHERE EXISTS (SELECT 1 FROM top{np_} r
                               WHERE r.query_id = gt.query_id
                                 AND r.neighbor_id = gt.neighbor_id))""",
            f"""cand{np_} AS (SELECT COUNT(*) AS n_candidates
                  FROM qc{np_} p JOIN lab l ON l.label = p.cell
                  WHERE l.vec_id <> p.query_id)""",
        ]
    arm_rows = "\n    UNION ALL\n".join(
        f"""SELECT {np_} AS n_probe, cand{np_}.n_candidates, hit{np_}.n_hits,
           tot.n_possible,
           ROUND(hit{np_}.n_hits / CAST(tot.n_possible AS DOUBLE), 6)
             AS recall
    FROM cand{np_}, hit{np_}, tot"""
        for np_ in _NP_ARMS
    )
    return f"""
    WITH {_PQ_SQL_CB},
    {_pq_codes_sql("e")},
    {_NP_CELLS_SQL},
    q AS (SELECT vec_id AS query_id, ms.m AS m,
                 v[ms.m*{_PQ_SUB}+1 : ms.m*{_PQ_SUB}+{_PQ_SUB}] AS sv
          FROM e CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS m) ms
          WHERE vec_id < {_NP_NQ}),
    dtab AS (SELECT s.query_id, s.m, cb.code, {_PQ_SQL_D2} AS qd
             FROM q s JOIN cb ON s.m = cb.m),
    gt AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
        SELECT qv.query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY qv.query_id
                 ORDER BY list_sum(list_transform(
                            range(1, len(qv.qvec) + 1),
                            i -> (qv.qvec[i] - c.v[i])
                               * (qv.qvec[i] - c.v[i]))) ASC,
                          c.vec_id ASC) AS rnk
        FROM qv JOIN e c ON c.vec_id <> qv.query_id)
        WHERE rnk <= {_NP_K}),
    tot AS (SELECT COUNT(*) AS n_possible FROM gt),
    {",".join(ctes)}
    {arm_rows}
"""


@register("adc_nprobe_recall_audit", _np_audit_oracle())
def adc_nprobe_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does another probed cell BUY recall, and how much candidate
    budget does it cost? The same code store, centroids, and queries
    searched at nprobe ∈ {_NP_ARMS}, each arm graded as EXACT INTEGER
    hit counts against brute-force L2² top-{_NP_K} over the raw
    vectors (ADC approximates L2², so L2² truth is the honest target —
    a cosine target would conflate quantization loss with metric
    mismatch). ``n_candidates`` counts the corpus vectors each arm's
    probed cells actually expose (self excluded) — the measured cost
    column: recall is bought linearly in candidates, which is the
    whole IVF-PQ serving trade. The raw synthetic embeddings are
    near-isotropic (the same regime note as the graph-entry audits), so
    ABSOLUTE recall is modest — what the audit pins is the trade curve:
    measured at sf0.01 recall rises 0.1125 → 0.2125 → 0.275 as the
    candidate column roughly doubles per arm, monotone in nprobe, and
    the oracle pins the exact integers, not just the trend."""
    from kafka_sink_azure_kusto_spark.functions import similarity as S

    dbl, cb, codes, cents, queries = _np_store(spark, sf_dir)
    qdf = queries.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qvec")
    )
    gt = S.brute_force_topk(
        dbl, queries, k=_NP_K, vec_col="v", query_vec_col="v", metric="l2sq"
    ).select("query_id", "neighbor_id").localCheckpoint()
    qcells_by_arm = [
        S.multiprobe_cells(qdf, cents, np_).localCheckpoint()
        for np_ in _NP_ARMS
    ]
    cell_of = dbl.select("vec_id", F.col("label").alias("cell"))
    rows = None
    for np_, qcells in zip(_NP_ARMS, qcells_by_arm):
        res = S.pq_adc_topk(
            codes, queries, cb, _PQ_M, _PQ_SUB, k=_NP_K,
            query_vec_col="v", codes_cell_col="cell", query_cells=qcells,
        )
        row = S.recall_arm(
            [F.lit(np_).alias("n_probe")], gt, res,
            ["query_id", "neighbor_id"],
            candidates=qcells.join(cell_of, "cell").filter(
                F.col("vec_id") != F.col("query_id")
            ),
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows


# =====================================================================
# nn-descent layered index construction (VERDICT r12 next-round #2):
# build EVERY hierarchical layer with nn-descent — two-band LSH seed +
# one neighbor-of-neighbor refinement round, the linear-cost builder —
# then run the SAME multi-layer descent as similarity_hierarchical_
# search over the approximate graphs. The exact-built substrate
# (_hl_layers) survives only as the AUDIT arm. Per-layer LSH planes
# shrink with the layer (64 → 16 → 4 buckets per band) so the sparse
# upper layers keep populated buckets.

_HB_CAP = 256          # per-bucket membership cap (md5-rank, r9b guard)
_HB_BUILD_ROUNDS = 2   # nn-descent refinement rounds per layer (r14,
#   VERDICT r13 #1). The r13 single-round build read 40/60 on the
#   recall audit vs the exact build's 57/60. The r14 A/B decomposed
#   the gap: (a) the UPPER routing layers used planes 4/2 on members
#   counted in the low hundreds — 16/4 buckets per band left buckets
#   so under-occupied the seed starved (exact-L0 + nnd-upper read
#   48/60; nnd-L0 + exact-upper read 56/60), fixed below by sizing
#   planes to occupancy; (b) the layer-0 graph itself converges with
#   iteration — measured edge recall vs the exact kNN graph 93.3% →
#   96.3% → 97.3% at rounds 1/2/3 — so the gated unit is TWO rounds
#   (the third buys <1 point; production builds at a new corpus
#   iterate until `improved` dries up). Post-fix audit: 56/60 at 1354
#   candidates vs exact 57/60 at 1350 — ≥90% of the exact arm at
#   matched budget, from a build that is linear per layer.
_HB_P1 = 2             # layer-1 planes/band: ~|e1|/2^planes ≈ 32/bucket
_HB_P2 = 1             # layer-2 planes/band: 2 buckets on the top layer
_HB_SPECS = [          # bottom-up; see hierarchical_layers_nn_descent
    {"stride": 1, "k": _HL_GK0, "num_planes": 6,
     "build_rounds": _HB_BUILD_ROUNDS},
    {"stride": _HL_S1, "k": _HL_GK1, "num_planes": _HB_P1,
     "build_rounds": _HB_BUILD_ROUNDS,
     "rounds": _HL_R1, "beam": _HL_B1, "carry": _HL_CARRY1},
    {"stride": _HL_S2, "k": _HL_GK1, "num_planes": _HB_P2,
     "build_rounds": _HB_BUILD_ROUNDS,
     "rounds": _HL_R1, "beam": _HL_B1, "carry": _HL_CARRY2},
]


def _nnd_und_ctes(
    tag: str, src: str, planes: int, k: int, rounds: int = 1
) -> str:
    """Undirected nn-descent graph CTEs over layer corpus ``src``
    (nid, v): two-band LSH seed → directed top-``k`` lists →
    ``rounds`` refinement rounds → und{tag} — generated from the SAME
    loop shape as ``functions/similarity.lsh_topk_directed`` +
    iterated ``nn_descent_refine`` (the r9b knn_graph_nn_descent
    oracle, parameterized by tag/source/planes/degree/rounds). Round
    r > 1 seeds from round r-1's top-k lists carrying ROUND(score, 6)
    — the refine output contract the Spark builder feeds back — so the
    reverse-rank ties resolve identically in both engines."""
    cap_order = md5_unit_interval_sql("nid", salt="knncap:")

    def bucket(off: int) -> str:
        return " || ".join(
            f"(CASE WHEN list_dot_product(v, {_knn_comp_sql(p)}) >= 0 "
            f"THEN '1' ELSE '0' END)"
            for p in range(off, off + planes)
        )

    def capped(b: int, off: int) -> str:
        return f"""
    {tag}c{b} AS MATERIALIZED (SELECT nid, v, bucket FROM (
        SELECT nid, v, {bucket(off)} AS bucket,
               ROW_NUMBER() OVER (
                   PARTITION BY {bucket(off)}
                   ORDER BY {cap_order}, nid) AS cr
        FROM {src}) WHERE cr <= {_HB_CAP})"""

    def refine(r: int, seed_cte: str) -> str:
        return f"""
    {tag}rev{r} AS (SELECT dst AS src, src AS dst FROM (
        SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY dst
                                  ORDER BY score DESC, src ASC) AS rr
        FROM {seed_cte}) WHERE rr <= {k}),
    {tag}nbr{r} AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM {seed_cte}
        UNION ALL SELECT src, dst FROM {tag}rev{r})),
    {tag}hop2{r} AS (SELECT a.src AS src, b.dst AS dst
        FROM {tag}nbr{r} a JOIN {tag}nbr{r} b ON a.dst = b.src
        WHERE a.src <> b.dst),
    {tag}cand{r} AS (SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM {seed_cte}
        UNION ALL SELECT src, dst FROM {tag}hop2{r})),
    {tag}g{r} AS MATERIALIZED (
        SELECT src, dst, ROUND(score, 6) AS score FROM (
        SELECT c.src, c.dst, {_cos("es.v", "ed.v")} AS score,
               ROW_NUMBER() OVER (PARTITION BY c.src
                 ORDER BY {_cos("es.v", "ed.v")} DESC, c.dst ASC) AS rnk
        FROM {tag}cand{r} c JOIN {src} es ON c.src = es.nid
                            JOIN {src} ed ON c.dst = ed.nid)
        WHERE rnk <= {k})"""

    refines = ",".join(
        refine(r, f"{tag}seed" if r == 1 else f"{tag}g{r - 1}")
        for r in range(1, rounds + 1)
    )
    return f"""{capped(0, 0)},{capped(1, planes)},
    {tag}prs AS (SELECT DISTINCT src, dst FROM (
        SELECT l.nid AS src, r.nid AS dst
        FROM {tag}c0 l JOIN {tag}c0 r USING (bucket) WHERE l.nid <> r.nid
        UNION ALL
        SELECT l.nid AS src, r.nid AS dst
        FROM {tag}c1 l JOIN {tag}c1 r USING (bucket) WHERE l.nid <> r.nid)),
    {tag}seed AS MATERIALIZED (SELECT src, dst, score FROM (
        SELECT p.src, p.dst, {_cos("es.v", "ed.v")} AS score,
               ROW_NUMBER() OVER (PARTITION BY p.src
                 ORDER BY {_cos("es.v", "ed.v")} DESC, p.dst ASC) AS rnk
        FROM {tag}prs p JOIN {src} es ON p.src = es.nid
                        JOIN {src} ed ON p.dst = ed.nid)
        WHERE rnk <= {k}),
    {refines},
    und{tag} AS MATERIALIZED (SELECT src, dst FROM {tag}g{rounds}
                              UNION
                              SELECT dst AS src, src AS dst
                              FROM {tag}g{rounds})"""


def _hb_carry(name: str, vis: str, carry: int) -> str:
    """Per-query best-``carry`` nodes of a layer's visited frame —
    ranked on ROUND(score, 6) because the Spark searcher carries from
    the rounded visited frame (same rule as _hl_base_sql's carry)."""
    return f"""
    {name} AS MATERIALIZED (SELECT qid, nid FROM (
        SELECT qid, nid,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY ROUND(score, 6) DESC,
                                           nid ASC) AS cr
        FROM {vis}) WHERE cr <= {carry})"""


_HB_CORPUS_SQL = f"""
    e0 AS MATERIALIZED (
      SELECT vec_id AS nid, label,
             list_transform(range(1, len(embedding) + 1),
                            i -> embedding[i]::DOUBLE
                                 + CASE WHEN (i - 1) % 10 = label
                                        THEN {_HL_BOOST} ELSE 0.0 END) AS v
      FROM embeddings),
    e AS MATERIALIZED (SELECT nid, label, v FROM e0),
    xq AS MATERIALIZED (SELECT nid AS qid, v AS qv FROM e0
                        WHERE nid % {_HL_QMOD} = {_HL_QOFF}),
    e2 AS MATERIALIZED (SELECT nid, v FROM e WHERE nid % {_HL_S2} = 0),
    e1 AS MATERIALIZED (SELECT nid, v FROM e WHERE nid % {_HL_S1} = 0)
"""


def _hb_nnd_search_ctes() -> str:
    """nn-descent graphs for all three layers + the multi-layer descent
    (j-tags), generated by the SAME round/carry loops as the exact-arm
    descent in ``_hl_base_sql``."""
    return f"""
    {_nnd_und_ctes("n0", "e", 6, _HL_GK0, rounds=_HB_BUILD_ROUNDS)},
    {_nnd_und_ctes("n1", "e1", _HB_P1, _HL_GK1, rounds=_HB_BUILD_ROUNDS)},
    {_nnd_und_ctes("n2", "e2", _HB_P2, _HL_GK1, rounds=_HB_BUILD_ROUNDS)},
    jen2 AS MATERIALIZED (SELECT xq.qid, n.nid FROM xq CROSS JOIN e2 n),
    {_graph_rounds_sql("j2", "jen2", _HL_R1, _HL_B1,
                       und_cte="undn2", vec_cte="e2")},
    {_hb_carry("jcar2", f"j2vis{_HL_R1}", _HL_CARRY2)},
    {_graph_rounds_sql("j1", "jcar2", _HL_R1, _HL_B1,
                       und_cte="undn1", vec_cte="e1")},
    {_hb_carry("jcar1", f"j1vis{_HL_R1}", _HL_CARRY1)},
    {_graph_rounds_sql("j0", "jcar1", _HL_ROUNDS, _HL_BEAM,
                       und_cte="undn0", vec_cte="e")}
"""


@memo_substrate
def _hb_substrate(spark: SparkSession, sf_dir: str):
    """nn-descent-built layer substrate, memoized per process (shared
    by the build gate and the recall audit, same policy as the exact
    substrate of `_hl_layers`)."""
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        hierarchical_layers_nn_descent,
    )

    dbl, queries = _hl_corpus(spark, sf_dir)
    edges0, layers = hierarchical_layers_nn_descent(
        dbl, _HB_SPECS, id_col="vec_id", vec_col="v",
        bands=2, bucket_cap=_HB_CAP,
    )
    return dbl, queries, edges0, layers


@register(
    "hierarchical_build_nn_descent",
    f"""
    WITH {_HB_CORPUS_SQL},
    {_hb_nnd_search_ctes()}
    SELECT qid AS query_id, nid AS neighbor_id,
           ROUND(score, 6) AS score, CAST(rnk AS BIGINT) AS rank
    FROM (SELECT qid, nid, score,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY score DESC, nid ASC) AS rnk
          FROM j0vis{_HL_ROUNDS} WHERE nid <> qid)
    WHERE rnk <= {_HL_K}
    """,
)
def hierarchical_build_nn_descent(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hierarchical ANN index built WITHOUT any all-pairs stage
    (`functions/similarity.hierarchical_layers_nn_descent`, VERDICT r12
    next-round #2): every layer's kNN edges come from nn-descent —
    two-band LSH seed (planes 6/{_HB_P1}/{_HB_P2} for layers 0/1/2,
    sized so every layer's buckets stay OCCUPIED — the r14 recall fix)
    plus {_HB_BUILD_ROUNDS} neighbor-of-neighbor refinement rounds
    (VERDICT r13 #1: round 2 feeds round 1's top-k lists back as the
    seed) — and the serving read is the standard multi-layer descent
    (`hierarchical_graph_search_topk`) over those approximate graphs. This is the production entry path for a NEW 100 TB index:
    construction cost is linear in each layer (bucket equi-joins capped
    at {_HB_CAP}² pairs per bucket + a ≤4k² two-hop expansion per
    node), where the exact build (`knn_graph_build_exact`,
    registry_r12's fixture seed) is |layer|². The oracle replays seed,
    refinement, and descent from the same generating loops; the recall
    cost of the approximation is priced separately, as integers, by
    ``hierarchical_build_recall_audit``."""
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        hierarchical_graph_search_topk,
    )

    dbl, queries, edges0, layers = _hb_substrate(spark, sf_dir)
    out = hierarchical_graph_search_topk(
        dbl, queries, edges0, layers,
        k=_HL_K, rounds=_HL_ROUNDS, beam=_HL_BEAM,
        vec_col="v", query_vec_col="v",
    )
    return out.select(
        "query_id", "neighbor_id", "score",
        F.col("rank").cast("bigint").alias("rank"),
    )


def _hb_audit_sql() -> str:
    cos_gt = _cos("xq.qv", "c.v")
    return f"""
    WITH {_hl_base_sql()},
    {_hb_nnd_search_ctes()},
    gt AS MATERIALIZED (SELECT qid, nid FROM (
        SELECT xq.qid, c.nid,
               ROW_NUMBER() OVER (PARTITION BY xq.qid
                                  ORDER BY {cos_gt} DESC,
                                           c.nid ASC) AS rnk
        FROM xq JOIN e c ON c.nid <> xq.qid) WHERE rnk <= {_HL_AK}),
    tot AS (SELECT COUNT(*) AS n_possible FROM gt),
    xres AS (SELECT qid, nid FROM (
        SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY ROUND(score, 6) DESC, nid ASC) AS rnk
        FROM h0vis{_HL_ROUNDS} WHERE nid <> qid) WHERE rnk <= {_HL_AK}),
    jres AS (SELECT qid, nid FROM (
        SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY ROUND(score, 6) DESC, nid ASC) AS rnk
        FROM j0vis{_HL_ROUNDS} WHERE nid <> qid) WHERE rnk <= {_HL_AK}),
    xall AS (SELECT qid, nid FROM h0vis{_HL_ROUNDS}
             UNION SELECT qid, nid FROM h1vis{_HL_R1}
             UNION SELECT qid, nid FROM h2vis{_HL_R1}),
    jall AS (SELECT qid, nid FROM j0vis{_HL_ROUNDS}
             UNION SELECT qid, nid FROM j1vis{_HL_R1}
             UNION SELECT qid, nid FROM j2vis{_HL_R1}),
    xcand AS (SELECT COUNT(*) AS n_candidates FROM xall WHERE nid <> qid),
    jcand AS (SELECT COUNT(*) AS n_candidates FROM jall WHERE nid <> qid),
    xhit AS (SELECT COUNT(*) AS n_hits FROM gt
             WHERE EXISTS (SELECT 1 FROM xres r
                           WHERE r.qid = gt.qid AND r.nid = gt.nid)),
    jhit AS (SELECT COUNT(*) AS n_hits FROM gt
             WHERE EXISTS (SELECT 1 FROM jres r
                           WHERE r.qid = gt.qid AND r.nid = gt.nid))
    SELECT 'exact_built' AS strategy, xcand.n_candidates, xhit.n_hits,
           tot.n_possible,
           ROUND(xhit.n_hits / CAST(tot.n_possible AS DOUBLE), 6) AS recall
    FROM xcand, xhit, tot
    UNION ALL
    SELECT 'nn_descent_built' AS strategy, jcand.n_candidates,
           jhit.n_hits, tot.n_possible,
           ROUND(jhit.n_hits / CAST(tot.n_possible AS DOUBLE), 6) AS recall
    FROM jcand, jhit, tot
    """


@register("hierarchical_build_recall_audit", _hb_audit_sql())
def hierarchical_build_recall_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """What does retiring the O(n²) build COST in recall? The same
    multi-layer descent (identical rounds/beam/carry budget at every
    layer) runs twice — once over the exact-built layers
    (`_hl_layers`, the r12 fixture substrate), once over the
    nn-descent-built layers — and both arms are graded as EXACT INTEGER
    hit counts against brute-force top-{_HL_AK} cosine ground truth,
    with the candidate column counting each arm's WHOLE search
    (distinct nodes across all three layers) so the equal-budget claim
    is measured, not prose. This closes the construction story the
    gain audit opened: `graph_hierarchy_gain_audit` prices the descent
    against flat search on exact graphs; this audit prices the
    approximate GRAPHS against exact ones under the same descent
    (`functions/similarity.hierarchical_layers_nn_descent` vs
    `knn_graph_build_exact`). Measured at sf0.01: exact 57/60 hits at
    1350 candidates vs nn-descent 56/60 at 1354 — ≥90% of the exact
    arm at matched budget (VERDICT r13 #1 done-bar). The r13 gap
    (40/60) decomposed as upper-layer bucket under-occupancy (planes
    now sized to layer cardinality) plus layer-0 convergence (edge
    recall 93.3/96.3/97.3% at rounds 1/2/3 — two rounds gated, see
    _HB_BUILD_ROUNDS); production builds at a new corpus iterate
    refinement until `improved` dries up, each round the same bounded
    shape."""
    from kafka_sink_azure_kusto_spark.functions.similarity import (
        brute_force_topk,
        hierarchical_graph_search_topk,
        recall_arm,
        topk_rows,
    )

    # the nn-descent build, the exact all-pairs build, and the
    # brute-force ground truth; _hl_corpus is a pure lazy transform, so
    # all three derive the IDENTICAL corpus plan
    dbl0, queries0 = _hl_corpus(spark, sf_dir)
    dbl, queries, edges0n, layersn = _hb_substrate(spark, sf_dir)
    edges0x, layersx = _hl_layers(
        dbl0, memo_key=(spark.sparkContext.applicationId, sf_dir)
    )
    gt = brute_force_topk(
        dbl0, queries0, k=_HL_AK, vec_col="v", query_vec_col="v"
    ).select(
        F.col("query_id").alias("qid"), F.col("neighbor_id").alias("nid")
    ).localCheckpoint()
    rows = []
    for name, edges0, layers in (
        ("exact_built", edges0x, layersx),
        ("nn_descent_built", edges0n, layersn),
    ):
        vis = hierarchical_graph_search_topk(
            dbl, queries, edges0, layers,
            rounds=_HL_ROUNDS, beam=_HL_BEAM,
            vec_col="v", query_vec_col="v", return_all_visited=True,
        )
        vis = (
            vis.filter(F.col("nid") != F.col("query_id"))
            .select(F.col("query_id").alias("qid"), "nid", "score", "layer")
            .localCheckpoint()
        )
        rows.append(recall_arm(
            [F.lit(name).alias("strategy")], gt,
            topk_rows(
                vis.filter(F.col("layer") == 0), "qid", ["-score", "nid"],
                _HL_AK,
            ),
            ["qid", "nid"],
            candidates=vis.select("qid", "nid").distinct(),
        ))
    return rows[0].unionByName(rows[1])


# =====================================================================
# streaming tokenizer-vocabulary maintenance (VERDICT r12 next-round
# #3): the tokenizer family gets the same live-loop discipline as the
# six index families. Store = per-document word counts (block-
# partitioned, tombstone-capable — functions/unigram.word_count_upsert);
# registers = additive word-histogram deltas + per-epoch OOV/coverage
# counters; gate = merged registers vs the closed-form final corpus.
# Fixture (shared loop algebra, text edition): seed doc_id % 3 == 0;
# batch 0 = % 3 == 1 + RE-DELIVERIES of % 9 == 0 with vowels→'z'
# (the text analog of the +1.0/dim re-embedding — 'z' is OUTSIDE the
# synthetic corpus alphabet, so coverage under the seed vocabulary
# drops and the drift gate has something real to catch); batch 1 =
# % 3 == 2 + tombstones of % 15 == 0 (text NULL).

_VB_MAXW = 8       # DP bound (corpus max word length is 8)
_VB_MAXP = 4       # max piece length
_VB_CAP = 48       # vocabulary cap (seed AND retrained)
_VB_BLOCKS = 8     # doc-store partitions (block = doc_id % blocks)
_VB_TOP = 50       # gate output: top-50 merged histogram rows
# ABSOLUTE coverage SLA (the production analog of a tokenizer
# coverage contract), set ABOVE the baseline noise floor: even the
# seed corpus under its own vocabulary reads ~3% OOV (the top-48 cap
# drops the rarest single-char pieces, so a handful of words lose
# their only tiling), so the SLA sits at 0.08 — the baseline and the
# post-retrain state pass it, the drifted epochs (0.18-0.28 measured
# at sf0.01) trip it. A seed-relative ratio would work too; the
# absolute form is what a serving coverage contract actually is.
_VB_OOV_GATE = 0.08

_VB_MUT = "translate(text, 'aeiou', 'zzzzz')"

_VB_GATE_ORACLE = f"""
    WITH finalc AS (
        SELECT doc_id,
               CASE WHEN doc_id % 9 = 0 THEN {_VB_MUT} ELSE text END AS text
        FROM documents WHERE doc_id % 15 <> 0),
    hist AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS wcnt
             FROM (SELECT unnest(string_split(text, ' ')) AS word
                   FROM finalc)
             WHERE word <> '' GROUP BY word)
    SELECT word, wcnt, CAST(rnk AS BIGINT) AS rank FROM (
        SELECT word, wcnt,
               ROW_NUMBER() OVER (ORDER BY wcnt DESC, word ASC) AS rnk
        FROM hist) WHERE rnk <= {_VB_TOP}
"""


def _vb_hist_sql(name: str, src: str) -> str:
    return f"""{name} AS MATERIALIZED (
        SELECT word, CAST(length(word) AS INT) AS wlen,
               CAST(COUNT(*) AS BIGINT) AS wcnt
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM {src})
        WHERE word <> '' GROUP BY word)"""


def _vb_pieces_sql(name: str, words_cte: str) -> str:
    """Top-{cap} substring pieces of a word histogram — the piece SET
    of ``unigram.lp_table(seed_substring_counts(...))`` (log-probs are
    irrelevant to coverage, so the oracle keeps only the set)."""
    return f"""{name} AS MATERIALIZED (SELECT piece FROM (
        SELECT piece, SUM(wcnt) AS cnt FROM (
            SELECT substring(word, ii.i, pp.p) AS piece, wcnt
            FROM {words_cte}
            CROSS JOIN LATERAL (SELECT unnest(range(1, wlen + 1)) AS i) ii
            CROSS JOIN LATERAL (SELECT unnest(range(1,
                least({_VB_MAXP}, wlen - ii.i + 1) + 1)) AS p) pp
            WHERE wlen <= {_VB_MAXW}
        ) GROUP BY piece)
        ORDER BY cnt DESC, piece ASC LIMIT {_VB_CAP})"""


def _vb_reach_ctes(tag: str, words_cte: str, pieces_cte: str) -> list[str]:
    """Boolean tiling-reachability DP (can the word be tiled by pieces
    of length ≤ {maxp}?) — the coverage half of ``viterbi_segment``: a
    word is covered iff the Viterbi DP has ANY path, which is exactly
    tiling reachability, so the oracle needs no float scores at all."""
    ctes = [
        f"r{tag}0 AS (SELECT word, wlen FROM {words_cte} "
        f"WHERE wlen <= {_VB_MAXW})"
    ]
    for j in range(1, _VB_MAXW + 1):
        branches = " UNION ALL ".join(
            f"SELECT r.word, r.wlen FROM r{tag}{j - p} r "
            f"JOIN {pieces_cte} v "
            f"ON v.piece = substring(r.word, {j - p + 1}, {p}) "
            f"WHERE r.wlen >= {j}"
            for p in range(1, min(_VB_MAXP, j) + 1)
        )
        ctes.append(
            f"r{tag}{j} AS MATERIALIZED (SELECT DISTINCT word, wlen "
            f"FROM ({branches}))"
        )
    cov = " UNION ALL ".join(
        f"SELECT word FROM r{tag}{j} WHERE wlen = {j}"
        for j in range(1, _VB_MAXW + 1)
    )
    ctes.append(f"cov{tag} AS MATERIALIZED ({cov})")
    ctes.append(
        f"""st{tag} AS (SELECT CAST(SUM(wcnt) AS BIGINT) AS n_tokens,
        CAST(COALESCE(SUM(wcnt) FILTER (WHERE word NOT IN
            (SELECT word FROM cov{tag})), 0) AS BIGINT) AS n_oov
        FROM {words_cte})"""
    )
    return ctes


def _vb_audit_oracle() -> str:
    corpora = f"""
    seedc AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
    b0c AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1
            UNION ALL
            SELECT doc_id, {_VB_MUT} FROM documents WHERE doc_id % 9 = 0),
    b1c AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2),
    finalc AS (SELECT doc_id,
               CASE WHEN doc_id % 9 = 0 THEN {_VB_MUT} ELSE text END AS text
               FROM documents WHERE doc_id % 15 <> 0)"""
    ctes = [
        _vb_hist_sql("seedw", "seedc"),
        _vb_hist_sql("b0w", "b0c"),
        _vb_hist_sql("b1w", "b1c"),
        _vb_hist_sql("finw", "finalc"),
        _vb_pieces_sql("pseed", "seedw"),
        _vb_pieces_sql("pnew", "finw"),
    ]
    ctes += _vb_reach_ctes("s", "seedw", "pseed")
    ctes += _vb_reach_ctes("a", "b0w", "pseed")
    ctes += _vb_reach_ctes("b", "b1w", "pseed")
    ctes += _vb_reach_ctes("f", "finw", "pseed")
    ctes += _vb_reach_ctes("g", "finw", "pnew")

    def row(arm: str, nt: str, no: str, frm: str) -> str:
        rate = f"ROUND(({no}) / CAST(({nt}) AS DOUBLE), 6)"
        return (
            f"SELECT '{arm}' AS arm, CAST({nt} AS BIGINT) AS n_tokens, "
            f"CAST({no} AS BIGINT) AS n_oov, {rate} AS oov_rate, "
            f"{rate} > {_VB_OOV_GATE} AS retrain FROM {frm}"
        )

    rows = "\n    UNION ALL\n    ".join([
        row("seed_baseline", "n_tokens", "n_oov", "sts"),
        row("epoch_0", "n_tokens", "n_oov", "sta"),
        row("epoch_1", "n_tokens", "n_oov", "stb"),
        row("stream_merged", "sta.n_tokens + stb.n_tokens",
            "sta.n_oov + stb.n_oov", "sta, stb"),
        row("final_seed_vocab", "n_tokens", "n_oov", "stf"),
        row("final_retrained_vocab", "n_tokens", "n_oov", "stg"),
    ])
    return f"WITH {corpora},\n    " + ",\n    ".join(ctes) + "\n    " + rows


@memo_substrate
def _run_vocab_stream_loop(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, str]:
    """Engine of the vocabulary gates: runs the live loop once per
    (application, sf_dir) and returns (top-{_VB_TOP} merged histogram,
    drift/retrain audit rows, path of the persisted RETRAINED
    vocabulary store — the r14 serving read's input)."""
    from kafka_sink_azure_kusto_spark.functions import unigram as U
    from kafka_sink_azure_kusto_spark.functions.similarity import last_write_wins

    work = _workdir("stream_vocab_")
    store = os.path.join(work, "store")
    vocab_dir = os.path.join(work, "vocab")
    reg = os.path.join(work, "registers")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    # ---- seed: build the doc store through the SAME upsert kernel,
    # persist the seed histogram register and the seed vocabulary store
    seed = docs.filter(F.col("doc_id") % 3 == 0)
    st = U.word_count_upsert(seed, store, n_blocks=_VB_BLOCKS)
    # the seed register write and the seed-vocabulary train both
    # consume the CHECKPOINTED deltas — derive the vocabulary from the
    # checkpoint directly (a (word string, delta long) parquet
    # round-trip is exact, so values are unchanged) instead of
    # write → read-back → train
    seedw = st["deltas"].select(
        "word",
        F.col("delta").alias("wcnt"),
        F.length("word").cast("int").alias("wlen"),
    )
    st["deltas"].write.parquet(os.path.join(reg, "hist_seed"))
    U.lp_table(
        U.seed_substring_counts(
            seedw.filter(F.col("wlen") <= _VB_MAXW), _VB_MAXP
        ),
        _VB_CAP,
    ).write.parquet(vocab_dir)

    def oov_stats(words: DataFrame, lp: DataFrame) -> DataFrame:
        """(n_tokens, n_oov) of a word histogram under piece table
        ``lp`` — coverage = the word has a Viterbi path."""
        cov = U.viterbi_segment(
            words.filter(F.col("wlen") <= _VB_MAXW), lp,
            _VB_MAXW, _VB_MAXP,
        ).select("word")
        nt = words.agg(F.sum("wcnt").cast("long").alias("n_tokens"))
        nc = (
            words.join(cov, "word", "left_semi")
            .agg(F.coalesce(F.sum("wcnt"), F.lit(0)).cast("long").alias("nc"))
        )
        return nt.crossJoin(nc).select(
            "n_tokens", (F.col("n_tokens") - F.col("nc")).alias("n_oov")
        )

    lp_seed = spark.read.parquet(vocab_dir)

    # ---- stream batches (shared loop algebra, text edition)
    mut = F.translate(F.col("text"), "aeiou", "zzzzz")
    b0 = (
        docs.filter(F.col("doc_id") % 3 == 1)
        .unionByName(
            docs.filter(F.col("doc_id") % 9 == 0).withColumn("text", mut)
        )
        .withColumn("seq", F.lit(0))
    )
    b1 = (
        docs.filter(F.col("doc_id") % 3 == 2)
        .unionByName(
            docs.filter(F.col("doc_id") % 15 == 0).withColumn(
                "text", F.lit(None).cast("string")
            )
        )
        .withColumn("seq", F.lit(1))
    )
    # the seed coverage register reads the persisted seed vocab
    oov_stats(seedw, lp_seed).write.parquet(os.path.join(reg, "oov_seed"))
    chunks = [
        [
            r[0]
            for r in b.select(
                F.to_json(F.struct("doc_id", "text", "seq"))
            ).collect()
        ]
        for b in (b0, b1)
    ]

    def update_vocab(batch_df, epoch_id: int) -> None:
        ep = int(epoch_id)
        mb = batch_df.sparkSession
        st = U.word_count_upsert(
            batch_df, store, n_blocks=_VB_BLOCKS, seq_col="seq"
        )
        st["deltas"].write.mode("overwrite").parquet(
            os.path.join(reg, f"hist_stream/epoch={ep}")
        )
        # per-epoch coverage registers: the batch's LIVE text under
        # the PERSISTED seed vocabulary (the serving store, not a
        # recompute) — reads only the batch + the seed vocab store,
        # so it shares no state with the doc-store upsert; the batch
        # resolves by the store's own last-write-wins rule, so both
        # keep the same delivery of a doc
        live = last_write_wins(batch_df, "doc_id", "text", "seq").filter(
            F.col("text").isNotNull()
        )
        oov_stats(U.word_counts(live), mb.read.parquet(vocab_dir)).write.mode(
            "overwrite"
        ).parquet(os.path.join(reg, f"oov_stream/epoch={ep}"))

    run_replay(spark, work, "doc_id long, text string, seq int", chunks, update_vocab)

    # ---- merged histogram (seed register + stream deltas) — the gate
    hist = (
        spark.read.parquet(os.path.join(reg, "hist_seed"))
        .select("word", "delta")
        .unionByName(
            spark.read.parquet(os.path.join(reg, "hist_stream"))
            .select("word", "delta")
        )
        .groupBy("word")
        .agg(F.sum("delta").cast("long").alias("wcnt"))
        .filter(F.col("wcnt") > 0)
        .localCheckpoint()
    )
    top = topk_rows(hist, [], ["-wcnt", "word"], _VB_TOP).select(
        "word", "wcnt", F.col("rank").cast("bigint").alias("rank")
    )

    # ---- audit rows: per-epoch + merged coverage registers, the
    # retrain decision, and the retrain-from-REGISTERS verification
    def arm_row(arm: str, stats: DataFrame) -> DataFrame:
        rate = F.round(F.col("n_oov") / F.col("n_tokens"), 6)
        return stats.select(
            F.lit(arm).alias("arm"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_oov").cast("long").alias("n_oov"),
            rate.alias("oov_rate"),
            (rate > F.lit(_VB_OOV_GATE)).alias("retrain"),
        )

    seed_stats = spark.read.parquet(os.path.join(reg, "oov_seed"))
    stream_reg = spark.read.parquet(os.path.join(reg, "oov_stream"))
    ep_rows = None
    for ep in (0, 1):
        r = arm_row(
            f"epoch_{ep}",
            stream_reg.filter(F.col("epoch") == ep).select(
                "n_tokens", "n_oov"
            ),
        )
        ep_rows = r if ep_rows is None else ep_rows.unionByName(r)
    merged = stream_reg.agg(
        F.sum("n_tokens").alias("n_tokens"), F.sum("n_oov").alias("n_oov")
    )
    hist_words = hist.withColumn("wlen", F.length("word").cast("int"))
    # the retrain PERSISTS the new vocabulary — it becomes the live
    # serving store (r14 vocab_store_incremental_encode reads it the
    # way ivfpq_nprobe_search reads the PQ code store)
    retrained_dir = os.path.join(work, "vocab_retrained")
    U.lp_table(
        U.seed_substring_counts(
            hist_words.filter(F.col("wlen") <= _VB_MAXW), _VB_MAXP
        ),
        _VB_CAP,
    ).write.parquet(retrained_dir)
    lp_new = spark.read.parquet(retrained_dir)
    audit = (
        arm_row("seed_baseline", seed_stats)
        .unionByName(ep_rows)
        .unionByName(arm_row("stream_merged", merged))
        .unionByName(
            arm_row("final_seed_vocab", oov_stats(hist_words, lp_seed))
        )
        .unionByName(
            arm_row("final_retrained_vocab", oov_stats(hist_words, lp_new))
        )
    )
    return top, audit, retrained_dir


@register("streaming_vocab_maintenance", _VB_GATE_ORACLE)
def streaming_vocab_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE tokenizer-vocabulary maintenance through the real streaming
    engine (VERDICT r12 #3 — the tokenizer family joins the six index
    families' live-loop discipline): micro-batches of document
    upserts, re-deliveries, and Kafka NULL tombstones maintain a
    block-partitioned PER-DOCUMENT word-count store
    (`functions/unigram.word_count_upsert` — old rows recovered from
    affected blocks emit NEGATIVE histogram deltas, so a tombstone
    with no payload still subtracts its doc's words), and each epoch
    writes ADDITIVE word-histogram registers. Gate = the top-{_VB_TOP}
    of the SUM-merged registers vs the word histogram of the
    closed-form final corpus — a missed tombstone, double-applied
    re-delivery, or lost delta flips counts in the top rows. At 100 TB
    the register store is vocabulary-sized and every batch costs
    |batch| + |affected blocks|, never |corpus| — vocabulary
    monitoring and retraining never rescan the data."""
    top, _, _ = _run_vocab_stream_loop(spark, sf_dir)
    return top


@register("vocab_drift_retrain_audit", _vb_audit_oracle())
def vocab_drift_retrain_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The coverage RETRAIN gate for the streaming vocabulary — drift
    decides, retrain acts, the audit verifies (the
    streaming_pq_drift_audit pattern, text edition). Per-epoch
    coverage registers (n_tokens, n_oov — OOV = no Viterbi tiling
    under the PERSISTED seed vocabulary, computed on batch-vocabulary-
    sized word sets) SUM-merge into the stream coverage rate, compared
    against the absolute coverage SLA (see _VB_OOV_GATE — set above
    the ~3% baseline noise floor the capped vocabulary leaves even on
    the seed corpus). Measured at sf0.01 the decision DISCRIMINATES:
    seed 0.030 and epoch 1 0.031 pass, the mutated epoch 0 reads 0.283
    and the merged stream 0.182 — retrain fires. The retrain consumes
    ONLY the merged histogram registers (never the corpus) and the
    final rows verify it as integers: the final corpus reads 3208 OOV
    occurrences under the seed vocabulary vs 814 under the retrained
    one (back under the SLA) once the 'z' pieces enter the top-48.
    Oracle: closed-form corpora + top-{_VB_CAP} piece sets + boolean
    tiling-reachability DP, generated from the same loops as the
    Spark plan."""
    _, audit, _ = _run_vocab_stream_loop(spark, sf_dir)
    return audit

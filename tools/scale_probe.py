"""Scale-stress probe: the driver's documents/embeddings tables are
fixed at 500 rows, so this synthesizes larger corpora deterministically
and measures how the dedup/ANN operators scale. Results → PERF.md.

Usage: python tools/scale_probe.py [--sizes 5000,20000,80000]
Env:   SPARK_GRAFT_SF_DIR (default: the sf0.1 testdata directory)
"""

from __future__ import annotations

import os
import sys
import time

# the checkout this tool lives in, not an installed copy
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def synth_docs(spark, base_docs, n_target: int):
    """Deterministic corpus expansion: each replica drops a different
    hash-selected ~1/3 of tokens and appends a unique token, so replicas
    of one document are NOT near-duplicates of each other (keeps the
    LSH candidate count realistic instead of quadratic)."""
    n_base = base_docs.count()
    replicas = (n_target + n_base - 1) // n_base
    r = base_docs.crossJoin(
        spark.range(replicas).withColumnRenamed("id", "replica")
    )
    toks = F.split(F.col("text"), " ")
    kept = F.filter(
        toks,
        lambda t: F.pmod(
            F.hash(F.concat(t, F.lit(":"), F.col("doc_id"), F.lit(":"), F.col("replica"))),
            F.lit(3),
        )
        != 0,
    )
    text = F.concat_ws(
        " ",
        F.concat_ws(" ", kept),
        F.concat(F.lit("uid"), F.col("doc_id"), F.lit("_"), F.col("replica")),
    )
    return (
        r.select(
            (F.col("doc_id") + F.col("replica") * n_base).alias("doc_id"),
            text.alias("text"),
        )
        .filter(F.col("doc_id") < n_target)
        .repartition(32)
    )


def synth_docs_controlled_dups(
    spark,
    base_docs,
    n_target: int,
    dup_fraction: float = 0.2,
    cluster_size: int = 4,
):
    """Corpus expansion with CONTROLLED near-duplicate density (VERDICT
    r9 "what's wrong" #3): ``synth_docs``' independent per-replica
    dropout decorrelates every replica, so at 100x the LSH pair volume
    COLLAPSED and the published exponent went negative (-0.507 -- a
    fixture artifact, not engine behavior).

    Shape: every ``cluster_size`` CONSECUTIVE new ids form one cluster
    drawing the same source text (src = cluster mod n_base), so
    clusters exist at ANY n_target -- the old replica-block design had
    zero possible duplicates whenever n_target <= n_base. A
    hash-selected ~``dup_fraction`` of clusters are NEAR-DUP clusters:
    members share a cluster-keyed 1/3 token dropout and differ only by
    a light member-keyed 1/20 dropout + a unique token
    (shingle-Jaccard ~0.75, safely above the 0.5 gate). The rest
    decorrelate via member-keyed 1/3 dropout (shingle-J ~0.17, safely
    below). Cluster size is CONSTANT in corpus size, so true pair
    volume grows LINEARLY -- the property that makes a measured scaling
    exponent meaningful. Measured at sf0.1 base: 5k -> ~1.1k pairs,
    50k -> ~10.9k pairs.
    """
    n_base = base_docs.count()
    ids = (
        spark.range(n_target)
        .withColumnRenamed("id", "new_id")
        .withColumn("cl", (F.col("new_id") / F.lit(cluster_size)).cast("long"))
    )
    ids = ids.withColumn("src", F.pmod(F.col("cl"), F.lit(n_base)))
    r = ids.join(
        base_docs.select(F.col("doc_id").alias("src"), "text"), "src"
    )
    is_dup = (
        F.pmod(F.hash(F.lit("dup"), F.col("cl")), F.lit(10))
        < int(dup_fraction * 10)
    )
    toks = F.split(F.col("text"), " ")

    def keyed_drop(key_col, mod: int):
        return lambda t: F.pmod(
            F.hash(F.concat(t, F.lit(":"), key_col)), F.lit(mod)
        ) != 0

    # dup members: cluster-keyed 1/3 dropout (shared within the
    # cluster, decorrelates clusters) then member-keyed 1/20 dropout
    dup_kept = F.filter(
        F.filter(toks, keyed_drop(F.col("cl").cast("string"), 3)),
        keyed_drop(F.col("new_id").cast("string"), 20),
    )
    # non-dup rows: member-keyed 1/3 dropout (synth_docs' shape)
    solo_kept = F.filter(toks, keyed_drop(F.col("new_id").cast("string"), 3))
    text = F.concat_ws(
        " ",
        F.concat_ws(" ", F.when(is_dup, dup_kept).otherwise(solo_kept)),
        F.concat(F.lit("uid"), F.col("new_id")),
    )
    # text computed via withColumn BEFORE the doc_id alias exists:
    # aliasing doc_id in the same select let Spark 4's LATERAL column
    # alias resolution rebind the dropout keys and silently decorrelate
    # cluster members (found live: dup clusters measured J~0.1)
    return (
        r.withColumn("_new_text", text)
        .select(
            F.col("new_id").alias("doc_id"),
            F.col("_new_text").alias("text"),
        )
        .repartition(32)
    )


def synth_embeddings(spark, n: int, dim: int = 64):
    df = spark.range(n).withColumnRenamed("id", "vec_id")
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: F.randn(seed=42) .cast("float"),
    )
    # randn(seed) per element would correlate; derive from hash instead
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: (
            (
                F.pmod(F.hash(F.concat(F.col("vec_id"), F.lit(":"), d)), F.lit(10_000))
                / 5_000.0
            )
            - 1.0
        ).cast("float"),
    )
    return df.select("vec_id", vec.alias("embedding"), (F.col("vec_id") % 32).cast("int").alias("label")).repartition(32)


def synth_clustered_embeddings(spark, n: int, dim: int = 64,
                               n_clusters: int = 32, sigma: float = 0.3,
                               rank: int = 4):
    """Clustered corpus with LOW-RANK within-cluster variation:
    vector = center[c] + sigma · Σ_j t_j(vec) · dir_j[c], all
    hash-derived (deterministic). Real embedding corpora are clustered
    with low intrinsic dimension locally — the structure IVF prunes on
    and residual-PQ quantizes; the uniform-random corpus in
    synth_embeddings is the documented floor case (no structure for
    any index to exploit)."""
    df = spark.range(n).withColumnRenamed("id", "vec_id")
    c = (F.col("vec_id") % n_clusters).cast("int")

    def h(tag, d):
        return (
            F.pmod(F.hash(F.concat(tag, F.lit(":"), d.cast("string"))), F.lit(10_000))
            / 5_000.0
            - 1.0
        )

    def component(d):
        val = h(F.concat(F.lit("c"), c.cast("string")), d)
        for j in range(rank):
            t_j = h(F.lit(f"t{j}"), F.col("vec_id"))  # scalar per vector
            dir_jd = h(F.concat(F.lit(f"d{j}_"), c.cast("string")), d)
            val = val + t_j * dir_jd * sigma
        return val.cast("float")

    vec = F.transform(F.sequence(F.lit(0), F.lit(dim - 1)), component)
    return df.select(
        "vec_id", vec.alias("embedding"), c.alias("true_cluster")
    ).repartition(32)


def ann_clustered_recall(spark, n: int = 50_000, dim: int = 64):
    """VERDICT r4 #4: prove the IVF+PQ+rerank stack RETRIEVES on
    clustered data with a k-means-trained codebook (the random-vector +
    untrained-codebook recall@10 of 0.086 is PQ's floor case). Measures
    recall@10 vs exact brute force for raw IVF+PQ and for
    IVF+PQ→exact-rerank across n_probe."""
    import time as _t

    from kafka_sink_azure_kusto_spark.functions import similarity as S

    emb = synth_clustered_embeddings(spark, n, dim).cache()
    emb.count()
    queries = emb.filter(F.col("vec_id") < 50).select("vec_id", "embedding")
    truth = (
        S.brute_force_topk(emb, queries, k=10)
        .select("query_id", "neighbor_id")
        .cache()
    )
    n_truth = truth.count()

    # IVF index: nearest-seed assignment (seeds = first 32 ids) + one
    # k-means refinement — the same build path measured in round 4
    seeds = emb.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("embedding").alias("centroid"),
    )
    indexed = S.assign_cells(emb, seeds).cache()
    indexed.count()
    cents = S.cell_centroids(indexed, cell_col="cell").cache()
    cents.count()

    # RAW-vector PQ codebook (the naive stack, for contrast)
    t0 = _t.perf_counter()
    cb_raw = S.pq_train(emb, 8, 8, num_codes=32, iters=4).cache()
    cb_raw.count()
    print(f"pq_train raw (32 codes, 4 iters)@{n}: {_t.perf_counter()-t0:.2f}s")
    codes_raw = (
        S.pq_encode(emb, cb_raw, num_subspaces=8, sub_len=8)
        .select("vec_id", "m", "code")
        .join(indexed.select("vec_id", "cell"), "vec_id")
        .cache()
    )
    codes_raw.count()

    # RESIDUAL PQ (the production IndexIVFPQ construction): codebook
    # trained and codes built on vec − centroid[cell]
    t0 = _t.perf_counter()
    resid = S.with_residuals(indexed, cents).cache()
    resid.count()
    cb_res = S.pq_train(resid, 8, 8, num_codes=32, iters=4).cache()
    cb_res.count()
    print(f"pq_train residual@{n}: {_t.perf_counter()-t0:.2f}s")
    codes_res = (
        S.pq_encode(resid, cb_res, num_subspaces=8, sub_len=8)
        .select("vec_id", "m", "code")
        .join(indexed.select("vec_id", "cell"), "vec_id")
        .cache()
    )
    codes_res.count()

    out = {}
    rerank_n = 100
    for probe in (1, 2, 4, 8):
        raw = S.ivf_pq_topk(
            codes_raw, queries, cb_raw, cents, 8, 8, n_probe=probe, k=10
        ).select("query_id", "neighbor_id")
        r_raw = truth.join(raw, ["query_id", "neighbor_id"]).count() / n_truth
        res10 = S.ivf_pq_residual_topk(
            codes_res, queries, cb_res, cents, 8, 8, n_probe=probe, k=10
        ).select("query_id", "neighbor_id")
        r_res = truth.join(res10, ["query_id", "neighbor_id"]).count() / n_truth
        cand = S.ivf_pq_residual_topk(
            codes_res, queries, cb_res, cents, 8, 8, n_probe=probe, k=rerank_n
        ).select("query_id", "neighbor_id")
        rer = S.rerank_topk(cand, emb, queries, k=10).select(
            "query_id", "neighbor_id"
        )
        r_rer = truth.join(rer, ["query_id", "neighbor_id"]).count() / n_truth
        out[probe] = (r_raw, r_res, r_rer)
        print(
            f"clustered recall@10 n={n} n_probe={probe}: raw_ivf_pq={r_raw:.3f} "
            f"residual_ivf_pq={r_res:.3f} residual+rerank{rerank_n}={r_rer:.3f}"
        )
    for df in (codes_raw, cb_raw, codes_res, cb_res, resid, cents, indexed,
               truth, emb):
        df.unpersist()
    return out


def sink_ingest_compare(spark, n: int = 200_000):
    """VERDICT r4 #7: driver-pool vs executor-side ingest throughput.
    At 100 TB the driver-side bounded-pool ingest loop is the sink's
    only centralized stage — this measures both modes on the same
    synthetic record stream (8 topics × 16 partitions) and records
    records/s so PERF.md can say WHEN to pass a backend_factory."""
    import shutil
    import tempfile
    import time as _t

    from kafka_sink_azure_kusto_spark.config import (
        KustoSinkConfig,
        TopicToTableMapping,
    )
    from kafka_sink_azure_kusto_spark.streaming.backends import LocalEmulatorBackend
    from kafka_sink_azure_kusto_spark.streaming.sink import KustoSparkSink

    records = (
        spark.range(n)
        .select(
            F.col("id").cast("string").alias("key"),
            F.to_json(
                F.struct(
                    F.col("id").alias("event_id"),
                    (F.col("id") % 97).alias("user_id"),
                    (F.col("id") % 7).cast("double").alias("value"),
                )
            ).alias("value"),
            F.concat(F.lit("t"), (F.col("id") % 8).cast("string")).alias("topic"),
            (F.col("id") % 16).cast("long").alias("partition"),
            F.col("id").cast("long").alias("offset"),
        )
        .repartition(32)
        .cache()
    )
    n_actual = records.count()
    out = {}
    for mode in ("driver_pool", "executor_side"):
        work = tempfile.mkdtemp(prefix=f"probe_ingest_{mode}_")
        try:
            root = f"{work}/kusto"
            cfg = KustoSinkConfig(
                ingest_url="https://ingest.example.kusto.windows.net",
                mappings=[
                    TopicToTableMapping(topic="*", db="db", table="t", format="json")
                ],
                staging_dir=f"{work}/staging",
            )
            backend = LocalEmulatorBackend(root)
            if mode == "executor_side":
                sink = KustoSparkSink(
                    cfg,
                    backend,
                    backend_factory=lambda root=root: LocalEmulatorBackend(root),
                )
            else:
                sink = KustoSparkSink(cfg, backend)
            t0 = _t.perf_counter()
            sink.process_batch(records, epoch_id=0)
            dt = _t.perf_counter() - t0
            done = sum(e["records"] for e in LocalEmulatorBackend(root).ingest_log())
            assert done == n_actual, (mode, done, n_actual)
            out[mode] = {
                "records": n_actual,
                "sec": round(dt, 3),
                "records_per_sec": round(n_actual / dt),
                "files": len(LocalEmulatorBackend(root).ingest_log()),
            }
            print(f"sink_ingest {mode}: {out[mode]}")
        finally:
            shutil.rmtree(work, ignore_errors=True)
    records.unpersist()
    return out


def bloom_decontam_compare(spark, sizes=(5_000, 50_000)):
    """Bloom-prefiltered vs raw-broadcast decontamination at growing
    corpus sizes (fixed benchmark = every 25th doc of the BASE corpus,
    so the benchmark n-gram set is constant while the corpus grows —
    the regime where the two approaches differ is a LARGE benchmark;
    this probe also reports the benchmark-set size the raw broadcast
    ships vs the constant 128 KB bitmap)."""
    import time as _t

    from pyspark.sql import functions as F

    from kafka_sink_azure_kusto_spark.functions import corpus as C
    from kafka_sink_azure_kusto_spark.sources.tables import load_table

    base = load_table(spark, SF_DIR, "documents")
    bench = base.filter(F.col("doc_id") % 25 == 0).cache()
    n_bench_ngrams = (
        bench.select(F.explode(C.shingles("text", 5)).alias("ng")).distinct().count()
    )
    print(f"benchmark: {bench.count()} docs, {n_bench_ngrams} distinct 5-grams "
          f"(raw broadcast ~{n_bench_ngrams * 30 // 1024} KB vs bitmap 128 KB)")
    for n in sizes:
        docs = synth_docs(spark, base, n).cache()
        docs.count()
        t0 = _t.perf_counter()
        C.contamination_overlap(docs, bench, n=5).write.format("noop").mode(
            "overwrite"
        ).save()
        t_raw = _t.perf_counter() - t0
        t0 = _t.perf_counter()
        C.contamination_overlap_bloom(
            docs, bench, n=5, num_bits=1 << 20
        ).write.format("noop").mode("overwrite").save()
        t_bloom = _t.perf_counter() - t0
        print(f"n={n}: raw_broadcast={t_raw:.2f}s bloom_prefilter={t_bloom:.2f}s")
        docs.unpersist()


def sketch_scale_compare(spark, sizes=(100_000, 1_000_000, 10_000_000)):
    """Count-min and KMV at 10×/100× input scale, against the exact
    groupBy they substitute for. What the 100 TB story needs on record:
    the sketch shuffle is bounded (depth×width cells / k hashes per
    group) while the exact shuffle carries every distinct key — the
    probe prints both timings AND the grouped-cell counts so the
    boundedness claim is measured, not asserted. Key skew is zipf-ish
    (key = floor(u²·n_keys), deterministic), n_keys grows with n/100."""
    import time as _t

    from pyspark.sql import functions as F

    from kafka_sink_azure_kusto_spark.functions.sampling import md5_unit_interval
    from kafka_sink_azure_kusto_spark.functions.sketches import (
        countmin_estimates,
        kmv_distinct,
    )

    for n in sizes:
        n_keys = max(1000, n // 100)
        u = md5_unit_interval(F.col("id"), salt="sk:")
        df = (
            spark.range(n)
            .select(
                (F.floor(u * u * n_keys)).cast("long").alias("key"),
                (F.col("id") % 16).alias("grp"),
            )
            .cache()
        )
        df.count()
        # sketch BUILD alone (what a production pipeline ships across
        # days/streams); the registry query additionally probes every
        # distinct key, which re-does the exact-distinct work and is
        # only there so the oracle can check est >= true for all keys
        from kafka_sink_azure_kusto_spark.functions.sketches import cm_bucket

        t0 = _t.perf_counter()
        (
            df.select(
                F.posexplode(
                    F.array(*[cm_bucket(F.col("key"), r, 4096) for r in range(4)])
                ).alias("cm_row", "cm_bucket")
            )
            .groupBy("cm_row", "cm_bucket")
            .count()
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        t_cm_build = _t.perf_counter() - t0
        t0 = _t.perf_counter()
        countmin_estimates(df, "key", depth=4, width=4096).write.format("noop").mode(
            "overwrite"
        ).save()
        t_cm = _t.perf_counter() - t0
        t0 = _t.perf_counter()
        df.groupBy("key").count().write.format("noop").mode("overwrite").save()
        t_exact = _t.perf_counter() - t0
        t0 = _t.perf_counter()
        kmv_distinct(df, ["grp"], "key", k=64).write.format("noop").mode(
            "overwrite"
        ).save()
        t_kmv = _t.perf_counter() - t0
        t0 = _t.perf_counter()
        df.groupBy("grp").agg(F.countDistinct("key")).write.format("noop").mode(
            "overwrite"
        ).save()
        t_cd = _t.perf_counter() - t0
        print(
            f"n={n} keys~{n_keys}: countmin_build={t_cm_build:.2f}s "
            f"countmin_query_all_keys={t_cm:.2f}s exact_groupby={t_exact:.2f}s "
            f"(sketch cells ≤ {4 * 4096}) | kmv={t_kmv:.2f}s "
            f"exact_count_distinct={t_cd:.2f}s (state 64 hashes/group)"
        )
        df.unpersist()


def join_scale_compare(spark, reps=(1, 10)):
    """The q7 bilateral-trade join shape (lineitem⋈orders⋈supplier⋈
    customer⋈nation²) at 1× and 10× fact volume — facts replicated with
    SHIFTED KEYS so join cardinality scales honestly (same keyspace
    would turn the join quadratic). Records the wall-time exponent for
    the multi-table shuffle-join + agg shape that dominates warehouse
    work; sub-linear-to-linear is the pass bar (AQE coalescing + map-
    side combine keep the agg cheap; the shuffles scale with input)."""
    import math
    import time as _t

    from pyspark.sql import functions as F

    from kafka_sink_azure_kusto_spark.sources.tables import load_table

    sf = SF_DIR
    li0 = load_table(spark, sf, "lineitem")
    o0 = load_table(spark, sf, "orders")
    supp = load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf, "nation").select("n_nationkey", "n_name")
    n_ord = o0.agg(F.max("o_orderkey")).collect()[0][0] + 1
    times = {}
    for rep in reps:
        r = spark.range(rep).withColumnRenamed("id", "rep")
        li = (
            li0.crossJoin(r)
            .withColumn("l_orderkey", F.col("l_orderkey") + F.col("rep") * n_ord)
            .drop("rep")
        )
        orders = (
            o0.crossJoin(r)
            .withColumn("o_orderkey", F.col("o_orderkey") + F.col("rep") * n_ord)
            .drop("rep")
        )
        q = (
            li.select("l_orderkey", "l_suppkey", "l_shipdate",
                      (F.col("l_extendedprice").cast("decimal(18,2)")
                       * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))).alias("rev"))
            .join(orders.select("o_orderkey", "o_custkey"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
            .join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(nation.select(F.col("n_nationkey").alias("sk"),
                                            F.col("n_name").alias("sn"))),
                  F.col("s_nationkey") == F.col("sk"))
            .join(F.broadcast(nation.select(F.col("n_nationkey").alias("ck"),
                                            F.col("n_name").alias("cn"))),
                  F.col("c_nationkey") == F.col("ck"))
            .filter(F.col("sn") != F.col("cn"))
            .groupBy("sn", "cn", F.year("l_shipdate").alias("y"))
            .agg(F.sum("rev").cast("double").alias("revenue"),
                 F.count(F.lit(1)).alias("n"))
        )
        t0 = _t.perf_counter()
        q.write.format("noop").mode("overwrite").save()
        times[rep] = _t.perf_counter() - t0
        print(f"q7_join {rep}x ({rep * 600}k lineitem rows): {times[rep]:.2f}s")
    if len(reps) == 2 and times[reps[0]] > 0:
        exp = math.log10(times[reps[1]] / times[reps[0]])
        print(f"scaling exponent log10(t{reps[1]}/t{reps[0]}): {exp:.2f} (1.0=linear)")


def ann_cell_sizing(spark, n: int = 50_000, dim: int = 64):
    """VERDICT r5 #7: recall/latency across IVF cell counts on the
    clustered corpus, validating the √n sizing rule
    (``similarity.ivf_cell_count``). For each c in {8, 32, 128, √n}:
    build the index (seed + one k-means refinement), then measure
    recall@10 vs exact brute force and warm query wall at n_probe 1/4.
    Expectation: latency falls ~1/c (candidate set = n_probe·n/c),
    recall at fixed n_probe falls slowly on clustered data until cells
    under-split the true clusters; √n is the work-optimal point where
    quantizer cost ≈ scan cost."""
    import time as _t

    from kafka_sink_azure_kusto_spark.functions import similarity as S

    emb = synth_clustered_embeddings(spark, n, dim).cache()
    emb.count()
    queries = emb.filter(F.col("vec_id") < 50).select("vec_id", "embedding")
    truth = (
        S.brute_force_topk(emb, queries, k=10)
        .select("query_id", "neighbor_id")
        .cache()
    )
    n_truth = truth.count()

    sqrt_n = S.ivf_cell_count(n)
    for c in (8, 32, 128, sqrt_n):
        seeds = emb.filter(F.col("vec_id") < c).select(
            F.col("vec_id").cast("int").alias("cell"),
            F.col("embedding").alias("centroid"),
        )
        t0 = _t.perf_counter()
        indexed = S.assign_cells(emb, seeds)
        cents = S.cell_centroids(indexed, cell_col="cell").cache()
        cents.count()
        indexed = S.assign_cells(emb, cents.select(
            "cell", F.col("centroid").alias("centroid"))).cache()
        indexed.count()
        build = _t.perf_counter() - t0
        for n_probe in (1, 4):
            approx = S.ivf_topk(
                indexed, queries, k=10, cell_col="cell",
                n_probe=n_probe, centroids=cents,
            ).select("query_id", "neighbor_id")
            approx.count()  # warm
            t0 = _t.perf_counter()
            hits = truth.join(approx, ["query_id", "neighbor_id"]).count()
            dt = _t.perf_counter() - t0
            print(
                f"ann_cells n={n} cells={c}{' (sqrt-n)' if c == sqrt_n else ''} "
                f"n_probe={n_probe}: recall@10={hits / n_truth:.3f} "
                f"query={dt:.2f}s build={build:.1f}s"
            )
        cents.unpersist()
        indexed.unpersist()


def incremental_neardup_probe(spark, n_history: int = 50_000, n_batch: int = 2_000):
    """The incremental near-dup scale claim with numbers. Honest
    finding (measured r6): at probe scale the WALL times of store vs
    recompute are equal (~2 s warm each) — 50k small docs hash in
    ~1 s on 32 cores, so signature compute isn't the bottleneck here.
    The store's real win is the BYTES the steady-state path reads:
    fixed-width signatures instead of the full corpus text. This probe
    measures that ratio (it is what dominates when history is disk/
    object-store resident at 100 TB — a petabyte text re-scan vs a
    ~100 GB signature read) plus the wall times for the record.
    """
    import time as _t

    from pyspark.sql import functions as F  # noqa: F811

    from kafka_sink_azure_kusto_spark.functions import dedup as D
    from kafka_sink_azure_kusto_spark.sources.tables import load_table

    base = load_table(spark, SF_DIR, "documents")
    all_docs = synth_docs(spark, base, n_history + n_batch).cache()
    all_docs.count()
    history = all_docs.filter(F.col("doc_id") % 26 != 0)
    batch = all_docs.filter(F.col("doc_id") % 26 == 0).cache()
    nb = batch.count()

    t0 = _t.perf_counter()
    store = D.banded_signatures(
        history, "text", "doc_id", 16, 4, 3, compact=True
    ).cache()
    store.count()
    build = _t.perf_counter() - t0

    t0 = _t.perf_counter()
    D.incremental_neardup_dedup(batch, store, compact=True).write.format(
        "noop"
    ).mode("overwrite").save()
    with_store = _t.perf_counter() - t0

    t0 = _t.perf_counter()
    fresh = D.banded_signatures(history, "text", "doc_id", 16, 4, 3, compact=True)
    D.incremental_neardup_dedup(batch, fresh, compact=True).write.format(
        "noop"
    ).mode("overwrite").save()
    naive = _t.perf_counter() - t0
    text_bytes = history.select(
        F.sum(F.octet_length("text")).alias("b")
    ).collect()[0]["b"]
    # Account the store AS PERSISTED: the banded layout repeats the full
    # compact signature (size·8 bytes) in each band row — charging it
    # once per doc (the r6 /4) overstated the steady-state ratio ~2.8×
    # (ADVICE r6 #3). A normalized two-table store (sig once per doc +
    # slim band rows) would earn that ratio back; this probe measures
    # the single-table layout actually written.
    sig_bytes = store.select(
        F.sum(
            F.size("sig") * 8  # compact longs, repeated per band row
            + F.lit(8)  # compact band_hash long
            + F.lit(12)  # id + band_id
        ).alias("b")
    ).collect()[0]["b"]
    print(
        f"incremental_neardup history={n_history} batch={nb}: "
        f"store_build={build:.2f}s (one-time), triage_with_store={with_store:.2f}s, "
        f"naive_recompute_history={naive:.2f}s ({naive / max(with_store, 0.01):.1f}x); "
        f"steady-state read: text={text_bytes / 1e6:.1f}MB vs "
        f"store={sig_bytes / 1e6:.1f}MB ({text_bytes / max(sig_bytes, 1):.1f}x fewer bytes)"
    )
    all_docs.unpersist()
    batch.unpersist()
    store.unpersist()


def semdedup_megacell_probe(spark, n: int = 20_000, dim: int = 32, cap: int = 200):
    """The SemDeDup cap's reason to exist (VERDICT r5 #6): a DEGENERATE
    clustering that dumps every vector into ONE cell. Uncapped, the
    within-cell join is n²/2 pairs (2·10⁸ at n=20k — the quadratic the
    guard exists to stop); with cell_member_cap the same input is
    ceil(n/cap) subcells × ~cap²/2 pairs (≈ n·cap/2 = 2·10⁶, a 100×
    reduction that GROWS with n). Measures the capped run and verifies
    the output still classifies every vector; the uncapped variant is
    run only at n/10 and its n² extrapolation printed."""
    import time as _t

    from kafka_sink_azure_kusto_spark.functions import dedup as D

    emb = (
        synth_embeddings(spark, n, dim)
        .withColumn("label", F.lit(0))
        .cache()
    )
    emb.count()
    t0 = _t.perf_counter()
    out = D.semantic_dedup_cells(emb, threshold=0.9, cell_member_cap=cap)
    rows = out.count()
    capped_t = _t.perf_counter() - t0
    assert rows == n
    small = emb.filter(F.col("vec_id") < n // 10).cache()
    small.count()
    t0 = _t.perf_counter()
    D.semantic_dedup_cells(small, threshold=0.9).count()
    uncapped_small_t = _t.perf_counter() - t0
    print(
        f"semdedup_megacell n={n} cap={cap}: capped={capped_t:.2f}s "
        f"(~{n * cap // 2} pairs); uncapped@n/10={uncapped_small_t:.2f}s "
        f"(~{(n // 10) ** 2 // 2} pairs) → uncapped@n extrapolates "
        f"~{uncapped_small_t * 100:.0f}s ({n * n // 2} pairs)"
    )
    emb.unpersist()
    small.unpersist()


def cc_giant_component_probe(spark, sizes=(50_000, 200_000)):
    """connected_components worst cases (VERDICT r5 #5): ONE giant
    component per run, shaped as (a) a chain — maximum diameter, the
    round-count stress (pointer doubling must hold O(log n) rounds) —
    and (b) a hub star + chain tail — the aggregation-skew stress (one
    node owns half the edges; per-round min is map-side combined so the
    hot key reduces before the exchange). Reports rounds + wall time
    per shape and size, and verifies every node landed in cluster 0."""
    from kafka_sink_azure_kusto_spark.functions import dedup as D

    for n in sizes:
        nodes = spark.range(n).selectExpr("id AS doc_id")
        chain = spark.range(n - 1).selectExpr(
            "id AS left_id", "id + 1 AS right_id"
        )
        # hub 0 → nodes 1..n/2, then a chain tail n/2..n-1
        half = n // 2
        star = spark.range(1, half).selectExpr("0 AS left_id", "id AS right_id")
        tail = spark.range(half - 1, n - 1).selectExpr(
            "id AS left_id", "id + 1 AS right_id"
        )
        for shape, edges in (("chain", chain), ("star+tail", star.union(tail))):
            rounds: list = []
            t0 = time.perf_counter()
            cc = D.connected_components(
                nodes, edges, max_iter=40, rounds_out=rounds
            )
            bad = cc.filter(F.col("cluster_id") != 0).count()
            dt = time.perf_counter() - t0
            print(
                f"cc_giant {shape} n={n}: rounds={rounds[0]} "
                f"time={dt:.2f}s wrong_cluster={bad}"
            )
            assert bad == 0, f"giant component mislabeled: {bad} nodes"


def timed(label, df):
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    print(f"{label}: {dt:.2f}s")
    return dt


def main():
    sizes = [5000, 20000, 80000]
    clustered_only = None
    ingest_only = None
    bloom_only = False
    sketch_only = False
    join_only = False
    cc_only = False
    cells_only = False
    megacell_only = False
    incneardup_only = False
    if len(sys.argv) > 1 and sys.argv[1] == "--cc-giant":
        cc_only = True
    elif len(sys.argv) > 1 and sys.argv[1] == "--ann-cells":
        cells_only = True
    elif len(sys.argv) > 1 and sys.argv[1] == "--semdedup-megacell":
        megacell_only = True
    elif len(sys.argv) > 1 and sys.argv[1] == "--incremental-neardup":
        incneardup_only = True
    elif len(sys.argv) > 1 and sys.argv[1] == "--bloom":
        bloom_only = True
    elif len(sys.argv) > 1 and sys.argv[1] == "--sketch":
        sketch_only = True
    elif len(sys.argv) > 1 and sys.argv[1] == "--join":
        join_only = True
    elif len(sys.argv) > 1 and sys.argv[1] == "--ann-clustered":
        clustered_only = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000
    elif len(sys.argv) > 1 and sys.argv[1] == "--sink-ingest":
        ingest_only = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
    elif len(sys.argv) > 2 and sys.argv[1] == "--sizes":
        sizes = [int(x) for x in sys.argv[2].split(",")]

    from pyspark.sql import SparkSession

    from kafka_sink_azure_kusto_spark.functions import corpus as C
    from kafka_sink_azure_kusto_spark.functions import dedup as D
    from kafka_sink_azure_kusto_spark.functions import similarity as S
    from kafka_sink_azure_kusto_spark.sources.tables import load_table

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("scale-probe")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    if cc_only:
        cc_giant_component_probe(spark)
        return
    if cells_only:
        ann_cell_sizing(spark)
        return
    if megacell_only:
        semdedup_megacell_probe(spark)
        return
    if incneardup_only:
        incremental_neardup_probe(spark)
        return
    if bloom_only:
        bloom_decontam_compare(spark)
        return
    if sketch_only:
        sketch_scale_compare(spark)
        return
    if join_only:
        join_scale_compare(spark)
        return
    if clustered_only is not None:
        ann_clustered_recall(spark, clustered_only)
        return
    if ingest_only is not None:
        sink_ingest_compare(spark, ingest_only)
        return

    base = load_table(spark, SF_DIR, "documents")
    results: dict[str, dict[int, float]] = {}
    for n in sizes:
        docs = synth_docs(spark, base, n).cache()
        n_actual = docs.count()
        print(f"--- corpus n={n_actual}")
        results.setdefault("dedup_exact", {})[n] = timed(
            f"dedup_exact@{n}", D.dedup_exact(docs)
        )
        results.setdefault("minhash_lsh", {})[n] = timed(
            f"minhash_lsh@{n}", D.minhash_lsh_pairs(docs, jaccard_threshold=0.5)
        )
        results.setdefault("simhash", {})[n] = timed(
            f"simhash@{n}", D.simhash_pairs(docs, max_hamming=8)
        )
        bench_docs = docs.filter(F.col("doc_id") % 50 == 0)
        results.setdefault("contamination", {})[n] = timed(
            f"contamination@{n}", C.contamination_overlap(docs, bench_docs, n=4)
        )
        results.setdefault("repetition", {})[n] = timed(
            f"repetition@{n}",
            C.repetition_stats(docs.repartition("doc_id"), n=2),
        )
        results.setdefault("chunk_pii", {})[n] = timed(
            f"chunk_pii@{n}",
            C.chunk_documents(docs, chunk_tokens=32, overlap=8).select(
                "doc_id", "chunk_id", C.pii_redact("chunk_text").alias("t")
            ),
        )
        from kafka_sink_azure_kusto_spark.functions.text import quality_score
        from kafka_sink_azure_kusto_spark.operators.prefix_sum import (
            token_budget_select,
        )

        scored = quality_score(docs, "text").select(
            "doc_id",
            F.col("q_tokens").cast("bigint").alias("n_tokens"),
            "quality_score",
        )
        results.setdefault("token_budget", {})[n] = timed(
            f"token_budget@{n}",
            token_budget_select(
                scored,
                order_by=[F.col("quality_score").desc(), F.col("doc_id").asc()],
                token_col="n_tokens",
                budget=n * 20,  # budget grows with the corpus
            ),
        )
        docs.unpersist()

    for n in [10_000, 50_000]:
        emb = synth_embeddings(spark, n).cache()
        emb.count()
        queries = emb.filter(F.col("vec_id") < 50)
        print(f"--- vectors n={n}")
        results.setdefault("ann_bruteforce_50q", {})[n] = timed(
            f"ann_bruteforce@{n}", S.brute_force_topk(emb, queries, k=10)
        )
        results.setdefault("ann_ivf_50q", {})[n] = timed(
            f"ann_ivf@{n}", S.ivf_topk(emb, queries, k=10)
        )
        # recall@10 vs brute force with a real IVF index (nearest-seed
        # assignment + one k-means refinement) across n_probe — the IVF
        # recall knob, measured not guessed. The synthetic vectors are
        # uniform random (worst case for IVF: no cluster structure), so
        # these are floor numbers.
        seeds = emb.filter(F.col("vec_id") < 32).select(
            F.col("vec_id").cast("int").alias("cell"),
            F.col("embedding").alias("centroid"),
        )
        indexed = S.assign_cells(emb, seeds).cache()
        indexed.count()
        cents = S.cell_centroids(indexed, cell_col="cell").cache()
        cents.count()
        q_idx = indexed.filter(F.col("vec_id") < 50).select("vec_id", "embedding")
        truth = S.brute_force_topk(indexed, q_idx, k=10).select(
            "query_id", "neighbor_id"
        ).cache()
        n_truth = truth.count()
        for probe in (1, 2, 4, 8):
            approx = S.ivf_topk(
                indexed, q_idx, k=10, cell_col="cell",
                n_probe=probe, centroids=cents,
            ).select("query_id", "neighbor_id")
            hits = truth.join(approx, ["query_id", "neighbor_id"]).count()
            rec = hits / n_truth
            results.setdefault(f"ann_ivf_recall@10 probe={probe}", {})[n] = rec
            print(f"ann_ivf_recall@10 probe={probe} n={n}: {rec:.3f}")
        # PQ/ADC recall@10: 8 subspaces × 16 codes (codebook from the
        # first 16 vectors), asymmetric distance vs exact brute force.
        cb = S.subvectors(emb.filter(F.col("vec_id") < 16), 8, 8).select(
            "m", F.col("id").alias("code"), F.col("sv").alias("c")
        ).cache()
        cb.count()
        codes = S.pq_encode(emb, cb, num_subspaces=8, sub_len=8).select(
            "vec_id", "m", "code"
        ).cache()
        codes.count()
        t0 = time.perf_counter()
        pq_approx = S.pq_adc_topk(
            codes, emb.filter(F.col("vec_id") < 50), cb,
            num_subspaces=8, sub_len=8, k=10,
        ).select("query_id", "neighbor_id")
        hits = truth.join(pq_approx, ["query_id", "neighbor_id"]).count()
        rec = hits / n_truth
        results.setdefault("ann_pq_adc_recall@10", {})[n] = rec
        print(f"ann_pq_adc_recall@10 n={n}: {rec:.3f} "
              f"({time.perf_counter()-t0:.2f}s)")
        cb.unpersist()
        codes.unpersist()
        truth.unpersist()
        cents.unpersist()
        indexed.unpersist()
        emb.unpersist()

    print("\nRESULTS")
    for op, xs in results.items():
        print(op, {k: round(v, 2) for k, v in xs.items()})


if __name__ == "__main__":
    main()

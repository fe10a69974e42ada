"""Training-data curation queries (north-star additions): deterministic
sampling, stratified sampling, and sequence packing — the reproducible
building blocks between raw corpus and training batches. Every oracle
runs the literally-same integer/md5 arithmetic as the Spark plan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_sink_azure_kusto_spark.functions.sampling import (
    hash_sample,
    md5_unit_interval_sql,
    stratified_sample,
)
from kafka_sink_azure_kusto_spark.functions.similarity import topk_rows
from kafka_sink_azure_kusto_spark.functions.text import token_count
from kafka_sink_azure_kusto_spark.operators.packing import pack_sequences, pack_stats
from kafka_sink_azure_kusto_spark.plans.registry import _workdir, register
from kafka_sink_azure_kusto_spark.sources.tables import load_table

_U = md5_unit_interval_sql("event_id", salt="s1")


@register(
    "deterministic_sample",
    f"""
    SELECT event_id, user_id, event_type
    FROM events WHERE {_U} < 0.25
    """,
)
def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~25% sample of events keyed on event_id (md5 unit
    interval < fraction). Unlike ``df.sample``, the kept-set is a pure
    function of the key — stable across replays, partitionings and
    engines (the oracle applies the same filter and must keep the
    identical rows, not merely the same count)."""
    ev = load_table(spark, sf_dir, "events")
    return hash_sample(ev, "event_id", 0.25, salt="s1").select(
        "event_id", "user_id", "event_type"
    )


_U2 = md5_unit_interval_sql("event_id", salt="s2")


@register(
    "stratified_sample",
    f"""
    SELECT event_id, event_type
    FROM events
    WHERE {_U2} < (CASE event_type
                   WHEN 'click' THEN 0.1
                   WHEN 'view' THEN 0.05
                   WHEN 'purchase' THEN 1.0
                   ELSE 0.0 END)
    """,
)
def stratified_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic rates (downsample abundant strata, keep
    rare ones whole) — the curation move that rebalances a corpus without
    a shuffle: one CASE resolves the fraction, one md5 decides, the
    filter pushes down to the scan."""
    ev = load_table(spark, sf_dir, "events")
    return stratified_sample(
        ev,
        key_col="event_id",
        stratum_col="event_type",
        fractions={"click": 0.1, "view": 0.05, "purchase": 1.0},
        salt="s2",
    ).select("event_id", "event_type")


# Shared pack-assignment CTEs: shard = doc_id % 8, prefix-sum window,
# 512-token boundary — ONE definition so sequence_packing and
# sequence_pack_texts can never silently verify different packings.
def _pack_ctes(with_text: bool) -> str:
    t = " text," if with_text else ""
    return f"""toks AS (
      SELECT doc_id,{t}
             CAST(doc_id % 8 AS INT) AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    pre AS (
      SELECT doc_id,{t} shard, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS pack_tokens_before
      FROM toks),
    packed AS (
      SELECT *, CAST(FLOOR(pack_tokens_before / 512.0) AS BIGINT) AS pack_id
      FROM pre)"""


@register(
    "sequence_packing",
    f"""
    WITH {_pack_ctes(False)}
    SELECT shard, pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
           ROUND(SUM(n_tokens) / 512.0, 6) AS fill_ratio
    FROM packed GROUP BY shard, pack_id
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM context-window packing (operators/packing.py): shard by key,
    prefix-sum-bucket documents into ≤512-token packs, report per-pack
    utilization. The oracle replays the identical prefix-sum arithmetic,
    so pack boundaries — not just totals — are verified."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_tokens", token_count("text").cast("long")
    )
    packed = pack_sequences(
        docs, token_col="n_tokens", key_col="doc_id", max_tokens=512, num_shards=8
    )
    return pack_stats(packed, max_tokens=512)


@register(
    "sequence_pack_texts",
    f"""
    WITH {_pack_ctes(True)}
    SELECT shard, pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           string_agg(text, '<|eos|>' ORDER BY doc_id) AS pack_text
    FROM packed GROUP BY shard, pack_id
    """,
)
def sequence_pack_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-ready pack materialization: every (shard, pack) from
    ``sequence_packing`` rendered as ONE training sequence — documents
    concatenated in stable doc_id order with an EOS separator
    (operators/packing.pack_texts). The oracle rebuilds the same packs
    and concatenates with ``string_agg(... ORDER BY doc_id)``, so pack
    membership AND in-pack document order are both hash-verified."""
    from kafka_sink_azure_kusto_spark.operators.packing import pack_texts

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_tokens", token_count("text").cast("long")
    )
    packed = pack_sequences(
        docs, token_col="n_tokens", key_col="doc_id", max_tokens=512, num_shards=8
    )
    return pack_texts(packed).select(
        "shard",
        F.col("pack_id").cast("bigint").alias("pack_id"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
        "pack_text",
    )


@register(
    "asof_join_attribution",
    """
    SELECT l.event_id, l.user_id,
           r.value AS purchase_value_asof,
           r.ts AS purchase_ts_asof
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
    ASOF LEFT JOIN (SELECT user_id, ts, MAX(value) AS value
                    FROM events WHERE event_type = 'purchase'
                    GROUP BY user_id, ts) r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def asof_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): for every click, the user's most
    recent purchase at-or-before it — attribution / point-in-time
    feature lookup. The Spark plan is the union-sort carry-forward
    (one hash shuffle, no inequality join); the oracle is DuckDB's
    NATIVE ``ASOF LEFT JOIN`` — two independent implementations that
    must hash-match."""
    from kafka_sink_azure_kusto_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    # the matched right timestamp rides along as a second value column
    out2 = asof_join(
        clicks,
        purchases.withColumn("rts", F.col("ts")),
        by=["user_id"],
        value_cols=["value", "rts"],
        suffix="_x",
    )
    return out2.select(
        "event_id",
        "user_id",
        F.col("value_x").alias("purchase_value_asof"),
        F.col("rts_x").alias("purchase_ts_asof"),
    )


@register(
    "range_join_sessions",
    """
    WITH iv AS (
      SELECT user_id,
             MIN(ts) AS start_ts,
             MIN(ts) + INTERVAL 2 HOUR AS end_ts
      FROM events GROUP BY user_id)
    SELECT e.event_id, e.user_id, iv.start_ts
    FROM events e JOIN iv
      ON e.user_id = iv.user_id
     AND e.ts >= iv.start_ts AND e.ts < iv.end_ts
    """,
)
def range_join_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join (operators/asof.py): events falling inside
    each user's first-2-hours window. Spark side explodes intervals into
    hour buckets and equi-joins (hash join, no broadcast-nested-loop);
    the oracle is a plain inequality join — independent plans, same
    rows."""
    from kafka_sink_azure_kusto_spark.operators.asof import range_join_bucketed

    ev = load_table(spark, sf_dir, "events")
    iv = ev.groupBy("user_id").agg(
        F.min("ts").alias("start_ts"),
        (F.min("ts") + F.expr("INTERVAL 2 HOURS")).alias("end_ts"),
    )
    pts = ev.select("event_id", "user_id", "ts")
    out = range_join_bucketed(
        pts, iv, by=["user_id"], point_ts="ts", bucket_seconds=3600
    )
    return out.select("event_id", "user_id", "start_ts")


@register(
    "embedding_quantize_int8",
    """
    WITH s AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
      FROM embeddings)
    SELECT vec_id, CAST(i AS BIGINT) AS dim,
           CAST(CASE WHEN scale = 0 THEN 0
                ELSE FLOOR(127.0 * CAST(embedding[i] AS DOUBLE) / scale + 0.5)
                END AS BIGINT) AS q
    FROM s, UNNEST(generate_series(1, len(embedding))) AS t(i)
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (max-abs
    scale per vector) — the 4× storage compression step an
    embedding-heavy corpus applies before indexing. Rounding is spelled
    ``floor(x + 0.5)`` in BOTH engines (identical definition — engine
    round() half-tie behavior differs), and all arithmetic is
    float→double promoted, so the long-form (vec_id, dim, q) output
    hash-matches exactly. Zero shuffles: scale is an aggregate OVER THE
    ARRAY (JVM fold), the explode is narrow."""
    emb = load_table(spark, sf_dir, "embeddings")
    scale = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    q = emb.withColumn("scale", scale).select(
        "vec_id",
        F.posexplode(F.col("embedding")).alias("pos", "x"),
        "scale",
    )
    return q.select(
        "vec_id",
        (F.col("pos") + 1).cast("bigint").alias("dim"),
        F.when(F.col("scale") == 0, F.lit(0))
        .otherwise(F.floor(127.0 * F.col("x").cast("double") / F.col("scale") + 0.5))
        .cast("bigint")
        .alias("q"),
    )


@register(
    "parquet_stage_roundtrip",
    """
    SELECT event_id, user_id, event_type, value
    FROM events ORDER BY event_id LIMIT 500
    """,
)
def parquet_stage_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet staging (extension beyond the reference's NDJSON/CSV/Avro
    writer set — Kusto ingests parquet natively and it's the natural
    staged format for a Spark pipeline): struct records → pyarrow parquet
    container per rolled file → emulator binary ingest → read back with
    the ordinary ``spark.read.parquet`` scan. Identity oracle over the
    deterministic subset ⇒ the round trip must be type- and
    value-lossless."""
    import kafka_sink_azure_kusto_spark as pks
    from kafka_sink_azure_kusto_spark.streaming import (
        KustoSparkSink,
        LocalEmulatorBackend,
    )

    work = _workdir("pq_rt_")
    ev = load_table(spark, sf_dir, "events").orderBy("event_id").limit(500)
    records = ev.select(
        F.col("event_id").cast("string").alias("key"),
        F.struct("event_id", "user_id", "event_type", "value").alias("value"),
        F.lit("events").alias("topic"),
        (F.col("event_id") % 4).cast("long").alias("partition"),
        F.col("event_id").cast("long").alias("offset"),
    )
    cfg = pks.KustoSinkConfig(
        ingest_url="https://ingest.example.kusto.windows.net",
        mappings=[
            pks.TopicToTableMapping(topic="events", db="db", table="t", format="parquet")
        ],
        staging_dir=os.path.join(work, "staging"),
        flush_size_bytes=16 * 1024,
    )
    backend = LocalEmulatorBackend(os.path.join(work, "kusto"))
    sink = KustoSparkSink(cfg, backend)
    sink.process_batch(records, epoch_id=0)
    table_dir = os.path.join(work, "kusto", "db", "t")
    return spark.read.parquet(os.path.join(table_dir, "part-*.parquet")).select(
        "event_id", "user_id", "event_type", "value"
    )


# ===================================================== corpus curation ops

# Word-n-gram CTE fragments (DuckDB): k-token windows, 1-indexed slices —
# literally parallel to functions.dedup.shingles (range upper bound is
# exclusive; slice bounds inclusive, so k tokens = ws[i:i+k-1]).
def _ngram_cte(alias: str, k: int) -> str:
    return f"""
    {alias} AS (SELECT doc_id,
                unnest(list_transform(range(1, greatest(len(ws) - {k - 2}, 1)),
                       i -> array_to_string(ws[i:i+{k - 1}], ' '))) AS ng
         FROM words)"""


@register(
    "contamination_ngram_overlap",
    f"""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    {_ngram_cte("g", 4)},
    d AS (SELECT DISTINCT doc_id, ng FROM g),
    b AS (SELECT DISTINCT ng FROM d WHERE doc_id % 50 = 0),
    hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
             FROM d JOIN b USING (ng) GROUP BY doc_id)
    SELECT doc.doc_id,
           COALESCE(h.n_overlap, 0) AS n_overlap,
           CAST(COALESCE(h.n_overlap, 0) > 0 AS INT) AS contaminated
    FROM documents doc LEFT JOIN hits h USING (doc_id)
    """,
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection (north-star curation op): flag
    corpus documents sharing any word 4-gram with a benchmark set (here:
    every 50th document stands in for the eval suite). The published
    n-gram-collision approach (GPT-3 appendix C uses 8-13-grams; 4 here
    because the synthetic docs are short).

    Scale shape: the benchmark n-gram set is broadcast (eval suites are
    MBs against a 100 TB corpus), so the corpus side never shuffles for
    the probe — one broadcast-hash join in the scan stage, then a
    doc_id-keyed count."""
    from kafka_sink_azure_kusto_spark.functions.corpus import contamination_overlap

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return contamination_overlap(docs, bench, n=4)


@register(
    "text_repetition_stats",
    f"""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    {_ngram_cte("g2", 2)},
    {_ngram_cte("g3", 3)},
    c2 AS (SELECT doc_id, ng, count(*) AS c FROM g2 GROUP BY doc_id, ng),
    c3 AS (SELECT doc_id, ng, count(*) AS c FROM g3 GROUP BY doc_id, ng),
    r2 AS (SELECT doc_id,
                  CAST(sum(c) AS BIGINT) AS total_2grams,
                  1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
                      AS dup_2gram_frac,
                  CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
                      AS top_2gram_frac
           FROM c2 GROUP BY doc_id),
    r3 AS (SELECT doc_id,
                  CAST(sum(c) AS BIGINT) AS total_3grams,
                  1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
                      AS dup_3gram_frac,
                  CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
                      AS top_3gram_frac
           FROM c3 GROUP BY doc_id)
    SELECT r2.doc_id, total_2grams, dup_2gram_frac, top_2gram_frac,
           total_3grams, dup_3gram_frac, top_3gram_frac
    FROM r2 JOIN r3 ON r2.doc_id = r3.doc_id
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021):
    duplicated-n-gram fraction and top-n-gram fraction for n=2,3 per
    document. The single repartition(N, doc_id) up front shuffles whole
    documents once (≈1× text bytes, exchange reused across both
    branches); every n-gram aggregation and the final doc_id join then
    stay partition-local. The count is PINNED: a numberless
    repartition("doc_id") lets AQE coalesce the few-MB exchange to one
    partition and the CPU-bound fold then serializes (measured 1.9 s →
    7.9 s when the pin was briefly dropped in r6)."""
    from kafka_sink_azure_kusto_spark.functions.corpus import repetition_stats

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    docs = load_table(spark, sf_dir, "documents").repartition(n_part, "doc_id")
    return repetition_stats(docs, n=2).join(repetition_stats(docs, n=3), "doc_id")


_UMIX = md5_unit_interval_sql("d.doc_id", salt="mix")


@register(
    "domain_mix_rebalance",
    f"""
    WITH c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source)
    SELECT d.doc_id, d.source
    FROM documents d JOIN c USING (source)
    WHERE {_UMIX} < least(1.0,
        ((CASE d.source WHEN 'src0' THEN 0.25 WHEN 'src1' THEN 0.25
          ELSE CAST(0.5 AS DOUBLE) / 18 END) * 250.0) / cnt)
    """,
)
def domain_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture rebalancing: deterministically downsample each
    source to a target mix (src0/src1 → 25% each, the rest sharing 50%)
    of a 250-document budget. Keep-set is a pure function of
    (doc_id, salt, per-domain counts) — reproducible across replays and
    engines; the oracle re-derives the identical set. Per-domain counts
    are one tiny aggregation broadcast back; the corpus is filtered in
    its scan stage."""
    from kafka_sink_azure_kusto_spark.functions.corpus import rebalance_sample

    docs = load_table(spark, sf_dir, "documents")
    return rebalance_sample(
        docs,
        group_col="source",
        key_col="doc_id",
        shares={"src0": 0.25, "src1": 0.25},
        default_share=0.5 / 18,
        total_keep=250,
        salt="mix",
    ).select("doc_id", "source")


@register(
    "document_chunking",
    """
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    s AS (SELECT doc_id, len(ws) AS n, ws,
                 unnest(generate_series(1, greatest(len(ws) - 8, 1), 24)) AS start
          FROM words)
    SELECT doc_id,
           CAST((start - 1) // 24 AS INT) AS chunk_id,
           array_to_string(ws[start:start+31], ' ') AS chunk_text,
           CAST(least(32, n - start + 1) AS INT) AS n_tokens
    FROM s
    """,
)
def document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (32-token chunks, 8-token overlap) — the
    preprocessing sibling of ``sequence_packing``: long documents become
    model-sized windows before packing/training. Narrow plan only
    (sequence → posexplode → slice): zero shuffles, chunking
    parallelism = scan parallelism at any corpus size."""
    from kafka_sink_azure_kusto_spark.functions.corpus import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=32, overlap=8)


# Quality-score SQL fragment shared with registry_northstar's
# text_quality_score oracle (identical expression tree in both engines —
# the ORDER BY below compares bit-identical doubles).
from kafka_sink_azure_kusto_spark.plans.registry_northstar import _SW_COUNT  # noqa: E402

_QSCORE_CTES = f"""
    f AS (SELECT doc_id,
                 len(string_split(text, ' ')) AS q_tokens,
                 CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
                      AS DOUBLE) / length(text) AS q_punct_ratio,
                 CAST({_SW_COUNT['en']} AS DOUBLE) / len(string_split(text, ' '))
                      AS q_stopword_ratio
          FROM documents),
    q AS (SELECT doc_id,
                 CAST(q_tokens AS BIGINT) AS n_tokens,
                 CASE WHEN q_tokens < 5 THEN 0.0
                      ELSE LEAST(1.0,
                           0.4 * LEAST(1.0, q_tokens / 100.0)
                         + 0.3 * (1.0 - LEAST(1.0, q_punct_ratio * 5.0))
                         + 0.3 * LEAST(1.0, q_stopword_ratio * 10.0))
                 END AS quality_score
          FROM f)"""


@register(
    "token_budget_selection",
    f"""
    WITH {_QSCORE_CTES},
    c AS (SELECT doc_id, n_tokens,
                 CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS cum_before
          FROM q)
    SELECT doc_id, n_tokens, cum_before FROM c WHERE cum_before < 20000
    """,
)
def token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked token-budget selection (operators/prefix_sum.py):
    keep the best-scoring documents until a global 20k-token budget is
    hit — the curation step that turns "score every document" into "the
    corpus we actually train on". The running total over the global
    (quality DESC, doc_id) order is a distributed two-pass prefix sum:
    range-partition + per-partition partials + O(P) driver scan +
    broadcast offsets — NEVER the one-task global window. The oracle
    replays the same greedy walk with a SQL window; the kept SET (not
    just its size) must match."""
    from kafka_sink_azure_kusto_spark.functions.text import quality_score
    from kafka_sink_azure_kusto_spark.operators.prefix_sum import token_budget_select

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_score(docs, "text").select(
        "doc_id",
        F.col("q_tokens").cast("bigint").alias("n_tokens"),
        "quality_score",
    )
    kept = token_budget_select(
        scored,
        order_by=[F.col("quality_score").desc(), F.col("doc_id").asc()],
        token_col="n_tokens",
        budget=20_000,
    )
    return kept.select("doc_id", "n_tokens", "cum_before")


@register(
    "tfidf_top_terms",
    """
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM toks GROUP BY doc_id, term),
    dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
    s AS (SELECT tf.doc_id, tf.term, tf.tf,
                 round(tf.tf * ln(n.n / df.df), 6) AS tfidf
          FROM tf JOIN dfreq df USING (term) CROSS JOIN n)
    SELECT doc_id, term, tf, tfidf, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, term) AS rn
          FROM s)
    WHERE rn <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms — keyword extraction / topic
    signals for corpus analysis. Two aggregations (term frequency per
    doc, document frequency per term), one equi-join carrying only
    (term, df), corpus size as a broadcast scalar, and a per-doc top-k
    window. Ranking compares the 6-dp-ROUNDED score in both engines so
    last-ulp libm differences in ln() can never flip an order; ties
    break on the term itself."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = float(docs.count())
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").cast("bigint").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    scored = tf.join(dfreq, "term").select(
        "doc_id",
        "term",
        "tf",
        F.round(
            F.col("tf").cast("double")
            * F.log(F.lit(n_docs) / F.col("df").cast("double")),
            6,
        ).alias("tfidf"),
    )
    return topk_rows(scored, "doc_id", ["-tfidf", "term"], 3).select(
        "doc_id", "term", "tf", "tfidf", F.col("rank").cast("bigint").alias("rank")
    )


@register(
    "embedding_label_centroids",
    """
    SELECT label,
           CAST(i AS BIGINT) AS dim,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean_val
    FROM embeddings, UNNEST(generate_series(1, len(embedding))) t(i)
    GROUP BY label, i
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (class prototypes / cluster seeds —
    the aggregation behind semantic-outlier filtering and k-means-style
    corpus clustering). Long-form (label, dim, mean) output. Scale
    shape: narrow posexplode (64× rows, 3 narrow columns), partial
    (map-side) avg, ONE shuffle keyed (label, dim) whose width is
    #labels × dim — independent of corpus row count. Averages are
    rounded at 6 dp in both engines, far above the ~1e-14 float-sum
    reassociation noise, so the hash comparison is stable."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "x"))
    return ex.groupBy("label", (F.col("pos") + 1).cast("bigint").alias("dim")).agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.round(F.avg(F.col("x").cast("double")), 6).alias("mean_val"),
    )


@register(
    "inverted_index_postings",
    """
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents),
    d AS (SELECT DISTINCT term, doc_id FROM toks)
    SELECT term, CAST(count(*) AS BIGINT) AS df,
           array_to_string(list_sort(list(doc_id)), ',') AS postings
    FROM d GROUP BY term
    """,
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: term → sorted posting list of containing
    documents plus document frequency — the retrieval-side structure a
    corpus pipeline materializes for BM25/keyword search. One distinct
    (term, doc_id) aggregation, one term-keyed list aggregation; the
    posting list is sorted NUMERICALLY before stringification in both
    engines (comma-joined string output keeps the value hash free of
    array-formatting differences). At scale the term key is the natural
    index shard key; skewed stopword terms are exactly what the
    deterministic salting operator handles if needed downstream."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        F.explode(F.split("text", " ")).alias("term"), "doc_id"
    ).distinct()
    return d.groupBy("term").agg(
        F.count("*").cast("bigint").alias("df"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")
            ),
            ",",
        ).alias("postings"),
    )


from kafka_sink_azure_kusto_spark.plans.registry_northstar import (  # noqa: E402
    _SHINGLES_SQL,
)


@register(
    "contamination_near_dup",
    f"""
    WITH {_SHINGLES_SQL},
    mh AS (SELECT doc_id, hs.h AS h, MIN(md5(hs.h || ':' || s)) AS mv
           FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS h) hs
           GROUP BY doc_id, hs.h),
    sig AS (SELECT doc_id, list(mv ORDER BY h) AS sig FROM mh GROUP BY doc_id),
    banded AS (SELECT doc_id, sig, bs.b AS band_id,
                      md5(array_to_string(sig[bs.b*4+1 : bs.b*4+4], '|')) AS band_hash
               FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bs),
    cand AS (SELECT DISTINCT c.doc_id AS corpus_id, p.doc_id AS probe_id
             FROM banded c JOIN banded p
               ON c.band_id = p.band_id AND c.band_hash = p.band_hash
              AND p.doc_id % 50 = 0 AND c.doc_id <> p.doc_id)
    SELECT corpus_id, probe_id,
           len(list_intersect(cs.sig, ps.sig)) * 1.0 / 16 AS est_jaccard
    FROM cand JOIN sig cs ON corpus_id = cs.doc_id
              JOIN sig ps ON probe_id = ps.doc_id
    WHERE len(list_intersect(cs.sig, ps.sig)) * 1.0 / 16 >= 0.25
    """,
)
def contamination_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup decontamination (corpus × benchmark, every 50th document
    standing in for the eval suite): exact n-gram collision
    (`contamination_ngram_overlap`) misses paraphrased leaks, so this
    bands MinHash signatures of both corpora and broadcast-joins the
    tiny probe side — flagging corpus documents ~similar to any
    benchmark item without a corpus-wide join shuffle
    (functions/dedup.minhash_lsh_pairs_cross)."""
    from kafka_sink_azure_kusto_spark.functions import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    probe = docs.filter(F.col("doc_id") % 50 == 0)
    return D.minhash_lsh_pairs_cross(
        docs, probe, num_hashes=16, num_bands=4, k=3, jaccard_threshold=0.25
    )


@register(
    "unigram_logprob_score",
    """
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents),
    freqs AS (SELECT term, CAST(count(*) AS BIGINT) AS c
              FROM toks GROUP BY term),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM toks),
    j AS (SELECT toks.doc_id, freqs.c, tot.total
          FROM toks JOIN freqs USING (term) CROSS JOIN tot)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(ln(c / total)), 6) AS mean_token_logprob
    FROM j GROUP BY doc_id
    """,
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality filter (CCNet-style, simplified to unigrams):
    per-document mean token log-probability under the corpus's own
    unigram distribution — documents full of rare/garbage tokens score
    low, fluent ones high; thresholding this is the classic
    perplexity-filter curation step. One aggregation builds the
    vocabulary (term, count), one equi-join scores the token stream,
    one doc-keyed reduction averages; the corpus token total is a
    broadcast scalar. The averaged log is 6-dp rounded in both engines
    (reassociation noise ~1e-15, nine orders below the rounding)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    freqs = toks.groupBy("term").agg(F.count("*").cast("bigint").alias("c"))
    # corpus token total = sum over the tiny vocab aggregate — NOT a
    # second full tokenize of the corpus
    total = float(freqs.agg(F.sum("c")).collect()[0][0])
    j = toks.join(freqs, "term")
    return j.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.round(F.avg(F.log(F.col("c") / F.lit(total))), 6).alias(
            "mean_token_logprob"
        ),
    )


@register(
    "corpus_shuffle_index",
    """
    WITH h AS (SELECT doc_id, md5('shuf' || CAST(doc_id AS VARCHAR)) AS hk
               FROM documents)
    SELECT doc_id, hk,
           CAST(ROW_NUMBER() OVER (ORDER BY hk, doc_id) - 1 AS BIGINT) AS shuffle_idx
    FROM h
    """,
)
def corpus_shuffle_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-shuffle order: every document gets
    a dense 0-based position in the md5-permuted corpus — the
    reproducible replacement for ``orderBy(rand())`` + zipWithIndex that
    training-data writers need (same permutation on every replay, any
    partitioning, any engine). The dense index is the distributed
    two-pass prefix sum over value=1 (operators/prefix_sum.py) — NOT a
    one-task global window and NOT an RDD zipWithIndex (whose index
    depends on partition layout)."""
    from kafka_sink_azure_kusto_spark.operators.prefix_sum import ordered_prefix_sum

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.concat(F.lit("shuf"), F.col("doc_id").cast("string"))).alias("hk"),
    )
    out = ordered_prefix_sum(
        docs.withColumn("_one", F.lit(1).cast("long")),
        order_by=[F.col("hk").asc(), F.col("doc_id").asc()],
        value_col="_one",
        out_col="shuffle_idx",
    )
    return out.select("doc_id", "hk", "shuffle_idx")


@register(
    "semantic_outlier_score",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    ex AS (SELECT vec_id, label, i, v[i] AS x
           FROM e, UNNEST(generate_series(1, len(v))) t(i)),
    cent AS (SELECT label, i, avg(x) AS m FROM ex GROUP BY label, i),
    j AS (SELECT ex.vec_id, ex.label, ex.x, cent.m
          FROM ex JOIN cent USING (label, i)),
    per AS (SELECT vec_id, label,
                   SUM(x * m) AS dot,
                   sqrt(SUM(x * x)) AS nx,
                   sqrt(SUM(m * m)) AS nm
            FROM j GROUP BY vec_id, label)
    SELECT vec_id, label, round(dot / (nx * nm), 6) AS centroid_cos
    FROM per
    """,
)
def semantic_outlier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-outlier scoring: each vector's cosine to its OWN label
    centroid — low cosine ⇒ the embedding disagrees with its class, the
    standard mislabeled/noise-document signal a curation pipeline
    filters on. Long-form throughout so the whole chain is exactly
    SQL-oracle-able. Scale shape: centroid aggregate is #labels × dims
    wide (tiny) and broadcast back to the exploded corpus; the per-vec
    reduction map-side-combines (a vector's 64 dim-rows are contiguous
    from the same input row), so the one real shuffle carries one
    partial row per vector. 6-dp rounding sits ~9 orders above the
    float-sum reassociation noise of a 64-term dot product."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "xf")
    ).select("vec_id", "label", "pos", F.col("xf").cast("double").alias("x"))
    cent = ex.groupBy("label", "pos").agg(F.avg("x").alias("m"))
    j = ex.join(F.broadcast(cent), ["label", "pos"])
    per = j.groupBy("vec_id", "label").agg(
        F.sum(F.col("x") * F.col("m")).alias("dot"),
        F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nx"),
        F.sqrt(F.sum(F.col("m") * F.col("m"))).alias("nm"),
    )
    return per.select(
        "vec_id",
        "label",
        F.round(F.col("dot") / (F.col("nx") * F.col("nm")), 6).alias("centroid_cos"),
    )


@register(
    "dedup_keep_best",
    None,  # oracle attached below (needs the CC oracle text)
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-canonical selection: resolve every MinHash-LSH near-dup
    cluster (connected components over the pair graph) to its best
    exemplar — longest document, doc_id as the stable tie-break — and
    label all rows kept/dropped. The step that turns "these documents
    are near-dups" into "this is the deduplicated corpus". One extra
    hash shuffle on cluster_id after CC; the top-1 window is per-cluster
    (bounded state)."""
    from kafka_sink_azure_kusto_spark.functions import dedup as D
    from kafka_sink_azure_kusto_spark.functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs, num_hashes=16, num_bands=4, k=3, jaccard_threshold=0.5
    )
    cc = D.connected_components(docs, pairs)
    toks = docs.select("doc_id", token_count("text").cast("bigint").alias("n_tokens"))
    j = cc.join(toks, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id").asc()
    )
    return j.select(
        "doc_id",
        "cluster_id",
        "n_tokens",
        (F.row_number().over(w) == 1).cast("int").alias("kept"),
    )


# Attach the keep-best oracle now that the CC oracle text exists: the
# cluster labeling is the dedup_cc_clusters result verbatim, the
# exemplar a per-cluster top-1 window over (n_tokens DESC, doc_id).
from kafka_sink_azure_kusto_spark.plans.registry import _REGISTRY as _REG  # noqa: E402

_REG["dedup_keep_best"] = (
    _REG["dedup_keep_best"][0],
    f"""
    WITH cc AS (SELECT * FROM ({_REG['dedup_cc_clusters'][1]})),
    t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          FROM documents),
    j AS (SELECT cc.doc_id, cc.cluster_id, t.n_tokens
          FROM cc JOIN t USING (doc_id))
    SELECT doc_id, cluster_id, n_tokens,
           CAST(CASE WHEN ROW_NUMBER() OVER (PARTITION BY cluster_id
                                             ORDER BY n_tokens DESC, doc_id) = 1
                THEN 1 ELSE 0 END AS INT) AS kept
    FROM j
    """,
)


@register(
    "bm25_topk",
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
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (k1=1.2, b=0.75) over the corpus for a
    fixed 3-term query — the consumer of the inverted-index build: the
    classic lexical-search scorer a corpus pipeline serves next to the
    ANN path.

    Scale shape: the query-term set is a literal (broadcast); tf is one
    (doc, term) hash aggregate FILTERED to query terms before any join
    (semi-join pushdown — the full posting space never shuffles); df
    comes from the tiny per-query-term aggregate; N and avgdl are
    scalar aggregates (broadcast). Ranking compares the 6-dp-rounded
    score in both engines so last-ulp libm ln() differences cannot
    flip an order (same device as tfidf_top_terms)."""
    docs = load_table(spark, sf_dir, "documents")
    terms = ["vector", "stream", "hash"]
    k1, b = 1.2, 0.75
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = (
        toks.filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dl = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("double").alias("dlen")
    )
    n_docs, avgdl = docs.count(), dl.agg(F.avg("dlen")).collect()[0][0]
    df_ = (
        toks.filter(F.col("term").isin(terms))
        .select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("double").alias("df"))
    )
    idf = F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .withColumn(
            "_s",
            idf * F.col("tf") * (k1 + 1)
            / (F.col("tf") + k1 * (1 - b + b * F.col("dlen") / F.lit(float(avgdl)))),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("_s"), 6).alias("score"))
    )
    # top-k via sort+limit (TakeOrderedAndProject — distributed partial
    # top-k per partition, never a single-partition window over the full
    # scored set); the rank window then runs over only k=20 rows.
    top = scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(20)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return top.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).select("doc_id", "score", "rank")


@register(
    "pii_redact",
    """
    WITH aug AS (SELECT doc_id,
                        text || ' contact user' || CAST(doc_id AS VARCHAR)
                             || '@example.com or +1 555 123 4567 at 10.0.'
                             || CAST(doc_id % 256 AS VARCHAR) || '.1 end' AS t
                 FROM documents)
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(t, '[\\w.+-]+@[\\w-]+\\.[\\w.-]+', '<EMAIL>', 'g'),
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
             '\\+?\\d[\\d -]{7,}\\d', '<PHONE>', 'g') AS redacted
    FROM aug
    """,
)
def pii_redact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (C4/RefinedWeb-style): emails, IPv4s and phone-like
    digit runs → typed placeholders, as one codegen'd regexp_replace
    chain (no UDF, no shuffle — travels with the scan). The query plants
    deterministic PII in each row so the oracle exercises every pattern;
    patterns are written to the Java-regex ∩ RE2 common subset so Spark
    and DuckDB replace the identical spans."""
    from kafka_sink_azure_kusto_spark.functions.corpus import pii_redact

    docs = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1 555 123 4567 at 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".1 end"),
    )
    return docs.select("doc_id", pii_redact(aug).alias("redacted"))


@register(
    "curation_pipeline",
    None,  # oracle attached below (composes the keep-best oracle text)
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-set curation — the proven pieces composed
    into the realistic "build a training corpus" path:

      quality score → near-dup keep-best (MinHash-LSH + CC exemplar)
      → benchmark decontamination (4-gram overlap, benchmark = every
      50th doc) → global token-budget selection (20k, quality-ranked)
      → deterministic shuffle index (md5 permutation, distributed
      prefix sum) → sequence packing (8 shards × 512-token packs in
      shuffle order).

    One row per SELECTED document with its full curation coordinates:
    (doc_id, n_tokens, cum_before, shuffle_idx, shard, pack_id).

    Scale shape: each stage keeps its audited plan — LSH band
    equi-join, pointer-doubling CC, broadcast benchmark probe,
    two-pass prefix sums (never a one-task global window), shard-keyed
    packing windows. The selection joins are doc_id-keyed semi-joins.
    The oracle composes the SAME stage oracles, so stage boundaries
    (which docs survive, their order, their pack coordinates) are all
    hash-verified, not just the final count."""
    from kafka_sink_azure_kusto_spark.functions import dedup as D
    from kafka_sink_azure_kusto_spark.functions.corpus import contamination_overlap
    from kafka_sink_azure_kusto_spark.functions.text import quality_score, token_count
    from kafka_sink_azure_kusto_spark.operators.packing import pack_sequences
    from kafka_sink_azure_kusto_spark.operators.prefix_sum import (
        ordered_prefix_sum,
        token_budget_select,
    )

    docs = load_table(spark, sf_dir, "documents")

    # 1. quality
    scored = quality_score(docs, "text").select(
        "doc_id",
        F.col("q_tokens").cast("bigint").alias("n_tokens"),
        "quality_score",
    )
    # 2. near-dup keep-best exemplars
    pairs = D.minhash_lsh_pairs(
        docs, num_hashes=16, num_bands=4, k=3, jaccard_threshold=0.5
    )
    cc = D.connected_components(docs, pairs)
    toks = docs.select("doc_id", token_count("text").cast("bigint").alias("nt"))
    kept = topk_rows(
        cc.join(toks, "doc_id"), "cluster_id", ["-nt", "doc_id"], 1
    ).select("doc_id")
    # 3. decontamination (benchmark side broadcast inside the helper)
    clean = contamination_overlap(
        docs, docs.filter(F.col("doc_id") % 50 == 0), n=4
    ).filter(F.col("contaminated") == 0).select("doc_id")
    selected = scored.join(kept, "doc_id", "semi").join(clean, "doc_id", "semi")
    # 4. token-budget selection over the survivors
    budgeted = token_budget_select(
        selected,
        order_by=[F.col("quality_score").desc(), F.col("doc_id").asc()],
        token_col="n_tokens",
        budget=20_000,
    )
    # 5. deterministic shuffle index over the final set
    shuffled = ordered_prefix_sum(
        budgeted.withColumn(
            "hk", F.md5(F.concat(F.lit("shuf"), F.col("doc_id").cast("string")))
        ).withColumn("_one", F.lit(1).cast("long")),
        order_by=[F.col("hk").asc(), F.col("doc_id").asc()],
        value_col="_one",
        out_col="shuffle_idx",
    )
    # 6. pack in shuffle order
    packed = pack_sequences(
        shuffled,
        token_col="n_tokens",
        key_col="shuffle_idx",
        max_tokens=512,
        num_shards=8,
    )
    return packed.select(
        "doc_id", "n_tokens", "cum_before", "shuffle_idx", "shard",
        F.col("pack_id").cast("bigint").alias("pack_id"),
    )


_REG["curation_pipeline"] = (
    _REG["curation_pipeline"][0],
    f"""
    WITH {_QSCORE_CTES},
    words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    {_ngram_cte("g", 4)},
    d AS (SELECT DISTINCT doc_id, ng FROM g),
    b AS (SELECT DISTINCT ng FROM d WHERE doc_id % 50 = 0),
    hits AS (SELECT doc_id, count(*) AS n_overlap FROM d JOIN b USING (ng)
             GROUP BY doc_id),
    clean AS (SELECT doc.doc_id FROM documents doc
              LEFT JOIN hits h USING (doc_id)
              WHERE COALESCE(h.n_overlap, 0) = 0),
    kept AS (SELECT doc_id FROM ({_REG['dedup_keep_best'][1]}) WHERE kept = 1),
    sel AS (SELECT q.doc_id, q.n_tokens, q.quality_score
            FROM q JOIN kept USING (doc_id) JOIN clean USING (doc_id)),
    bud AS (SELECT doc_id, n_tokens,
                   CAST(COALESCE(SUM(n_tokens) OVER (
                        ORDER BY quality_score DESC, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS cum_before
            FROM sel),
    keep2 AS (SELECT * FROM bud WHERE cum_before < 20000),
    shuf AS (SELECT doc_id, n_tokens, cum_before,
                    CAST(ROW_NUMBER() OVER (
                         ORDER BY md5('shuf' || CAST(doc_id AS VARCHAR)), doc_id) - 1
                         AS BIGINT) AS shuffle_idx
             FROM keep2),
    pre AS (SELECT *, CAST(shuffle_idx % 8 AS INT) AS shard,
                   CAST(COALESCE(SUM(n_tokens) OVER (
                        PARTITION BY shuffle_idx % 8 ORDER BY shuffle_idx
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS ptb
            FROM shuf)
    SELECT doc_id, n_tokens, cum_before, shuffle_idx, shard,
           CAST(FLOOR(ptb / 512.0) AS BIGINT) AS pack_id
    FROM pre
    """,
)


_UTMIX = md5_unit_interval_sql("d.doc_id", salt="tmix")


@register(
    "domain_temperature_mix",
    f"""
    WITH c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source),
    w AS (SELECT source, cnt, pow(CAST(cnt AS DOUBLE), 0.5) AS wt FROM c),
    t AS (SELECT list_reduce(list(wt ORDER BY source), (x, y) -> x + y) AS tw
          FROM w)
    SELECT d.doc_id, d.source
    FROM documents d JOIN w USING (source) CROSS JOIN t
    WHERE {_UTMIX} < least(1.0, (wt / tw) * 250.0 / cnt)
    """,
)
def domain_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain mixture (r8): target share of each
    source is n^α / Σ n^α with α = 0.5 — the standard multilingual /
    domain-balance sampler (upweights small domains smoothly, no
    hand-written share table; `domain_mix_rebalance` is the explicit-
    shares sibling). Keep-set is a pure function of (doc_id, salt,
    per-domain counts): one tiny per-domain aggregate, a broadcast of
    the rate rows, and the corpus filters in its scan stage — at 100 TB
    the corpus is never shuffled. Plan note: the normalizer Σ n^α is a
    1-row broadcast cross join (the scalar-subquery shape, constant
    cost — same as q22/events_linear_trend) and its SinglePartition
    agg runs over |domains| rows, not the corpus.
    `corpus.temperature_mix_sample`."""
    from kafka_sink_azure_kusto_spark.functions.corpus import (
        temperature_mix_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    return temperature_mix_sample(
        docs, group_col="source", key_col="doc_id",
        alpha=0.5, total_keep=250, salt="tmix",
    ).select("doc_id", "source")

"""Round-9 registry queries.

- ``dedup_substring_spans`` — token-level exact substring dedup
  (VERDICT r8 #5): the one standard training-data operator previously
  absent. Documents sharing a >= k-token verbatim span are found via
  bucketed anchor k-grams + diagonal run extension (never a driver-side
  suffix array); each document gets a trim/drop decision.
- ``multimodal_resize_bilinear`` / ``multimodal_resample_sinc`` —
  production interpolation kernels (VERDICT r8 #8), the promised
  upgrades of the nearest-neighbor resize / 4 kHz gather resample,
  same decode-once single-MapInPandas plan shape.

No reference citations: north-star additions (SURVEY §7.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_sink_azure_kusto_spark.plans.registry import register, run_replay
from kafka_sink_azure_kusto_spark.sources.tables import load_table

_SPAN_K = 6
_SPAN_CAP = 20

_SUBSTRING_SPANS_ORACLE = f"""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents),
    g AS (SELECT doc_id, t.i AS p,
                 md5(array_to_string(ws[t.i:t.i+{_SPAN_K - 1}], ' ')) AS h
          FROM words,
               unnest(range(1, greatest(len(ws) - {_SPAN_K - 2}, 1))) AS t(i)),
    capped AS (SELECT doc_id, p, h FROM (
        SELECT doc_id, p, h,
               ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, p) AS rnk
        FROM g) WHERE rnk <= {_SPAN_CAP}),
    pairs AS (SELECT l.doc_id AS l_id, r.doc_id AS r_id, l.p AS pl,
                     l.p - r.p AS diag
              FROM capped l JOIN capped r
                ON l.h = r.h AND l.doc_id < r.doc_id),
    runs AS (SELECT l_id, r_id, diag,
                    pl - ROW_NUMBER() OVER (
                        PARTITION BY l_id, r_id, diag ORDER BY pl) AS grp
             FROM pairs),
    spans AS (SELECT l_id, r_id,
                     MAX(cnt) AS span
              FROM (SELECT l_id, r_id, diag, grp,
                           COUNT(*) + {_SPAN_K - 1} AS cnt
                    FROM runs GROUP BY l_id, r_id, diag, grp)
              GROUP BY l_id, r_id),
    sym AS (SELECT l_id AS doc_id, r_id AS partner_id, span FROM spans
            UNION ALL
            SELECT r_id, l_id, span FROM spans),
    best AS (SELECT doc_id, partner_id, span FROM (
        SELECT doc_id, partner_id, span,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY span DESC, partner_id) AS rk
        FROM sym) WHERE rk = 1)
    SELECT d.doc_id,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
           CAST(COALESCE(b.span, 0) AS BIGINT) AS span_tokens,
           b.partner_id,
           CASE WHEN b.partner_id IS NULL THEN 'keep'
                WHEN b.span * 2 >= len(string_split(d.text, ' '))
                     THEN 'drop'
                ELSE 'trim' END AS action
    FROM documents d LEFT JOIN best b USING (doc_id)
"""


@register("dedup_substring_spans", _SUBSTRING_SPANS_ORACLE)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level exact substring dedup (r9): per document, the
    longest >= 6-token span shared VERBATIM with another document, the
    partner that shares it, and the decision — drop when the span
    covers >= half the document, trim when shorter, keep when no span.
    Anchor k-grams bucket-capped at 20 members (deterministic by
    (doc_id, position) so the oracle replicates capped results
    exactly); spans = runs of consecutive anchors on one (l, r)
    diagonal. All joins equi-key; worst-case bucket fan-out cap² —
    the 100 TB-safe rendition of suffix-array substring dedup.
    `functions/dedup.substring_span_dedup`."""
    from kafka_sink_azure_kusto_spark.functions.dedup import (
        substring_span_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    return substring_span_dedup(
        docs, "text", "doc_id", k=_SPAN_K, bucket_cap=_SPAN_CAP,
        drop_num=1, drop_den=2,
    )


# ---------------------------------------------- production kernels (r9)

from kafka_sink_azure_kusto_spark.functions import multimodal as M  # noqa: E402
from kafka_sink_azure_kusto_spark.functions.multimodal import (  # noqa: E402
    SINC_PHASES,
    SINC_TABLE,
    SINC_TAPS,
)

_BILINEAR_ORACLE = """
    WITH imgs AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
                  FROM documents WHERE doc_id % 3 != 2),
    out_idx AS (SELECT doc_id, w, h, unnest(range(0, 144)) AS j FROM imgs),
    phase AS (SELECT doc_id, w, h, j, j % 3 AS ch,
                     (((j // 3) // 8) * (h - 1) * 256) // 5 AS fy,
                     (((j // 3) % 8) * (w - 1) * 256) // 7 AS fx
              FROM out_idx),
    corners AS (SELECT doc_id, w, h, j, ch,
                       fy // 256 AS y0, fy % 256 AS wy,
                       fx // 256 AS x0, fx % 256 AS wx,
                       least(fy // 256 + 1, h - 1) AS y1,
                       least(fx // 256 + 1, w - 1) AS x1
                FROM phase),
    vals AS (SELECT doc_id, j,
        ((256 - wy) * ((256 - wx) * (CASE ch
                WHEN 0 THEN (doc_id * 31 + (y0 * w + x0) * 7) % 256
                WHEN 1 THEN (doc_id * 37 + (y0 * w + x0) * 11) % 256
                ELSE (doc_id * 41 + (y0 * w + x0) * 13) % 256 END)
            + wx * (CASE ch
                WHEN 0 THEN (doc_id * 31 + (y0 * w + x1) * 7) % 256
                WHEN 1 THEN (doc_id * 37 + (y0 * w + x1) * 11) % 256
                ELSE (doc_id * 41 + (y0 * w + x1) * 13) % 256 END))
         + wy * ((256 - wx) * (CASE ch
                WHEN 0 THEN (doc_id * 31 + (y1 * w + x0) * 7) % 256
                WHEN 1 THEN (doc_id * 37 + (y1 * w + x0) * 11) % 256
                ELSE (doc_id * 41 + (y1 * w + x0) * 13) % 256 END)
            + wx * (CASE ch
                WHEN 0 THEN (doc_id * 31 + (y1 * w + x1) * 7) % 256
                WHEN 1 THEN (doc_id * 37 + (y1 * w + x1) * 11) % 256
                ELSE (doc_id * 41 + (y1 * w + x1) * 13) % 256 END)))
        // 65536 AS v
             FROM corners)
    SELECT doc_id, CAST(8 AS BIGINT) AS out_w, CAST(6 AS BIGINT) AS out_h,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(v) AS BIGINT) AS sample_sum,
           CAST(SUM((j + 1) * v) AS BIGINT) AS checksum
    FROM vals GROUP BY doc_id
"""


@register("multimodal_resize_bilinear", _BILINEAR_ORACLE)
def multimodal_resize_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilinear image resize to 8×6 through the real codec path (r9 —
    the production kernel VERDICT r8 #8 asked for, upgrading
    `multimodal_resize`'s nearest gather): Q8 align-corners phase
    weights, Q16 integer accumulation, >>16 de-scale — non-negative
    end to end, so both engines floor identically and the oracle
    replays decode + interpolation closed-form from the pixel spec.
    Same plan as the nearest sibling: WAV rows filter JVM-side, ONE
    MapInPandas, position-weighted checksum asserting pixel order.
    `multimodal.resize_bilinear`."""
    docs = load_table(spark, sf_dir, "documents")
    return M.synth_resize_bilinear_stats(docs, target_w=8, target_h=6)


def _sinc_flat_sql() -> str:
    flat = [c for row in SINC_TABLE for c in row]
    return "[" + ", ".join(str(c) for c in flat) + "]"


_SINC_ORACLE = f"""
    WITH wavs AS (SELECT doc_id,
                         50 + doc_id % 100 AS n_in,
                         8000 + (doc_id % 5) * 1000 AS rate_in
                  FROM documents WHERE doc_id % 3 = 2),
    dims AS (SELECT doc_id, n_in, rate_in,
                    (n_in * 4000) // rate_in AS n_out FROM wavs),
    idx AS (SELECT doc_id, n_in, rate_in, n_out,
                   unnest(range(0, n_out)) AS j FROM dims),
    taps AS (SELECT doc_id, n_in, rate_in, n_out, j, t.t AS t,
                    (j * n_in) // n_out AS base,
                    ((j * n_in) % n_out) * {SINC_PHASES} // n_out AS ph
             FROM idx CROSS JOIN (SELECT unnest(range(0, {SINC_TAPS})) AS t) t),
    terms AS (SELECT doc_id, rate_in, n_out, j,
                     ({_sinc_flat_sql()})[ph * {SINC_TAPS} + t + 1]
                     * (((doc_id * 131
                          + least(greatest(base + t - 3, 0), n_in - 1) * 17)
                         % 65536) - 32768) AS term
              FROM taps),
    outq AS (SELECT doc_id, rate_in, n_out, j, SUM(term) AS v
             FROM terms GROUP BY doc_id, rate_in, n_out, j)
    SELECT doc_id,
           CAST(any_value(rate_in) AS BIGINT) AS rate_in,
           CAST(4000 AS BIGINT) AS rate_out,
           CAST(COUNT(*) AS BIGINT) AS n_out,
           CAST(SUM(v) AS BIGINT) AS q12_sum,
           CAST(SUM((j + 1) * v) AS BIGINT) AS q12_checksum
    FROM outq GROUP BY doc_id
"""


@register("multimodal_resample_sinc", _SINC_ORACLE)
def multimodal_resample_sinc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polyphase windowed-sinc audio resampling to 4 kHz (r9 — the
    production kernel VERDICT r8 #8 asked for, upgrading
    `multimodal_audio_resample`'s nearest gather): 32-phase Q12 tap
    table generated once driver-side and embedded as integer literals
    in BOTH the kernel and this oracle — no engine evaluates trig.
    Output stays raw Q12 (a signed de-scale is the one step whose
    floor/truncate semantics differ between numpy and DuckDB). Same
    plan as the nearest sibling: image rows filter JVM-side, ONE
    MapInPandas, position-weighted checksum.
    `multimodal.resample_sinc`."""
    docs = load_table(spark, sf_dir, "documents")
    return M.synth_audio_resample_sinc_stats(docs, target_rate=4000)


_TRIM_ORACLE = f"""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents),
    g AS (SELECT doc_id, t.i AS p,
                 md5(array_to_string(ws[t.i:t.i+{_SPAN_K - 1}], ' ')) AS h
          FROM words,
               unnest(range(1, greatest(len(ws) - {_SPAN_K - 2}, 1))) AS t(i)),
    shared AS (SELECT h FROM g GROUP BY h
               HAVING COUNT(DISTINCT doc_id) >= 2),
    starts AS (SELECT doc_id, p FROM g JOIN shared USING (h)),
    sweep AS (SELECT doc_id, p,
                     CASE WHEN lag(p) OVER w IS NULL THEN {_SPAN_K}
                          ELSE least({_SPAN_K}, p - lag(p) OVER w) END
                         AS contrib,
                     CASE WHEN lag(p) OVER w IS NULL
                               OR p - lag(p) OVER w > {_SPAN_K}
                          THEN 1 ELSE 0 END AS new_span
              FROM starts
              WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
    cov AS (SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS dup_tokens,
                   CAST(SUM(new_span) AS BIGINT) AS n_spans,
                   list(p ORDER BY p) AS starts
            FROM sweep GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
           COALESCE(c.dup_tokens, 0) AS dup_tokens,
           COALESCE(c.n_spans, 0) AS n_spans,
           CASE WHEN d.text IS NULL THEN NULL
                -- array_to_string([]) is NULL in DuckDB but Spark's
                -- concat_ws over an empty array is '' — a fully
                -- covered doc trims to the empty string in both
                ELSE COALESCE(array_to_string(
                  list_transform(
                    list_filter(
                      range(1, len(string_split(d.text, ' ')) + 1),
                      i -> len(list_filter(
                              COALESCE(c.starts, CAST([] AS BIGINT[])),
                              s -> s <= i AND i <= s + {_SPAN_K - 1})) = 0),
                    i -> string_split(d.text, ' ')[i]), ' '), '')
           END AS trimmed_text
    FROM documents d LEFT JOIN cov c USING (doc_id)
"""


@register("dedup_substring_trim", _TRIM_ORACLE)
def dedup_substring_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transformer half of substring dedup (r9): REMOVE the
    cross-document duplicated spans and emit the trimmed text, plus the
    exact union size of the covered intervals (winnowing sweep: first
    shared anchor contributes k, each next min(k, gap) — one window lag
    per doc, no interval explosion) and the maximal-run count. Unlike
    `dedup_substring_spans` there is NO pair join anywhere — the shared
    flag is one count-distinct aggregate on the anchor hash — so no
    member cap is needed and work is linear in corpus size.
    `functions/dedup.substring_span_trim`."""
    from kafka_sink_azure_kusto_spark.functions.dedup import (
        substring_span_trim,
    )

    docs = load_table(spark, sf_dir, "documents")
    return substring_span_trim(docs, "text", "doc_id", k=_SPAN_K)


# ------------------------------------------ streaming substring dedup

import os  # noqa: E402

from kafka_sink_azure_kusto_spark.plans.registry import _workdir  # noqa: E402

_STREAM_SUBSTR_ORACLE = f"""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents),
    g AS (SELECT doc_id, t.i AS p,
                 md5(array_to_string(ws[t.i:t.i+{_SPAN_K - 1}], ' ')) AS h
          FROM words,
               unnest(range(1, greatest(len(ws) - {_SPAN_K - 2}, 1))) AS t(i)),
    tagged AS (SELECT doc_id, h, doc_id % 3 AS chunk FROM g),
    hist AS (SELECT DISTINCT l.doc_id FROM tagged l JOIN tagged r
               ON l.h = r.h AND r.chunk < l.chunk),
    batch AS (SELECT DISTINCT l.doc_id FROM tagged l JOIN tagged r
                ON l.h = r.h AND r.chunk = l.chunk AND l.doc_id > r.doc_id)
    SELECT d.doc_id,
           CASE WHEN d.doc_id IN (SELECT doc_id FROM hist)
                     THEN 'dup_of_history'
                WHEN d.doc_id IN (SELECT doc_id FROM batch)
                     THEN 'dup_in_batch'
                ELSE 'unique' END AS status
    FROM documents d
"""


@register("streaming_substring_store", _STREAM_SUBSTR_ORACLE)
def streaming_substring_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE loop for the substring-span family (r9): each
    micro-batch probes the persisted bucketed ANCHOR STORE with
    `incremental_substring_dedup` (two left-semi joins — existence
    only, no pair fan-out, no cap needed), writes its epoch-keyed
    triage result, then admits its own anchors so every later batch
    sees them as history — the same probe→triage→admit production
    shape as `streaming_incremental_neardup_store`, on exact-substring
    instead of MinHash semantics. Arrival order IS the semantics
    (chunk = doc_id % 3); the oracle replays it closed-form. The store
    is bucketed on the anchor hash, so each probe exchanges only the
    small batch side. `functions/dedup.incremental_substring_dedup`,
    `operators/bucketing.py`."""
    import shutil
    from urllib.parse import urlparse

    from kafka_sink_azure_kusto_spark.functions.dedup import (
        incremental_substring_dedup,
        substring_span_grams,
    )
    from kafka_sink_azure_kusto_spark.operators.bucketing import (
        append_bucketed,
        write_bucketed,
    )
    from kafka_sink_azure_kusto_spark.sources.replay import key_chunks

    work = _workdir("stream_substr_store_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = key_chunks(docs, "doc_id", ["doc_id", "text"])

    tbl = "stream_anchor_store_live"
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree(os.path.join(wh, tbl), ignore_errors=True)
    empty = substring_span_grams(docs.limit(0), "text", "doc_id", _SPAN_K)
    write_bucketed(empty, tbl, ["h"], num_buckets=8)

    results_dir = os.path.join(work, "results")

    def triage_and_admit(batch_df, epoch_id: int) -> None:
        batch = batch_df.select("doc_id", "text")
        mb = batch_df.sparkSession
        # same cross-session relation-cache trap as the neardup loop:
        # refresh before every probe or the store reads as of batch 0
        mb.catalog.refreshTable(tbl)
        res = incremental_substring_dedup(
            batch, mb.table(tbl), "text", "doc_id", k=_SPAN_K
        )
        res.write.mode("overwrite").parquet(
            os.path.join(results_dir, f"epoch={int(epoch_id)}")
        )
        append_bucketed(
            substring_span_grams(batch, "text", "doc_id", _SPAN_K),
            tbl, ["h"], num_buckets=8,
        )

    run_replay(spark, work, "doc_id long, text string", chunks, triage_and_admit)
    return spark.read.parquet(results_dir).select("doc_id", "status")


@register(
    "bucketed_colocation_join",
    """
    SELECT o.o_orderstatus,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def bucketed_colocation_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exchange-free co-located fact-fact join through the BUCKETED
    storage layout (r9): lineitem and orders are written bucketed on
    the order key with the same bucket count, so Catalyst plans the
    join with NO Exchange under either side — at 100 TB this is the
    difference between shuffling both fact tables per join and
    shuffling neither (bucketing amortizes the shuffle into the one-
    time write; `test_bucketing.py::test_bucketed_join_has_no_exchange`
    plan-asserts the zero-exchange property). The oracle is the plain
    join — the bucketed layout must lose/duplicate nothing.
    `operators/bucketing.write_bucketed` / `bucketed_join`."""
    import shutil
    from urllib.parse import urlparse

    from kafka_sink_azure_kusto_spark.operators.bucketing import (
        bucketed_join,
        write_bucketed,
    )

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for tbl in ("li_colo", "o_colo"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(os.path.join(wh, tbl), ignore_errors=True)
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderstatus"
    )
    write_bucketed(li, "li_colo", "okey", num_buckets=8)
    write_bucketed(orders, "o_colo", "okey", num_buckets=8)
    joined = bucketed_join(spark, "li_colo", "o_colo", on="okey")
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


from pyspark.sql import Window  # noqa: E402

from kafka_sink_azure_kusto_spark.functions.sketches import (  # noqa: E402
    MHG_HASHES,
    QUANTILE_QS,
    group_minhash_merge,
    group_minhash_pair_estimates,
    group_minhash_registers,
    group_minhash_sql,
    quantile_estimate_sql,
    quantile_histogram_registers,
    quantile_merge_estimate,
)

_QH_LO, _QH_HI, _QH_BINS = 0.0, 500000.0, 64

_QH_ORACLE = quantile_estimate_sql(
    "orders", "o_orderpriority", "o_orderpriority", "o_totalprice",
    _QH_LO, _QH_HI, _QH_BINS,
)


def _order_value_truth(orders: DataFrame) -> DataFrame:
    """True rank-r (percentile_disc) values per priority and quantile —
    the exact per-group sort the sketch exists to avoid at scale; kept
    as the accuracy column, like true_distinct in the HLL gates."""
    vals = orders.filter(F.col("o_totalprice").isNotNull()).select(
        "o_orderpriority", F.col("o_totalprice").alias("v")
    )
    ranked = vals.select(
        "o_orderpriority",
        "v",
        F.row_number()
        .over(Window.partitionBy("o_orderpriority").orderBy("v"))
        .alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("o_orderpriority"))
        .alias("n"),
    )
    parts = []
    for label, num, den in QUANTILE_QS:
        parts.append(
            ranked.filter(
                F.col("rn")
                == F.expr(f"CAST((n * {num} + {den - 1}) DIV {den} AS BIGINT)")
            ).select(
                "o_orderpriority",
                F.lit(label).alias("q"),
                F.col("v").alias("true_value"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register("quantile_sketch_estimate", _QH_ORACLE)
def quantile_sketch_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-grid mergeable quantile histogram (r9) — the quantile
    member of the sketch family (HLL = distinct, count-min = frequency,
    KMV = theta). p50/p90/p99 of o_totalprice per order priority from
    ≤64 exact integer bin counts per group: the raw values never leave
    the scan stage, the shuffle carries the bin counts, and no sort
    happens anywhere — the 100 TB shape for percentile dashboards.
    Target ranks are exact integers (ceil(q·n) via DIV), so the gate
    hash is deterministic; the true rank-r value rides along as the
    accuracy column. `functions/sketches.quantile_histogram_registers`."""
    orders = load_table(spark, sf_dir, "orders")
    regs = quantile_histogram_registers(
        orders, ["o_orderpriority"], "o_totalprice", _QH_LO, _QH_HI, _QH_BINS
    )
    est = quantile_merge_estimate(
        regs, ["o_orderpriority"], _QH_LO, _QH_HI, _QH_BINS
    )
    truth = _order_value_truth(orders)
    return est.join(truth, ["o_orderpriority", "q"]).select(
        "o_orderpriority", "q", "est_value", "true_value", "n_values"
    )


@register("quantile_sketch_merge_lifecycle", _QH_ORACLE)
def quantile_sketch_merge_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The MERGEABILITY proof for the quantile histogram (r9): orders
    split into three "daily" ingests (o_orderkey % 3), each day builds
    its own register frame (the persistable state a production job
    writes to parquet), the three frames merge by SUM over (group,
    bin), and the oracle is deliberately the SINGLE-SHOT whole-corpus
    SQL: merged-of-parts must equal computed-once EXACTLY (integer SUM
    is associative and commutative — no float drift possible). The
    same property that lets per-day HLL rows serve distinct-count
    dashboards lets per-day bin counts serve latency/price percentile
    dashboards at 100 TB. `functions/sketches.quantile_merge_estimate`."""
    orders = load_table(spark, sf_dir, "orders")
    days = [
        quantile_histogram_registers(
            orders.filter(F.col("o_orderkey") % 3 == d),
            ["o_orderpriority"], "o_totalprice", _QH_LO, _QH_HI, _QH_BINS,
        )
        for d in range(3)
    ]
    merged = days[0].unionByName(days[1]).unionByName(days[2])
    est = quantile_merge_estimate(
        merged, ["o_orderpriority"], _QH_LO, _QH_HI, _QH_BINS
    )
    truth = _order_value_truth(orders)
    return est.join(truth, ["o_orderpriority", "q"]).select(
        "o_orderpriority", "q", "est_value", "true_value", "n_values"
    )


_MHG_ORACLE = f"""
    WITH sig AS ({group_minhash_sql("documents", "source", "source", "text")}),
    a AS (SELECT source AS group_a, mh_h, minv FROM sig),
    b AS (SELECT source AS group_b, mh_h, minv FROM sig),
    est AS (SELECT group_a, group_b,
                   CAST(SUM(CASE WHEN a.minv = b.minv THEN 1 ELSE 0 END)
                        / {MHG_HASHES} AS DOUBLE) AS est_jaccard,
                   CAST(COUNT(*) AS BIGINT) AS n_components
            FROM a JOIN b USING (mh_h)
            WHERE group_a < group_b GROUP BY group_a, group_b),
    dt AS (SELECT DISTINCT source AS g, t.tok
           FROM documents, unnest(string_split(text, ' ')) AS t(tok)
           WHERE text IS NOT NULL AND t.tok <> ''),
    sizes AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS sz FROM dt GROUP BY g),
    inter AS (SELECT x.g AS group_a, y.g AS group_b,
                     CAST(COUNT(*) AS BIGINT) AS n_inter
              FROM dt x JOIN dt y USING (tok)
              WHERE x.g < y.g GROUP BY 1, 2)
    SELECT e.group_a, e.group_b, e.est_jaccard, e.n_components,
           CAST(COALESCE(i.n_inter, 0)
                / (sa.sz + sb.sz - COALESCE(i.n_inter, 0)) AS DOUBLE)
               AS true_jaccard
    FROM est e
    LEFT JOIN inter i ON e.group_a = i.group_a AND e.group_b = i.group_b
    JOIN sizes sa ON sa.g = e.group_a
    JOIN sizes sb ON sb.g = e.group_b
    """


@register("minhash_merge_lifecycle", _MHG_ORACLE)
def minhash_merge_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGEABILITY proof for group-level minhash signatures (r9):
    documents split into three "daily" ingests (doc_id % 3), each day
    builds its own 16-component signature frame per source (the
    persistable state), the frames merge by element-wise MIN over
    (source, component), and the 20×20 source-affinity Jaccard matrix
    is estimated from the merged signatures ALONE — the corpora are
    never rescanned. The oracle is the single-shot whole-corpus SQL
    (MIN is associative/commutative/idempotent, so merged-of-parts
    equals computed-once exactly and re-ingest is harmless). True
    Jaccard from exact distinct-token sets rides along as the accuracy
    column — the very join the signatures avoid at 100 TB.
    `functions/sketches.group_minhash_registers`."""
    docs = load_table(spark, sf_dir, "documents")
    days = [
        group_minhash_registers(
            docs.filter(F.col("doc_id") % 3 == d), ["source"], "text"
        )
        for d in range(3)
    ]
    merged = group_minhash_merge(
        days[0].unionByName(days[1]).unionByName(days[2]), ["source"]
    )
    est = group_minhash_pair_estimates(merged, "source")
    dt = (
        docs.filter(F.col("text").isNotNull())
        .select("source", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )
    sizes = dt.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    inter = (
        dt.alias("x")
        .join(dt.alias("y"), "tok")
        .filter(F.col("x.source") < F.col("y.source"))
        .groupBy(
            F.col("x.source").alias("group_a"),
            F.col("y.source").alias("group_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    sa = sizes.select(F.col("source").alias("group_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("source").alias("group_b"), F.col("sz").alias("szb"))
    ni = F.coalesce(F.col("n_inter"), F.lit(0).cast("bigint"))
    return (
        est.join(inter, ["group_a", "group_b"], "left")
        .join(sa, "group_a")
        .join(sb, "group_b")
        .select(
            "group_a",
            "group_b",
            F.col("est_jaccard").cast("double").alias("est_jaccard"),
            "n_components",
            (ni / (F.col("sza") + F.col("szb") - ni))
            .cast("double")
            .alias("true_jaccard"),
        )
    )


_TRIM_CROSS_ORACLE = f"""
    WITH train AS (SELECT doc_id, text FROM documents
                   WHERE doc_id % 25 <> 0),
    words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM train),
    g AS (SELECT doc_id, t.i AS p,
                 md5(array_to_string(ws[t.i:t.i+{_SPAN_K - 1}], ' ')) AS h
          FROM words,
               unnest(range(1, greatest(len(ws) - {_SPAN_K - 2}, 1))) AS t(i)),
    bwords AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
               WHERE doc_id % 25 = 0),
    bench_h AS (SELECT DISTINCT
                    md5(array_to_string(ws[t.i:t.i+{_SPAN_K - 1}], ' ')) AS h
                FROM bwords,
                     unnest(range(1, greatest(len(ws) - {_SPAN_K - 2}, 1)))
                         AS t(i)),
    starts AS (SELECT doc_id, p FROM g JOIN bench_h USING (h)),
    sweep AS (SELECT doc_id, p,
                     CASE WHEN lag(p) OVER w IS NULL THEN {_SPAN_K}
                          ELSE least({_SPAN_K}, p - lag(p) OVER w) END
                         AS contrib,
                     CASE WHEN lag(p) OVER w IS NULL
                               OR p - lag(p) OVER w > {_SPAN_K}
                          THEN 1 ELSE 0 END AS new_span
              FROM starts
              WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
    cov AS (SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS dup_tokens,
                   CAST(SUM(new_span) AS BIGINT) AS n_spans,
                   list(p ORDER BY p) AS starts
            FROM sweep GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
           COALESCE(c.dup_tokens, 0) AS dup_tokens,
           COALESCE(c.n_spans, 0) AS n_spans,
           CASE WHEN d.text IS NULL THEN NULL
                ELSE COALESCE(array_to_string(
                  list_transform(
                    list_filter(
                      range(1, len(string_split(d.text, ' ')) + 1),
                      i -> len(list_filter(
                              COALESCE(c.starts, CAST([] AS BIGINT[])),
                              s -> s <= i AND i <= s + {_SPAN_K - 1})) = 0),
                    i -> string_split(d.text, ' ')[i]), ' '), '')
           END AS trimmed_text
    FROM train d LEFT JOIN cov c USING (doc_id)
"""


@register("contamination_substring_trim", _TRIM_CROSS_ORACLE)
def contamination_substring_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-span decontamination (r9) — the surgical upgrade of
    drop-the-document decontamination: every ≥6-token span that appears
    VERBATIM in the benchmark set (every 25th doc stands in for the
    eval suite) is REMOVED from the training documents, and the rest of
    the document is kept — what production pipelines do when a crawl
    embeds benchmark passages inside otherwise-good pages. The
    benchmark anchor set is broadcast (eval suites are MBs against a
    100 TB corpus) so the training side never shuffles for the probe;
    the covered-interval union and trimmed text come from the same
    winnowing sweep as `dedup_substring_trim` (one window lag per doc,
    no pair join, no cap, linear in corpus size).
    `functions/dedup.substring_span_trim_cross`."""
    from kafka_sink_azure_kusto_spark.functions.dedup import (
        substring_span_trim_cross,
    )

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 25 != 0)
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    return substring_span_trim_cross(train, bench, "text", "doc_id", k=_SPAN_K)

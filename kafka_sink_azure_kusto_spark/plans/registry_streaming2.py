"""Round-5 streaming batch: session windows, stream-static dimension
enrichment, and watermark-bounded streaming dedup — each run as a REAL
Structured Streaming job (file replay, availableNow, checkpoint) whose
final output is gated against an exact batch oracle.

Determinism contract: replay chunks are staged time-ordered with
strictly increasing mtimes (the file source orders micro-batches by
modification time), timestamps travel as integer epoch-micros (JSON
timestamp strings would truncate to milliseconds), and watermark delays
are sized so no in-subset event is ever late — the streaming result is
then exactly the batch semantics the oracle computes.

No reference citations: the reference sink has no event-time operators
(SURVEY §2.10); these are Spark-native streaming surface for the
north-star pipeline.

HARNESS-ONLY PATTERN — DO NOT COPY INTO PRODUCTION PATHS: the fixture
staging below drives replay chunks through the DRIVER
(``.collect()`` of a few-thousand-row subset, then local NDJSON
writes). That is the deliberate gate-harness shape — the subset must
be staged deterministically and mtime-ordered, and it is bounded at
3-5k rows. A production job never routes data through the driver; its
streams come from Kafka/files directly (see ``sources/kafka.py``,
``docs/KAFKA_BROKER_RECIPE.md``). The OPERATORS under test (session
windows, stream joins, dedup, upsert) are fully distributed.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_sink_azure_kusto_spark.functions.sketches import (
    countmin_estimates_sql,
)
from kafka_sink_azure_kusto_spark.plans.registry import (
    _drain_stream,
    _workdir,
    register,
    run_replay,
)
from kafka_sink_azure_kusto_spark.sources.replay import (
    key_chunks,
    replay_stream,
    stage_chunks,
)
from kafka_sink_azure_kusto_spark.sources.tables import load_table


def _split(rows: list[str], n: int) -> list[list[str]]:
    """Contiguous equal-count split (rows are pre-sorted by event time,
    so each chunk is a time range)."""
    size = max(1, (len(rows) + n - 1) // n)
    return [rows[i : i + size] for i in range(0, len(rows), size)]


def _run_to_memory(spark: SparkSession, stream_df: DataFrame, chk: str) -> DataFrame:
    name = "strq_" + uuid.uuid4().hex[:12]
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    _drain_stream(q, 180)
    return spark.table(name)


_SESSION_ORACLE = """
    WITH sub AS (SELECT event_id, user_id, ts, value
                 FROM events ORDER BY event_id LIMIT 4000),
    seq AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM sub
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      -- sid window keeps the SAME (ts, event_id) total order as seq's w:
      -- ordering by ts alone would let DuckDB break same-ts ties
      -- nondeterministically and assign tied rows to different sessions
      -- than the session_window result (round-6 advice)
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM seq)
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM sess GROUP BY user_id, sid
"""


@register("streaming_session_windows", _SESSION_ORACLE)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``F.session_window`` (30-minute gap) aggregation running as a
    watermarked append-mode streaming query over a 3-chunk time-ordered
    replay. A single far-future sentinel row in its own final
    micro-batch advances the GLOBAL watermark past every real event, so
    append mode flushes all real sessions — the streaming equivalent of
    the batch gaps-and-islands oracle (session = events with
    consecutive gaps < 30 min; end = last event + 30 min).

    Scale: session state is per-user and bounded by the watermark;
    the session-window agg shuffles once on the user key."""
    work = _workdir("stream_sess_")
    ev = load_table(spark, sf_dir, "events").orderBy("event_id").limit(4000)
    rows = (
        ev.select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "value",
        )
        .orderBy("ts_us", "event_id")
        .select(F.to_json(F.struct("event_id", "user_id", "ts_us", "value")))
        .collect()
    )
    json_rows = [r[0] for r in rows]
    max_us = json.loads(json_rows[-1])["ts_us"]
    sentinel = json.dumps(
        {"event_id": -1, "user_id": -1, "ts_us": max_us + 100 * 3600 * 1_000_000, "value": 0.0}
    )
    chunks = _split(json_rows, 3) + [[sentinel]]
    replay = os.path.join(work, "replay")
    stage_chunks(chunks, replay)

    stream = (
        replay_stream(
            spark, replay, schema="event_id long, user_id long, ts_us long, value double"
        )
        .withColumn("ts", F.timestamp_micros("ts_us"))
        .withWatermark("ts", "1 minute")
    )
    agg = (
        stream.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    out = _run_to_memory(spark, agg, os.path.join(work, "chk"))
    return out.filter(F.col("user_id") >= 0).select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
        "total_value",
    )


@register(
    "streaming_static_enrich",
    """
    WITH sub AS (SELECT o_orderkey, o_custkey, o_totalprice
                 FROM orders ORDER BY o_orderkey LIMIT 5000)
    SELECT o_orderkey, n_name,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM sub
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    """,
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment: a replayed order stream
    joins the static customer→nation map per micro-batch (the canonical
    streaming-ETL enrichment shape; the static side re-plans each batch
    and broadcasts). Stateless — append emits every enriched row
    immediately; the oracle is the plain batch join."""
    work = _workdir("stream_enrich_")
    orders = load_table(spark, sf_dir, "orders").orderBy("o_orderkey").limit(5000)
    rows = [
        r[0]
        for r in orders.select(
            F.to_json(F.struct("o_orderkey", "o_custkey", "o_totalprice"))
        ).collect()
    ]
    replay = os.path.join(work, "replay")
    stage_chunks(_split(rows, 3), replay)

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dim = cust.join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey")).select(
        "c_custkey", "n_name"
    )
    stream = replay_stream(
        spark, replay, schema="o_orderkey long, o_custkey long, o_totalprice double"
    )
    enriched = stream.join(dim, F.col("o_custkey") == F.col("c_custkey")).select(
        "o_orderkey", "n_name", F.col("o_totalprice").cast("double").alias("o_totalprice")
    )
    return _run_to_memory(spark, enriched, os.path.join(work, "chk"))


@register(
    "streaming_dedup_watermark",
    """
    SELECT event_id, user_id, ts, value
    FROM events ORDER BY event_id LIMIT 3000
    """,
)
def streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup with WATERMARK-BOUNDED state
    (``dropDuplicatesWithinWatermark`` on event_id): the replay carries
    each of the last 20 events of every chunk AGAIN in the next chunk
    (+30 s event time) — same-batch and cross-batch duplicates both
    collapse, so the output is exactly the original subset (the
    oracle). The 96-hour delay comfortably covers the duplicate
    horizon; state for keys older than the watermark is dropped, which
    is what makes this runnable forever at 100 TB/day (plain streaming
    ``dropDuplicates`` would grow state without bound)."""
    work = _workdir("stream_dedup_")
    ev = load_table(spark, sf_dir, "events").orderBy("event_id").limit(3000)
    rows = (
        ev.select("event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "value")
        .orderBy("ts_us", "event_id")
        .select(F.to_json(F.struct("event_id", "user_id", "ts_us", "value")))
        .collect()
    )
    json_rows = [r[0] for r in rows]
    chunks = _split(json_rows, 3)
    # inject cross-batch duplicates: last 20 rows of chunk i replayed in
    # chunk i+1 with ts shifted +30 s (still far inside the watermark)
    for i in range(len(chunks) - 1):
        for r in chunks[i][-20:]:
            d = json.loads(r)
            d["ts_us"] += 30 * 1_000_000
            chunks[i + 1].insert(0, json.dumps(d))
    replay = os.path.join(work, "replay")
    stage_chunks(chunks, replay)

    stream = (
        replay_stream(
            spark, replay, schema="event_id long, user_id long, ts_us long, value double"
        )
        .withColumn("ts", F.timestamp_micros("ts_us"))
        .withWatermark("ts", "96 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    out = _run_to_memory(spark, stream, os.path.join(work, "chk"))
    return out.select("event_id", "user_id", "ts", "value")


@register(
    "streaming_upsert_materialized",
    """
    WITH sub AS (SELECT event_id, user_id, ts, event_type FROM events
                 ORDER BY event_id LIMIT 3000)
    SELECT user_id, event_type AS state, ts AS state_ts
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM sub)
    WHERE rn = 1
    """,
)
def streaming_upsert_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MATERIALIZED-VIEW maintenance: foreachBatch applies the
    SCD-1 merge per micro-batch — dedupe the batch to latest-per-key,
    full-outer merge onto the current snapshot, write a NEW versioned
    snapshot dir and advance a _CURRENT pointer (atomic rename; readers
    never see a partial snapshot). After the replay drains, the
    materialized state must equal the batch latest-per-key over the
    whole subset — the incremental-maintenance correctness claim, now
    proven THROUGH the streaming engine, micro-batch by micro-batch
    (the streaming composition of ``scd1_upsert`` +
    ``incremental_agg_maintenance``'s algebra).

    Scale: each batch touches the snapshot (O(keys)) and the delta —
    never the event history; the snapshot join shuffles on the entity
    key exactly like a production MERGE INTO."""
    from kafka_sink_azure_kusto_spark.functions.similarity import topk_rows

    work = _workdir("stream_mv_")
    ev = load_table(spark, sf_dir, "events").orderBy("event_id").limit(3000)
    rows = (
        ev.select("event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "event_type")
        .orderBy("ts_us", "event_id")
        .select(F.to_json(F.struct("event_id", "user_id", "ts_us", "event_type")))
        .collect()
    )
    state_root = os.path.join(work, "state")
    os.makedirs(state_root, exist_ok=True)
    pointer = os.path.join(state_root, "_CURRENT")

    def current_snapshot():
        if not os.path.exists(pointer):
            return None
        with open(pointer) as f:
            return spark.read.parquet(os.path.join(state_root, f.read().strip()))

    def merge_batch(batch_df, epoch_id: int) -> None:
        delta = topk_rows(batch_df, "user_id", ["-ts_us", "-event_id"], 1).select(
            F.col("user_id").alias("d_key"),
            F.col("event_type").alias("d_state"),
            F.col("ts_us").alias("d_ts"),
        )
        snap = current_snapshot()
        if snap is None:
            merged = delta.select(
                F.col("d_key").alias("user_id"),
                F.col("d_state").alias("state"),
                F.col("d_ts").alias("state_ts_us"),
            )
        else:
            s = snap.select(
                F.col("user_id").alias("s_key"),
                F.col("state").alias("s_state"),
                F.col("state_ts_us").alias("s_ts"),
            )
            merged = s.join(delta, F.col("s_key") == F.col("d_key"), "full_outer").select(
                F.coalesce(F.col("d_key"), F.col("s_key")).alias("user_id"),
                F.coalesce(F.col("d_state"), F.col("s_state")).alias("state"),
                F.coalesce(F.col("d_ts"), F.col("s_ts")).alias("state_ts_us"),
            )
        version = f"v{epoch_id:06d}"
        merged.write.mode("overwrite").parquet(os.path.join(state_root, version))
        tmp = pointer + ".tmp"
        with open(tmp, "w") as f:
            f.write(version)
        os.replace(tmp, pointer)  # atomic pointer swap

    run_replay(
        spark, work, "event_id long, user_id long, ts_us long, event_type string",
        _split([r[0] for r in rows], 3), merge_batch,
    )
    final = current_snapshot()
    return final.select(
        "user_id", "state", F.timestamp_micros("state_ts_us").alias("state_ts")
    )


@register(
    "streaming_stream_join",
    """
    WITH sub AS (SELECT event_id, user_id, ts, event_type FROM events
                 ORDER BY event_id LIMIT 4000),
    l AS (SELECT event_id AS l_event_id, user_id AS l_key, ts AS l_ts
          FROM sub WHERE event_type = 'view'),
    r AS (SELECT event_id AS r_event_id, user_id AS r_key, ts AS r_ts
          FROM sub WHERE event_type = 'click')
    SELECT l_event_id, l_key, l_ts, r_event_id, r_ts
    FROM l LEFT JOIN r
      ON r.r_key = l.l_key
     AND r.r_ts > l.l_ts
     AND r.r_ts <= l.l_ts + INTERVAL 10 MINUTE
    """,
)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER watermarked stream-stream interval join (VERDICT r5
    #4): 'view' events are impressions, 'click' events of the SAME user
    within the next 10 minutes are conversions — joined as two live
    streams via ``stream_stream_interval_join``, not a batch as-of.
    Unconverted impressions emit with NULL right columns only after the
    watermark proves no match can still arrive; a far-future sentinel on
    BOTH streams (global watermark = min across sources) pushes the
    watermark past every real event so append mode flushes all outer
    results before availableNow terminates.

    Scale: both sides shuffle once on the join key; buffered state is
    bounded by watermark + interval (eviction is what makes the join
    runnable forever — an unbounded condition would grow state without
    limit). The oracle is the equivalent batch interval left join.

    No reference citation: the reference sink is stateless per record
    (SURVEY §2.10); this is north-star streaming surface."""
    from kafka_sink_azure_kusto_spark.streaming.stateful import (
        stream_stream_interval_join,
    )

    work = _workdir("stream_ssj_")
    ev = load_table(spark, sf_dir, "events").orderBy("event_id").limit(4000)

    def stage(event_type: str, subdir: str) -> str:
        rows = (
            ev.filter(F.col("event_type") == event_type)
            .select("event_id", "user_id", F.unix_micros("ts").alias("ts_us"))
            .orderBy("ts_us", "event_id")
            .select(F.to_json(F.struct("event_id", "user_id", "ts_us")))
            .collect()
        )
        json_rows = [r[0] for r in rows]
        if not json_rows:
            raise ValueError(
                f"no '{event_type}' events in the 4000-row fixture subset "
                f"at {sf_dir} — stream-stream join fixture cannot stage"
            )
        last_us = json.loads(json_rows[-1])["ts_us"]
        sentinel = json.dumps(
            {"event_id": -1, "user_id": -1, "ts_us": last_us + 1000 * 3600 * 1_000_000}
        )
        replay = os.path.join(work, subdir)
        stage_chunks(_split(json_rows, 3) + [[sentinel]], replay)
        return replay

    def read(replay: str) -> DataFrame:
        return (
            replay_stream(spark, replay, schema="event_id long, user_id long, ts_us long")
            .withColumn("ts", F.timestamp_micros("ts_us"))
            .select("event_id", "user_id", "ts")
        )

    left = read(stage("view", "replay_l"))
    right = read(stage("click", "replay_r"))
    joined = stream_stream_interval_join(
        left,
        right,
        key_col="user_id",
        max_delay="10 minutes",
        watermark="1 minute",
        how="leftOuter",
    )
    out = _run_to_memory(spark, joined, os.path.join(work, "chk"))
    return out.filter(F.col("l_event_id") >= 0).select(
        "l_event_id",
        "l_key",
        "l_ts",
        "r_event_id",
        "r_ts",
    )


from kafka_sink_azure_kusto_spark.plans.registry_northstar import (  # noqa: E402
    _SHINGLES_SQL,
)

_INCR_STORE_ORACLE = f"""
    WITH {_SHINGLES_SQL},
    mh AS (SELECT doc_id, hs.h AS h, MIN(md5(hs.h || ':' || s)) AS mv
           FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS h) hs
           GROUP BY doc_id, hs.h),
    sig AS (SELECT doc_id, list(mv ORDER BY h) AS sig FROM mh GROUP BY doc_id),
    banded AS (SELECT doc_id, sig, bs.b AS band_id,
                      md5(array_to_string(sig[bs.b*4+1 : bs.b*4+4], '|'))
                          AS band_hash
               FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bs),
    tagged AS (SELECT *, doc_id % 3 AS chunk FROM banded),
    hist_hits AS (SELECT DISTINCT l.doc_id
                  FROM tagged l JOIN tagged r
                    ON l.band_id = r.band_id AND l.band_hash = r.band_hash
                   AND r.chunk < l.chunk
                  WHERE len(list_intersect(l.sig, r.sig)) * 1.0 / 16 >= 0.5),
    batch_hits AS (SELECT DISTINCT l.doc_id
                   FROM tagged l JOIN tagged r
                     ON l.band_id = r.band_id AND l.band_hash = r.band_hash
                    AND r.chunk = l.chunk AND l.doc_id > r.doc_id
                   WHERE len(list_intersect(l.sig, r.sig)) * 1.0 / 16 >= 0.5)
    SELECT d.doc_id,
           CASE WHEN d.doc_id IN (SELECT doc_id FROM hist_hits)
                     THEN 'neardup_of_history'
                WHEN d.doc_id IN (SELECT doc_id FROM batch_hits)
                     THEN 'neardup_in_batch'
                ELSE 'unique' END AS status
    FROM documents d
"""


def _run_incr_store_loop(
    spark: SparkSession,
    sf_dir: str,
    tbl: str,
    compact_after_epoch: int | None = None,
    file_counts: dict | None = None,
) -> DataFrame:
    """Shared engine of the two live-store streaming queries: probe →
    triage → admit per micro-batch; optionally run
    ``compact_bucketed_table`` MID-STREAM after the given epoch's
    admit (the production maintenance story — VERDICT r8 #6), with
    before/after data-file counts recorded into ``file_counts``."""
    import shutil
    from urllib.parse import urlparse

    from kafka_sink_azure_kusto_spark.functions import dedup as D
    from kafka_sink_azure_kusto_spark.operators.bucketing import (
        append_bucketed,
        compact_bucketed_table,
        table_file_count,
        write_bucketed,
    )

    work = _workdir("stream_incr_store_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = key_chunks(docs, "doc_id", ["doc_id", "text"])

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree(os.path.join(wh, tbl), ignore_errors=True)
    key = ["band_id", "band_hash"]
    empty = D.banded_signatures(docs.limit(0), "text", "doc_id", 16, 4, 3)
    write_bucketed(empty, tbl, key, num_buckets=8)

    results_dir = os.path.join(work, "results")

    def triage_and_admit(batch_df, epoch_id: int) -> None:
        batch = batch_df.select("doc_id", "text")
        # Probe through the MICRO-BATCH session, with an explicit
        # refresh: each session caches a table's file-list snapshot on
        # first read, and appends made through the per-batch cloned
        # session never invalidate the OUTER session's cache — probing
        # via `spark.table` would silently join against the store as
        # of batch 0 (empty) forever (found live: store_pre stayed 0
        # across all batches while every append landed on disk).
        mb = batch_df.sparkSession
        mb.catalog.refreshTable(tbl)
        res = D.incremental_neardup_dedup(
            batch, mb.table(tbl), num_hashes=16, num_bands=4, k=3,
            jaccard_threshold=0.5,
        )
        # Force the probe BEFORE admitting this batch's signatures.
        # The write is epoch-keyed + overwrite (the standard
        # foreachBatch exactly-once recipe): a micro-batch RETRY
        # rewrites the same epoch directory instead of appending a
        # duplicate copy of the batch's result rows (round-9 advice).
        # The store append below stays append-mode — a retry would
        # duplicate signature ROWS, but triage labels depend only on
        # match EXISTENCE (semi-join + DISTINCT inside
        # incremental_neardup_dedup), so duplicated history signatures
        # cannot change any later batch's labels; compaction folds
        # them away.
        res.write.mode("overwrite").parquet(
            os.path.join(results_dir, f"epoch={int(epoch_id)}")
        )
        append_bucketed(
            D.banded_signatures(batch, "text", "doc_id", 16, 4, 3),
            tbl, key, num_buckets=8,
        )
        if compact_after_epoch is not None and int(epoch_id) == compact_after_epoch:
            # MID-STREAM maintenance: compact the store between this
            # batch's admit and the next batch's probe. Labels of every
            # later batch must be unchanged (compaction is
            # result-invariant — same rows, one file per bucket) and
            # the delta-per-batch file growth resets to num_buckets.
            mb.catalog.refreshTable(tbl)
            if file_counts is not None:
                file_counts["pre_compact"] = table_file_count(mb, tbl)
            n = compact_bucketed_table(mb, tbl, key, num_buckets=8)
            if file_counts is not None:
                file_counts["post_compact"] = n

    run_replay(spark, work, "doc_id long, text string", chunks, triage_and_admit)
    return spark.read.parquet(results_dir).select("doc_id", "status")


@register("streaming_incremental_neardup_store", _INCR_STORE_ORACLE)
def streaming_incremental_neardup_store(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONTINUOUS-INGEST near-dup triage with a LIVE signature store
    (r8): each micro-batch (a) probes the persisted bucketed
    banded-signature store with `incremental_neardup_dedup`, then (b)
    `append_bucketed`s its own signatures so every LATER batch sees it
    as history — the full production ingest loop (probe → triage →
    admit) run through the real streaming engine, batch by batch. The
    arrival order IS the semantics: a doc is 'neardup_of_history' iff
    it matches a doc from an EARLIER micro-batch, 'neardup_in_batch'
    iff its first match is a smaller-id doc in the SAME batch. The
    oracle replays exactly that sequential semantics closed-form
    (chunk = doc_id % 3 = arrival batch).

    Materialization order is the correctness heart: the batch's triage
    result is WRITTEN (forced) BEFORE its signatures are appended —
    appending first would let the lazy probe see its own batch as
    history. Scale shape: the store is bucketed on (band_id,
    band_hash), so each probe exchanges only the small batch side;
    appends are bucket-spec-preserving deltas; `compact_bucketed_table`
    (gated separately in `dedup_store_compaction_lifecycle` and LIVE
    in `streaming_neardup_store_live_compaction`) is the maintenance
    companion. Composes `functions/dedup.py`, `operators/bucketing.py`,
    Structured Streaming foreachBatch."""
    return _run_incr_store_loop(spark, sf_dir, "stream_sig_store_live")


@register("streaming_neardup_store_live_compaction", _INCR_STORE_ORACLE)
def streaming_neardup_store_live_compaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The live loop WITH mid-stream store maintenance (r9 — VERDICT
    r8 #6): identical probe → triage → admit stream, but
    `compact_bucketed_table` runs BETWEEN micro-batches (after batch
    1's admit, before batch 2's probe) — the real production story,
    where the store otherwise grows one delta per batch forever. The
    oracle is DELIBERATELY the same sequential-semantics SQL as
    `streaming_incremental_neardup_store`: a signature row lost,
    duplicated, or mis-bucketed by the live compaction flips a batch-2
    label and breaks the value hash. File-count reset to num_buckets
    is asserted in tests/test_streaming_batch2.py."""
    return _run_incr_store_loop(
        spark, sf_dir, "stream_sig_store_live_cmp", compact_after_epoch=1
    )


@register(
    "streaming_countmin_maintenance",
    countmin_estimates_sql("events", "user_id", "user_id", 4, 64),
)
def streaming_countmin_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING count-min maintenance — the additive-sketch analog of
    the theta/HLL/quantile merge lifecycles, run through the real
    engine: each micro-batch aggregates its own depth×width register
    cells and writes them epoch-keyed (overwrite — the foreachBatch
    exactly-once recipe); after the stream, the per-epoch registers
    SUM-merge and the merged sketch must answer every frequency probe
    EXACTLY like the single-shot batch sketch (count-min is additive,
    so merge is lossless — the property that lets a 100 TB deployment
    keep per-batch register rows and serve heavy-hitter queries
    without rescanning). Oracle: the single-shot count-min SQL over
    the full table — any register row lost, duplicated, or mis-merged
    breaks the value hash."""
    from kafka_sink_azure_kusto_spark.functions.sketches import cm_bucket

    depth, width = 4, 64
    work = _workdir("stream_cm_")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    chunks = key_chunks(ev, "event_id", ["event_id", "user_id"])
    reg_dir = os.path.join(work, "registers")

    def update_registers(batch_df, epoch_id: int) -> None:
        key = F.col("user_id")
        cells = batch_df.select(
            F.posexplode(
                F.array(*[cm_bucket(key, r, width) for r in range(depth)])
            ).alias("cm_row", "cm_bucket")
        )
        sk = cells.groupBy("cm_row", "cm_bucket").agg(
            F.count(F.lit(1)).alias("cm_count")
        )
        sk.write.mode("overwrite").parquet(
            os.path.join(reg_dir, f"epoch={int(epoch_id)}")
        )

    run_replay(spark, work, "event_id long, user_id long", chunks, update_registers)

    merged = (
        spark.read.parquet(reg_dir)
        .groupBy("cm_row", "cm_bucket")
        .agg(F.sum("cm_count").alias("cm_count"))
    )
    key = F.col("user_id")
    probes = ev.select("user_id").distinct()
    probe_cells = probes.select(
        key,
        F.posexplode(
            F.array(*[cm_bucket(key, r, width) for r in range(depth)])
        ).alias("cm_row", "cm_bucket"),
    )
    joined = probe_cells.join(
        F.broadcast(merged), ["cm_row", "cm_bucket"], "left"
    )
    return joined.groupBy("user_id").agg(
        F.min(F.coalesce(F.col("cm_count"), F.lit(0))).alias("est")
    )

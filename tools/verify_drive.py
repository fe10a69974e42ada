"""End-to-end verify drive (see .claude/skills/verify/SKILL.md).

Streams events through the full sink pipeline against the local emulator
backend, then cross-checks the analytics surface against DuckDB oracles.
Not a test — a manual driver; run: python tools/verify_drive.py
"""

import json
import os
import shutil
import sys
import tempfile
import time

import duckdb
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# the checkout this tool lives in, not an installed copy
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_sink_azure_kusto_spark.config import KustoSinkConfig, TopicToTableMapping
from kafka_sink_azure_kusto_spark.sources.tables import load_table
from kafka_sink_azure_kusto_spark.sources.replay import (
    as_kafka_records,
    replay_stream,
    stage_replay_dir,
)
from kafka_sink_azure_kusto_spark.streaming import LocalEmulatorBackend, KustoSparkSink


def _count_epoch_floor(spark, sink) -> list:
    """Wrap ``sink.process_batch`` so each epoch's Spark jobs run in a job
    group of their own and its Janino compilations are counted
    (``CodegenMetrics``): the fixed per-epoch cost, visible without a
    benchmark. Returns the list that collects ``(epoch, group,
    compilations)``; ``attach`` must come after this call."""
    sc = spark.sparkContext
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    process_batch, epochs = sink.process_batch, []

    def counted(df, epoch_id):
        group, outer = f"verify-epoch-{epoch_id}", sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        before = compiles.getCount()
        try:
            process_batch(df, epoch_id)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", outer)
            epochs.append((epoch_id, group, compiles.getCount() - before))

    sink.process_batch = counted
    return epochs


def _print_epoch_floor(spark, epochs: list) -> None:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    for epoch_id, group, compiled in epochs:
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        print(f"epoch {epoch_id}: {jobs} Spark jobs, {compiled} Janino compilations")


def main() -> int:
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("verify-drive")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="verify_drive_")
    failures = []
    try:
        # ---- 1. shape events as kafka records + tombstones ----
        events = load_table(spark, "/root/testdata/sf0.001", "events").limit(400)
        recs = as_kafka_records(
            events.withColumn("v", F.to_json(F.struct("event_id", "user_id", "event_type"))),
            topic_col="event_type",
            value_col="v",
            key_col="event_id",
        )
        live_count = recs.count()
        tomb = recs.limit(20).withColumn("value", F.lit(None).cast("string"))
        n_tomb = 20
        replay_dir = f"{work}/replay"
        stage_replay_dir(recs.unionByName(tomb), replay_dir, chunks=3)

        topic_counts = {
            r["topic"]: r["cnt"]
            for r in recs.groupBy("topic").agg(F.count("*").alias("cnt")).collect()
        }
        topics = sorted(topic_counts)
        print(f"staged: {live_count} live + {n_tomb} tombstones, topics={topic_counts}")

        # ---- 2. config: 2 explicit routes + wildcard ----
        cfg = KustoSinkConfig(
            ingest_url="https://ingest-verify.kusto.windows.net",
            mappings=[
                TopicToTableMapping(topic=topics[0], db="db", table="t0", format="json"),
                TopicToTableMapping(topic=topics[1], db="db", table="t1", format="json"),
                TopicToTableMapping(topic="*", db="db", table="catchall", format="json"),
            ],
            staging_dir=f"{work}/staging",
            checkpoint_location=f"{work}/ckpt",
            trigger_interval_ms=400,
        )
        backend = LocalEmulatorBackend(f"{work}/emulator")
        sink = KustoSparkSink(cfg, backend)
        epochs = _count_epoch_floor(spark, sink)
        query = sink.attach(replay_stream(spark, replay_dir))
        deadline = time.time() + 120
        while time.time() < deadline:
            if sum(e["records"] for e in backend.ingest_log()) >= live_count:
                break
            time.sleep(1)
        KustoSparkSink.close(query)
        _print_epoch_floor(spark, epochs)
        ingested = sum(e["records"] for e in backend.ingest_log())
        print(f"ingested records: {ingested} (want >= {live_count})")
        if ingested < live_count:
            failures.append(f"ingested {ingested} < staged live {live_count}")

        # ---- 4. observations ----
        t0_rows = backend.table_rows("db", "t0")
        t1_rows = backend.table_rows("db", "t1")
        catch_rows = backend.table_rows("db", "catchall")
        want_catch = sum(v for t, v in topic_counts.items() if t not in topics[:2])
        print(f"routes: t0={len(t0_rows)}/{topic_counts[topics[0]]} "
              f"t1={len(t1_rows)}/{topic_counts[topics[1]]} "
              f"catchall={len(catch_rows)}/{want_catch}")
        if len(t0_rows) != topic_counts[topics[0]]:
            failures.append("t0 route count mismatch")
        if len(t1_rows) != topic_counts[topics[1]]:
            failures.append("t1 route count mismatch")
        if len(catch_rows) != want_catch:
            failures.append("catchall route count mismatch")
        for rows, tname in ((t0_rows, "t0"), (t1_rows, "t1"), (catch_rows, "catchall")):
            if any(not r or r == "null" for r in rows):
                failures.append(f"tombstone leaked into {tname}")
        # staged name contract: kafka_{topic}_{partition}_{offset}.{ingest_fmt}.gz
        # (json maps to Kusto ingest format "multijson")
        bad_names = [
            e["file"] for e in backend.ingest_log()
            if not (e["file"].startswith("kafka_") and e["file"].endswith(".multijson.gz"))
        ]
        if bad_names:
            failures.append(f"bad staged file names: {bad_names[:3]}")
        snap = sink.metrics.snapshot()
        print(f"metrics: {snap}")

        # ---- analytics surface ----
        import __spark_entry__ as entrymod

        flagship = entrymod.entry(spark)
        n = flagship.count()
        print(f"entry(spark): {n} rows")
        if n <= 0:
            failures.append("entry() returned 0 rows")

        sf = "/root/testdata/sf0.01"
        con = duckdb.connect()
        for t in ("region nation customer supplier part orders lineitem "
                  "events documents embeddings").split():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
            )
        qs = entrymod.queries()
        oracles = entrymod.oracle_sql()
        for name in ("asof_join_attribution", "range_join_sessions",
                     "dedup_minhash_lsh", "q1_pricing_summary"):
            sdf = qs[name](spark, sf).toPandas()
            odf = con.execute(oracles[name]).fetchdf()
            cols = sorted(sdf.columns)
            if cols != sorted(odf.columns):
                failures.append(f"{name}: schema mismatch {cols} vs {sorted(odf.columns)}")
                continue
            s = sdf[cols].sort_values(cols, ignore_index=True)
            o = odf[cols].sort_values(cols, ignore_index=True)
            for c in cols:  # normalize datetime unit (spark=ns, duckdb=us)
                if pd.api.types.is_datetime64_any_dtype(s[c].dtype):
                    s[c] = s[c].astype("datetime64[us]")
                    o[c] = o[c].astype("datetime64[us]")
            print(f"oracle {name}: spark={len(s)} duck={len(o)}")
            if len(s) != len(o):
                failures.append(f"{name}: row count mismatch {len(s)} vs {len(o)}")
                continue
            try:
                pd.testing.assert_frame_equal(
                    s, o, check_dtype=False, check_exact=False, rtol=1e-9
                )
            except AssertionError as exc:
                failures.append(f"{name}: value mismatch: {str(exc)[:200]}")

        # bench prints one JSON line (smoke only at sf0.001 to keep it quick)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()

    if failures:
        print("VERIFY FAILURES:")
        for f in failures:
            print(" -", f)
        return 1
    print("VERIFY OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())

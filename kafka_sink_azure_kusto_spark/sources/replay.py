"""File-replay stream source for tests and local runs.

Stands in for a Kafka broker: takes a static DataFrame (e.g. the driver
``events`` parquet, TESTDATA.md), renders it into the Kafka record shape
(key, value, topic, partition, offset) as NDJSON chunk files, then
re-reads the directory as a file stream at one file per trigger so
each chunk becomes one micro-batch — the Spark analog of the reference
IT's embedded-Kafka producer loop (KustoSinkIT.java:339-462).

``replay_stream`` is the one file-stream reader of the package: the
registry's streaming gates stage their own NDJSON chunks
(``stage_chunks`` / ``key_chunks``) and read them back through it with
their own schema.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

KAFKA_RECORD_SCHEMA = StructType(
    [
        StructField("key", StringType(), True),
        StructField("value", StringType(), True),  # null ⇒ tombstone
        StructField("topic", StringType(), False),
        StructField("partition", LongType(), False),
        StructField("offset", LongType(), False),
    ]
)

# last mtime handed to a staged chunk; process-wide so chunks staged by
# successive calls keep increasing too
_MTIME = [1_700_000_000]


def as_kafka_records(
    df: DataFrame,
    topic_col,
    value_col,
    key_col=None,
    num_partitions: int = 4,
) -> DataFrame:
    """Render an arbitrary DataFrame into the Kafka record shape.

    ``partition`` is assigned by key hash (murmur3 like Kafka's default
    partitioner in spirit); ``offset`` is a per-(topic, partition) dense
    sequence — both computed with window functions, no driver round-trip.
    """
    from pyspark.sql import Window

    key = F.col(key_col).cast("string") if key_col else F.lit(None).cast("string")
    out = df.select(
        key.alias("key"),
        F.col(value_col).cast("string").alias("value"),
        F.col(topic_col).cast("string").alias("topic"),
    )
    out = out.withColumn(
        "partition", (F.abs(F.hash(F.coalesce(F.col("key"), F.col("value")))) % num_partitions).cast("long")
    )
    w = Window.partitionBy("topic", "partition").orderBy(F.coalesce("value", "key"))
    return out.withColumn("offset", (F.row_number().over(w) - 1).cast("long"))


def stage_replay_dir(records: DataFrame, replay_dir: str, chunks: int = 4) -> str:
    """Write the Kafka-shaped records as ``chunks`` NDJSON files; each file
    will be one micro-batch when replayed."""
    os.makedirs(replay_dir, exist_ok=True)
    records.repartition(chunks).write.mode("overwrite").json(replay_dir)
    return replay_dir


def key_chunks(df: DataFrame, key_col: str, cols: list[str], n: int = 3) -> list[list[str]]:
    """NDJSON rows of ``cols`` split into ``n`` chunks by ``key_col % n``,
    from ONE collect of (chunk, to_json(struct(cols))) — a filter and a
    collect per chunk would run ``n`` jobs. Rows whose key is NULL or
    negative belong to no chunk, as with ``filter(key % n == c)``."""
    part = F.col(key_col) % n
    chunks: list[list[str]] = [[] for _ in range(n)]
    for c, row in (
        df.where(part >= 0).select(part, F.to_json(F.struct(*cols))).collect()
    ):
        chunks[c].append(row)
    return chunks


def stage_chunks(chunks: list[list[str]], replay_dir: str) -> None:
    """Write NDJSON chunk files with strictly increasing mtimes so the
    file stream replays them in order, one micro-batch each (the file
    source orders new files by modification time)."""
    os.makedirs(replay_dir, exist_ok=True)
    for i, rows in enumerate(chunks):
        path = os.path.join(replay_dir, f"chunk_{i:03d}.json")
        with open(path, "w") as f:
            for r in rows:
                f.write(r + "\n")
        _MTIME[0] += 1000
        os.utime(path, (_MTIME[0], _MTIME[0]))


def replay_stream(
    spark: SparkSession,
    replay_dir: str,
    files_per_trigger: int = 1,
    schema: StructType | str = KAFKA_RECORD_SCHEMA,
) -> DataFrame:
    """File stream over ``replay_dir``: ``files_per_trigger`` chunk files
    per micro-batch, each parsed as NDJSON with ``schema`` (a StructType
    or DDL string; the Kafka record shape by default)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .json(replay_dir)
    )

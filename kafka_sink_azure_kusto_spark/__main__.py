"""CLI: run the sink from a Kafka-Connect-style properties JSON.

    python -m kafka_sink_azure_kusto_spark --config connector.json \
        [--backend emulator --emulator-root /tmp/kusto_emu] \
        [--source kafka|replay --replay-dir DIR] [--available-now]

The config file is the REFERENCE'S connector JSON (the quickstart's
kusto-sink-connector.json works verbatim); Kafka source options come
from its framework keys (``bootstrap.servers`` via --bootstrap override,
``topics`` / ``topics.regex``).
"""

from __future__ import annotations

import argparse
import json
import sys


def sdk_backend(cfg):
    """The azure-kusto-ingest backend for ``--backend kusto``: AAD auth
    per ``aad.auth.strategy`` (with ``aad.auth.accesstoken`` when given),
    and the proxy.host/proxy.port pair as an HTTP proxy on every SDK
    client (KustoSinkTask.java:311-317)."""
    from kafka_sink_azure_kusto_spark.streaming.backends import KustoSdkBackend

    return KustoSdkBackend(
        ingest_url=cfg.ingest_url,
        query_url=cfg.query_url,
        auth={
            "strategy": cfg.auth_strategy,
            "access_token": cfg.auth_accesstoken,
            "app_id": cfg.auth_appid,
            "app_key": cfg.auth_appkey,
            "authority": cfg.auth_authority,
        },
        proxy_url=f"http://{cfg.proxy_host}:{cfg.proxy_port}" if cfg.proxy_host else None,
    )


def check_kusto_auth(cfg) -> None:
    """Fail fast, before a JVM starts, on auth the SDK backend cannot
    use: a strategy with no SDK mapping, or application auth without a
    token and with an empty appid/appkey/authority (which would defer
    the failure to an opaque AAD error on the first ingest)."""
    from kafka_sink_azure_kusto_spark.config import AuthStrategy, ConfigException
    from kafka_sink_azure_kusto_spark.streaming.backends import kcsb_builder

    kcsb_builder(cfg.auth_strategy, cfg.auth_accesstoken)
    if cfg.auth_strategy is not AuthStrategy.APPLICATION or cfg.auth_accesstoken:
        return
    missing = [
        key
        for key, val in (
            ("aad.auth.appid", cfg.auth_appid),
            ("aad.auth.appkey", cfg.auth_appkey),
            ("aad.auth.authority", cfg.auth_authority),
        )
        if not val
    ]
    if missing:
        raise ConfigException(
            "--backend kusto with application auth needs aad.auth.accesstoken "
            f"or all of appid/appkey/authority; missing config keys: {', '.join(missing)}"
        )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="kafka_sink_azure_kusto_spark")
    ap.add_argument("--config", required=True, help="connector properties JSON file")
    ap.add_argument("--backend", default="emulator", choices=["emulator", "kusto"])
    ap.add_argument("--emulator-root", default="/tmp/kusto_emulator")
    ap.add_argument("--source", default="kafka", choices=["kafka", "replay"])
    ap.add_argument("--replay-dir", help="NDJSON dir for --source replay")
    ap.add_argument("--bootstrap", help="override bootstrap.servers")
    ap.add_argument("--available-now", action="store_true", help="drain then stop")
    ap.add_argument("--master", default="local[*]")
    args = ap.parse_args(argv)

    with open(args.config) as f:
        props = json.load(f)

    from kafka_sink_azure_kusto_spark.config import KustoSinkConfig

    cfg = KustoSinkConfig.from_connect_properties(props)
    if args.backend == "kusto":
        check_kusto_auth(cfg)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(args.master)
        .appName("kafka_sink_azure_kusto_spark")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )

    if args.source == "kafka":
        from kafka_sink_azure_kusto_spark.sources.kafka import kafka_stream

        bootstrap = args.bootstrap or props.get("bootstrap.servers")
        if not bootstrap:
            print("error: --bootstrap or bootstrap.servers required", file=sys.stderr)
            return 2
        stream = kafka_stream(
            spark,
            bootstrap_servers=bootstrap,
            topics=props.get("topics"),
            topics_regex=props.get("topics.regex"),
            starting_offsets=props.get("auto.offset.reset", "latest"),
        )
        # Kafka value arrives as binary; routing needs topic + coordinates,
        # which the kafka source already provides.
    else:
        if not args.replay_dir:
            print("error: --replay-dir required for --source replay", file=sys.stderr)
            return 2
        from kafka_sink_azure_kusto_spark.sources.replay import replay_stream

        stream = replay_stream(spark, args.replay_dir)

    from kafka_sink_azure_kusto_spark.streaming import KustoSparkSink, LocalEmulatorBackend

    if args.backend == "emulator":
        backend = LocalEmulatorBackend(args.emulator_root)
    else:
        backend = sdk_backend(cfg)

    sink = KustoSparkSink(cfg, backend)
    query = sink.attach(stream, available_now=args.available_now)
    try:
        query.awaitTermination()
    except KeyboardInterrupt:
        KustoSparkSink.close(query)
    print(json.dumps(sink.metrics.snapshot()))
    return 0


if __name__ == "__main__":
    sys.exit(main())

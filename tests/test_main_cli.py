"""CLI entrypoint config validation (fail-fast before any JVM start)."""

import json

import pytest

from kafka_sink_azure_kusto_spark.__main__ import main
from kafka_sink_azure_kusto_spark.config import ConfigException


def _write_cfg(tmp_path, extra=None, streaming=False):
    mapping = {"topic": "t", "db": "d", "table": "x", "format": "json", "streaming": streaming}
    props = {
        "kusto.ingestion.url": "https://ingest-c.kusto.windows.net",
        "kusto.tables.topics.mapping": json.dumps([mapping]),
    }
    props.update(extra or {})
    p = tmp_path / "connector.json"
    p.write_text(json.dumps(props))
    return str(p)


@pytest.mark.parametrize("mode", ["queued", "streaming"])
def test_sdk_backends_require_auth_config(tmp_path, mode):
    # ALL aad keys unset: config-level validation passes (auth is optional
    # for the emulator backend), but the SDK backend must not silently
    # receive empty-string credentials, whichever client the mapping
    # selects — fail fast naming every key.
    cfg = _write_cfg(tmp_path, streaming=mode == "streaming")
    with pytest.raises(
        ConfigException,
        match="aad.auth.appid, aad.auth.appkey, aad.auth.authority",
    ):
        main(["--config", cfg, "--backend", "kusto", "--source", "replay",
              "--replay-dir", str(tmp_path)])


def test_plans_cli_lists_and_rejects_unknown(capsys):
    from kafka_sink_azure_kusto_spark.plans.__main__ import main as plans_main

    assert plans_main(["--list"]) == 0
    out = capsys.readouterr().out
    assert "q1_pricing_summary" in out and "segment_dedup" in out
    assert plans_main(["not_a_query"]) == 2

"""Every fixture media operator runs on ``multimodal._map_media``, so a
new one adds a per-row kernel, not another Arrow-batch loop."""

from kafka_sink_azure_kusto_spark.functions import multimodal


def test_multimodal_has_exactly_one_map_in_pandas():
    with open(multimodal.__file__, encoding="utf-8") as f:
        assert f.read().count(".mapInPandas(") == 1

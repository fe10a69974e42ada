"""Exercise the azure-kusto-ingest-backed backend (K1/K2) against a
stub SDK injected into sys.modules — the bodies are otherwise dead code
in CI since the SDK isn't installed. Asserts the ingest properties the
reference builds (KustoSinkTask.java:145-184), the per-mapping client
choice (KustoSinkTask.java:404) and the managed-streaming status
dispositions (TopicPartitionWriter.java:150-176)."""

import dataclasses
import sys
import types

import pytest

from kafka_sink_azure_kusto_spark.streaming.backends import (
    IngestionProperties,
    TransientIngestError,
    streaming_status_accepted,
)


def _install_fake_sdk(monkeypatch, calls, streaming_status="Succeeded"):
    azure = types.ModuleType("azure")
    azure.__path__ = []
    kusto = types.ModuleType("azure.kusto")
    kusto.__path__ = []
    data = types.ModuleType("azure.kusto.data")
    ingest = types.ModuleType("azure.kusto.ingest")

    class KCSB:
        """Records the builder that made it and the builder's arguments."""

        def __init__(self, builder, url, *args):
            self.builder, self.url, self.args = builder, url, args

        @classmethod
        def with_aad_application_key_authentication(cls, url, app_id, app_key, authority):
            return cls("application_key", url, app_id, app_key, authority)

        @classmethod
        def with_aad_application_token_authentication(cls, url, application_token):
            return cls("application_token", url, application_token)

        @classmethod
        def with_aad_user_token_authentication(cls, url, user_token):
            return cls("user_token", url, user_token)

        @classmethod
        def with_aad_managed_service_identity_authentication(cls, url, client_id=None):
            return cls("managed_identity", url, client_id)

        @classmethod
        def with_az_cli_authentication(cls, url):
            return cls("az_cli", url)

    class SdkIngestionProperties:
        def __init__(self, database, table, data_format=None, ingestion_mapping_reference=None):
            self.database = database
            self.table = table
            self.data_format = data_format
            self.ingestion_mapping_reference = ingestion_mapping_reference

    class Result:
        def __init__(self, status):
            self.status = status

    class Client:
        """kcsb and set_proxy recorder shared by the fake SDK clients."""

        proxy = None

        def __init__(self, kcsb):
            self.kcsb = kcsb

        def set_proxy(self, proxy_url):
            self.proxy = proxy_url

    class KustoClient(Client):
        pass

    class QueuedIngestClient(Client):
        def ingest_from_file(self, path, ingestion_properties):
            calls.append(("queued", path, ingestion_properties))
            return Result("Queued")

    class ManagedStreamingIngestClient(Client):
        @classmethod
        def from_engine_kcsb(cls, kcsb):
            return cls(kcsb)

        def ingest_from_file(self, path, ingestion_properties):
            calls.append(("streaming", path, ingestion_properties))
            return Result(streaming_status)

    data.KustoConnectionStringBuilder = KCSB
    data.KustoClient = KustoClient
    ingest.QueuedIngestClient = QueuedIngestClient
    ingest.ManagedStreamingIngestClient = ManagedStreamingIngestClient
    ingest.IngestionProperties = SdkIngestionProperties
    for name, mod in (
        ("azure", azure),
        ("azure.kusto", kusto),
        ("azure.kusto.data", data),
        ("azure.kusto.ingest", ingest),
    ):
        monkeypatch.setitem(sys.modules, name, mod)


PROPS = IngestionProperties(
    database="db1", table="tbl", format="multijson", mapping_reference="Mapping"
)
STREAMED = dataclasses.replace(PROPS, streaming=True)


def _sdk_backend(monkeypatch, calls, streaming_status="Succeeded", **kw):
    _install_fake_sdk(monkeypatch, calls, streaming_status)
    from kafka_sink_azure_kusto_spark.streaming.backends import KustoSdkBackend

    return KustoSdkBackend(ingest_url="https://ingest-c.kusto.windows.net", **kw)


def test_queued_backend_builds_sdk_properties(monkeypatch, tmp_path):
    calls = []
    b = _sdk_backend(
        monkeypatch, calls, auth={"app_id": "a", "app_key": "k", "authority": "t"}
    )
    f = tmp_path / "x.multijson.gz"
    f.write_bytes(b"x")
    result = b.ingest_file(str(f), PROPS)
    assert result.accepted
    kind, path, sdk_props = calls[0]
    assert kind == "queued" and path == str(f)
    # the property set the reference builds (KustoSinkTask.java:145-184)
    assert sdk_props.database == "db1"
    assert sdk_props.table == "tbl"
    assert sdk_props.data_format == "multijson"
    assert sdk_props.ingestion_mapping_reference == "Mapping"
    assert b._client.kcsb.url == "https://ingest-c.kusto.windows.net"
    # no streaming mapping seen ⇒ no streaming client built
    assert b._streaming is None


def test_streaming_backend_engine_url_and_success(monkeypatch, tmp_path):
    calls = []
    b = _sdk_backend(monkeypatch, calls)
    f = tmp_path / "x.multijson.gz"
    f.write_bytes(b"x")
    assert b.ingest_file(str(f), STREAMED).accepted
    assert calls[0][0] == "streaming"
    # engine endpoint derived by stripping the DM prefix
    assert b._streaming_client().kcsb.url == "https://c.kusto.windows.net"


def test_backend_picks_client_per_mapping(monkeypatch, tmp_path):
    # KustoSinkTask.java:404 — one backend, the client chosen by each
    # file's mapping: a plain mapping queues, a streaming one streams
    calls = []
    b = _sdk_backend(monkeypatch, calls)
    f = tmp_path / "x.multijson.gz"
    f.write_bytes(b"x")
    assert b.ingest_file(str(f), PROPS).accepted
    assert b.ingest_file(str(f), STREAMED).accepted
    assert [kind for kind, _, _ in calls] == ["queued", "streaming"]


def test_streaming_backend_failed_status_is_retryable(monkeypatch, tmp_path):
    b = _sdk_backend(monkeypatch, [], streaming_status="Failed")
    f = tmp_path / "x.multijson.gz"
    f.write_bytes(b"x")
    # Failed ⇒ TransientIngestError ⇒ the sink's retry loop replays it
    # (the hasStreamingSucceeded retry-continue, TopicPartitionWriter.java:107-116)
    with pytest.raises(TransientIngestError):
        b.ingest_file(str(f), STREAMED)


@pytest.mark.parametrize("kind", ["queued", "streaming"])
def test_cli_proxy_reaches_ingest_and_query_clients(monkeypatch, kind):
    # proxy.host/proxy.port (C4, KustoSinkTask.java:311-317) become an
    # HTTP proxy on every SDK client the CLI's backend builds: the
    # queued and the streaming ingest client, and the query client
    _install_fake_sdk(monkeypatch, [])
    from kafka_sink_azure_kusto_spark.__main__ import sdk_backend
    from kafka_sink_azure_kusto_spark.config import KustoSinkConfig

    def ingest_client(b):
        return b._client if kind == "queued" else b._streaming_client()

    props = {
        "kusto.ingestion.url": "https://ingest-c.kusto.windows.net",
        "kusto.tables.topics.mapping": '[{"topic":"t","db":"d","table":"x","format":"json"}]',
        "aad.auth.appid": "a",
        "aad.auth.appkey": "k",
        "aad.auth.authority": "t",
    }
    plain = sdk_backend(KustoSinkConfig.from_connect_properties(props))
    assert plain.proxy_url is None and ingest_client(plain).proxy is None
    assert plain._query_client().proxy is None
    props.update({"proxy.host": "proxy.corp", "proxy.port": "3128"})
    b = sdk_backend(KustoSinkConfig.from_connect_properties(props))
    assert ingest_client(b).proxy == "http://proxy.corp:3128"
    assert b._query_client().proxy == "http://proxy.corp:3128"


_APP = {"aad.auth.appid": "a", "aad.auth.appkey": "k", "aad.auth.authority": "t"}


@pytest.mark.parametrize(
    "auth,builder,args",
    [
        ({"aad.auth.strategy": "application", **_APP}, "application_key", ("a", "k", "t")),
        ({"aad.auth.strategy": "application", "aad.auth.accesstoken": "tok"},
         "application_token", ("tok",)),
        ({"aad.auth.strategy": "application", "aad.auth.accesstoken": "tok", **_APP},
         "application_token", ("tok",)),
        ({"aad.auth.strategy": "managed_identity"}, "managed_identity", (None,)),
        ({"aad.auth.strategy": "managed_identity", "aad.auth.appid": "uami"},
         "managed_identity", ("uami",)),
        ({"aad.auth.strategy": "az_dev_token", "aad.auth.accesstoken": "tok"},
         "user_token", ("tok",)),
        ({"aad.auth.strategy": "az_dev_token"}, "az_cli", ()),
    ],
)
def test_cli_backend_builds_each_strategys_connection(monkeypatch, auth, builder, args):
    # aad.auth.strategy picks the connection-string builder of every SDK
    # client (ingest, streaming and query), and a given token is used
    from kafka_sink_azure_kusto_spark.__main__ import check_kusto_auth, sdk_backend
    from kafka_sink_azure_kusto_spark.config import KustoSinkConfig

    _install_fake_sdk(monkeypatch, [])
    props = {
        "kusto.ingestion.url": "https://ingest-c.kusto.windows.net",
        "kusto.tables.topics.mapping": '[{"topic":"t","db":"d","table":"x","format":"json"}]',
        **auth,
    }
    cfg = KustoSinkConfig.from_connect_properties(props)
    check_kusto_auth(cfg)  # the CLI accepts it before starting a JVM
    b = sdk_backend(cfg)
    for client in (b._client, b._streaming_client(), b._query_client()):
        assert (client.kcsb.builder, client.kcsb.args) == (builder, args)


@pytest.mark.parametrize(
    "auth",
    [
        {"aad.auth.strategy": "workload_identity", **_APP},
        {"aad.auth.strategy": "managed_identity", "aad.auth.accesstoken": "tok", **_APP},
    ],
)
def test_strategy_without_sdk_mapping_is_rejected_at_config_time(monkeypatch, auth):
    # never app-key auth in its place: the CLI check and the backend
    # both refuse it before any client is built
    from kafka_sink_azure_kusto_spark.__main__ import check_kusto_auth, sdk_backend
    from kafka_sink_azure_kusto_spark.config import ConfigException, KustoSinkConfig

    calls = []
    _install_fake_sdk(monkeypatch, calls)
    props = {
        "kusto.ingestion.url": "https://ingest-c.kusto.windows.net",
        "kusto.tables.topics.mapping": '[{"topic":"t","db":"d","table":"x","format":"json"}]',
        **auth,
    }
    cfg = KustoSinkConfig.from_connect_properties(props)
    with pytest.raises(ConfigException, match="no azure-kusto-data connection-string builder"):
        check_kusto_auth(cfg)
    with pytest.raises(ConfigException, match="no azure-kusto-data connection-string builder"):
        sdk_backend(cfg)


@pytest.mark.parametrize(
    "status,accepted",
    [
        ("Succeeded", True),
        ("Queued", True),
        ("Pending", True),
        ("Skipped", True),  # final-but-accepted, warned, no DLQ
        ("PartiallySucceeded", True),
        ("Failed", False),
    ],
)
def test_streaming_status_dispositions(status, accepted):
    # hasStreamingSucceeded parity (TopicPartitionWriter.java:150-176)
    assert streaming_status_accepted(status) is accepted


def test_backends_gate_cleanly_without_sdk():
    from kafka_sink_azure_kusto_spark.streaming.backends import KustoSdkBackend

    assert "azure.kusto.ingest" not in sys.modules
    with pytest.raises(NotImplementedError, match="azure-kusto-ingest"):
        KustoSdkBackend(ingest_url="https://ingest-c.kusto.windows.net")


# ---------------------------------------------------------------- V1–V4 probes


class _Resp:
    def __init__(self, rows):
        self.primary_results = [types.SimpleNamespace(rows=rows)]


class StubQueryClient:
    """Engine query-client stub recording the exact KQL issued
    (KustoSinkTask.java:46-50 command texts)."""

    def __init__(
        self,
        table_ok=True,
        mapping_exists=True,
        ingest_allowed=True,
        db_policy=None,
        table_policy='{"IsEnabled": true}',
    ):
        self.calls: list[tuple[str, str, str]] = []  # (method, db, kql)
        self._table_ok = table_ok
        self._mapping_exists = mapping_exists
        self._ingest_allowed = ingest_allowed
        self._db_policy = db_policy
        self._table_policy = table_policy

    def execute_query(self, database, query, properties=None):
        self.calls.append(("query", database, query))
        assert properties is not None  # validate_permissions CRP always sent
        return _Resp([["OK" if self._table_ok else "Error"]])

    def execute_mgmt(self, database, query):
        self.calls.append(("mgmt", database, query))
        if query.startswith(".show database"):
            return _Resp([{"Policy": self._db_policy}])
        if query.startswith(".show table ") and "policy streamingingestion" in query:
            return _Resp([{"Policy": self._table_policy}])
        if "ingestion" in query and "mapping" in query:
            if not self._mapping_exists:
                raise RuntimeError("mapping does not exist")
            return _Resp([["Mapping"]])
        if query.startswith(".show principal access"):
            return _Resp([["p", "x", "y", self._ingest_allowed]])
        raise AssertionError(f"unexpected mgmt: {query}")


def _validating_backend(monkeypatch, stub, **auth_over):
    auth = {"app_id": "app-1", "app_key": "k", "authority": "tenant-1"}
    auth.update(auth_over)
    return _sdk_backend(
        monkeypatch, [], auth=auth, query_client_factory=lambda: stub
    )


STREAMING_PROPS = IngestionProperties(
    database="db1", table="tbl", format="json",
    mapping_reference="Mapping", streaming=True,
)


def test_validate_issues_reference_kql_happy_path(monkeypatch):
    stub = StubQueryClient(db_policy=None)  # no db policy ⇒ table-level V4 probe
    b = _validating_backend(monkeypatch, stub)
    b.validate(STREAMING_PROPS)  # no raise
    assert stub.calls == [
        ("mgmt", "db1", ".show database db1 policy streamingingestion"),
        ("query", "db1", "tbl | count"),
        ("mgmt", "db1", ".show table tbl ingestion json mapping 'Mapping'"),
        (
            "mgmt",
            "db1",
            ".show principal access with (principal = 'aadapp=app-1;tenant-1', "
            "accesstype='ingest',database='db1',table='tbl')",
        ),
        ("mgmt", "db1", ".show table tbl policy streamingingestion"),
    ]


def test_validate_db_level_policy_skips_table_probe(monkeypatch):
    stub = StubQueryClient(db_policy='{"IsEnabled": true}')
    b = _validating_backend(monkeypatch, stub)
    b.validate(STREAMING_PROPS)
    assert (".show table tbl policy streamingingestion" not in
            [c[2] for c in stub.calls])


def test_validate_table_access_failure(monkeypatch):
    from kafka_sink_azure_kusto_spark.streaming.backends import PermanentIngestError

    b = _validating_backend(monkeypatch, StubQueryClient(table_ok=False))
    with pytest.raises(PermanentIngestError, match="Couldn't validate access"):
        b.validate(STREAMING_PROPS)


def test_validate_missing_mapping(monkeypatch):
    from kafka_sink_azure_kusto_spark.streaming.backends import PermanentIngestError

    b = _validating_backend(monkeypatch, StubQueryClient(mapping_exists=False))
    with pytest.raises(PermanentIngestError, match="mapping 'Mapping' not found"):
        b.validate(STREAMING_PROPS)


def test_validate_principal_not_allowed(monkeypatch):
    from kafka_sink_azure_kusto_spark.streaming.backends import PermanentIngestError

    b = _validating_backend(monkeypatch, StubQueryClient(ingest_allowed=False))
    with pytest.raises(PermanentIngestError, match="appropriate permissions"):
        b.validate(STREAMING_PROPS)


def test_validate_streaming_policy_missing(monkeypatch):
    from kafka_sink_azure_kusto_spark.streaming.backends import PermanentIngestError

    b = _validating_backend(
        monkeypatch, StubQueryClient(db_policy=None, table_policy=None)
    )
    with pytest.raises(PermanentIngestError, match="streaming ingestion policy"):
        b.validate(STREAMING_PROPS)


def test_validate_requires_appid_and_authority(monkeypatch):
    from kafka_sink_azure_kusto_spark.config import ConfigException

    b = _validating_backend(monkeypatch, StubQueryClient(), authority="")
    with pytest.raises(ConfigException, match="Authority ID and Application ID"):
        b.validate(STREAMING_PROPS)


def test_validate_json_alias_coalesces_to_json_in_mapping_kql(monkeypatch):
    # isDataFormatAnyTypeOfJson ⇒ 'json' in the mapping probe
    stub = StubQueryClient()
    b = _validating_backend(monkeypatch, stub)
    b.validate(IngestionProperties(database="d", table="t",
                                   format="multijson", mapping_reference="m"))
    assert ("mgmt", "d", ".show table t ingestion json mapping 'm'") in stub.calls

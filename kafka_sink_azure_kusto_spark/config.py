"""Job configuration: topic→table mappings, flush/retry/error policy.

Parity with the reference's config layer:

- ``TopicToTableMapping``   ← TopicToTableMapping.java:7-25 (fields) and
  :90-117 (identifier validation / KQL-injection guard, SURVEY §2.7 V5)
- ``KustoSinkConfig``       ← KustoSinkConfig.java (defaults at :239-260
  flush, :191-211 retry, :487-501 behavior.on.error enum, :437-472 DLQ
  pairing rule — SURVEY §2.7 V7)
- format coalescing json/singlejson/multijson → multijson
  ← KustoSinkTask.java:156-158,186-190 (SURVEY §2.3 E5)
- ingestion-mapping kind inference ← KustoSinkTask.java:163-174 (E6)
- endpoint scheme guard ← KustoEndpointUrlValidator.java:48-95 (V6; the
  cloud-allowlist lookup lives in the Kusto SDK — here we enforce the
  in-repo parts: reject http://, prepend https://).

Everything here is driver-side, plain Python — no Spark dependency — so
the config can be validated before a SparkSession exists, exactly like
the reference validates before any task starts.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from enum import Enum
from typing import Optional

# TopicToTableMapping.java:14-19 — identifier guard (KQL-injection).
_IDENTIFIER_RE = re.compile(r"^[a-zA-Z0-9_.\-]+$")
# format must be purely alphanumeric (TopicToTableMapping.java:104-108).
_FORMAT_RE = re.compile(r"^[a-zA-Z0-9]+$")

# KustoSinkTask.java:156-158 — json/singlejson are ingested as multijson.
_JSON_ALIASES = {"json", "singlejson", "multijson"}

SUPPORTED_FORMATS = {
    "json",
    "singlejson",
    "multijson",
    "avro",
    "apacheavro",
    "csv",
    "tsv",
    "parquet",
    "orc",
}


class ConfigException(ValueError):
    """Raised on invalid configuration (mirror of ConnectException at
    config time, KustoSinkConfig.java:115-122)."""


class AuthStrategy(str, Enum):
    """aad.auth.strategy (KustoSinkConfig.java:503-505)."""

    APPLICATION = "application"
    MANAGED_IDENTITY = "managed_identity"
    AZ_DEV_TOKEN = "az_dev_token"
    WORKLOAD_IDENTITY = "workload_identity"

    @classmethod
    def parse(cls, value: str) -> "AuthStrategy":
        try:
            return cls(value.strip().lower())
        except ValueError:
            raise ConfigException(
                f"aad.auth.strategy must be one of {[m.value for m in cls]}, "
                f"got {value!r}"
            ) from None


class BehaviorOnError(str, Enum):
    """KustoSinkConfig.java:487-501 — what to do when a record/batch fails.

    FAIL   → raise, query dies (default).
    LOG    → log + send to DLQ + continue.
    IGNORE → silently send to DLQ + continue.
    """

    FAIL = "fail"
    LOG = "log"
    IGNORE = "ignore"

    @classmethod
    def parse(cls, value: str) -> "BehaviorOnError":
        try:
            return cls(value.strip().lower())
        except ValueError:
            raise ConfigException(
                f"behavior.on.error must be one of "
                f"{[m.value for m in cls]}, got {value!r}"
            ) from None


def coalesce_format(fmt: str) -> str:
    """E5: json/singlejson/multijson are all staged as NDJSON and ingested
    as MULTIJSON (KustoSinkTask.java:186-190)."""
    f = fmt.strip().lower()
    return "multijson" if f in _JSON_ALIASES else f


def mapping_kind_for_format(fmt: str) -> str:
    """E6: format → ingestion-mapping kind (KustoSinkTask.java:163-174)."""
    f = coalesce_format(fmt)
    if f == "multijson":
        return "JSON"
    if f == "avro":
        return "AVRO"
    if f == "apacheavro":
        return "APACHEAVRO"
    return "CSV"


# V6 — trusted Kusto endpoint DNS suffixes, mirroring the public
# WellKnownKustoEndpoints.json the SDK's KustoTrustedEndpoints reads
# (KustoEndpointUrlValidator.java:48-95 delegates to it; the accepted
# set below reproduces every case in KustoEndpointUrlValidatorTest.java:
# public cloud + MFA + dev, China, US Gov, Synapse, Fabric, PlayFab,
# data.microsoft.com, and the sovereign clouds). Matching is a
# dot-anchored suffix check on the hostname, so substring spoofs like
# kusto.windows.net.evil.com or kusto-fake.windows.net are rejected.
_TRUSTED_ENDPOINT_SUFFIXES = (
    ".kusto.windows.net",
    ".kustomfa.windows.net",
    ".kustodev.windows.net",
    ".kusto.chinacloudapi.cn",
    ".kustomfa.chinacloudapi.cn",
    ".kusto.usgovcloudapi.net",
    ".kustomfa.usgovcloudapi.net",
    ".kusto.azuresynapse.net",
    ".kusto.azuresynapse.azure.cn",
    ".kusto.azuresynapse.usgovcloudapi.net",
    ".kusto.fabric.microsoft.com",
    ".kusto.data.microsoft.com",
    ".playfab.com",
    ".playfabapi.com",
    ".azureplayfab.com",
    ".kusto.core.eaglex.ic.gov",
    ".kusto.core.microsoft.scloud",
    ".kusto.sovcloud-api.fr",
    ".kusto.sovcloud-api.de",
    ".kusto.sovcloud-api.sg",
)


def _sdk_trusted_suffixes() -> tuple:
    """When azure-kusto-data is installed, read the suffix set from its
    bundled WellKnownKustoEndpoints.json (the same source of truth the
    reference's KustoTrustedEndpoints reads) so new clouds don't require
    a code change here. Falls back to the snapshot above. Cached."""
    global _SDK_SUFFIX_CACHE
    if _SDK_SUFFIX_CACHE is not None:
        return _SDK_SUFFIX_CACHE
    suffixes: set = set()
    try:  # gated: the SDK isn't installed in this environment
        import importlib.resources as res
        import json as _json

        data = _json.loads(
            res.files("azure.kusto.data")
            .joinpath("wellKnownKustoEndpoints.json")
            .read_text(encoding="utf-8")
        )
        for login in data.get("AllowedEndpointsByLogin", {}).values():
            for sfx in login.get("AllowedKustoSuffixes", []):
                s = sfx.lower()
                suffixes.add(s if s.startswith(".") else "." + s)
    except Exception:  # noqa: BLE001 — any SDK/resource issue ⇒ snapshot
        suffixes = set()
    _SDK_SUFFIX_CACHE = tuple(sorted(suffixes)) if suffixes else ()
    return _SDK_SUFFIX_CACHE


_SDK_SUFFIX_CACHE = None


def validate_endpoint_url(url: str, extra_suffixes: tuple = ()) -> str:
    """V6: reject plain http://, default scheme to https://, then require
    the hostname to end with a well-known trusted Kusto endpoint suffix
    (KustoEndpointUrlValidator.java:48-95; suffix source of truth is the
    SDK's public WellKnownKustoEndpoints.json, read live when the SDK is
    installed). ``extra_suffixes`` is the opt-in allowlist extension for
    emulator / self-hosted endpoints
    (``kusto.validation.trusted.endpoints.extra``). Prevents SSRF-style
    exfiltration of AAD tokens to attacker-controlled hosts."""
    u = url.strip()
    if not u:
        raise ConfigException("kusto url must be non-empty")
    if u.lower().startswith("http://"):
        raise ConfigException(f"insecure http:// endpoint rejected: {url}")
    if not u.lower().startswith("https://"):
        u = "https://" + u
    from urllib.parse import urlparse

    try:
        host = urlparse(u).hostname
    except ValueError as e:
        raise ConfigException(f"invalid kusto url {url!r}: {e}") from None
    if not host:
        raise ConfigException(f"invalid kusto url {url!r}: no hostname")
    host = host.lower()
    # UNION of the SDK's live list and the hardcoded snapshot: an older
    # SDK whose WellKnownKustoEndpoints.json lacks a suffix present in
    # the snapshot must not start rejecting previously valid endpoints.
    trusted = (
        tuple(dict.fromkeys(_TRUSTED_ENDPOINT_SUFFIXES + _sdk_trusted_suffixes()))
        + tuple(s.lower() if s.startswith(".") else "." + s.lower()
                for s in extra_suffixes)
    )
    if not any(host.endswith(sfx) for sfx in trusted):
        raise ConfigException(
            f"URL {url!r} does not point to a known Azure Data Explorer "
            f"endpoint; the hostname must end with a well-known trusted "
            f"Kusto suffix (WellKnownKustoEndpoints.json) or one listed in "
            f"kusto.validation.trusted.endpoints.extra"
        )
    return u


@dataclass(frozen=True)
class TopicToTableMapping:
    """One entry of ``kusto.tables.topics.mapping``
    (TopicToTableMapping.java:7-25).

    ``topic == "*"`` is the wildcard fallback: any topic with no explicit
    mapping routes here (KustoSinkTask.java:334-340).
    """

    topic: str
    db: str
    table: str
    format: str = "json"
    mapping: Optional[str] = None
    streaming: bool = False

    def __post_init__(self) -> None:
        if not self.topic:
            raise ConfigException("mapping entry missing 'topic'")
        for label, value in (("db", self.db), ("table", self.table)):
            if not value or not _IDENTIFIER_RE.match(value):
                raise ConfigException(
                    f"invalid {label} {value!r} for topic {self.topic!r}: "
                    f"must match {_IDENTIFIER_RE.pattern}"
                )
        if self.mapping is not None and not _IDENTIFIER_RE.match(self.mapping):
            raise ConfigException(
                f"invalid mapping {self.mapping!r} for topic {self.topic!r}"
            )
        fmt = self.format.strip().lower()
        if not _FORMAT_RE.match(fmt):
            raise ConfigException(
                f"invalid format {self.format!r} for topic {self.topic!r}: "
                f"must be alphanumeric"
            )
        if fmt not in SUPPORTED_FORMATS:
            raise ConfigException(
                f"unsupported format {self.format!r} for topic {self.topic!r}; "
                f"supported: {sorted(SUPPORTED_FORMATS)}"
            )
        object.__setattr__(self, "format", fmt)

    @property
    def ingest_format(self) -> str:
        return coalesce_format(self.format)

    @property
    def mapping_kind(self) -> str:
        return mapping_kind_for_format(self.format)

    @property
    def is_wildcard(self) -> bool:
        return self.topic == "*"


def parse_table_mappings(raw: str) -> list[TopicToTableMapping]:
    """Parse the JSON array config value ``kusto.tables.topics.mapping``
    (KustoSinkConfig.java:410-418 / KustoSinkTask.java:145-184)."""
    try:
        entries = json.loads(raw)
    except json.JSONDecodeError as e:
        raise ConfigException(f"kusto.tables.topics.mapping is not valid JSON: {e}")
    if not isinstance(entries, list) or not entries:
        raise ConfigException("kusto.tables.topics.mapping must be a non-empty JSON array")
    out = []
    for entry in entries:
        if not isinstance(entry, dict):
            raise ConfigException(f"mapping entry must be an object, got {entry!r}")
        known = {"topic", "db", "table", "format", "mapping", "streaming"}
        unknown = set(entry) - known
        if unknown:
            raise ConfigException(f"unknown mapping keys {sorted(unknown)} in {entry!r}")
        out.append(TopicToTableMapping(**entry))
    topics = [m.topic for m in out]
    if len(topics) != len(set(topics)):
        raise ConfigException(f"duplicate topics in mapping: {topics}")
    return out


@dataclass
class KustoSinkConfig:
    """Full job config. Defaults mirror KustoSinkConfig.java.

    Required: ``ingest_url`` + ``mappings`` (the reference additionally
    requires auth config; here auth is delegated to the backend).
    """

    ingest_url: str
    mappings: list[TopicToTableMapping]
    query_url: Optional[str] = None

    # B1/B2 — flush thresholds (KustoSinkConfig.java:239-260).
    flush_size_bytes: int = 1024 * 1024
    flush_interval_ms: int = 30_000

    # R2 — retry budget (KustoSinkConfig.java:191-211).
    retry_max_time_ms: int = 300_000
    retry_backoff_time_ms: int = 10_000

    # R4 — error policy (KustoSinkConfig.java:487-501).
    behavior_on_error: BehaviorOnError = BehaviorOnError.FAIL

    # K3 — misc DLQ (KustoSinkConfig.java:437-472): both-or-neither.
    dlq_bootstrap_servers: Optional[str] = None
    dlq_topic_name: Optional[str] = None
    # DLQ producer security/client props — the prefix-stripped
    # ``misc.deadletterqueue.*`` pass-through (security.protocol,
    # sasl.mechanism, ssl.*, …) the reference forwards to its dedicated
    # KafkaProducer (KustoSinkConfig.getDlqProps, :465-472).
    dlq_props: dict = field(default_factory=dict)

    # Streaming job knobs (Spark-side equivalents of Connect worker config).
    checkpoint_location: Optional[str] = None
    staging_dir: str = "/tmp/kusto_sink_staging"
    trigger_interval_ms: Optional[int] = None  # None → derive from flush_interval_ms

    # V1–V4 validation queries at startup (default off, KustoSinkConfig.java:327-336).
    validate_tables: bool = False

    # V6 extension — extra trusted endpoint DNS suffixes (emulator /
    # self-hosted clusters). Opt-in; the well-known-cloud set always applies.
    trusted_endpoint_suffixes_extra: tuple = ()

    # Auth (aad.auth.*, KustoSinkConfig.java:32-60; strategy matrix
    # validated per the reference's config tests).
    auth_strategy: AuthStrategy = AuthStrategy.APPLICATION
    auth_appid: Optional[str] = None
    auth_appkey: Optional[str] = None
    auth_authority: Optional[str] = None
    auth_accesstoken: Optional[str] = None

    # C4 — proxy.host/proxy.port (KustoSinkTask.java:311-317).
    proxy_host: Optional[str] = None
    proxy_port: Optional[int] = None

    extra: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        extra_sfx = tuple(self.trusted_endpoint_suffixes_extra)
        self.ingest_url = validate_endpoint_url(self.ingest_url, extra_sfx)
        if self.query_url is not None:
            self.query_url = validate_endpoint_url(self.query_url, extra_sfx)
        if not self.mappings:
            raise ConfigException("at least one topic→table mapping is required")
        if isinstance(self.behavior_on_error, str):
            self.behavior_on_error = BehaviorOnError.parse(self.behavior_on_error)
        # Value ranges (KustoSinkConfig.java:239-260 minimums).
        if self.flush_size_bytes < 100:
            raise ConfigException("flush.size.bytes must be ≥ 100")
        if self.flush_interval_ms < 0:
            raise ConfigException("flush.interval.ms must be ≥ 0")
        if self.retry_backoff_time_ms <= 0:
            raise ConfigException("errors.retry.backoff.time.ms must be > 0")
        if self.retry_max_time_ms < 0:
            raise ConfigException("errors.retry.max.time.ms must be ≥ 0")
        # DLQ both-or-neither (KustoSinkConfig.java:437-446).
        if (self.dlq_bootstrap_servers is None) != (self.dlq_topic_name is None):
            raise ConfigException(
                "misc DLQ requires BOTH dlq_bootstrap_servers and dlq_topic_name "
                "(or neither)"
            )
        wildcards = [m for m in self.mappings if m.is_wildcard]
        if len(wildcards) > 1:
            raise ConfigException("at most one '*' wildcard mapping allowed")
        if isinstance(self.auth_strategy, str):
            self.auth_strategy = AuthStrategy.parse(self.auth_strategy)
        # Auth matrix (reference: APPLICATION needs appid+appkey+authority
        # unless an access token is supplied; other strategies delegate to
        # the environment/SDK).
        if (
            self.auth_strategy is AuthStrategy.APPLICATION
            and self.auth_accesstoken is None
            and any(
                v is None
                for v in (self.auth_appid, self.auth_appkey, self.auth_authority)
            )
            and any(
                v is not None
                for v in (self.auth_appid, self.auth_appkey, self.auth_authority)
            )
        ):
            raise ConfigException(
                "application auth requires aad.auth.appid, aad.auth.appkey "
                "and aad.auth.authority (or aad.auth.accesstoken)"
            )
        if (self.proxy_host is None) != (self.proxy_port is None):
            raise ConfigException("proxy.host and proxy.port must be set together")

    # R2 — attempts = max_time / backoff (KustoSinkConfig.java:474-477).
    @property
    def max_retry_attempts(self) -> int:
        return max(0, self.retry_max_time_ms // self.retry_backoff_time_ms)

    @property
    def dlq_enabled(self) -> bool:
        return self.dlq_topic_name is not None

    def dlq_producer_props(self) -> dict:
        """The DLQ producer property set, mirroring
        KustoSinkConfig.getDlqProps (KustoSinkConfig.java:465-472): the
        prefix-stripped ``misc.deadletterqueue.*`` pass-through plus
        bootstrap.servers and byte-array serializers. Serializer entries
        keep the reference's class names for config parity; the
        kafka-python producer factory (``streaming.dlq``) drops them, as it
        sends raw bytes already."""
        props = dict(self.dlq_props)
        props["bootstrap.servers"] = self.dlq_bootstrap_servers
        props["key.serializer"] = (
            "org.apache.kafka.common.serialization.ByteArraySerializer"
        )
        props["value.serializer"] = (
            "org.apache.kafka.common.serialization.ByteArraySerializer"
        )
        return props

    @property
    def trigger_processing_time(self) -> str:
        ms = self.trigger_interval_ms
        if ms is None:
            ms = self.flush_interval_ms
        return f"{ms} milliseconds"

    # F3 — topic routing: exact match first, then '*' fallback, else error
    # (KustoSinkTask.java:334-340,400-402).
    def mapping_for_topic(self, topic: str) -> TopicToTableMapping:
        by_topic = {m.topic: m for m in self.mappings}
        if topic in by_topic:
            return by_topic[topic]
        if "*" in by_topic:
            return by_topic["*"]
        raise ConfigException(
            f"no mapping for topic {topic!r} and no '*' wildcard configured"
        )

    @classmethod
    def from_connect_properties(cls, props: dict) -> "KustoSinkConfig":
        """Build from the REFERENCE'S Kafka-Connect property names, so an
        existing connector deployment's JSON config works verbatim
        (property set from KustoSinkConfig.java; quickstart example at
        docker-quickstart/connector-config/kusto-sink-connector.json).

        Connect-framework-owned keys (connector.class, tasks.max,
        topics, key/value.converter, errors.deadletterqueue.*) have no
        sink-side meaning here — ``topics`` is implied by the mapping
        table plus the Kafka source options — and are accepted but
        recorded under ``extra``.
        """
        known = {
            "kusto.ingestion.url",
            "kusto.query.url",
            "kusto.tables.topics.mapping",
            "flush.size.bytes",
            "flush.interval.ms",
            "errors.retry.max.time.ms",
            "errors.retry.backoff.time.ms",
            "behavior.on.error",
            "misc.deadletterqueue.bootstrap.servers",
            "misc.deadletterqueue.topic.name",
            "kusto.validation.table.enable",
            "kusto.validation.trusted.endpoints.extra",
            "aad.auth.strategy",
            "aad.auth.appid",
            "aad.auth.appkey",
            "aad.auth.authority",
            "aad.auth.accesstoken",
            "proxy.host",
            "proxy.port",
            "tempdir.path",
        }
        p = dict(props)
        if "kusto.ingestion.url" not in p:
            raise ConfigException("kusto.ingestion.url is required")
        if "kusto.tables.topics.mapping" not in p:
            raise ConfigException("kusto.tables.topics.mapping is required")

        def as_bool(v) -> bool:
            return str(v).strip().lower() in ("true", "1", "yes")

        kwargs: dict = {
            "ingest_url": p["kusto.ingestion.url"],
            "query_url": p.get("kusto.query.url"),
            "mappings": parse_table_mappings(p["kusto.tables.topics.mapping"]),
        }
        if "flush.size.bytes" in p:
            kwargs["flush_size_bytes"] = int(p["flush.size.bytes"])
        if "flush.interval.ms" in p:
            kwargs["flush_interval_ms"] = int(p["flush.interval.ms"])
        if "errors.retry.max.time.ms" in p:
            kwargs["retry_max_time_ms"] = int(p["errors.retry.max.time.ms"])
        if "errors.retry.backoff.time.ms" in p:
            kwargs["retry_backoff_time_ms"] = int(p["errors.retry.backoff.time.ms"])
        if "behavior.on.error" in p:
            kwargs["behavior_on_error"] = BehaviorOnError.parse(p["behavior.on.error"])
        if "misc.deadletterqueue.bootstrap.servers" in p:
            kwargs["dlq_bootstrap_servers"] = p["misc.deadletterqueue.bootstrap.servers"]
        if "misc.deadletterqueue.topic.name" in p:
            kwargs["dlq_topic_name"] = p["misc.deadletterqueue.topic.name"]
        # DLQ_PROPS_PREFIX pass-through (KustoSinkConfig.java:465-472):
        # every other misc.deadletterqueue.* key, prefix-stripped, feeds
        # the DLQ producer (security.protocol, sasl.*, ssl.* …).
        _dlq_prefix = "misc.deadletterqueue."
        _dlq_owned = {
            "misc.deadletterqueue.bootstrap.servers",
            "misc.deadletterqueue.topic.name",
        }
        dlq_props = {
            k[len(_dlq_prefix):]: v
            for k, v in p.items()
            if k.startswith(_dlq_prefix) and k not in _dlq_owned
        }
        if dlq_props:
            kwargs["dlq_props"] = dlq_props
        if "kusto.validation.table.enable" in p:
            kwargs["validate_tables"] = as_bool(p["kusto.validation.table.enable"])
        if "kusto.validation.trusted.endpoints.extra" in p:
            kwargs["trusted_endpoint_suffixes_extra"] = tuple(
                s.strip()
                for s in str(p["kusto.validation.trusted.endpoints.extra"]).split(",")
                if s.strip()
            )
        if "aad.auth.strategy" in p:
            kwargs["auth_strategy"] = AuthStrategy.parse(p["aad.auth.strategy"])
        for src, dst in (
            ("aad.auth.appid", "auth_appid"),
            ("aad.auth.appkey", "auth_appkey"),
            ("aad.auth.authority", "auth_authority"),
            ("aad.auth.accesstoken", "auth_accesstoken"),
            ("proxy.host", "proxy_host"),
        ):
            if src in p:
                kwargs[dst] = p[src]
        if "proxy.port" in p:
            kwargs["proxy_port"] = int(p["proxy.port"])
        if "tempdir.path" in p:
            kwargs["staging_dir"] = p["tempdir.path"]
        kwargs["extra"] = {
            k: v
            for k, v in p.items()
            if k not in known and not k.startswith(_dlq_prefix)
        }
        return cls(**kwargs)

"""Pluggable ingest backends (SURVEY §2.5 K1–K2, §2.7 V1–V4).

The reference hands rolled files to the Kusto Java SDK
(``IngestClient.ingestFromFile``, TopicPartitionWriter.java:91-148;
clients built in KustoSinkTask.java:309-332). We keep the same seam:
the sink stages gzipped files, a backend ships them.

- ``LocalEmulatorBackend`` — CI/test backend: "ingesting" a staged
  NDJSON/CSV gz file appends its rows to a local parquet-backed table
  and records an ingest-command log (the rebuild test plan's "Kusto
  emulator", SURVEY §5).
- ``KustoSdkBackend`` — thin wrapper over the public
  ``azure-kusto-ingest`` Python SDK that picks the client per mapping:
  queued DM ingestion (K1), or managed streaming with queued fallback
  (K2) for a mapping with ``streaming`` set. The SDK is not installed
  in this environment, so construction raises a clear error unless the
  import succeeds; all logic that can be tested without the SDK
  (property building, error classification) lives outside the import
  guard.
"""

from __future__ import annotations

import gzip
import json
import os
import threading
import time
import uuid
from dataclasses import dataclass, field
from typing import Optional, Protocol

from kafka_sink_azure_kusto_spark.config import (
    AuthStrategy,
    ConfigException,
    mapping_kind_for_format,
)


@dataclass(frozen=True)
class IngestionProperties:
    """db/table/format/mapping handed to the backend per rolled file
    (mirror of IngestionProperties built at KustoSinkTask.java:145-184)."""

    database: str
    table: str
    format: str = "multijson"
    mapping_reference: Optional[str] = None
    streaming: bool = False

    @property
    def mapping_kind(self) -> str:
        return mapping_kind_for_format(self.format)


@dataclass(frozen=True)
class IngestResult:
    """Final ingestion status. The streaming path treats
    Skipped/PartiallySucceeded as final-but-accepted
    (TopicPartitionWriter.java:150-176)."""

    status: str  # Succeeded | Skipped | PartiallySucceeded | Failed
    source_id: str

    @property
    def accepted(self) -> bool:
        return self.status in ("Succeeded", "Skipped", "PartiallySucceeded")


class TransientIngestError(Exception):
    """Service-side error — retry (R3: service errors ⇒ retry)."""


class PermanentIngestError(Exception):
    """isPermanent()==True / client / URI errors — fail fast
    (TopicPartitionWriter.java:130-146)."""


def classify_ingest_error(exc: BaseException) -> bool:
    """R3 — True ⇒ permanent (fail fast, no retry budget burn). Mirrors
    TopicPartitionWriter.java:130-146: KustoDataExceptionBase with
    isPermanent(), client errors, URI errors ⇒ permanent; service errors
    ⇒ transient (retry)."""
    if isinstance(exc, PermanentIngestError):
        return True
    if isinstance(exc, TransientIngestError):
        return False
    if isinstance(exc, FileNotFoundError):
        # A staged file the backend can't see never materializes by
        # retrying — it means staging_dir isn't shared storage (see
        # KustoSparkSink docstring). Fail fast instead of burning the
        # whole retry budget. Trade-off: shared stores with read-after-
        # write lag can transiently 404 — deployments on such storage
        # should pass the sink a backend_factory (executor-side ingest:
        # write+ingest co-located, no cross-node visibility window at all).
        return True
    perm = getattr(exc, "is_permanent", None)
    if callable(perm):
        try:
            return bool(perm())
        except Exception:  # noqa: BLE001
            return False
    return bool(perm) if perm is not None else False


class IngestBackend(Protocol):
    def ingest_file(self, path: str, props: IngestionProperties) -> IngestResult: ...

    def validate(self, props: IngestionProperties) -> None:
        """V1–V4 startup probes (table access / mapping existence /
        principal role / streaming policy)."""


def _read_staged_lines(path: str) -> list[str]:
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt", encoding="utf-8") as f:
        return [line for line in f.read().splitlines() if line]


class LocalEmulatorBackend:
    """File-system Kusto emulator for tests and benches.

    Tables land at ``{root}/{db}/{table}/part-*.ndjson``; every ingest
    command is appended to ``{root}/_ingest_log.jsonl`` with the same
    coordinates the reference logs. Thread-safe: foreachBatch may ingest
    several mappings concurrently.
    """

    def __init__(
        self,
        root: str,
        fail_times: int = 0,
        permanent_fail: bool = False,
        strict_validation: bool = False,
        dedupe_replays: bool = False,
    ):
        self.root = root
        self._lock = threading.Lock()
        # dedupe_replays upgrades at-least-once to effectively-once: the
        # staged file name (kafka_{topic}_{partition}_{offset}) is a
        # deterministic replay key, so an ingest of an already-ingested
        # file is acknowledged as Skipped instead of duplicated. The
        # real Kusto path gets the same property from ingest-by-tag
        # (ingestIfNotExists) — an improvement over the reference, which
        # accepts duplicates on rebalance (KustoSinkTask.java:422-424).
        # The key is one marker file per name under the root, so every
        # emulator over the same root (one per executor-side Python
        # worker) sees the others' ingests.
        self._dedupe_replays = dedupe_replays
        self._marker_dir = os.path.join(root, "_ingested")
        # Test hooks: fail the first N ingests transiently, or always
        # permanently — drives the R2/R3/R4 unit tests.
        self._fail_times = fail_times
        self._permanent_fail = permanent_fail
        # strict_validation emulates a cluster with pre-existing state:
        # tables/mappings/policies must have been declared via the
        # create_* helpers or validate() fails (reference behavior when
        # kusto.validation.table.enable=true).
        self._strict = strict_validation
        os.makedirs(root, exist_ok=True)
        if dedupe_replays:
            os.makedirs(self._marker_dir, exist_ok=True)

    # -- emulated cluster state (the IT's it-table-setup.kql analog) --------
    def create_table(self, db: str, table: str, streaming_policy: bool = False) -> None:
        os.makedirs(os.path.join(self.root, db, table), exist_ok=True)
        if streaming_policy:
            with open(os.path.join(self.root, db, table, "_streaming_policy"), "w"):
                pass

    def create_mapping(self, db: str, table: str, name: str, kind: str) -> None:
        os.makedirs(os.path.join(self.root, db, table), exist_ok=True)
        with open(os.path.join(self.root, db, table, f"_mapping_{name}"), "w") as f:
            f.write(kind)

    # -- V1–V4 -------------------------------------------------------------
    def validate(self, props: IngestionProperties) -> None:
        """Emulated startup probes (KustoSinkTask.java:221-300):
        V1 table access (``<table> | count``), V2 mapping existence,
        V4 streaming-ingestion policy. V3 (principal ingest role) is
        always granted by the emulator. Raises PermanentIngestError with
        the aggregated reason on failure, like validateTableMappings'
        ConnectException."""
        table_dir = os.path.join(self.root, props.database, props.table)
        if not self._strict:
            os.makedirs(table_dir, exist_ok=True)
            return
        errors = []
        if not os.path.isdir(table_dir):  # V1
            errors.append(
                f"Couldn't validate table access: {props.database}.{props.table} missing"
            )
        if props.mapping_reference and not os.path.exists(
            os.path.join(table_dir, f"_mapping_{props.mapping_reference}")
        ):  # V2
            errors.append(
                f"Mapping '{props.mapping_reference}' not found on "
                f"{props.database}.{props.table}"
            )
        if props.streaming and not os.path.exists(
            os.path.join(table_dir, "_streaming_policy")
        ):  # V4
            errors.append(
                f"Streaming ingestion policy not enabled on "
                f"{props.database}.{props.table}"
            )
        if errors:
            raise PermanentIngestError("; ".join(errors))

    # -- K1/K2 -------------------------------------------------------------
    def ingest_file(self, path: str, props: IngestionProperties) -> IngestResult:
        if self._permanent_fail:
            raise PermanentIngestError("emulated permanent failure")
        with self._lock:
            if self._fail_times > 0:
                self._fail_times -= 1
                raise TransientIngestError("emulated transient failure")
        source_id = str(uuid.uuid4())
        table_dir = os.path.join(self.root, props.database, props.table)
        os.makedirs(table_dir, exist_ok=True)
        out = os.path.join(table_dir, f"part-{source_id}.{props.format}")
        if props.format in ("avro", "apacheavro", "parquet", "orc"):
            # Binary container formats: copy verbatim (decompressed) and
            # count records by parsing the container (E2 avro; parquet
            # via pyarrow footer metadata).
            opener = gzip.open if path.endswith(".gz") else open
            with opener(path, "rb") as f:
                blob = f.read()
            try:
                if props.format in ("avro", "apacheavro"):
                    from kafka_sink_azure_kusto_spark.functions.avro_io import (
                        count_container_records,
                    )

                    n_records = count_container_records(blob)
                elif props.format == "orc":
                    import io as _io

                    import pyarrow.orc as _orc

                    n_records = _orc.ORCFile(_io.BytesIO(blob)).nrows
                else:
                    import io as _io

                    import pyarrow.parquet as pq

                    n_records = pq.ParquetFile(_io.BytesIO(blob)).metadata.num_rows
            except Exception:  # noqa: BLE001 — opaque payload (E4 passthrough)
                n_records = 1
        else:
            lines = _read_staged_lines(path)
            blob = ("\n".join(lines) + ("\n" if lines else "")).encode("utf-8")
            n_records = len(lines)
        with self._lock:
            marker = None
            if self._dedupe_replays:
                # O_EXCL claims the name atomically, across processes too
                marker = os.path.join(self._marker_dir, os.path.basename(path))
                try:
                    os.close(os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
                except FileExistsError:
                    return IngestResult(status="Skipped", source_id="replay")
            try:
                with open(out, "wb") as f:
                    f.write(blob)
                self._append_log(path, props, n_records, source_id)
            except BaseException:
                if marker is not None:  # a retry must not be skipped
                    os.remove(marker)
                raise
        return IngestResult(status="Succeeded", source_id=source_id)

    def _append_log(
        self, path: str, props: IngestionProperties, n_records: int, source_id: str
    ) -> None:
        with open(os.path.join(self.root, "_ingest_log.jsonl"), "a") as logf:
            logf.write(
                json.dumps(
                    {
                        "ts": time.time(),
                        "file": os.path.basename(path),
                        "db": props.database,
                        "table": props.table,
                        "format": props.format,
                        "mapping": props.mapping_reference,
                        "streaming": props.streaming,
                        "records": n_records,
                        "source_id": source_id,
                    }
                )
                + "\n"
            )

    # -- test/bench helpers -------------------------------------------------
    def table_files(self, db: str, table: str) -> list[str]:
        """Paths of ingested part files (binary formats read these)."""
        table_dir = os.path.join(self.root, db, table)
        if not os.path.isdir(table_dir):
            return []
        return [
            os.path.join(table_dir, n)
            for n in sorted(os.listdir(table_dir))
            if n.startswith("part-")
        ]

    def table_rows(self, db: str, table: str) -> list[str]:
        """Text rows of the ingested part files (not the table's
        ``_mapping_*``/``_streaming_policy`` markers)."""
        rows: list[str] = []
        for path in self.table_files(db, table):
            with open(path, encoding="utf-8") as f:
                rows.extend(line for line in f.read().splitlines() if line)
        return rows

    def ingest_log(self) -> list[dict]:
        p = os.path.join(self.root, "_ingest_log.jsonl")
        if not os.path.exists(p):
            return []
        with open(p, encoding="utf-8") as f:
            return [json.loads(line) for line in f if line.strip()]


# K2 — streaming-status dispositions (hasStreamingSucceeded,
# TopicPartitionWriter.java:150-176): Succeeded/Queued/Pending are
# success; Skipped/PartiallySucceeded are FINAL-but-accepted (warned, not
# retried, never DLQ'd); Failed is retryable.
_STREAMING_OK = {"succeeded", "success", "queued", "pending"}
_STREAMING_FINAL_WARN = {"skipped", "partiallysucceeded"}


def streaming_status_accepted(status: str) -> bool:
    """True ⇒ the streaming ingest result is final and accepted; False ⇒
    Failed, which the caller retries (TopicPartitionWriter.java:110-116)."""
    s = str(status).replace("_", "").replace(" ", "").lower()
    if s in _STREAMING_OK:
        return True
    if s in _STREAMING_FINAL_WARN:
        import logging

        logging.getLogger(__name__).warning(
            "streaming ingestion finished with final status %s; not retried "
            "and not sent to DLQ (reference parity)",
            status,
        )
        return True
    return False


# aad.auth.strategy, and whether an aad.auth.accesstoken is given → the
# azure-kusto-data ``KustoConnectionStringBuilder`` class method that
# builds the connection string, and its arguments after the URL from the
# backend's ``auth`` dict (the reference's per-strategy switch,
# KustoSinkTask.java:309-332). A given token is the credential.
_KCSB_BUILDERS = {
    (AuthStrategy.APPLICATION, False): (
        "with_aad_application_key_authentication",
        lambda a: (a.get("app_id") or "", a.get("app_key") or "", a.get("authority") or ""),
    ),
    (AuthStrategy.APPLICATION, True): (
        "with_aad_application_token_authentication", lambda a: (a["access_token"],),
    ),
    (AuthStrategy.MANAGED_IDENTITY, False): (
        "with_aad_managed_service_identity_authentication", lambda a: (a.get("app_id"),),
    ),
    (AuthStrategy.AZ_DEV_TOKEN, False): ("with_az_cli_authentication", lambda a: ()),
    (AuthStrategy.AZ_DEV_TOKEN, True): (
        "with_aad_user_token_authentication", lambda a: (a["access_token"],),
    ),
}


def kcsb_builder(strategy, access_token: Optional[str]):
    """``(method name, args from auth)`` for ``strategy`` with or without
    an access token. A combination with no SDK mapping is a
    ``ConfigException``: it never falls back to app-key auth."""
    key = (AuthStrategy.parse(strategy), bool(access_token))
    if key not in _KCSB_BUILDERS:
        raise ConfigException(
            f"aad.auth.strategy {key[0].value!r} {'with' if key[1] else 'without'} "
            "aad.auth.accesstoken has no azure-kusto-data connection-string builder"
        )
    return _KCSB_BUILDERS[key]


@dataclass
class KustoSdkBackend:
    """K1/K2 — ingestion through the public ``azure-kusto-ingest`` SDK,
    client chosen per mapping like KustoSinkTask.java:404: a file whose
    mapping sets ``streaming`` goes through a ``ManagedStreamingIngestClient``
    on the ENGINE endpoint (engine-first with automatic queued fallback
    inside the client), built on first use like the reference builds it
    only when some mapping streams (KustoSinkTask.java:462-463); every
    other file goes through the queued (DM) ``QueuedIngestClient``
    (TopicPartitionWriter.java:106). A Failed streaming status raises
    ``TransientIngestError`` so the sink's retry loop replays it — the
    hasStreamingSucceeded retry continue (TopicPartitionWriter.java:107-116)."""

    ingest_url: str
    query_url: Optional[str] = None
    # ``strategy`` (aad.auth.strategy, default application),
    # ``access_token``, ``app_id``, ``app_key``, ``authority``.
    auth: dict = field(default_factory=dict)
    # C4 — HTTP proxy for Kusto traffic (KustoSinkTask.java:311-317);
    # set on every SDK client this backend builds (ingest and query).
    proxy_url: Optional[str] = None
    # V1–V4 seam: zero-arg callable building the ENGINE query client.
    # Tests inject a stub asserting the exact KQL; production defaults to
    # azure-kusto-data's KustoClient against the engine endpoint.
    query_client_factory: Optional[object] = None

    def __post_init__(self) -> None:
        # an unmapped strategy fails here, before any SDK import
        self._kcsb_builder = kcsb_builder(
            self.auth.get("strategy") or "application", self.auth.get("access_token")
        )
        try:
            from azure.kusto.ingest import QueuedIngestClient
        except ImportError as e:
            raise NotImplementedError(
                "KustoSdkBackend requires the public azure-kusto-ingest "
                "package (not installed in this environment); use "
                "LocalEmulatorBackend for tests"
            ) from e
        self._client = self._proxied(QueuedIngestClient(self._kcsb(self.ingest_url)))
        self._streaming = None
        self._streaming_lock = threading.Lock()

    def _kcsb(self, url: str):
        from azure.kusto.data import KustoConnectionStringBuilder

        method, args = self._kcsb_builder
        return getattr(KustoConnectionStringBuilder, method)(url, *args(self.auth))

    def _proxied(self, client):
        if self.proxy_url:
            client.set_proxy(self.proxy_url)
        return client

    def _streaming_client(self):
        with self._streaming_lock:
            if self._streaming is None:
                from azure.kusto.ingest import ManagedStreamingIngestClient

                self._streaming = self._proxied(
                    ManagedStreamingIngestClient.from_engine_kcsb(
                        self._kcsb(self.engine_url)
                    )
                )
            return self._streaming

    def ingest_file(self, path: str, props: IngestionProperties) -> IngestResult:
        from azure.kusto.ingest import IngestionProperties as SdkProps

        sdk_props = SdkProps(
            database=props.database,
            table=props.table,
            data_format=props.format,
            ingestion_mapping_reference=props.mapping_reference,
        )
        if props.streaming:
            result = self._streaming_client().ingest_from_file(
                path, ingestion_properties=sdk_props
            )
            status = getattr(result, "status", "Succeeded")
            status_name = getattr(status, "name", None) or str(status)
            if not streaming_status_accepted(status_name):
                raise TransientIngestError(
                    f"streaming ingestion returned Failed for {path}"
                )
        else:
            self._client.ingest_from_file(path, ingestion_properties=sdk_props)
        return IngestResult(status="Succeeded", source_id=str(uuid.uuid4()))

    # The four validation probes, verbatim from KustoSinkTask.java:46-50.
    FETCH_TABLE_COMMAND = "{table} | count"
    FETCH_TABLE_MAPPING_COMMAND = ".show table {table} ingestion {format} mapping '{mapping}'"
    FETCH_PRINCIPAL_ROLES_COMMAND = (
        ".show principal access with (principal = '{principal}', "
        "accesstype='ingest',database='{database}',table='{table}')"
    )
    STREAMING_POLICY_SHOW_COMMAND = ".show {entity_type} {entity_name} policy streamingingestion"
    _INGESTION_ALLOWED_INDEX = 3  # KustoSinkTask.java:50

    @property
    def engine_url(self) -> str:
        """Engine (query) endpoint: explicit query_url, else the DM URL
        with its ingest- prefix stripped (KustoSinkTask.java:322-328)."""
        return self.query_url or self.ingest_url.replace(
            "https://ingest-", "https://"
        )

    def _query_client(self):
        client = getattr(self, "_qclient", None)
        if client is None:
            if self.query_client_factory is not None:
                client = self.query_client_factory()
            else:
                try:
                    from azure.kusto.data import KustoClient
                except ImportError as e:
                    raise NotImplementedError(
                        "table validation needs azure-kusto-data (not "
                        "installed); inject query_client_factory or disable "
                        "kusto.validation.table.enable"
                    ) from e
                client = self._proxied(KustoClient(self._kcsb(self.engine_url)))
            self._qclient = client
        return client

    @staticmethod
    def _validate_only_crp():
        """ClientRequestProperties with validate_permissions=true
        (KustoSinkTask.java:55,70) — dict fallback when the SDK's class
        isn't importable (stub-test environments)."""
        try:
            from azure.kusto.data import ClientRequestProperties

            crp = ClientRequestProperties()
            crp.set_option("validate_permissions", True)
            return crp
        except (ImportError, AttributeError):
            return {"validate_permissions": True}

    @staticmethod
    def _first_row(response):
        return list(response.primary_results[0].rows)[0]

    def _streaming_policy_enabled(self, client, entity_type: str,
                                  entity_name: str, database: str) -> bool:
        # isStreamingPolicyEnabled (KustoSinkTask.java:303-308): the
        # Policy column is non-null when a streamingingestion policy is set.
        resp = client.execute_mgmt(
            database,
            self.STREAMING_POLICY_SHOW_COMMAND.format(
                entity_type=entity_type, entity_name=entity_name
            ),
        )
        row = self._first_row(resp)
        try:
            policy = row["Policy"]
        except (TypeError, KeyError):
            policy = row[0]
        return policy is not None

    def validate(self, props: IngestionProperties) -> None:
        """V1–V4 startup probes via the engine query client, mirroring
        validateTableAccess (KustoSinkTask.java:221-300): V1 table access
        (``<table> | count`` with validate_permissions), V2 mapping
        existence, V3 principal ingest role, V4 streaming policy (db
        level first; table level only if db-level is absent). Errors
        aggregate into one PermanentIngestError, like the reference's
        error lists feeding one ConnectException."""
        from kafka_sink_azure_kusto_spark.config import coalesce_format

        client = self._query_client()
        db, table = props.database, props.table
        fmt = (props.format or "").strip().lower()
        # isDataFormatAnyTypeOfJson ⇒ JSON (KustoSinkTask.java:229-231)
        if coalesce_format(fmt) == "multijson":
            fmt = "json"
        errors: list[str] = []
        has_access = False
        should_check_streaming = props.streaming
        if should_check_streaming and self._streaming_policy_enabled(
            client, "database", db, db
        ):
            should_check_streaming = False

        try:  # V1
            resp = client.execute_query(
                db,
                self.FETCH_TABLE_COMMAND.format(table=table),
                self._validate_only_crp(),
            )
            if self._first_row(resp)[0] == "OK":  # VALIDATION_OK
                has_access = True
            else:
                errors.append(
                    f"Couldn't validate access to Database '{db}' Table "
                    f"'{table}': validation query did not return OK"
                )
        except Exception as e:  # noqa: BLE001 — aggregate, don't abort
            errors.append(
                f"Couldn't validate access to Database '{db}' Table "
                f"'{table}', with exception '{e}'"
            )

        if has_access and props.mapping_reference:  # V2
            try:
                client.execute_mgmt(
                    db,
                    self.FETCH_TABLE_MAPPING_COMMAND.format(
                        table=table, format=fmt, mapping=props.mapping_reference
                    ),
                )
            except Exception as e:  # noqa: BLE001
                has_access = False
                errors.append(
                    f"Database:{db} Table:{table} | {fmt} mapping "
                    f"'{props.mapping_reference}' not found, with exception '{e}'"
                )

        if has_access:  # V3
            app_id = self.auth.get("app_id")
            authority = self.auth.get("authority")
            if not app_id or not authority:
                from kafka_sink_azure_kusto_spark.config import ConfigException

                raise ConfigException(
                    "Authority ID and Application ID must be provided to "
                    "validate table accesses."
                )
            query = self.FETCH_PRINCIPAL_ROLES_COMMAND.format(
                principal=f"aadapp={app_id};{authority}", database=db, table=table
            )
            try:
                resp = client.execute_mgmt(db, query)
                allowed = bool(
                    self._first_row(resp)[self._INGESTION_ALLOWED_INDEX]
                )
                if not allowed:
                    errors.append(
                        f"User does not have appropriate permissions to "
                        f"sink data into the Kusto database {db}"
                    )
            except Exception as e:  # noqa: BLE001
                # Reference warns-and-continues on Forbidden (the principal
                # may still be able to ingest); other errors are recorded.
                if "forbidden" not in str(e).lower():
                    errors.append(
                        f"Fetching principal roles using query '{query}' "
                        f"resulted in exception '{e}'"
                    )

        if has_access and should_check_streaming and not self._streaming_policy_enabled(
            client, "table", table, db
        ):  # V4
            errors.append(
                f"Ingestion is configured as streaming, but a streaming "
                f"ingestion policy was not found on either database '{db}' "
                f"or table '{table}'"
            )

        if errors:
            raise PermanentIngestError("; ".join(errors))

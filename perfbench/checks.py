"""Output checks. Each returns a list of human-readable problems; an
operation whose check returns any problem counts as failed.

These functions see only plain Python data, so the benchmark's own
tests can feed them a lost record or a corrupted query result.
"""

from __future__ import annotations

import json
import re
from collections import Counter
from dataclasses import dataclass

# DLQ keys carry the record's own coordinates (reference format).
_DLQ_KEY = re.compile(r"topic=(?P<topic>.*), partition=(?P<partition>\d+), offset=(?P<offset>\d+)\.$")
# CSV lines list the payload fields in alphabetical order.
_CSV_FIELDS = sorted(["rid", "user_id", "kind", "amount", "note"])
_CSV_RID = _CSV_FIELDS.index("rid")


def part_file_rids(path: str, fmt: str) -> list[int]:
    """Record ids in one ingested emulator part file."""
    if fmt == "parquet":
        import pyarrow.parquet as pq

        return pq.read_table(path, columns=["rid"]).column("rid").to_pylist()
    if fmt in ("avro", "apacheavro"):
        from kafka_sink_azure_kusto_spark.functions.avro_io import iter_container_records

        with open(path, "rb") as f:
            return [r["rid"] for r in iter_container_records(f.read())]
    with open(path, encoding="utf-8") as f:
        lines = [ln for ln in f.read().splitlines() if ln]
    if fmt == "csv":
        return [int(ln.split(",")[_CSV_RID]) for ln in lines]
    return [json.loads(ln)["rid"] for ln in lines]


def dlq_coordinates(key: str) -> tuple[str, int, int]:
    m = _DLQ_KEY.search(key)
    if m is None:
        raise ValueError(f"DLQ key without coordinates: {key!r}")
    return m["topic"], int(m["partition"]), int(m["offset"])


@dataclass
class EpochExpectation:
    """What one sink epoch must produce. ``records`` maps each
    non-tombstone record id to (topic, partition, offset, table)."""

    records: dict
    dlq_tables: frozenset = frozenset()


def check_epoch(exp: EpochExpectation, written: dict, dlq_keys: list) -> tuple[list[str], int]:
    """Every non-tombstone record lands exactly once: in its mapped
    table, or (for a table whose ingest fails for good) in the DLQ with
    its own (topic, partition, offset). ``written`` maps table -> list of
    record ids found in that table. Returns (problems, unaccounted)."""
    problems: list[str] = []
    by_coord = {(t, p, o): rid for rid, (t, p, o, _) in exp.records.items()}
    seen: Counter = Counter()
    for table, rids in written.items():
        for rid in rids:
            seen[rid] += 1
            want = exp.records.get(rid)
            if want is None:
                problems.append(f"unexpected record {rid} in {table}")
            elif want[3] != table or table in exp.dlq_tables:
                problems.append(f"record {rid} routed to {table}, expected {want[3]}")
    for key in dlq_keys:
        rid = by_coord.get(dlq_coordinates(key))
        if rid is None:
            problems.append(f"DLQ record with unknown coordinates: {key!r}")
            continue
        seen[rid] += 1
        if exp.records[rid][3] not in exp.dlq_tables:
            problems.append(f"record {rid} of a healthy table reached the DLQ")
    missing = [rid for rid in exp.records if seen[rid] == 0]
    dupes = [rid for rid, n in seen.items() if n > 1]
    if missing:
        problems.append(f"{len(missing)} records lost, e.g. {missing[:3]}")
    if dupes:
        problems.append(f"{len(dupes)} records delivered more than once, e.g. {dupes[:3]}")
    unaccounted = len(exp.records) - sum(min(seen[r], 1) for r in exp.records)
    return problems, unaccounted


def check_stream(expected_rids, ingested_rids) -> tuple[int, int]:
    """Per-record outcome of the open-loop workload: returns (records
    not ingested exactly once, unexpected records)."""
    counts = Counter(ingested_rids)
    bad = sum(1 for rid in expected_rids if counts.get(rid, 0) != 1)
    extra = sum(1 for rid in counts if rid not in expected_rids)
    return bad, extra


def check_query(name: str, spark_pdf, oracle_pdf) -> list[str]:
    """A registry result must equal its DuckDB oracle (the repository's
    own comparison: columns, row count, order-insensitive values)."""
    from tools.oracle_check import compare

    return compare(name, spark_pdf, oracle_pdf)

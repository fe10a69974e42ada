"""The one replay loop of the streaming gates: ``plans.registry.run_replay``
over ``sources.replay.replay_stream`` — its epochs and checkpoint, the
fail-loud drain, a source guard against hand-written copies, and oracle
gates for the ported loops no other test grades."""

from __future__ import annotations

import ast
import json
import os
import pathlib
import sys

import pytest

import kafka_sink_azure_kusto_spark
from kafka_sink_azure_kusto_spark.plans.registry import _drain_stream, run_replay
from kafka_sink_azure_kusto_spark.sources.replay import key_chunks

_PKG = pathlib.Path(kafka_sink_azure_kusto_spark.__file__).parent
_REPO = _PKG.parent


# ------------------------------------------------------------- the loop


def test_run_replay_runs_one_epoch_per_chunk(spark, tmp_path):
    work = str(tmp_path / "work")
    chunks = [[json.dumps({"k": 3 * c + i}) for i in range(3)] for c in range(3)]
    seen: dict[int, list[int]] = {}

    def on_batch(df, epoch_id):
        seen[int(epoch_id)] = sorted(r.k for r in df.collect())

    epochs = run_replay(spark, work, "k long", chunks, on_batch)

    assert epochs == [0, 1, 2]
    assert seen == {0: [0, 1, 2], 1: [3, 4, 5], 2: [6, 7, 8]}
    assert os.path.isdir(os.path.join(work, "chk", "commits"))
    assert sorted(os.listdir(os.path.join(work, "replay"))) == [
        "chunk_000.json", "chunk_001.json", "chunk_002.json",
    ]


def test_key_chunks_splits_one_collect_by_key(spark):
    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(7)] + [(-1, "neg"), (None, "null")],
        "doc_id long, text string",
    )
    chunks = key_chunks(df, "doc_id", ["doc_id", "text"])
    ids = [sorted(json.loads(r)["doc_id"] for r in c) for c in chunks]
    assert ids == [[0, 3, 6], [1, 4], [2, 5]]


class _HungQuery:
    def __init__(self):
        self.stopped = False

    def awaitTermination(self, timeout_s):
        return False

    def stop(self):
        self.stopped = True


def test_drain_stream_stops_and_raises_on_timeout():
    q = _HungQuery()
    with pytest.raises(RuntimeError, match="did not drain within 7s"):
        _drain_stream(q, 7)
    assert q.stopped


# -------------------------------------------------------- source guard


def _sources():
    return {
        p.relative_to(_PKG).as_posix(): p.read_text(encoding="utf-8")
        for p in _PKG.rglob("*.py")
    }


def test_one_file_stream_reader_in_the_package():
    assert sum(s.count("maxFilesPerTrigger") for s in _sources().values()) == 1


def test_foreach_batch_only_in_the_loop_and_the_sink():
    users = {p: s.count(".foreachBatch(") for p, s in _sources().items()}
    assert {p: n for p, n in users.items() if n} == {
        "plans/registry.py": 1,
        "streaming/sink.py": 1,
    }


def test_no_last_epoch_aggregate_in_plans():
    for p, s in _sources().items():
        if p.startswith("plans/"):
            assert 'F.max("epoch")' not in s, p


def test_no_private_imports_from_registry_streaming2():
    bad = []
    for p, s in _sources().items():
        for node in ast.walk(ast.parse(s)):
            if (
                isinstance(node, ast.ImportFrom)
                and (node.module or "").endswith("registry_streaming2")
            ):
                bad += [f"{p}:{a.name}" for a in node.names if a.name.startswith("_")]
    assert bad == []


# ----------------------------------------------- ported gates vs oracles

_UNGATED_PORTS = [
    "streaming_mih_index_maintenance",
    "streaming_pq_index_maintenance",
    "streaming_ivfpq_index_maintenance",
    "streaming_upsert_materialized",
    "streaming_countmin_maintenance",
]


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    if str(_REPO) not in sys.path:
        sys.path.insert(0, str(_REPO))
    from tools.oracle_check import duck_con

    con = duck_con(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", _UNGATED_PORTS)
def test_ported_loop_matches_its_oracle(spark, sf_dir, oracle_con, name):
    from kafka_sink_azure_kusto_spark.plans import registry
    from tools.oracle_check import compare

    got = registry.queries()[name](spark, sf_dir).toPandas()
    want = oracle_con.execute(registry.oracle_sql()[name]).fetchdf()
    assert compare(name, got, want) == []
    assert list(got.columns) == list(want.columns)

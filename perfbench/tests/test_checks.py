"""The benchmark's own tests: its output checks must catch a lost
record, a misrouted or duplicated one, and a wrong query result, so
each of these raises the workload's failed-operation count.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import checks  # noqa: E402

KEY = ("Failed to write record to KustoDB with the following kafka coordinates, "
       "topic={t}, partition={p}, offset={o}.")


def _expectation():
    records = {
        1: ("a", 0, 10, "tbl_a"),
        2: ("a", 1, 11, "tbl_a"),
        3: ("b", 0, 12, "tbl_b"),
        4: ("c", 2, 13, "tbl_c"),
    }
    return checks.EpochExpectation(records, dlq_tables=frozenset({"tbl_c"}))


def _complete():
    return {"tbl_a": [1, 2], "tbl_b": [3]}, [KEY.format(t="c", p=2, o=13)]


def test_complete_epoch_passes():
    written, dlq = _complete()
    assert checks.check_epoch(_expectation(), written, dlq) == ([], 0)


def test_lost_record_fails_the_epoch():
    written, dlq = _complete()
    written["tbl_a"].remove(2)
    problems, unaccounted = checks.check_epoch(_expectation(), written, dlq)
    assert problems and unaccounted == 1


def test_lost_dlq_record_fails_the_epoch():
    written, _ = _complete()
    problems, unaccounted = checks.check_epoch(_expectation(), written, [])
    assert problems and unaccounted == 1


def test_duplicate_and_misrouted_records_fail_the_epoch():
    written, dlq = _complete()
    written["tbl_a"].append(1)
    assert checks.check_epoch(_expectation(), written, dlq)[0]
    written, dlq = _complete()
    written["tbl_b"].append(written["tbl_a"].pop())
    assert checks.check_epoch(_expectation(), written, dlq)[0]


def test_healthy_record_in_dlq_fails_the_epoch():
    written, dlq = _complete()
    written["tbl_b"].remove(3)
    dlq.append(KEY.format(t="b", p=0, o=12))
    assert checks.check_epoch(_expectation(), written, dlq)[0]


def test_stream_counts_lost_and_duplicated_records():
    expected = {1, 2, 3}
    assert checks.check_stream(expected, [1, 2, 3]) == (0, 0)
    assert checks.check_stream(expected, [1, 2]) == (1, 0)
    assert checks.check_stream(expected, [1, 2, 3, 3]) == (1, 0)
    assert checks.check_stream(expected, [1, 2, 3, 9]) == (0, 1)


def test_corrupted_query_result_fails_the_oracle_check():
    oracle = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    assert checks.check_query("q", oracle.sample(frac=1, random_state=0), oracle) == []
    bad = oracle.copy()
    bad.loc[1, "v"] = 9.0
    assert checks.check_query("q", bad, oracle)
    assert checks.check_query("q", oracle.iloc[:2], oracle)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from harness import build_session, stop_session

    s = build_session(2, "perfbench-tests", str(tmp_path_factory.mktemp("spark")))
    yield s
    stop_session(s)


class _LossyEmulator:
    """Emulator that silently drops the first line of every json file."""

    def __init__(self, inner):
        self.inner, self.root = inner, inner.root

    def validate(self, props):
        self.inner.validate(props)

    def ingest_file(self, path, props):
        import gzip

        if props.format == "multijson":
            with gzip.open(path, "rt") as f:
                lines = f.read().splitlines()[1:]
            with gzip.open(path, "wt") as f:
                f.write("\n".join(lines) + "\n")
        return self.inner.ingest_file(path, props)

    def ingest_log(self):
        return self.inner.ingest_log()


@pytest.mark.parametrize("lossy", [False, True])
def test_fanout_epoch_check_catches_a_lost_record(spark, tmp_path, lossy):
    import wl_fanout

    rig = wl_fanout.Rig(spark, str(tmp_path / "rig"), seed=7)
    if lossy:
        rig.backend.inner = _LossyEmulator(rig.emulator)
    path, table = rig.stage_epoch(7, 0, 3000)
    rig.run_epoch(rig.batch(path), 0)
    entries, writes, _ = rig.new_outputs()
    problems, unaccounted = checks.check_epoch(
        rig.expectation(table), rig.written(entries), [k for w in writes for k in w["keys"]]
    )
    assert bool(problems) == lossy
    assert (unaccounted > 0) == lossy


@pytest.mark.parametrize("corrupt", [False, True])
def test_registry_query_check_catches_a_wrong_result(spark, tmp_path, corrupt):
    import datagen
    import wl_registry

    sf_dir = datagen.stage_registry_tables(str(tmp_path / "tables"), seed=3)
    oracles = wl_registry._oracles(sf_dir, ["topic_routing"])
    if corrupt:
        oracles["topic_routing"] = oracles["topic_routing"].iloc[1:]
    rec = wl_registry.Runner(spark, sf_dir, oracles).query("topic_routing", "test")
    assert bool(rec["problems"]) == corrupt

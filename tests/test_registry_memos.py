"""clear_gate_memos is a hand-kept list; this guard fails when a
registry module adds a substrate memo the list forgets."""

import fnmatch
import importlib
import pkgutil

from kafka_sink_azure_kusto_spark import plans
from kafka_sink_azure_kusto_spark.plans.registry import clear_gate_memos


def test_clear_gate_memos_empties_every_registry_memo():
    memos = {}
    for info in pkgutil.iter_modules(plans.__path__):
        if not fnmatch.fnmatch(info.name, "registry*"):
            continue
        mod = importlib.import_module(f"{plans.__name__}.{info.name}")
        for name, value in vars(mod).items():
            if fnmatch.fnmatchcase(name, "_*_MEMO") and isinstance(value, dict):
                memos[f"{info.name}.{name}"] = value
    assert memos, "no registry memos found"
    sentinel = object()
    try:
        for memo in memos.values():
            memo[sentinel] = None
        clear_gate_memos()
        assert [k for k, memo in memos.items() if memo] == []
    finally:
        for memo in memos.values():
            memo.pop(sentinel, None)

"""Every registry gate substrate lives in one keyed cache, so one
``clear_gate_memos()`` call resets them all."""

import fnmatch
import importlib
import pkgutil

from kafka_sink_azure_kusto_spark import plans
from kafka_sink_azure_kusto_spark.plans.registry import clear_gate_memos, substrate


def test_clear_gate_memos_empties_every_registry_memo():
    builds: list[int] = []

    def build():
        builds.append(len(builds))
        return builds[-1]

    assert substrate("probe", ("app", "sf"), build) == 0
    assert substrate("probe", ("app", "sf"), build) == 0  # cached
    clear_gate_memos()
    assert substrate("probe", ("app", "sf"), build) == 1  # rebuilt
    clear_gate_memos()

    # a module-level memo of its own would escape clear_gate_memos and
    # let a timing loop record a cached re-read as the query's wall
    memos = []
    for info in pkgutil.iter_modules(plans.__path__):
        if fnmatch.fnmatch(info.name, "registry*"):
            mod = importlib.import_module(f"{plans.__name__}.{info.name}")
            memos += [
                f"{info.name}.{name}"
                for name, value in vars(mod).items()
                if fnmatch.fnmatchcase(name, "_*_MEMO") and isinstance(value, dict)
            ]
    assert memos == []

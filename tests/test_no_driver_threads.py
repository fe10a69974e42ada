"""Registry queries and the functions they call submit their Spark jobs
one after another from the calling thread: no module under ``plans/``
or ``functions/`` starts threads of its own."""

import ast
import pkgutil

from kafka_sink_azure_kusto_spark import functions, plans

_THREAD_MODULES = {"concurrent", "threading"}


def _imported_roots(path: str) -> set[str]:
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    roots = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            roots |= {alias.name.split(".")[0] for alias in node.names}
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            roots.add(node.module.split(".")[0])
    return roots


def test_plans_and_functions_import_no_thread_modules():
    offenders = []
    for pkg in (plans, functions):
        for info in pkgutil.iter_modules(pkg.__path__):
            origin = info.module_finder.find_spec(info.name).origin
            hits = _imported_roots(origin) & _THREAD_MODULES
            offenders += [f"{pkg.__name__}.{info.name}: {m}" for m in sorted(hits)]
    assert offenders == []

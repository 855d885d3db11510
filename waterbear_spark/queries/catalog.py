"""Unified query registry: every implemented operator from SURVEY.md §2
-> (Spark callable, DuckDB oracle SQL). ``__spark_entry__.py`` re-exports
this for the driver harness.

The registry is every module of this package that defines ``QUERIES``
(with its ``ORACLES``), plus ``functions.udfs``: the pandas_* queries
that intentionally exercise the Arrow/pandas UDF surface. Everything
else stays UDF-free by policy EXCEPT the documented per-bucket BLAS
family (embedding_knn_label, dedup_embedding_cosine, semdedup_cells,
knn_hubness_audit): bounded-bucket cosine scoring is the one shape where
an Arrow-batched matmul beats Catalyst folds ~8-15x (see SCALE.md).
"""

from __future__ import annotations

import importlib
import pkgutil
from types import ModuleType

import waterbear_spark.queries as _package
from waterbear_spark.functions import udfs


def _query_modules() -> list[ModuleType]:
    modules = []
    for info in pkgutil.iter_modules(_package.__path__, f"{_package.__name__}."):
        if info.name == __name__:
            continue
        module = importlib.import_module(info.name)
        if hasattr(module, "QUERIES"):
            modules.append(module)
    return modules + [udfs]


def _merge(modules: list[ModuleType]) -> tuple[dict, dict]:
    """One ``(QUERIES, ORACLE_SQL)`` pair from the modules' ``QUERIES`` /
    ``ORACLES`` dicts; a name that two modules define is an error."""
    queries: dict = {}
    oracles: dict = {}
    for module in modules:
        for merged, part in ((queries, module.QUERIES), (oracles, module.ORACLES)):
            clash = merged.keys() & part.keys()
            if clash:
                raise ValueError(f"{module.__name__} redefines {sorted(clash)}")
            merged.update(part)
    return queries, oracles


QUERIES, ORACLE_SQL = _merge(_query_modules())

# every oracle key must have a query twin (the reverse may lag for
# non-SQL-expressible ops, which get rows-only checks)
assert set(ORACLE_SQL) <= set(QUERIES), "oracle without query"

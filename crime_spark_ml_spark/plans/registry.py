"""Named-query registry: the engine's public query surface.

Every implemented operator from SURVEY.md §2 registers here as a named
plan: a Spark builder ``fn(spark, sf_dir) -> DataFrame`` plus, where
the semantics are SQL-expressible, an equivalent ANSI-SQL string a
DuckDB oracle can run on the same parquet tables (driver contract in
``__spark_entry__.py``). Non-SQL-expressible plans (ML training, LSH
candidate generation, streaming transport) register with
``oracle=None`` and get rows-only checks.

Column names are part of the contract: the oracle compare sorts
columns by name before hashing, so every computed column is aliased
identically in the Spark plan and the SQL.
"""

from __future__ import annotations

import importlib
from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: Optional[str]
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}

# plan modules; importing them populates the registry
_PLAN_MODULES = (
    "crime_spark_ml_spark.plans.crime_queries",
    "crime_spark_ml_spark.plans.joins",
    "crime_spark_ml_spark.plans.windows",
    "crime_spark_ml_spark.plans.events",
    "crime_spark_ml_spark.plans.datapipe",
    "crime_spark_ml_spark.plans.mlplans",
    "crime_spark_ml_spark.plans.streamplans",
    "crime_spark_ml_spark.plans.functions_suite",
    "crime_spark_ml_spark.plans.sql_surface",
)


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tuple(tags))
        return fn

    return deco


def load_all_plans() -> dict[str, QuerySpec]:
    for mod in _PLAN_MODULES:
        importlib.import_module(mod)
    return dict(_REGISTRY)


def all_queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in load_all_plans().items()}


def all_oracles() -> dict[str, str]:
    return {name: spec.oracle for name, spec in load_all_plans().items() if spec.oracle is not None}

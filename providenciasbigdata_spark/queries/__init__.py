"""Declared query registry.

Each module exports ``QUERIES: dict[name, (fn, oracle_sql | None)]``
where ``fn(spark, sf_dir) -> DataFrame`` and ``oracle_sql`` is the
DuckDB-runnable ANSI SQL equivalent (None => non-SQL-expressible op;
the driver records a weaker rows-only check).

Naming contract (driver hash compare): every computed column is aliased
to the SAME name in the Spark code and the oracle SQL; float outputs
are rounded identically on both sides; integer outputs are cast to
BIGINT on both sides (Spark ``long`` == DuckDB ``BIGINT``) so pandas
dtypes agree.
"""

from __future__ import annotations

from providenciasbigdata_spark.queries import (
    compat_queries,
    extended,
    geo_queries,
    graph_ext,
    modern,
    multimodal_queries,
    pipeline,
    relational,
    relational_ext,
    sql_queries,
    streaming_queries,
    timeseries,
    training_ext,
)


_MODULES = (
    compat_queries,
    geo_queries,
    relational,
    relational_ext,
    pipeline,
    streaming_queries,
    sql_queries,
    multimodal_queries,
    extended,
    graph_ext,
    timeseries,
    training_ext,
    modern,
)


def all_queries():
    """Merge every module's QUERIES in ``_MODULES`` order; a name
    declared by two modules is a ``ValueError``."""
    merged = {}
    for mod in _MODULES:
        overlap = merged.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        merged.update(mod.QUERIES)
    return merged


def why_no_oracle():
    """name -> machine-readable reason for every rows-only registry
    entry (no DuckDB oracle SQL): distinguishes "approximation or
    non-SQL-expressible op, property-tested in pytest" from "not yet
    verified". Kept exhaustive by tests/test_registry.py."""
    merged = {}
    for mod in _MODULES:
        merged.update(getattr(mod, "WHY_NO_ORACLE", {}))
    return merged

"""Named workload queries + DuckDB oracle SQL.

Each query is registered as ``name -> (spark_fn, oracle_sql | None)`` where
``spark_fn(spark, sf_dir) -> DataFrame`` and the oracle is equivalent ANSI
SQL DuckDB runs over the same parquet tables (driver contract in
``__spark_entry__.py``).

Output discipline (the driver hashes values order-insensitively after
sorting columns by name):
- identical column names on both sides (alias everything);
- no raw timestamps in outputs — format to strings;
- no unrounded float aggregates — round explicitly on both sides;
- every top-k ordering carries a unique tie-break key.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every workload module so REGISTRY is fully populated.

    REGISTRY keeps registration order (the order ``queries()`` hands the
    driver), except that oracle-less rows-only queries sort after every
    oracle-backed one: the driver samples a prefix, and a rows-only name
    there could only report ``err:no_oracle``."""
    from . import mobility  # noqa: F401
    from . import tpch  # noqa: F401
    from . import text  # noqa: F401
    from . import vectors  # noqa: F401
    from . import multimodal  # noqa: F401
    from . import extended  # noqa: F401
    from . import temporal  # noqa: F401
    from . import pings  # noqa: F401
    from . import cdc  # noqa: F401
    from . import analytics9  # noqa: F401
    from . import analytics10  # noqa: F401
    from . import analytics11  # noqa: F401
    from . import analytics12  # noqa: F401
    from . import analytics13  # noqa: F401
    from . import analytics14  # noqa: F401
    from . import analytics15  # noqa: F401
    from . import analytics16  # noqa: F401
    from . import analytics17  # noqa: F401

    ordered = {n: REGISTRY[n] for n in sorted(REGISTRY, key=lambda n: n not in ORACLES)}
    REGISTRY.clear()
    REGISTRY.update(ordered)

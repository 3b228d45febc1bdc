"""Central query registry — the contract with the driver's oracle gate.

Every operator the engine claims (SURVEY.md §2.3) registers here as

    @query("name", oracle="SELECT ... ")    # DuckDB-checkable
    def q(spark, sf_dir) -> DataFrame: ...

or with ``oracle=None`` for genuinely non-SQL-expressible ops (the driver then
records a weaker rows-only check). ``__spark_entry__.queries()`` /
``oracle_sql()`` are thin views over these dicts.

Determinism rules (so the driver's order-insensitive value hash matches):
- every computed column is aliased identically in Spark and SQL;
- aggregated doubles go through exact DECIMAL(18,6) arithmetic and are cast
  back to DOUBLE (float summation order differs between engines otherwise);
  the registered oracle text has each such cast rewritten by
  ``operators._util.oracle_dec6``, so DuckDB rounds a double to 6 decimals
  exactly as Spark does;
- LIMIT/top-k queries always carry a total order with a unique tie-break key;
- string casts use try_cast on both sides (NULL-on-garbage, SURVEY §2.1 R7).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query and (optionally) its DuckDB oracle SQL."""
    from kstreams_spark.operators._util import oracle_dec6

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle_dec6(oracle)
        return fn

    return deco


def load_all() -> None:
    """Import every operator module so registrations run."""
    import kstreams_spark.operators  # noqa: F401  (imports submodules)

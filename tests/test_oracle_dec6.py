"""Oracle-side DECIMAL(18,6) rounding: every registered DuckDB oracle casts
doubles to DECIMAL(18,6) through operators._util.oracle_dec6, which rounds
each double exactly as Spark's CAST(x AS DECIMAL(18,6)) does. DuckDB's
direct cast rounds some doubles within an ulp of a half-millionth the
other way (0.6638124999999999 from a composite_curation_neardup quality
score: Spark 0.663812, DuckDB 0.663813), which made that query's
avg_quality differ from its oracle by 1e-6 on some seeds."""

from __future__ import annotations

import re

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from kstreams_spark import registry
from kstreams_spark.operators._util import DEC6_SQL, oracle_dec6

SPARK_CAST = "CAST(CAST(x AS DECIMAL(18,6)) AS STRING)"


def _duck_cast(expr: str) -> str:
    return f"CAST({oracle_dec6(f'CAST({expr} AS DECIMAL(18,6))')} AS VARCHAR)"


def _doubles() -> np.ndarray:
    rng = np.random.default_rng(11)
    half = np.concatenate(
        [
            (rng.integers(0, hi, 400).astype(np.float64) + 0.5) / 1e6
            for hi in (10**6, 10**9, 10**12, 10**17)
        ]
    )
    edges = np.concatenate(
        [half, np.nextafter(half, np.inf), np.nextafter(half, -np.inf)]
    )
    tiny = 10.0 ** rng.uniform(-300, -6, 400)
    fixed = np.array([0.6638124999999999, 5e-7, 1.5e-6, 0.0, 5e-324])
    x = np.concatenate([edges, tiny, fixed])
    x = x[np.abs(x) < 999_999_999_999.0]
    return np.concatenate([x, -x])


def test_pinned_double_rounds_like_spark(spark):
    x = 0.6638124999999999
    got = spark.sql(f"SELECT CAST(CAST({x!r}D AS DECIMAL(18,6)) AS STRING)")
    assert got.first()[0] == "0.663812"
    con = duckdb.connect()
    try:
        q = f"SELECT {_duck_cast(f'CAST({x!r} AS DOUBLE)')}"
        assert con.execute(q).fetchone()[0] == "0.663812"
        direct = f"SELECT CAST(CAST({x!r} AS DOUBLE) AS DECIMAL(18,6))::VARCHAR"
        assert con.execute(direct).fetchone()[0] == "0.663813"  # the defect
    finally:
        con.close()


def test_oracle_cast_matches_spark_cast(spark, tmp_path):
    x = _doubles()
    path = str(tmp_path / "x.parquet")
    pq.write_table(pa.table({"i": np.arange(len(x)), "x": x}), path)
    want = dict(
        spark.read.parquet(path).selectExpr("i", f"{SPARK_CAST} AS d").collect()
    )
    con = duckdb.connect()
    try:
        got = dict(con.execute(f"SELECT i, {_duck_cast('x')} FROM '{path}'").fetchall())
    finally:
        con.close()
    bad = [(float(x[i]), got[i], want[i]) for i in want if got[i] != want[i]]
    assert not bad, bad[:5]


def test_rewrite_keeps_nested_expressions_whole():
    sql = (
        "SELECT CAST(SUM(CAST(a * (1 - b) AS DECIMAL(18,6))) AS DOUBLE), "
        "CAST(0 AS DECIMAL(18, 6)), CAST(c AS DECIMAL(18,2)) FROM t"
    )
    assert oracle_dec6(sql) == (
        "SELECT CAST(SUM("
        + DEC6_SQL.format(x="a * (1 - b)")
        + ") AS DOUBLE), "
        + DEC6_SQL.format(x="0")
        + ", CAST(c AS DECIMAL(18,2)) FROM t"
    )


def test_every_registered_oracle_cast_is_rewritten():
    registry.load_all()
    plain = re.compile(r"AS\s+DECIMAL\(18,\s*6\)\)", re.IGNORECASE)
    wrapped = "AS DECIMAL(38,26)), 6) AS DECIMAL(18,6))"
    n = 0
    for name, sql in registry.ORACLES.items():
        assert len(plain.findall(sql)) == sql.count(wrapped), name
        n += sql.count(wrapped)
    assert n > 50

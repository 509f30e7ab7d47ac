"""Oracle output-type lint — kills the HUGEINT class of driver mismatch.

The driver's value hash is TYPE-sensitive. DuckDB types an un-cast integer
``SUM`` (including ``SUM(CASE WHEN … THEN 1 ELSE 0 END)``) as HUGEINT
(int128), a type Spark can never emit — so even value-identical results
hash-mismatch (round-4 incident: ``SQL17_tpch_q12``). The repo convention
is ``CAST(SUM(…) AS BIGINT)`` on every integer sum in every oracle; this
test executes all 209 oracles in DuckDB at sf0.001 and fails on ANY
hugeint-typed output column, so the whole bug class is dead, not just the
one instance.

Runs DuckDB only (no Spark) — fast enough to live in the default suite.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from test_dataengineer2026_spark import registry, tables

SF_DIR = os.environ.get("LINT_SF_DIR", "/root/testdata/sf0.001")

FORBIDDEN_TYPES = {"HUGEINT", "UHUGEINT"}


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in tables.TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield c
    c.close()


def test_no_hugeint_oracle_columns(con):
    oracles = registry.oracle_sql()
    assert len(oracles) >= 209
    bad: list[str] = []
    for name, sql in oracles.items():
        try:
            rel = con.sql(sql)
            coltypes = list(zip(rel.columns, (str(t) for t in rel.types)))
        except Exception as e:  # noqa: BLE001 — an un-runnable oracle is itself a failure
            bad.append(f"{name}: ORACLE ERROR {type(e).__name__}: {str(e)[:200]}")
            continue
        for col, typ in coltypes:
            if typ.upper() in FORBIDDEN_TYPES:
                bad.append(
                    f"{name}: column {col!r} is {typ} — wrap the integer "
                    f"SUM in CAST(… AS BIGINT) in the oracle SQL"
                )
    assert not bad, "hugeint-typed oracle columns (driver hash would mismatch):\n" + "\n".join(bad)


def test_integer_overflow_semantics_cross_engine(spark):
    """The overflow divergence class the oracle layer must design
    around (probed 2026-08). The engine runs ANSI OFF by session
    policy (session.py: permissive casts to match DuckDB TRY_CAST
    usage), which makes integer overflow the WORST kind of divergence:

    - Spark (ANSI off, this repo's operating point): BIGINT add and
      SUM overflow WRAP AROUND silently — two's-complement garbage,
      no error;
    - Spark (ANSI on): both raise ARITHMETIC_OVERFLOW; try_sum/try_add
      return NULL;
    - DuckDB: scalar add overflow raises Out of Range, but SUM(BIGINT)
      silently PROMOTES its accumulator to HUGEINT and returns the
      mathematically-right answer.

    So an overflowing integer SUM is a silently-WRONG Spark answer vs
    a silently-RIGHT oracle answer — unhashably divergent with no
    error anywhere. The repo's rule is therefore that integer SUMs
    must be range-safe by data design (float SUMs already go through
    determinism.dsum's DECIMAL path). This pin freezes all three
    behaviors so an engine upgrade that shifts any of them is a named
    failure, not a mystery mismatch."""
    import duckdb
    import pytest
    from pyspark.sql import functions as F

    big = 9223372036854775807
    wrapped = -9223372036854775808
    df = spark.createDataFrame([(big,), (1,)], "v long")

    # the repo's operating point: ANSI off -> silent wraparound
    assert spark.conf.get("spark.sql.ansi.enabled") == "false"
    assert df.agg(F.sum("v")).collect()[0][0] == wrapped
    assert (
        spark.createDataFrame([(big,)], "v long")
        .selectExpr("v + 1 AS w")
        .collect()[0]["w"]
        == wrapped
    )

    # ANSI on: loud, and the try_ escape hatches return NULL
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
            df.agg(F.sum("v")).collect()
        assert df.agg(F.try_sum("v")).collect()[0][0] is None
        with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
            spark.createDataFrame([(big,)], "v long").selectExpr(
                "v + 1"
            ).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")

    # DuckDB: SUM promotes silently (right answer, HUGEINT type);
    # scalar add is loud
    con = duckdb.connect()
    val, typ = con.execute(
        f"SELECT SUM(v), typeof(SUM(v)) FROM (VALUES ({big}), (1)) t(v)"
    ).fetchone()
    assert (int(val), typ) == (big + 1, "HUGEINT")
    with pytest.raises(duckdb.Error, match="[Oo]ut of [Rr]ange"):
        con.execute(f"SELECT ({big}::BIGINT) + (1::BIGINT)").fetchone()


def test_v12_restores_ansi_and_timezone_contract(spark):
    """r17 verdict #7: pyspark.pandas (V12) requires ANSI off and
    speaks timestamp_ntz for dates — a future driver window that
    schedules V12 immediately before an ANSI-sensitive SQL query must
    not inherit drifted session state. The contract is that EVERY
    registered query runs under apply_runtime_confs (``registry.register``
    wraps it), so V12 itself must leave the session on the RUNTIME_CONFS
    settings (ANSI off, UTC) even when it starts from a sabotaged
    session."""
    from test_dataengineer2026_spark.registry import queries

    spark.conf.set("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        rows = queries()["V12_pandas_api_parity"](spark, SF_DIR).collect()
        assert rows  # the query itself ran under the sabotage
        assert spark.conf.get("spark.sql.ansi.enabled") == "false"
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        # and the permissive-cast semantics the oracles assume are back
        assert spark.sql("SELECT CAST('x' AS INT)").first()[0] is None
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        spark.conf.set("spark.sql.session.timeZone", "UTC")

"""Every registered query passes ``oracle.check`` on the smoke-scale
data: the DuckDB hash compare when it has oracle SQL, its stated
contract otherwise (the driver repeats the hash compare at sf0.01 and
checks contract queries on rows only)."""

from __future__ import annotations

import pytest

import __spark_entry__
from real_time_stream_processing_engine_spark.queries import ORACLE, QUERIES

from .oracle import CONTRACTS, check, duck_connection


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duck_connection(sf_dir)
    yield c
    c.close()


def _verdict(spark, sf_dir, con, name) -> dict:
    return check(name, QUERIES[name](spark, sf_dir), con)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_dir, con, name):
    result = _verdict(spark, sf_dir, con, name)
    assert result["ok"], result


def test_every_query_has_exactly_one_check():
    """A query with neither oracle SQL nor a contract fails here, so no
    query can pass on row count alone."""
    assert not set(ORACLE) & set(CONTRACTS)
    assert set(ORACLE) | set(CONTRACTS) == set(QUERIES)


def _perturbed(df):
    """``df`` with the last numeric value of its first row moved by 10**6."""
    spark = df.sparkSession
    rows = [list(r) for r in df.collect()]
    i = max(
        j for j, f in enumerate(df.schema.fields)
        if f.dataType.typeName() in ("long", "integer", "double")
    )
    rows[0][i] += 10**6
    return spark.createDataFrame(rows, df.schema)


@pytest.mark.parametrize("name", sorted(CONTRACTS))
def test_contract_fails_wrong_output(spark, sf_dir, con, monkeypatch, name):
    """A builder that returns no rows, or one wrong row, fails the check
    ``test_query_matches_oracle`` runs."""
    real = QUERIES[name](spark, sf_dir)
    for wrong in (real.limit(0), _perturbed(real)):
        monkeypatch.setitem(QUERIES, name, lambda spark, sf_dir, wrong=wrong: wrong)
        result = _verdict(spark, sf_dir, con, name)
        assert not result["ok"], result


def test_driver_surface(spark):
    """The driver calls ``entry(spark)`` and expects rows, and reads
    ``oracle_sql()`` by the names ``queries()`` gives."""
    assert __spark_entry__.entry(spark).count() > 0
    assert set(__spark_entry__.oracle_sql()) <= set(__spark_entry__.queries())

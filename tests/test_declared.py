"""Every declared query runs at sf0.001 and matches its DuckDB oracle.

This is a fast local twin of the driver's sf0.01 correctness gate.
"""

from __future__ import annotations

import os
import pathlib

import duckdb
import pytest

from beis_orp_data_service_spark import declared
from beis_orp_data_service_spark.catalog import TABLES, table_path
from scripts.check_oracle import compare
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = table_path(SF_SMOKE, t)
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


@pytest.mark.parametrize("name", sorted(declared.REGISTRY))
def test_declared_query_matches_oracle(spark, duck, name, monkeypatch):
    # go through oracle_sql() (not qd.sql) so call-time substitutions —
    # the file-inventory __SCAN_DIR__ glob — point at the test's sf dir
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", SF_SMOKE)
    qd = declared.REGISTRY[name]
    spark_pdf = qd.fn(spark, SF_SMOKE).toPandas()
    if qd.sql is None:
        assert len(spark_pdf) >= 0
        return
    duck_pdf = duck.sql(declared.oracle_sql()[name]).df()
    problems = compare(name, spark_pdf, duck_pdf)
    assert not problems, problems


def test_rows_only_entries_pin_a_floor():
    """Registry contract: every sql=None (rows-only) entry MUST pin a
    positive min_rows — a rows-only check with no floor cannot tell
    'working' from 'broken join returning nothing', so an unfloored
    entry is a vacuous gate, not a weaker one."""
    bad = [
        name
        for name, qd in declared.REGISTRY.items()
        if qd.sql is None and qd.min_rows <= 0
    ]
    assert not bad, f"rows-only queries without a min_rows floor: {bad}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"doc_id", "source", "n_chars", "n_docs_in_source"}


class TestFixturePathIsolation:
    """The base and .alt oracle gates both
    have basename 'sf0.01' — their on-disk fixture roots must differ so
    concurrent gate runs cannot clobber each other's indexes/streams."""

    def test_distinct_dirs_for_same_basename(self):
        from beis_orp_data_service_spark.declared import _fixture_path

        a = _fixture_path("lsh_index", "/root/testdata/sf0.01")
        b = _fixture_path(
            "lsh_index",
            str(pathlib.Path(__file__).resolve().parents[1] / ".alt" / "sf0.01"),
        )
        assert a != b
        assert "sf0.01" in a and "sf0.01" in b  # still human-readable

    def test_stable_per_dataset(self):
        from beis_orp_data_service_spark.declared import _fixture_path

        assert _fixture_path("ivf_index", "/root/testdata/sf0.01") == \
            _fixture_path("ivf_index", "/root/testdata/sf0.01")
        # trailing slash / normpath must not change the key
        assert _fixture_path("ivf_index", "/root/testdata/sf0.01/") == \
            _fixture_path("ivf_index", "/root/testdata/sf0.01")

    def test_stream_fixtures_are_process_unique(self):
        import os

        from beis_orp_data_service_spark.declared import _fixture_path

        p = _fixture_path("stream_ingest", "/root/testdata/sf0.01",
                          per_process=True)
        assert f"_p{os.getpid()}" in p

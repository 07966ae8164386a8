"""Every oracle-backed query must match DuckDB exactly (driver replica).

Runs at sf0.001 for speed; the driver runs the same comparison at
sf0.01 — pre-check that exact scale with
``SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 pytest tests/test_oracle_parity.py``.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.oracle_harness import compare, duck_connection

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


def test_registry_shape():
    assert len(QUERIES) >= 40, f"operator surface too small: {len(QUERIES)}"
    # every registered query is oracle-checked; none is rows-only
    assert set(ORACLES) == set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_no_complex_top_level_columns(name, spark, sf_dir):
    """The driver's canonicalizer pandas-sorts every column and crashes
    on unhashable cells (r03 text_extract_entities: ArrayType emails).
    No oracle-checked query may emit ArrayType/MapType/StructType at
    the top level — array_join to a scalar instead."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    df = QUERIES[name](spark, sf_dir)
    bad = [f.name for f in df.schema.fields
           if isinstance(f.dataType, (ArrayType, MapType, StructType))]
    assert not bad, (
        f"{name}: oracle-checked query has complex top-level columns {bad}; "
        "the driver canonicalizer cannot hash these"
    )


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(name, spark, sf_dir, duck):
    df = QUERIES[name](spark, sf_dir)
    res = compare(df, duck, ORACLES[name])
    assert res["match"], f"{name}: {res['diff']} (rows {res['rows_spark']}/{res['rows_duck']})"

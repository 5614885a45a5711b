"""Every registered query with an oracle must match DuckDB exactly
(row count + schema names + order-insensitive values) at sf0.001.

This mirrors the driver's CORRECTNESS gate so failures surface locally.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

from sqlrs_spark.registry import all_specs
from tests.oracle import compare, register_duck_views

SPECS = all_specs()
ORACLE_SPECS = [s for s in SPECS.values() if s.oracle]


@pytest.fixture(scope="module")
def duck_views(duck, sf_dir):
    register_duck_views(duck, sf_dir)
    return duck


@pytest.mark.parametrize("spec", ORACLE_SPECS, ids=[s.name for s in ORACLE_SPECS])
def test_oracle_parity(spec, spark, sf_dir, duck_views):
    df = spec.fn(spark, sf_dir)
    # the driver canonicalizes results through pandas, where list/dict
    # cells are unhashable: nested columns fail it even with correct values
    nested = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not nested, f"{spec.name}: pandas-unhashable columns {nested}"
    ok, msg = compare(df, duck_views, spec.oracle)
    assert ok, f"{spec.name}: {msg}"


def test_registry_nonempty():
    assert len(SPECS) >= 15
    assert len(ORACLE_SPECS) == len(SPECS), [n for n, s in SPECS.items() if not s.oracle]

"""Driver-gate rehearsal: every registry query with an oracle must match
DuckDB exactly on the same parquet tables (mirrors CORRECTNESS_r{N}.json)."""

from __future__ import annotations

import pytest

from procurement_system_bigdata_spark.queries.registry import REGISTRY

from conftest import SF_DIR, assert_matches_oracle

ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle)
ROWS_ONLY_QUERIES = sorted(n for n, s in REGISTRY.items() if not s.oracle)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, duck, name):
    spec = REGISTRY[name]
    assert_matches_oracle(spec.fn(spark, SF_DIR), duck, spec.oracle)


def test_no_rows_only_queries_remain():
    """Every registry query is hash-checkable.  This pins the invariant so
    a future query can't silently register without an oracle (a deliberate
    rows-only addition should update this test with its justification)."""
    assert ROWS_ONLY_QUERIES == []


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_query_output_is_driver_sortable(spark, name):
    """The external driver canonicalizes results with a pandas sort over all
    columns; array/map/struct cells are unhashable there (the one red row in
    CORRECTNESS_r03 was embedding_quantize's raw qvec array).  Every
    oracle-bearing registry entry must therefore emit only scalar columns —
    nested payloads belong to the library operators, with the registry shape
    projecting a lossless scalar form (e.g. array_join)."""
    from pyspark.sql import types as T

    spec = REGISTRY[name]
    schema = spec.fn(spark, SF_DIR).schema
    nested = [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    assert not nested, f"{name} emits driver-unsortable columns: {nested}"

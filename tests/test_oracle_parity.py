"""Every registered query must hash-match its DuckDB oracle — the local
replica of the driver's t2 correctness gate (run at sf0.001 for speed;
set SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01 for the full gate)."""

from __future__ import annotations

import pytest

from biodiversity_graph_db_spark import registry
from tests.oracle_harness import compare

registry.load_all()

ORACLE_CASES = sorted(registry.ORACLE)
NO_ORACLE = sorted(set(registry.QUERIES) - set(registry.ORACLE))


@pytest.mark.parametrize("name", ORACLE_CASES)
def test_oracle_parity(spark, sf_dir, name):
    compare(spark, sf_dir, name, registry.QUERIES[name], registry.ORACLE[name])


@pytest.mark.parametrize("name", NO_ORACLE)
def test_rows_only(spark, sf_dir, name):
    df = registry.QUERIES[name](spark, sf_dir)
    assert df.count() >= 0
    assert df.schema is not None


def test_gate_rejects_hugeint_vs_bigint(spark, sf_dir):
    """Synthetic round-2-T4 fixture: identical values, DuckDB HUGEINT vs
    Spark BIGINT.  The old gate passed this (pandas equates 3549.0 and
    3549); the driver's hash does not — the gate must go red."""

    def spark_fn(sp, _sf):
        return sp.range(3).selectExpr("CAST(sum(id) AS BIGINT) AS s")

    # bare SUM over integers is HUGEINT in DuckDB
    sql = "SELECT SUM(x) AS s FROM (VALUES (0), (1), (2)) v(x)"
    with pytest.raises(AssertionError, match="type-kind mismatch"):
        compare(spark, sf_dir, "hugeint_fixture", spark_fn, sql)


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_no_complex_output_columns(spark, sf_dir, name):
    """Registry-wide output-schema guard (VERDICT r4 item 2): the
    driver's canonicalizer hashes cells through pandas, where an
    array/map/struct cell is unhashable (`TypeError: unhashable type:
    'list'` — the round-4 MM3 red).  Every registered query must emit
    scalar columns only; this builds each LAZY plan (no execution) and
    would have caught MM3 before the driver did."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    schema = registry.QUERIES[name](spark, sf_dir).schema
    bad = [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, (
        f"{name}: non-scalar output columns {bad} — the driver cannot "
        "hash them; flatten (posexplode) or fold (portable hash) at the "
        "registered-query boundary"
    )


@pytest.mark.parametrize(
    "name", ["SD3_time_travel_read", "SD5_compacted_time_travel"]
)
def test_versioned_log_queries_on_zero_row_customer(
    spark, sf_dir, tmp_path, name
):
    """A zero-row customer table writes no ``version=N`` dirs, so the
    as-of read must be typed by the log schema rather than inferred
    from files (ROADMAP D5, class 2): 0 rows, oracle columns and kinds."""
    import os

    import pyarrow.parquet as pq

    from biodiversity_graph_db_spark.tables import TABLES

    for t in TABLES:
        if t != "customer":
            os.symlink(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")
    schema = pq.read_schema(f"{sf_dir}/customer.parquet")
    pq.write_table(schema.empty_table(), tmp_path / "customer.parquet")
    compare(
        spark,
        str(tmp_path),
        name,
        registry.QUERIES[name],
        registry.ORACLE[name],
    )

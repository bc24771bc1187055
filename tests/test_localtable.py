"""``operators.localtable.local_df``: one Arrow batch, bound by name.

``local_df`` binds each ``columns`` key to the DDL field of the same
name (never by position), rejects a mapping that does not name exactly
the schema's fields, keeps the declared schema for zero rows, and does
not depend on the pyspark Arrow conf.
"""

from __future__ import annotations

import pytest

from spotify_app_etl_spark.operators.localtable import local_df

_DDL = "id int, name string, score double"
_ARROW_CONF = "spark.sql.execution.arrow.pyspark.enabled"


def _build(spark):
    # key order deliberately differs from the DDL's field order
    return local_df(
        spark,
        _DDL,
        {"score": [0.5, 1.25], "name": ["a", None], "id": [7, 8]},
    )


def test_columns_bind_by_name_not_position(spark):
    df = _build(spark)
    assert df.schema.simpleString() == "struct<id:int,name:string,score:double>"
    assert [tuple(r) for r in df.orderBy("id").collect()] == [
        (7, "a", 0.5),
        (8, None, 1.25),
    ]


@pytest.mark.parametrize(
    "columns",
    [
        {"id": [1], "name": ["x"]},
        {"id": [1], "name": ["x"], "score": [0.0], "extra": [1]},
    ],
    ids=["missing", "extra"],
)
def test_mismatched_keys_raise(spark, columns):
    with pytest.raises(ValueError, match="do not match schema"):
        local_df(spark, _DDL, columns)


def test_zero_rows_keep_declared_schema(spark):
    df = local_df(spark, _DDL, {"id": [], "name": [], "score": []})
    assert df.schema.simpleString() == "struct<id:int,name:string,score:double>"
    assert df.count() == 0


def test_same_result_with_arrow_conf_off(spark):
    expected = [tuple(r) for r in _build(spark).orderBy("id").collect()]
    old = spark.conf.get(_ARROW_CONF)
    spark.conf.set(_ARROW_CONF, "false")
    try:
        df = _build(spark)
        plan = df._jdf.queryExecution().analyzed().toString()
        got = [tuple(r) for r in df.orderBy("id").collect()]
    finally:
        spark.conf.set(_ARROW_CONF, old)
    assert got == expected
    assert "LocalRelation" in plan, plan

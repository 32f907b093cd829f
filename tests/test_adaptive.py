"""Both directions of the driver-path boundary (operators/adaptive.py): rows
enter as an Arrow-built LocalRelation with their schema kept exactly, and
leave through the Arrow read as the same tuples ``collect()`` gives."""

from __future__ import annotations

import pytest
from pyspark.sql.types import (
    BooleanType,
    DataType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from dice_spark.operators import adaptive
from dice_spark.synth import RELATIONS, relations_df

STRICT = StructType(
    [
        StructField("id", LongType(), nullable=False),
        StructField("label", StringType()),
        StructField("flag", BooleanType()),
    ]
)

CASES = [
    ([], "a bigint, b string"),
    ([("x", None, True), (None, "y", None)], "a string, b string, c boolean"),
    ([(1, 2), (3, None), (2**40, -7)], "a bigint, b bigint"),
    ([("1", "2"), ("3", "4")], "a string, b string"),
    ([(0, 1.5, False), (1, None, True)], "priority int, conf double, ok boolean"),
    ([(7, None, False), (8, "z", None)], STRICT),
]


@pytest.mark.parametrize("rows, schema", CASES)
def test_local_frame_keeps_schema_and_rows(spark, optimized_plan, rows, schema):
    df = adaptive.local_frame(spark, rows, schema)
    expect = DataType.fromDDL(schema) if isinstance(schema, str) else schema
    assert df.schema == expect
    # The JVM side, not only the schema cached on the Python object.
    assert df.select("*").schema == expect
    assert "LocalRelation" in optimized_plan(df)
    assert "LogicalRDD" not in optimized_plan(df)
    assert [tuple(r) for r in df.collect()] == rows
    _, out = adaptive.collect_if_small(df)
    assert sorted(out, key=repr) == sorted(rows, key=repr)


def test_local_frame_rejects_null_in_non_nullable_field(spark):
    with pytest.raises(ValueError):
        adaptive.local_frame(spark, [(None, "a", True)], STRICT)


def test_relations_df_is_a_local_relation(spark, optimized_plan):
    df = relations_df(spark)
    assert "LogicalRDD" not in optimized_plan(df)
    assert [tuple(r) for r in df.collect()] == [(i, *rel) for i, rel in enumerate(RELATIONS)]

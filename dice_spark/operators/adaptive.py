"""Scale-adaptive execution: the one "small -> driver, big -> distributed" gate,
and the one way driver rows cross the Py4J boundary.

Connected components, graph BFS and the Datalog fixpoint are iterative: the
distributed form pays a few scheduler round-trips per iteration, which
dominates on vocabulary-sized relations. Each asks this gate for its input
relation; at or below the ceiling it gets the rows and runs on the driver,
above it the distributed loop reads the returned (checkpointed) relation.

Both directions of that boundary are Arrow. Rows leave the JVM through
``DataFrame.toArrow()`` (collect_if_small), and driver results re-enter as a
``pyarrow.Table`` (local_frame), which Spark plans as a JVM ``LocalRelation``.
A frame built from a Python list is instead a ``LogicalRDD`` over a pickled
``PythonRDD``: every read of it forks Python-worker tasks that only unpickle
and re-pickle the rows. Neither Arrow path depends on the
``spark.sql.execution.arrow.pyspark.*`` confs.
"""

from __future__ import annotations

from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType

# Row ceiling for the driver path. 1M rows of id pairs/triples is ~100-150 MB
# of Python objects, comfortably inside the driver heap; a 10^9-row relation
# never lands on the driver. Read at call time, so tests can patch it.
DRIVER_MAX_ROWS = 1_000_000


def local_frame(spark: SparkSession, rows: Iterable[tuple], schema: StructType | str) -> DataFrame:
    """Driver rows (positional tuples) as a DataFrame over a LocalRelation.

    ``schema`` (a StructType or a DDL string) is kept exactly, nullability
    included; a None in a non-nullable field raises ValueError."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(col, type=field.type) for col, field in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def collect_if_small(df: DataFrame) -> tuple[DataFrame, list[tuple] | None]:
    """(df checkpointed, its rows as tuples) at or below DRIVER_MAX_ROWS,
    else (df, None).

    One count() materializes the lazy checkpoint, so the Arrow read (skipped
    for an empty relation) and every distributed iteration read it, not a
    recompute of the upstream plan."""
    df = df.localCheckpoint(eager=False)
    n = df.count()
    if n > DRIVER_MAX_ROWS:
        return df, None
    if not n:
        return df, []
    table = df.toArrow()
    return df, list(zip(*(col.to_pylist() for col in table.columns)))

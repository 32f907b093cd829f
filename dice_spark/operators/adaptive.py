"""Scale-adaptive execution: the one "small -> driver, big -> distributed" gate.

Connected components, graph BFS and the Datalog fixpoint are iterative: the
distributed form pays a few scheduler round-trips per iteration, which
dominates on vocabulary-sized relations. Each asks this gate for its input
relation; at or below the ceiling it gets the rows and runs on the driver,
above it the distributed loop reads the returned (checkpointed) relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Row ceiling for the driver path. 1M rows of id pairs/triples is ~100-150 MB
# of Python objects, comfortably inside the driver heap; a 10^9-row relation
# never lands on the driver. Read at call time, so tests can patch it.
DRIVER_MAX_ROWS = 1_000_000


def collect_if_small(df: DataFrame) -> tuple[DataFrame, list | None]:
    """(df checkpointed, its rows) at or below DRIVER_MAX_ROWS, else (df, None).

    One count() materializes the lazy checkpoint, so the collect (skipped for
    an empty relation) and every distributed iteration read it, not a
    recompute of the upstream plan."""
    df = df.localCheckpoint(eager=False)
    n = df.count()
    if n > DRIVER_MAX_ROWS:
        return df, None
    return df, (df.collect() if n else [])

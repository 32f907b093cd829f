"""Warehouse layer: Iceberg when available, path-based parquet fallback.

The engine's storage contract is MERGE-on-natural-key idempotent writes
(reference: Neo4j MERGE + (contextId, text) uniqueness constraint,
DrivinePropositionRepository.kt:90-130; docs/design/architecture.md:200-203).
With Iceberg on the classpath this maps to ``MERGE INTO``; in this sandbox the
Iceberg runtime jar is absent, so ``Warehouse`` emulates MERGE with an
atomic read-union-overwrite (write to a new snapshot dir, flip a pointer
file) — same writer API, Iceberg path is a config flag.

Checkpoint semantics (the resume story): a pipeline run writes its outputs
AND the ``processed_chunks`` marker rows; a rerun anti-joins the marker table
first, so a kill between stages re-processes only unclaimed windows and MERGE
keys make replays idempotent (no duplicate triples). Tested in
tests/test_resume.py.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession


class Warehouse:
    """Path-based snapshot warehouse with MERGE-by-key emulation."""

    def __init__(self, root: str, spark: SparkSession):
        self.root = root
        self.spark = spark
        os.makedirs(root, exist_ok=True)

    def _table_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _pointer(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "_current")

    def exists(self, name: str) -> bool:
        return os.path.exists(self._pointer(name))

    def read(self, name: str) -> DataFrame:
        with open(self._pointer(name)) as f:
            snap = json.load(f)["snapshot"]
        return self.spark.read.parquet(os.path.join(self._table_dir(name), snap))

    def _commit(self, name: str, df: DataFrame) -> None:
        tdir = self._table_dir(name)
        os.makedirs(tdir, exist_ok=True)
        snap = f"snap-{int(time.time() * 1000)}-{os.getpid()}"
        df.write.mode("overwrite").parquet(os.path.join(tdir, snap))
        tmp = self._pointer(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"snapshot": snap}, f)
        os.replace(tmp, self._pointer(name))  # atomic snapshot flip

    def overwrite(self, name: str, df: DataFrame) -> None:
        self._commit(name, df)

    def append(self, name: str, df: DataFrame) -> None:
        if self.exists(name):
            df = self.read(name).unionByName(df, allowMissingColumns=True)
        self._commit(name, df)

    def merge(self, name: str, df: DataFrame, keys: list[str]) -> None:
        """MERGE INTO emulation: upsert by natural key (new rows win)."""
        if self.exists(name):
            existing = self.read(name)
            keep = existing.join(df.select(*keys).distinct(), keys, "left_anti")
            df = keep.unionByName(df, allowMissingColumns=True)
        self._commit(name, df)

    def snapshots(self, name: str) -> list[str]:
        tdir = self._table_dir(name)
        if not os.path.isdir(tdir):
            return []
        return sorted(d for d in os.listdir(tdir) if d.startswith("snap-"))


class JsonWarehouse(Warehouse):
    """JSON-lines variant of the snapshot warehouse.

    Parity with JsonFilePropositionRepository (reference:
    dice/src/main/kotlin/com/embabel/dice/proposition/store/
    JsonFilePropositionRepository.kt:51-230): the reference's dev/local
    backend persists the whole store as a JSON document and commits via
    write-temp-then-atomic-rename (:215-222). Here each commit writes a new
    JSON-lines snapshot directory and atomically flips the ``_current``
    pointer — same durability contract, same human-inspectable format.

    JSON carries no schema, so each commit persists ``df.schema.json()`` in
    the ``_current`` pointer and ``read`` replays it via
    ``spark.read.schema(...)``. Without this, inference degrades the store on
    round-trip: timestamps come back as strings (and a later merge/append
    unions string vs timestamp, coercing the whole column), all-null columns
    vanish from the output, and an empty table is unreadable (nothing to
    infer from). Parquet stays the scale backend; this one exists so a
    reference user's local JSON workflow has a drop-in equivalent.
    """

    def read(self, name: str) -> DataFrame:
        with open(self._pointer(name)) as f:
            ptr = json.load(f)
        reader = self.spark.read
        if "schema" in ptr:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(json.loads(ptr["schema"])))
        return reader.json(os.path.join(self._table_dir(name), ptr["snapshot"]))

    def _commit(self, name: str, df: DataFrame) -> None:
        tdir = self._table_dir(name)
        os.makedirs(tdir, exist_ok=True)
        snap = f"snap-{int(time.time() * 1000)}-{os.getpid()}"
        df.write.mode("overwrite").json(os.path.join(tdir, snap))
        tmp = self._pointer(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"snapshot": snap, "schema": df.schema.json()}, f)
        os.replace(tmp, self._pointer(name))  # atomic snapshot flip


class IcebergWarehouse:
    """Iceberg-catalog warehouse: same writer contract as ``Warehouse`` but
    with real ACID semantics (reference target: dice-storage's
    transactional store, SURVEY.md §1.4):

    * overwrite  -> ``INSERT OVERWRITE`` into an Iceberg v2 table
    * append     -> ``INSERT INTO`` (snapshot-isolated)
    * merge      -> ``MERGE INTO`` on the natural key (upsert, new rows win)
    * snapshots  -> the table's snapshot log (time travel comes free)

    Requires the iceberg-spark-runtime jar and a configured catalog; use
    ``make_warehouse`` to select this backend automatically.
    """

    def __init__(self, catalog: str, namespace: str, spark: SparkSession):
        self.catalog = catalog
        self.namespace = namespace
        self.spark = spark
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")

    def _table(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    def exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(self._table(name))

    def read(self, name: str) -> DataFrame:
        return self.spark.table(self._table(name))

    def _ensure(self, name: str, df: DataFrame) -> None:
        if not self.exists(name):
            df.limit(0).writeTo(self._table(name)).using("iceberg").create()

    def overwrite(self, name: str, df: DataFrame) -> None:
        self._ensure(name, df)
        df.writeTo(self._table(name)).overwritePartitions()

    def append(self, name: str, df: DataFrame) -> None:
        self._ensure(name, df)
        df.writeTo(self._table(name)).append()

    def merge(self, name: str, df: DataFrame, keys: list[str]) -> None:
        if not self.exists(name):
            self._ensure(name, df)
            df.writeTo(self._table(name)).append()
            return
        view = f"_merge_src_{name}"
        df.createOrReplaceTempView(view)
        on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
        self.spark.sql(
            f"MERGE INTO {self._table(name)} t USING {view} s ON {on} "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )

    def snapshots(self, name: str) -> list[str]:
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self._table(name)}.snapshots ORDER BY committed_at"
        ).collect()
        return [str(r.snapshot_id) for r in rows]


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg runtime is on the session's classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.catalog.Catalog")
        return True
    except Exception:
        return False


def make_warehouse(
    spark: SparkSession,
    root: str,
    backend: str = "auto",
    catalog: str = "dice",
    namespace: str = "kg",
):
    """Select the storage backend: ``iceberg`` / ``parquet`` / ``json`` /
    ``auto`` (Iceberg when its runtime is present, else the parquet-snapshot
    emulation — this sandbox has no Iceberg jar, so auto falls back). ``json``
    is the JsonFilePropositionRepository-parity dev backend."""
    if backend == "iceberg" or (backend == "auto" and iceberg_available(spark)):
        return IcebergWarehouse(catalog, namespace, spark)
    if backend == "json":
        return JsonWarehouse(root, spark)
    if backend not in ("auto", "parquet"):
        raise ValueError(f"unknown warehouse backend {backend!r}")
    return Warehouse(root, spark)


def set_pinned(
    wh, prop_ids: list[str], pinned: bool = True, table: str = "propositions"
) -> int:
    """Store-level pin/unpin (PropositionRepository.pin/unpin — PinningTest.kt
    "pin and unpin toggle the flag and persist it").

    Flips the ``pinned`` flag on the given ids via a MERGE keyed on prop_id
    and returns how many rows matched — 0 for a missing id, the batch analog
    of the reference's null return. The id list is driver-provided (an
    operator pinning a handful of facts), so the broadcast semi-join is the
    right shape; bulk policy-driven pinning should instead MERGE a computed
    DataFrame directly.
    """
    from pyspark.sql import functions as F

    from dice_spark.operators.adaptive import local_frame

    props = wh.read(table)
    ids = local_frame(props.sparkSession, [(i,) for i in prop_ids], "prop_id string")
    hit = props.join(F.broadcast(ids), "prop_id", "semi").withColumn(
        "pinned", F.lit(bool(pinned))
    )
    n = hit.count()
    if n:
        wh.merge(table, hit, ["prop_id"])
    return n


def find_pinned(wh, context_id: str | None = None, table: str = "propositions"):
    """PropositionRepository.findPinned (PinningTest.kt): pinned props,
    optionally scoped to one context."""
    from pyspark.sql import functions as F

    out = wh.read(table).filter(F.col("pinned"))
    if context_id is not None:
        out = out.filter(F.col("context_id") == context_id)
    return out

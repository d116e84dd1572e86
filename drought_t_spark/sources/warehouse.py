"""Warehouse catalog shim (SURVEY.md §1.2).

Iceberg is the production target (`writeTo(...).overwritePartitions()`,
snapshot ids as checkpoint tokens); this sandbox has no Iceberg runtime
jar, so the shim provides the same primitives over a plain parquet
warehouse with hive-style partitioning:

* idempotent partition overwrite — dynamic partitionOverwriteMode
  (re-running a stage replaces exactly the partitions it produces);
* source-partition replace — the rewrite behind retention expiry and
  the streaming folds: overwrite the `source=` partitions of new rows
  and drop the affected ones left with no row (`replace_sources`);
* append rows — for ops tables: the driver already holds the few rows
  a commit adds, so they are written as one parquet file per table
  with pyarrow (no Spark job), made visible by an atomic rename;
* snapshot token — deterministic content token per write (row count +
  sum of a column hash), standing in for the Iceberg snapshot id.

On a real cluster: add iceberg-spark-runtime via --packages and swap
`write_partitioned` for `df.writeTo(tbl).overwritePartitions()`; the
call sites do not change shape.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Spark → Arrow types of the ops-table columns (schemas.py T4)
_ARROW_TYPES = {
    T.StringType(): pa.string(),
    T.LongType(): pa.int64(),
    T.DoubleType(): pa.float64(),
}


class Warehouse:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table.replace(".", "/"))

    def exists(self, table: str) -> bool:
        p = self.path(table)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") or f.startswith(("source=", "part")) or "=" in f
            for f in os.listdir(p)
        )

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.read.parquet(self.path(table))

    def write_partitioned(self, df: DataFrame, table: str, partition_cols: list[str]) -> None:
        """Idempotent per-partition overwrite (Iceberg overwritePartitions
        stand-in): only partitions present in `df` are replaced."""
        (
            df.sparkSession.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        )
        (
            df.write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(self.path(table))
        )

    def append_rows(self, rows: list[tuple], schema: T.StructType, table: str) -> None:
        """Append driver-held `rows` (tuples in `schema` field order) as
        one zstd parquet file. It is written under a hidden temp name —
        leading `.`, no `.parquet` suffix, so Spark, pyarrow datasets and
        `*.parquet` globs skip it — and renamed into place, so readers
        see all of the rows or none. No rows, no file."""
        if not rows:
            return
        arrow_schema = pa.schema(
            [pa.field(f.name, _ARROW_TYPES[f.dataType], f.nullable) for f in schema.fields]
        )
        tbl = pa.table(
            [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow_schema)],
            schema=arrow_schema,
        )
        d = self.path(table)
        os.makedirs(d, exist_ok=True)
        name = uuid.uuid4()
        tmp = os.path.join(d, f".part-{name}.tmp")
        pq.write_table(tbl, tmp, compression="zstd")
        os.rename(tmp, os.path.join(d, f"part-{name}.zstd.parquet"))

    def replace_sources(self, rows: DataFrame, table: str, affected: DataFrame) -> DataFrame:
        """Make `rows` the whole content of the `source=` partitions
        named by `affected` (a one-column `source` frame); returns the
        materialized rows. `rows` is materialized first because it
        usually reads the files the overwrite replaces; a partition of
        `affected` with no row left is dropped explicitly, since dynamic
        overwrite cannot delete a partition it does not write. The
        dropped set is an anti-join collected on the driver, so it is
        bounded by the sources that empty, not by `affected`.
        Iceberg: `overwritePartitions()` + `DELETE WHERE source IN (...)`."""
        kept = rows.localCheckpoint(eager=True)
        gone = [
            r["source"]
            for r in affected.join(
                kept.select("source").distinct(), ["source"], "left_anti"
            ).collect()
        ]
        self.write_partitioned(kept, table, ["source"])
        if gone:
            self.drop_partitions(table, "source", gone)
        return kept

    def drop_partitions(self, table: str, partition_col: str, values: list[str]) -> None:
        """Remove whole hive partitions (Iceberg stand-in for a
        partition-predicate DELETE + expire_snapshots)."""
        import shutil

        for v in values:
            shutil.rmtree(
                os.path.join(self.path(table), f"{partition_col}={v}"),
                ignore_errors=True,
            )

    @staticmethod
    def snapshot_token(df: DataFrame, key_cols: list[str]) -> str:
        """Deterministic content token (Iceberg snapshot-id stand-in).
        sum over decimal(38,0) is order-independent and overflow-free
        under ANSI (int64 summands can't exhaust 38 digits below ~10^19
        rows) — unlike int64 sum (scheduling-dependent ANSI overflow) or
        bit_xor (self-cancelling: keys duplicated an even number of
        times contribute nothing, so duplicate-shuffled datasets with
        equal row counts could collide)."""
        row = df.select(
            F.count("*").alias("n"),
            F.sum(
                F.expr(f"xxhash64({', '.join(key_cols)})").cast("decimal(38,0)")
            ).alias("h"),
        ).first()
        return f"{row.n}:{row.h or 0}"

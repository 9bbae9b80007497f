"""Table resolution: Iceberg-cataloged names or plain parquet paths.

The north rule's deployment target is an Iceberg table of transcripts
(`db.turns`, partitioned by days(ts)); this sandbox ships no Iceberg
runtime jars, so every reference in the engine goes through
``read_table``, which resolves

* a filesystem path (contains ``/`` or exists on disk) → parquet scan
  with ``partitionColumnTypeInference`` already disabled by
  session.get_spark (the documented fallback — TESTDATA parquet plus
  an explicit string ``part`` column), and
* a dotted catalog name (``db.turns``) → ``spark.table`` — which is
  exactly how Iceberg tables surface once
  ``spark.sql.catalog.<name> = org.apache.iceberg.spark.SparkCatalog``
  is on the cluster: the DataSourceV2 relation carries the partition
  transform (days(ts)), so the per-partition filters the validation
  plans push (``part = '2026-01-05'`` / ts ranges) become Iceberg
  partition pruning with no code change here.

``fmt="iceberg"`` forces the V2 reader and fails with an actionable
message when the runtime lacks the plugin, instead of Spark's generic
ClassNotFound stack.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def read_table(spark: SparkSession, ref: str, fmt: str | None = None) -> DataFrame:
    """Resolve ``ref`` to a DataFrame. ``fmt``: None (infer),
    "parquet" (path), "iceberg" (V2 catalog/path load), "table"
    (catalog name via spark.table)."""
    if fmt == "parquet":
        return spark.read.parquet(ref)
    if fmt == "table":
        return spark.table(ref)
    if fmt == "iceberg":
        try:
            return spark.read.format("iceberg").load(ref)
        except Exception as exc:  # plugin absent or catalog unconfigured
            raise RuntimeError(
                "Iceberg read failed — the runtime needs the "
                "iceberg-spark-runtime jar on the classpath and a "
                "spark.sql.catalog.* entry (e.g. "
                "--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13). "
                f"Underlying error: {exc}"
            ) from exc
    if fmt is not None:
        raise ValueError(f"unknown table format {fmt!r}")
    # infer: a path reads as parquet, a dotted name as a catalog table
    if "/" in ref or os.path.exists(ref):
        return spark.read.parquet(ref)
    return spark.table(ref)


def write_table(
    df: DataFrame,
    ref: str,
    fmt: str | None = None,
    partition_col: str | None = "part",
) -> None:
    """Write ``df`` to ``ref`` with the SAME resolution rules as
    :func:`read_table`, so a job that reads a catalog table writes a
    catalog table (the transform→validate round-trip keeps working for
    non-path targets instead of silently downgrading a table name to a
    parquet path literal). Day-partition dynamic overwrite everywhere:
    only the partitions present in ``df`` are replaced.

    * path (or fmt="parquet") → dynamic-overwrite partitioned parquet,
    * dotted name (or fmt="table") → ``saveAsTable`` on the first write;
      once the table exists, ``insertInto`` with the same dynamic
      overwrite and the columns in the table's order (``saveAsTable``
      in overwrite mode would replace the whole table),
    * fmt="iceberg" → ``writeTo(ref).overwritePartitions()``, failing
      with the same actionable message as the reader when the runtime
      lacks the plugin.
    """
    part = partition_col if partition_col and partition_col in df.columns else None
    if fmt == "iceberg":
        try:
            writer = df.writeTo(ref)
            writer.overwritePartitions()
            return
        except Exception as exc:  # plugin absent or catalog unconfigured
            raise RuntimeError(
                "Iceberg write failed — the runtime needs the "
                "iceberg-spark-runtime jar on the classpath and a "
                "spark.sql.catalog.* entry. "
                f"Underlying error: {exc}"
            ) from exc
    as_table = fmt == "table" or (
        fmt is None and "/" not in ref and not os.path.exists(ref)
    )
    if as_table and df.sparkSession.catalog.tableExists(ref):
        # insertInto matches columns by position
        cols = df.sparkSession.table(ref).columns
        df.select(*cols).write.option("partitionOverwriteMode", "dynamic").insertInto(
            ref, overwrite=True
        )
        return
    writer = df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    if part:
        writer = writer.partitionBy(part)
    if as_table:
        writer.saveAsTable(ref)
    else:
        writer.parquet(ref)

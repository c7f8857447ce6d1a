"""Table IO seam: Iceberg when a catalog is configured, Parquet otherwise.

The north rule targets Iceberg tables (`spark.read.format("iceberg")`,
snapshot-id lineage, dynamic partition overwrite). This container has no
Iceberg runtime jar, so the engine runs against Parquet paths through the
same seam; on a cluster with `spark.sql.catalog.<name>` configured, pass
``table="catalog.db.transcripts"`` and everything else is unchanged —
every reader/writer in the engine goes through these functions.

Iceberg specifics already honored by the build even on Parquet:
- idempotent per-partition commits (`partitionOverwriteMode=dynamic` ≈
  Iceberg's overwrite-by-partition);
- checkpoint rows carry an input *fingerprint* — with Iceberg this becomes
  the snapshot id (`DataFrameReader.option("snapshot-id", ...)`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def is_table_identifier(path_or_table: str) -> bool:
    """catalog.db.table identifiers have no slashes; paths do."""
    return "/" not in path_or_table and "\\" not in path_or_table


def read_table(
    spark: SparkSession,
    path_or_table: str,
    snapshot_id: int | None = None,
    schema=None,
) -> DataFrame:
    """``schema``: explicit read schema (parquet path only — an Iceberg
    table carries its own schema; on parquet it covers the empty-table
    directory that inference cannot read)."""
    if is_table_identifier(path_or_table):
        reader = spark.read.format("iceberg")
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", str(snapshot_id))
        return reader.load(path_or_table)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path_or_table)


def write_table(df: DataFrame, path_or_table: str, mode: str = "overwrite",
                partition_by: tuple[str, ...] = (),
                options: dict | None = None) -> None:
    """``options`` are format-level writer options (e.g.
    ``parquet.block.size``); harmless no-ops for formats that ignore
    them."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    for k, v in (options or {}).items():
        writer = writer.option(k, str(v))
    if is_table_identifier(path_or_table):
        writer.format("iceberg").saveAsTable(path_or_table)
    else:
        writer.parquet(path_or_table)


def local_table(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-side ``rows`` (tuples in ``schema`` order; ``schema`` a DDL
    string or StructType) as a DataFrame, built through Arrow. Spark turns
    the Arrow batches into a LocalRelation, so writing, joining or
    broadcasting the frame runs no Python task. ``createDataFrame(list)``
    instead parallelizes a Python-row RDD, and every job over it starts
    Python workers (~0.2-0.4 s each on a 4-core host, against ~0.15 s for
    the whole Arrow-backed write). The one way an index writer hands Spark
    a small table: meta rows, checkpoints, docID offsets, selectors."""
    import pyarrow as pa

    struct = schema if isinstance(schema, T.StructType) else (
        T._parse_datatype_string(schema)
    )
    cols = list(zip(*rows)) or [()] * len(struct.fields)
    tbl = pa.table(
        [pa.array(list(c)) for c in cols], names=struct.fieldNames()
    )
    return spark.createDataFrame(tbl, schema=struct)

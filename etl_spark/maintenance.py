"""Table maintenance — compaction and statistics.

The reference has no table-layout story at all (SQLite/MySQL manage
pages internally); a Spark lakehouse DOES: every streaming
micro-batch append and every partition-scoped merge leaves small
parquet files behind, and scan throughput degrades with file count
(per-file open/footer cost, starved vectorized reads). At 100 TB the
two routine jobs are:

- `compact_table`: rewrite a table (or only its small-file
  partitions) into target-sized files. Partitioned tables compact
  per-partition via dynamic partition overwrite — untouched
  partitions keep their files byte-identical; unpartitioned tables
  rewrite through the same staged-overwrite path the DML uses.
- `analyze_table`: `ANALYZE TABLE ... COMPUTE STATISTICS` (+ FOR
  COLUMNS) so Catalyst's cost-based features (broadcast selection,
  join reordering) see real row counts instead of file-size guesses.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession

from etl_spark.sources.writers import (
    _overwrite_partitions,
    _overwrite_self,
    _partition_columns,
    _partition_predicate,
)

DEFAULT_TARGET_FILE_MB = 128


def table_location(spark: SparkSession, table: str) -> str:
    """Filesystem location of a managed/external table."""
    row = next(
        r
        for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect()
        if r.col_name.strip() == "Location"
    )
    return row.data_type.removeprefix("file:")


def file_inventory(spark: SparkSession, table: str) -> dict[str, list[tuple[str, int]]]:
    """{partition_relpath_or_'': [(file, bytes), ...]} for a table's
    data files — the input to compaction planning. Driver-side
    listing is fine here: this inspects METADATA (file names/sizes),
    never data; on object storage the same listing comes from the
    catalog/manifest."""
    loc = table_location(spark, table)
    out: dict[str, list[tuple[str, int]]] = {}
    for root, _dirs, files in os.walk(loc):
        rel = os.path.relpath(root, loc)
        key = "" if rel == "." else rel
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out.setdefault(key, []).append((f, os.path.getsize(p)))
    return out


def compact_table(
    spark: SparkSession,
    table: str,
    target_file_mb: int = DEFAULT_TARGET_FILE_MB,
    min_files: int = 2,
    cluster_by: list[str] | None = None,
) -> dict:
    """Bin-pack a table's data into ~``target_file_mb`` files.

    Partitioned: only partitions with ≥ ``min_files`` files (or any
    file under half the target) are rewritten — a dynamic partition
    overwrite of exactly those partitions; everything else is left
    byte-identical. Unpartitioned: one staged rewrite into
    ceil(bytes/target) files. Returns
    {"partitions_compacted": n, "files_before": n, "files_after": n}.

    ``cluster_by`` (r14, UNPARTITIONED tables only): the rewrite
    Z-ORDERS on the named numeric columns (``zonemap.zorder_column``)
    instead of hash-repartitioning, so a zone map over the compacted
    table prunes on every listed column — managed-table twin of
    ``TxTable.compact(cluster_by=...)``. Partitioned tables raise:
    their rewrite is per-partition and the directory column already
    owns the coarse layout (z-order the REST by listing them here
    once per-partition support is needed).
    """
    target = target_file_mb * 1024 * 1024
    inv = file_inventory(spark, table)
    files_before = sum(len(v) for v in inv.values())
    pcols = _partition_columns(spark, table)
    df = spark.table(table)

    if cluster_by and pcols:
        raise ValueError(
            "cluster_by is supported for unpartitioned tables only "
            f"(table {table} is partitioned by {pcols})"
        )
    if not pcols:
        total = sum(sz for v in inv.values() for _, sz in v)
        n_out = max(1, math.ceil(total / target))
        if files_before <= max(n_out, min_files - 1):
            return {
                "partitions_compacted": 0,
                "files_before": files_before,
                "files_after": files_before,
            }
        if cluster_by:
            from pyspark.sql import functions as F

            from etl_spark.sources.zonemap import zorder_column

            def layout(staged):
                return (
                    staged.withColumn("__zv", zorder_column(staged, cluster_by))
                    .repartitionByRange(n_out, F.col("__zv"))
                    .sortWithinPartitions("__zv")
                    .drop("__zv")
                )

        else:

            def layout(staged):
                return staged.repartition(n_out)

        _overwrite_self(df, table, layout)
        after = sum(len(v) for v in file_inventory(spark, table).values())
        return {
            "partitions_compacted": 1,
            "files_before": files_before,
            "files_after": after,
        }

    # partitioned: pick partitions worth compacting
    from urllib.parse import unquote

    needs = []
    for rel, files in inv.items():
        if not rel:
            continue
        small = [sz for _, sz in files if sz < target // 2]
        if len(files) >= min_files and len(small) >= min_files:
            # 'day=d0/sub=a%20b' → {'day': 'd0', 'sub': 'a b'} — hive
            # URL-encodes special chars in partition directory names
            spec = {
                k: unquote(v)
                for k, v in (part.split("=", 1) for part in rel.split(os.sep))
            }
            needs.append(spec)
    if not needs:
        return {
            "partitions_compacted": 0,
            "files_before": files_before,
            "files_after": files_before,
        }
    # compare with literals cast to the COLUMN's type (a cast on the
    # partition column itself would defeat partition pruning)
    from pyspark.sql import functions as F

    ptypes = {f.name: f.dataType for f in df.schema.fields if f.name in pcols}
    rows = [{c: spec[c] for c in pcols} for spec in needs]
    pred = None
    for spec in rows:
        one = F.lit(True)
        for c in pcols:
            one = one & (F.col(c) == F.lit(spec[c]).cast(ptypes[c]))
        pred = one if pred is None else (pred | one)
    affected = df.filter(pred)
    touched = affected.select(*pcols).distinct().collect()
    _overwrite_partitions(affected, table, pcols, touched)
    after = sum(len(v) for v in file_inventory(spark, table).values())
    return {
        "partitions_compacted": len(rows),
        "files_before": files_before,
        "files_after": after,
    }


def analyze_table(
    spark: SparkSession, table: str, columns: list[str] | None = None
) -> dict:
    """ANALYZE TABLE — table-level row/size stats, plus per-column
    min/max/ndv when ``columns`` given. Returns the recorded stats.
    With stats present, Catalyst's broadcast decision uses true sizes
    (`spark.sql.autoBroadcastJoinThreshold`) instead of raw file size
    — the difference between a broadcast and a sort-merge join on a
    compressed-but-small dimension."""
    spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")
    if columns:
        cols = ", ".join(columns)
        spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS {cols}")
    detail = spark.sql(f"DESCRIBE EXTENDED {table}").collect()
    stats = next(
        (r.data_type for r in detail if r.col_name.strip() == "Statistics"), None
    )
    return {"statistics": stats}

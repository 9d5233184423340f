"""Source/sink surface.

The reference reads Parquet only and has NO writers (its parser
rejects non-SELECT, gpu-olap-core/src/parser.rs:18-21; results go to
driver RAM as Arrow). This module rounds out the I/O surface:
parquet/csv/json/orc readers, and writers with the partitioning knobs
that matter at 100 TB (partitionBy for pruning, maxRecordsPerFile
against giant files, bucketing for shuffle-free joins). Mutations
(MERGE, DELETE, compaction) go through the snapshot table format in
``sources.table_format``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

READ_FORMATS = ("parquet", "csv", "json", "orc")


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: StructType | None = None,
    **options: str,
) -> DataFrame:
    """Format-dispatched reader. CSV defaults to header+inferSchema
    unless a schema is given (at scale ALWAYS pass a schema: inference
    is an extra full scan)."""
    if fmt not in READ_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {READ_FORMATS}")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt == "csv":
        options.setdefault("header", "true")
        options.setdefault("inferSchema", "true")
    return reader.options(**options).format(fmt).load(path)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
    **options: str,
) -> None:
    """Writer with scale knobs: ``partition_by`` gives directory-level
    partition pruning to every downstream reader; ``max_records_per_file``
    bounds file size so a single task never produces a multi-GB file."""
    if fmt == "csv":
        options.setdefault("header", "true")
    writer = df.write.mode(mode).format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.options(**options).save(path)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    target_files: int | None = None,
    **options: str,
) -> None:
    """Cluster-by write: range-partition on `cluster_cols`, sort within
    each partition, then write parquet. Every output file covers a
    tight, pairwise-disjoint range of the cluster key, so readers'
    range predicates prune whole files (and row groups inside them)
    from parquet footer min/max stats alone — no data read, no index.

    The layout half of scan pruning at 100 TB: predicate pushdown
    (already asserted in test_plans) only skips what the stats can
    exclude, and stats only exclude when the write clustered the data.
    Time-keyed event tables clustered by ts make ts-range scans touch
    O(selectivity) files instead of all of them.
    """
    n = target_files or df.sparkSession.sparkContext.defaultParallelism
    out = df.repartitionByRange(n, *cluster_cols).sortWithinPartitions(
        *cluster_cols
    )
    out.write.mode("overwrite").options(**options).parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    one_file_per_bucket: bool = False,
    files_per_task: int = 1,
) -> None:
    """Bucketed managed table: co-locates both sides of a recurring
    equi-join so it runs WITHOUT a shuffle — the persistent analog of
    the reference's radix partitioning (join_kernels.cuh:45-76), done
    once at write time instead of per query.

    one_file_per_bucket=True additionally repartitions on the bucket
    columns (Spark's repartition hash == the bucketing hash, so each
    write task holds exactly one bucket) producing ONE sorted file
    per bucket. With that layout AND
    `spark.sql.legacy.bucketedTableScan.outputOrdering=true` on the
    reading session, a sorted-bucket equi-join drops its per-side
    Sort nodes too — the scan reports the sortBy order, so the
    SortMergeJoin zipper-merges pre-sorted buckets (zero exchange AND
    zero sort; r9 bench: the 100M x 100M bucketed join's remaining
    cost was two 100M-row sorts Spark re-ran because multi-file
    buckets void the sortBy guarantee). The trade at 100 TB: one
    file per bucket caps write parallelism at num_buckets and makes
    single files large — size num_buckets to the cluster, not to 64.

    files_per_task (r11, with one_file_per_bucket): at WIDE bucket
    counts the identity repartition (one task per bucket) inverts
    locally — 4096 near-empty write tasks cost 2.9x the 64-bucket
    write in pure task/file fixed overhead (DESIGN_100TB §1). Setting
    files_per_task > 1 routes ceil(num_buckets / files_per_task)
    write tasks, each holding that many COMPLETE buckets (hash
    partitioning on the bucket columns keeps every bucket whole in
    one task for any task count); the bucketed writer's required
    per-task ordering (bucket id, then sortBy) still splits one
    sorted file per bucket, so the single-file layout — and the
    legacy-outputOrdering soundness that rides on it — is unchanged.
    One file per bucket per TABLE remains the invariant; only write
    parallelism decouples from width.

    Precondition for one_file_per_bucket:
    ``spark.sql.files.maxRecordsPerFile`` must be 0 (the default).
    A non-zero value splits each bucket's write task into multiple
    sorted files, silently voiding the one-file layout — and a reader
    that then enables the legacy outputOrdering conf would skip a
    Sort the merge join still needs (wrong join results, the exact
    failure mode that conf is known for). Enforced below.
    """
    if one_file_per_bucket:
        max_rpf = df.sparkSession.conf.get(
            "spark.sql.files.maxRecordsPerFile", "0"
        )
        if str(max_rpf) not in ("0", "None"):
            raise ValueError(
                "one_file_per_bucket=True requires "
                "spark.sql.files.maxRecordsPerFile=0 (got "
                f"{max_rpf}): a per-file record cap splits buckets "
                "into multiple sorted files, voiding the single-file "
                "ordering guarantee that legacy "
                "bucketedTableScan.outputOrdering relies on"
            )
        if files_per_task < 1 or num_buckets % files_per_task:
            # divisibility is load-bearing, not cosmetic: a bucket
            # stays whole in one write task iff
            # hash % ntasks == (hash % num_buckets) % ntasks, which
            # holds exactly when ntasks divides num_buckets — any
            # other task count SPLITS buckets across tasks and the
            # one-file layout (and the ordering soundness on top of
            # it) silently breaks
            raise ValueError(
                f"files_per_task ({files_per_task}) must divide "
                f"num_buckets ({num_buckets}) so every bucket stays "
                "whole in one write task"
            )
        ntasks = num_buckets // files_per_task
        df = df.repartition(ntasks, *bucket_cols)
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    bits: int = 16,
    target_files: int | None = None,
    **options: str,
) -> None:
    """Z-order clustered write: multi-dimensional locality for file
    pruning on EVERY z-ordered column, not just the leading one.

    ``write_clustered`` gives perfect pruning on its first key and
    none on the others; interleaving the bits of all keys into one
    Morton code and range-partitioning on THAT makes each output file
    cover a small hyper-rectangle of the key space, so parquet
    footer min/max stats prune files for predicates on any single
    column (the Delta/Iceberg OPTIMIZE ZORDER layout, reproduced on
    plain parquet).

    Each column is affinely mapped to a `bits`-bit integer using its
    global min/max (one tiny aggregate — 2 scalars per column — the
    same bounded driver round-trip a range partitioner's sampling
    does), then bit i of column j lands at Morton position
    i * n_cols + j. The code is layout metadata only — it never
    appears in the data — so inexactness in the normalization cannot
    affect results, only locality.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    n_cols = len(zorder_cols)
    aggs = []
    for c in zorder_cols:
        aggs += [F.min(F.col(c).cast("double")), F.max(F.col(c).cast("double"))]
    stats = df.agg(*aggs).collect()[0]
    top = (1 << bits) - 1
    scaled = []
    for j, c in enumerate(zorder_cols):
        lo, hi = stats[2 * j], stats[2 * j + 1]
        span = (hi - lo) or 1.0
        scaled.append(
            F.least(
                F.lit(top),
                F.floor((F.col(c).cast("double") - F.lit(lo)) / span * top).cast(
                    "long"
                ),
            )
        )
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j in range(n_cols):
            bit = F.shiftright(scaled[j], i).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, i * n_cols + j)
    tagged = df.withColumn("__z", z)
    n = target_files or df.sparkSession.sparkContext.defaultParallelism
    out = (
        tagged.repartitionByRange(n, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    out.write.mode("overwrite").options(**options).parquet(path)

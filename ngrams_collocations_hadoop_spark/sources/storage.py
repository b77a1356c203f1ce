"""Storage layout operators: partitioned parquet sinks (partition
pruning) and bucketed tables (shuffle-free co-located joins).

At 100 TB these are the difference between scanning everything and
scanning one partition, and between re-shuffling two fact tables per
join and joining pre-bucketed data with zero exchanges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.exact import usum, usum_sql


def write_partitioned(df: DataFrame, path: str,
                      partition_cols: list[str]) -> None:
    """Hive-style partitioned parquet: directory per partition value;
    reads with a partition predicate prune at the file-listing level
    (PartitionFilters, no data I/O for pruned partitions)."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def drop_table_and_location(spark, table: str) -> None:
    """Idempotence across sessions for managed-table writers: the
    in-memory catalog forgets managed tables on restart but their
    warehouse directory persists, and saveAsTable refuses to reuse the
    location (LOCATION_ALREADY_EXISTS). Drop both. Shared by the
    bucketed LSH index and the persisted components table."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    if warehouse.startswith(("file:", "/")):
        import shutil
        local = warehouse.removeprefix("file:")
        shutil.rmtree(f"{local}/{table.lower()}", ignore_errors=True)


def write_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   n_buckets: int) -> None:
    """Bucketed + sorted catalog table: rows hash-distributed into
    ``n_buckets`` files by ``bucket_cols``. Two tables bucketed the same
    way join with NO exchange on either side — the co-partitioning the
    reference hand-built with its custom partitioners (Job1.java:85-94),
    persisted into the storage layout.

    The pre-write ``repartition`` uses the same murmur3-pmod hash as
    ``bucketBy``, so each write task holds exactly one bucket → ONE
    file per bucket. Without it an N-partition writer emits up to N
    files per bucket, and a downstream merge join must re-sort every
    bucket on read; with it the layout satisfies the single-file
    precondition for sorted-scan propagation (off by default since
    SPARK-28595 — the scan still reports partitioning, so the
    exchange elimination never depends on this, only the sort)."""
    spark = df.sparkSession
    df = df.repartition(n_buckets, *bucket_cols)
    drop_table_and_location(spark, table)
    (df.write.mode("overwrite")
     .bucketBy(n_buckets, *bucket_cols)
     .sortBy(*bucket_cols)
     .saveAsTable(table))


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry demonstration of the zero-exchange co-located join:
    orders and customer are persisted bucketed+sorted on the customer
    key, then merge-joined straight off the bucket files — no Exchange
    and no Sort on either join side (plan-asserted in
    tests/test_plans.py). This is the reference's hand-built
    co-partitioning (Job1.java:85-94) moved into the storage layout,
    which is how a 100 TB fact⋈fact join avoids re-shuffling both
    sides on every run. The merge hint keeps the demo honest — without
    it the tiny local customer side would be broadcast and the bucket
    layout would never be exercised."""
    from pyspark.sql import functions as F

    from .tables import load_table
    write_bucketed(
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice"),
        "ncs_b_orders", ["o_custkey"], 8)
    write_bucketed(
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment"),
        "ncs_b_customer", ["c_custkey"], 8)
    j = spark.table("ncs_b_orders").hint("merge").join(
        spark.table("ncs_b_customer"),
        F.col("o_custkey") == F.col("c_custkey"))
    return (j.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 usum("o_totalprice").alias("sum_price")))


ORACLE_BUCKETED_JOIN = f"""
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
       {usum_sql("o_totalprice")} AS sum_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def compact_files(spark: SparkSession, in_path: str, out_path: str,
                  target_file_bytes: int = 128 * 1024 * 1024) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ceil(total_bytes / target) files. Streaming sinks and fine-grained
    partitioned writes accumulate thousands of tiny files; at 100 TB
    the resulting task-per-file scheduling and footer-read overhead
    dominate scan time. Sizing from actual on-disk bytes (via the
    Hadoop FileSystem API, so it works on any supported scheme, not
    just file:) keeps output files near the row-group sweet spot.
    Returns the number of output files written."""
    df = spark.read.parquet(in_path)
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hadoop_path = jvm.org.apache.hadoop.fs.Path(in_path)
    fs = hadoop_path.getFileSystem(jsc.hadoopConfiguration())
    total = fs.getContentSummary(hadoop_path).getLength()
    n_files = max(1, -(-int(total) // target_file_bytes))
    # coalesce, not repartition: pure file-merge needs no shuffle (and
    # must not destroy any existing clustering within the data).
    df.coalesce(n_files).write.mode("overwrite").parquet(out_path)
    return n_files


def write_zordered(df: DataFrame, path: str, col_a: str, col_b: str,
                   n_blocks: int | None = None) -> None:
    """Physical Z-order rewrite — the layout `q_zorder_layout` audits,
    actually written: compute the Morton value of (col_a, col_b) with
    the SAME shared-text grid/interleave expressions as the audit
    (operators.relational), cut the curve into block-aligned ranges,
    and write ONE FILE PER BLOCK (a z_block=N directory each). The
    parquet footer of every file then carries min/max stats bounded on
    BOTH columns at the tile size — the envelopes the audit reports
    become the row-group statistics a scan prunes on
    (tests/test_storage_skew.py reads the footers back and checks).

    Scale shape: one broadcast min/max aggregate, map-side integer
    expressions, one repartition on the block id (the shuffle any
    layout rewrite pays), partition-pruned directory layout out. Rows
    with a NULL in either column carry no curve position and are
    excluded — gate or route them before rewriting."""
    from pyspark.sql import functions as F

    from ..operators.relational import (ZORDER_BITS, ZORDER_BLOCKS,
                                        _zgrid_sql, _zinterleave_sql)

    n_blocks = ZORDER_BLOCKS if n_blocks is None else n_blocks
    # block ids come from a shift, so only power-of-two counts cut the
    # curve into equal block-aligned ranges — anything else would
    # silently write a different number of directories than asked
    if n_blocks < 1 or n_blocks & (n_blocks - 1):
        raise ValueError(f"n_blocks must be a power of two, got {n_blocks}")
    # z_block is the one name this writer ADDS to the caller's schema
    # (the partition directory column); internal scratch uses
    # __-prefixed names so withColumn/crossJoin can't silently replace
    # or ambiguously collide with caller columns (ADVICE r07).
    reserved = {"z_block", "__zx", "__zy",
                "__umin", "__umax", "__tmin", "__tmax"}
    clash = reserved.intersection(df.columns)
    if clash:
        raise ValueError(
            f"write_zordered reserves column name(s) {sorted(clash)}; "
            "rename them before the rewrite")
    gated = df.filter(F.col(col_a).isNotNull()
                      & F.col(col_b).isNotNull())
    stats = gated.agg(
        F.min(F.col(col_a).cast("double")).alias("__umin"),
        F.max(F.col(col_a).cast("double")).alias("__umax"),
        F.min(F.col(col_b).cast("double")).alias("__tmin"),
        F.max(F.col(col_b).cast("double")).alias("__tmax"))
    # curve width follows the audit's ZORDER_BITS — a retune there must
    # move the rewrite and the audit together
    shift = 2 * ZORDER_BITS - n_blocks.bit_length() + 1
    z = _zinterleave_sql("__zx", "__zy")
    out = (gated.crossJoin(F.broadcast(stats))
           .withColumn("__zx", F.expr(_zgrid_sql(col_a, "__umin", "__umax")))
           .withColumn("__zy", F.expr(_zgrid_sql(col_b, "__tmin", "__tmax")))
           .withColumn("z_block", F.expr(f"({z}) >> {shift}"))
           .drop("__umin", "__umax", "__tmin", "__tmax", "__zx", "__zy"))
    (out.repartition(n_blocks, F.col("z_block"))
     .write.mode("overwrite").partitionBy("z_block").parquet(path))


def write_mrl_prefixed(emb: DataFrame, path: str,
                       prefix_dim: int | None = None) -> None:
    """Materialize the Matryoshka layout `q_mrl_topk` assumes at
    scale: the embeddings table rewritten with the first
    ``prefix_dim`` dimensions as their OWN column (`emb_prefix`)
    beside the full vector. Parquet is columnar, so the funnel's
    corpus-wide first pass can then select only the prefix column and
    the scan reads ~prefix_dim/EMB_DIM of the vector bytes — column
    pruning does the work, no row-level filtering involved
    (tests/test_storage_skew.py pins ReadSchema on the pruned scan).
    The full `embedding` column rides along untouched for the
    shortlist's exact re-rank."""
    from pyspark.sql import functions as F

    from ..operators.similarity import MRL_DIM

    prefix_dim = MRL_DIM if prefix_dim is None else prefix_dim
    if prefix_dim < 1:
        raise ValueError(f"prefix_dim must be >= 1, got {prefix_dim}")
    (emb.withColumn("emb_prefix",
                    F.expr(f"slice(embedding, 1, {prefix_dim})"))
     .write.mode("overwrite").parquet(path))

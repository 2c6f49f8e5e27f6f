package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Hive-style partitioned lake layout: `partitionBy` directory writes
  * and partition-PRUNED reads — the physical organization every lake
  * table in the reference relies on
  * (/root/reference/DataEngineering/DataBricks/AIO_delta_table_generator
  * .py lays out delta tables by partition column;
  * spark_stream.py:21-24 derives a partitionName lineage column for
  * exactly this layout).
  *
  * Why it matters at 100 TB: a filter on the partition column prunes
  * whole DIRECTORIES at planning time — the scan never opens, lists, or
  * reads the excluded files. That is the difference between a query
  * touching 1/50th of the lake and a query touching all of it; no
  * row-group statistic or Bloom filter recovers the cost of listing a
  * hundred million files. The spec asserts the pruned plan
  * (`PartitionFilters` populated, pushed filter absent from data
  * filters); the hash gate asserts the layout is value-lossless.
  *
  * Write-side discipline: one `repartition` on the partition column
  * before the write, so each task writes to ONE directory instead of
  * every task writing a small file into every partition — the
  * small-file blowup `Compaction` exists to clean up, avoided at the
  * source. (For skewed partition columns, salt the repartition — the
  * gated instance's priority column is uniform.)
  */
object PartitionedLayout {

  /** Write `df` partitioned by `parts` (each becomes a directory level). */
  def writePartitioned(df: DataFrame, path: String, parts: Seq[String]): Unit =
    df.repartition(parts.map(col): _*)
      .write.mode("overwrite").partitionBy(parts: _*).parquet(path)

  /** Read a partitioned layout with an explicit schema (no inference
    * scan; partition columns are appended by the source from directory
    * names). `filter` should reference partition columns to prune. */
  def readPruned(spark: SparkSession, path: String, schema: String,
                 filter: Column): DataFrame =
    spark.read.schema(schema).parquet(path).filter(filter)

  // ---- query-map entry (hash-gated; oracle = orders projection) ----

  /** Gated instance: orders written partitioned by priority, read back
    * whole (the layout must be value-lossless, including the
    * directory-encoded column). Partition pruning on this layout is
    * asserted plan-level in PartitionedLayoutSpec. */
  def partitionedRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    val path = graft.TmpPaths.unique("graft_partlayout")
    writePartitioned(orders, path, Seq("o_orderpriority"))
    readPruned(spark, path,
      "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING",
      lit(true))
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
  }

  def oracleSql: String =
    "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders"

  /** Dynamic partition overwrite — the Delta `replaceWhere` analogue
    * over the plain hive layout (the reference replaces partitions of
    * its delta tables the same way,
    * /root/reference/DataEngineering/Python/delta_table_rs.py family):
    * ONLY the partitions present in `batch` are rewritten; every other
    * directory is untouched — physically untouched, the incremental
    * write a daily pipeline needs (static overwrite mode would drop the
    * whole table first). The session flag is scoped and restored. */
  def overwritePartitions(batch: DataFrame, path: String,
                          parts: Seq[String]): Unit = {
    val spark = batch.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try batch.repartition(parts.map(col): _*)
      .write.mode("overwrite").partitionBy(parts: _*).parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Gated instance: full layout write, then a dynamic overwrite of the
    * URGENT partition with bumped prices. The read-back gates all of it:
    * untouched partitions preserved byte-for-value, the replaced
    * partition carrying the new values, no duplicate rows. */
  def partitionOverwrite(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    val path = graft.TmpPaths.unique("graft_partlayout_dyn")
    writePartitioned(orders, path, Seq("o_orderpriority"))
    val batch = orders.filter(col("o_orderpriority") === "1-URGENT")
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
    overwritePartitions(batch, path, Seq("o_orderpriority"))
    readPruned(spark, path,
      "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING",
      lit(true))
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
  }

  def overwriteOracleSql: String =
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderpriority = '1-URGENT'
      |       THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice,
      |  o_orderpriority
      |FROM orders""".stripMargin
}

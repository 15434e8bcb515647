package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Plain partitioned-parquet writes without a table format — the
  * sink-side behaviors the reference gets from Delta/DLT for
  * partitioned materialized views with `CLUSTER BY` and auto-optimized
  * file sizes (ref the reference's src/pipelines/gold/
  * daily_orders.sql:17-20 and docs/ARCHITECTURE.md).
  *
  *  - [[writePartitioned]] repartitions by the partition columns before
  *    a dynamic-partition overwrite, so each task owns whole partitions
  *    — no thousand-small-files-per-partition explosion at high
  *    parallelism.
  *  - [[compact]] is the OPTIMIZE analogue for such directories:
  *    rewrite to a target file count per partition.
  *
  * AUTO CDC upserts are not written here: they commit through
  * [[VersionedLake.upsert]], and [[read]] is [[VersionedLake.read]].
  */
object LakeWriter {

  /** Partition-aware write: one shuffle on the partition keys, then a
    * dynamic-partition overwrite (only touched partitions replaced —
    * the idempotent-backfill behavior lakehouse pipelines rely on).
    */
  /** @param clusterCols optional within-partition sort (the zOrderCols /
    *        CLUSTER BY analog, ref bronze/orders.sql:15): clusters rows
    *        so parquet row-group min/max stats prune point lookups
    */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String], clusterCols: Seq[String] = Nil): Unit = {
    val repart = df.repartition(partitionCols.map(col): _*)
    val clustered =
      if (clusterCols.isEmpty) repart
      else repart.sortWithinPartitions(clusterCols.map(col): _*)
    // per-write option, not the session conf: a session-wide setting
    // would silently turn every later partitioned overwrite dynamic
    clustered.write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .mode(SaveMode.Overwrite)
      .parquet(path)
  }

  private def fileSystem(spark: SparkSession): org.apache.hadoop.fs.FileSystem =
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** If a prior [[compact]] crashed between moving the live table aside
    * and moving the compacted one in, the data survives at
    * `path + "_old"` — restore it before compacting again.
    */
  private def recoverIfCrashed(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Unit = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(path + "_old")
    if (!fs.exists(dst) && fs.exists(old) && !fs.rename(old, dst))
      throw new java.io.IOException(s"swap recovery: cannot restore $old")
  }

  /** Crash-safe directory swap: move the live table aside, move the
    * staged one in, then drop the backup — at every intermediate point a
    * full copy of the table exists on disk (at `path` or `path_old`),
    * unlike delete-then-rename which has a window with no live table.
    */
  private def swapIn(fs: org.apache.hadoop.fs.FileSystem, path: String,
      staged: String): Unit = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(path + "_old")
    fs.delete(old, true) // stale backup from an earlier completed swap
    val hadPrev = fs.exists(dst)
    if (hadPrev && !fs.rename(dst, old))
      throw new java.io.IOException(s"swap: cannot move $dst aside")
    if (!fs.rename(new org.apache.hadoop.fs.Path(staged), dst)) {
      if (hadPrev) fs.rename(old, dst) // roll back to the prior table
      throw new java.io.IOException(s"swap: cannot move $staged into place")
    }
    fs.delete(old, true)
  }

  /** Read an upsert-maintained table: live rows only. The table is a
    * [[VersionedLake]] table; this is [[VersionedLake.read]] of its tip.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    VersionedLake.read(spark, path)

  /** OPTIMIZE analogue: rewrite a plain parquet directory to
    * `targetFiles`. Hive-partitioned directories keep their
    * partitioning: rows are hashed back into `targetFiles` tasks on the
    * partition keys and written `partitionBy`, compacting each
    * partition without flattening the directory structure. The
    * rewrite swaps in with [[swapIn]]; a swap that crashed is repaired
    * by the next call ([[recoverIfCrashed]]). Versioned tables compact
    * through [[VersionedLake.optimizeSmallFiles]] instead.
    */
  def compact(spark: SparkSession, path: String, targetFiles: Int): Unit = {
    val fs = fileSystem(spark)
    recoverIfCrashed(fs, path)
    val partCols = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.contains("=")).map(_.split("=")(0)).distinct.toSeq
    val df = spark.read.parquet(path)
    val tmp = path + "_compacted"
    if (partCols.isEmpty)
      df.coalesce(targetFiles).write.mode(SaveMode.Overwrite).parquet(tmp)
    else
      df.repartition(targetFiles, partCols.map(col): _*)
        .write.partitionBy(partCols: _*).mode(SaveMode.Overwrite).parquet(tmp)
    swapIn(fs, path, tmp)
  }

  // ---- registered end-to-end sink demonstrations ---------------------------

  /** Partitioned-write round trip: orders → hive-partitioned lake table
    * (partitioned by status, clustered by date within partitions) →
    * read back. The oracle is the source table itself: a lossless sink
    * is exactly what the write path must prove. Partition columns come
    * back as strings (hive dir values), so the status is written
    * pre-stringified and compared as such. Fresh path per invocation
    * ([[Scratch]]): a reused path would keep partitions absent from
    * regenerated source data.
    */
  def partitionedRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val path = Scratch.dir("lake_part")
    val src = graft.Tables.orders(spark, sfDir).select(
      col("o_orderkey").as("order_id"),
      col("o_custkey").as("customer_id"),
      col("o_totalprice").as("total_price"),
      col("o_orderdate").as("order_date"),
      col("o_orderstatus").as("order_status"))
    writePartitioned(src, path, Seq("order_status"), Seq("order_date"))
    spark.read.parquet(path)
      .select(col("order_id"), col("customer_id"), col("total_price"),
        col("order_date"), col("order_status"))
  }

  val partitionedRoundTripSql: String =
    """SELECT o_orderkey AS order_id, o_custkey AS customer_id,
       o_totalprice AS total_price, o_orderdate AS order_date,
       o_orderstatus AS order_status
       FROM orders
       ORDER BY order_id"""

  /** MERGE-upsert lifecycle in the gate, committed through
    * [[VersionedLake.upsert]]: seed the table with 90% of the keys,
    * then apply one deterministic change batch — inserts (the
    * missing keys, status NEW), updates (every 7th key, status UPD,
    * newer sequence), deletes (every 13th seeded key, newest sequence,
    * overriding any update). Fresh table per invocation ([[Scratch]]):
    * merging into a table left by a previous round's data would keep
    * keys the regenerated source no longer has. The oracle is a pure
    * CASE/WHERE over the source table.
    */
  def upsertLifecycle(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val path = Scratch.dir("lake_upsert")
    val orders = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("order_id"),
        col("o_orderstatus").as("status"))
    val seeded = orders.filter(col("order_id") % 10 =!= 0)
      .withColumn("seq", lit(1L))
    VersionedLake.upsert(spark, path, seeded, Seq("order_id"), "seq")
    val inserts = orders.filter(col("order_id") % 10 === 0)
      .withColumn("status", lit("NEW")).withColumn("seq", lit(2L))
      .withColumn("_deleted", lit(false))
    val updates = orders
      .filter(col("order_id") % 10 =!= 0 && col("order_id") % 7 === 0)
      .withColumn("status", lit("UPD")).withColumn("seq", lit(2L))
      .withColumn("_deleted", lit(false))
    val deletes = orders
      .filter(col("order_id") % 10 =!= 0 && col("order_id") % 13 === 0)
      .withColumn("seq", lit(3L)).withColumn("_deleted", lit(true))
    VersionedLake.upsert(spark, path,
      inserts.unionByName(updates).unionByName(deletes), Seq("order_id"), "seq")
    VersionedLake.read(spark, path)
      .select(col("order_id"), col("status"), col("seq"))
  }

  val upsertLifecycleSql: String =
    """SELECT o_orderkey AS order_id,
       CASE WHEN o_orderkey % 10 = 0 THEN 'NEW'
            WHEN o_orderkey % 7 = 0 THEN 'UPD'
            ELSE o_orderstatus END AS status,
       CAST(CASE WHEN o_orderkey % 10 = 0 OR o_orderkey % 7 = 0 THEN 2
            ELSE 1 END AS BIGINT) AS seq
       FROM orders
       WHERE NOT (o_orderkey % 10 != 0 AND o_orderkey % 13 = 0)
       ORDER BY order_id"""

  /** Compaction (OPTIMIZE analog) in the gate: write an intentionally
    * fragmented table (one file per shuffle task), [[compact]] it, read
    * back. The oracle is the source projection — compaction must be a
    * pure layout change. The file-count require() makes the query fail
    * loudly in the gate if compact ever stops compacting, so data
    * equality alone can't mask a no-op.
    */
  def compactRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val path = Scratch.dir("lake_compact")
    val src = graft.Tables.orders(spark, sfDir).select(
      col("o_orderkey").as("order_id"),
      col("o_orderstatus").as("status"),
      col("o_totalprice").as("total_price"))
    src.repartition(32).write.mode(SaveMode.Overwrite).parquet(path)
    val before = dataFileCount(spark, path)
    compact(spark, path, targetFiles = 2)
    val after = dataFileCount(spark, path)
    require(after < before && after <= 2,
      s"compact was a no-op: $before files -> $after")
    spark.read.parquet(path)
  }

  private def dataFileCount(spark: SparkSession, path: String): Int =
    fileSystem(spark).listStatus(new org.apache.hadoop.fs.Path(path))
      .count(_.getPath.getName.startsWith("part-"))

  val compactRoundTripSql: String =
    """SELECT o_orderkey AS order_id, o_orderstatus AS status,
       o_totalprice AS total_price
       FROM orders
       ORDER BY order_id"""

  // ---- registry ------------------------------------------------------------
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lake_partitioned_roundtrip" -> ((s, d) =>
      partitionedRoundTrip(s, d).orderBy(org.apache.spark.sql.functions.col("order_id"))),
    "lake_upsert_lifecycle" -> ((s, d) =>
      upsertLifecycle(s, d).orderBy(org.apache.spark.sql.functions.col("order_id"))),
    "lake_compact_roundtrip" -> ((s, d) =>
      compactRoundTrip(s, d).orderBy(org.apache.spark.sql.functions.col("order_id"))))

  def oracles: Map[String, String] = Map(
    "lake_partitioned_roundtrip" -> partitionedRoundTripSql,
    "lake_upsert_lifecycle" -> upsertLifecycleSql,
    "lake_compact_roundtrip" -> compactRoundTripSql)
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lakehouse-style table writes without a table format dependency —
  * the sink-side behaviors the reference gets from Delta/DLT
  * (partitioned materialized views with `CLUSTER BY`, AUTO CDC upserts,
  * auto-optimized file sizes; ref /root/reference/src/pipelines/gold/
  * daily_orders.sql:17-20, docs/ARCHITECTURE.md), expressed as plain
  * partitioned-parquet operations.
  *
  * Scale notes:
  *  - [[writePartitioned]] repartitions by the partition columns before
  *    the write so each task owns whole partitions — no
  *    thousand-small-files-per-partition explosion at high parallelism.
  *  - [[upsert]] is the SCD1 merge as a distributed plan: union + one
  *    window per key — never a driver-side read-modify-write.
  *  - [[compact]] is the OPTIMIZE analogue: rewrite to a target file
  *    count per partition.
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

  /** MERGE-style upsert: rows in `updates` replace same-key rows in the
    * table; unmatched keys append. Deletes: pass a `_deleted` boolean
    * in `updates`. Last-writer-wins by `seqCol`.
    *
    * Deleted keys persist as TOMBSTONE rows (`_deleted = true`) rather
    * than being physically removed — otherwise a late-arriving update
    * with an older sequence would resurrect a deleted key on the next
    * merge. [[read]] filters tombstones; [[compact]] can purge them
    * once late data can no longer arrive.
    *
    * **Partition-pruned merge** (the 100×-scale path): the table is laid
    * out as `numBuckets` hash-bucket hive partitions on the merge key
    * (`gbucket=N`). A merge (i) computes the bucket set its updates
    * touch, (ii) reads ONLY those partitions (partition pruning at the
    * scan — untouched buckets contribute zero IO), (iii) rewrites only
    * those bucket directories. A merge touching one key rewrites
    * 1/numBuckets of the table instead of all of it; untouched buckets'
    * files are left byte-identical (proven in LakeSpec). The bucket-id
    * collect is ≤ numBuckets ints of metadata, not data.
    *
    * Crash contract: touched buckets swap one at a time via
    * backup-rename (live → `path_bak/gbucket=N`, staged in, backups
    * dropped last). A crash mid-swap loses nothing: the next write's
    * [[recoverBucketSwap]] restores any bucket whose live dir is
    * missing, and re-running the same merge is idempotent (per-key
    * max-sequence is a no-op on already-merged buckets).
    */
  def upsert(spark: SparkSession, path: String, updates: DataFrame,
      keyCols: Seq[String], seqCol: String, numBuckets: Int = 16): Unit = {
    val fs = fileSystem(spark)
    recoverIfCrashed(fs, path)
    recoverBucketSwap(fs, path)
    // first write is detected by existence, not by exception: a transient
    // IO error / corrupt footer on an EXISTING table must propagate, or
    // the merge would silently rebuild the table from updates alone
    val exists = fs.exists(new org.apache.hadoop.fs.Path(path))
    val tagged0 = updates.withColumn("_is_update", lit(1))
    val tagged = (if (tagged0.columns.contains("_deleted")) tagged0
      else tagged0.withColumn("_deleted", lit(false)))
      .withColumn("gbucket", pmod(hash(keyCols.map(col): _*), lit(numBuckets)))
    // sequence outranks provenance: a late-arriving update with an older
    // sequence must NOT overwrite newer table state; updates win only on
    // sequence ties
    def merge(all: DataFrame): DataFrame = {
      val w = Window.partitionBy(keyCols.map(col): _*)
        .orderBy(col(seqCol).desc, col("_is_update").desc)
      all.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .drop("_rn", "_is_update")
        .withColumn("_deleted", coalesce(col("_deleted"), lit(false)))
    }
    if (!exists) {
      val tmp = path + "_staged"
      // bucket-keyed exchange before the write: the merge window leaves
      // rows hash-partitioned by KEY, so every task would otherwise
      // write a file into every bucket — (tasks × buckets) files per
      // merge, with reads and swaps paying per file (r17, guide §2.4/§6)
      merge(tagged).repartition(col("gbucket")).write.partitionBy("gbucket")
        .mode(SaveMode.Overwrite).parquet(tmp)
      swapIn(fs, path, tmp)
    } else {
      val touched = tagged.select(col("gbucket")).distinct()
        .collect().map(_.getInt(0)).sorted.toSeq // ≤ numBuckets ints
      // mergeSchema: bucket-pruned rewrites make schema evolution
      // per-bucket (a merge adding a column rewrites only its buckets),
      // so the union schema lives in the footers, not any single file —
      // the log-less equivalent of a table format's schema registry
      val existing = spark.read.option("mergeSchema", "true").parquet(path)
        .filter(col("gbucket").isin(touched: _*)) // partition pruning
        .withColumn("_is_update", lit(0))
      val withDel =
        if (existing.columns.contains("_deleted")) existing
        else existing.withColumn("_deleted", lit(false))
      val stage = path + "_stage"
      fs.delete(new org.apache.hadoop.fs.Path(stage), true)
      merge(withDel.unionByName(tagged, allowMissingColumns = true))
        .repartition(col("gbucket"))
        .write.partitionBy("gbucket").mode(SaveMode.Overwrite).parquet(stage)
      swapBuckets(fs, path, stage, touched)
    }
  }

  /** Swap the touched bucket directories into the live table one at a
    * time, each with a backup rename — at every point each bucket's
    * data exists either live or under `path_bak`.
    */
  private def swapBuckets(fs: org.apache.hadoop.fs.FileSystem, path: String,
      stage: String, touched: Seq[Int]): Unit = {
    val bak = path + "_bak"
    fs.delete(new org.apache.hadoop.fs.Path(bak), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(bak))
    touched.foreach { b =>
      val live = new org.apache.hadoop.fs.Path(s"$path/gbucket=$b")
      val stg = new org.apache.hadoop.fs.Path(s"$stage/gbucket=$b")
      val bkP = new org.apache.hadoop.fs.Path(s"$bak/gbucket=$b")
      val hadLive = fs.exists(live)
      if (hadLive && !fs.rename(live, bkP))
        throw new java.io.IOException(s"bucket swap: cannot move $live aside")
      // a touched bucket always stages rows (tombstones are retained),
      // but guard: restore the backup rather than leave the bucket gone
      if (!fs.exists(stg) || !fs.rename(stg, live)) {
        if (hadLive) fs.rename(bkP, live)
        throw new java.io.IOException(s"bucket swap: cannot move $stg into place")
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(bak), true)
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
  }

  /** Bucket-level crash recovery: restore any backed-up bucket whose
    * live dir is missing (crash between the two renames), then clear
    * leftover backup/stage dirs. Fully-swapped buckets keep their new
    * data — re-running the interrupted merge is a per-bucket no-op.
    */
  private def recoverBucketSwap(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Unit = {
    val bak = new org.apache.hadoop.fs.Path(path + "_bak")
    if (fs.exists(bak)) {
      fs.listStatus(bak).foreach { st =>
        val live = new org.apache.hadoop.fs.Path(path + "/" + st.getPath.getName)
        if (!fs.exists(live) && !fs.rename(st.getPath, live))
          throw new java.io.IOException(
            s"bucket swap recovery: cannot restore ${st.getPath}")
      }
      fs.delete(bak, true)
    }
    fs.delete(new org.apache.hadoop.fs.Path(path + "_stage"), true)
  }

  private def fileSystem(spark: SparkSession): org.apache.hadoop.fs.FileSystem =
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** If a prior swap crashed between moving the live table aside and
    * moving the staged table in, the data survives at `path + "_old"` —
    * restore it before reading.
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

  /** Read an upsert-maintained table: live rows only (tombstones
    * filtered, marker column dropped).
    *
    * Side-effect free: a reader must never rename directories, or it
    * races a writer mid-[[swapIn]] (restoring `_old` between the
    * writer's two renames strands the staged data). If a crashed swap
    * left no live dir, serve the `_old` backup read-only; the next
    * WRITE repairs the layout via [[recoverIfCrashed]]. Writers are
    * assumed single-threaded per table (parquet dirs have no log).
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val fs = fileSystem(spark)
    val src =
      if (fs.exists(new org.apache.hadoop.fs.Path(path))) path
      else if (fs.exists(new org.apache.hadoop.fs.Path(path + "_old")))
        path + "_old"
      else path // fail with the normal missing-path error
    // mergeSchema for the same reason as the merge-side read: partial
    // bucket rewrites mean no single footer holds the evolved schema
    val df0 = spark.read.option("mergeSchema", "true").parquet(src)
    val df = if (df0.columns.contains("gbucket")) df0.drop("gbucket") else df0
    if (df.columns.contains("_deleted"))
      df.filter(!coalesce(col("_deleted"), lit(false))).drop("_deleted")
    else df
  }

  /** OPTIMIZE analogue: rewrite a table directory to `targetFiles`.
    * Hive-partitioned tables (incl. the upsert bucket layout) keep
    * their partitioning: rows are hashed back into `targetFiles` tasks
    * on the partition keys and written `partitionBy`, compacting each
    * partition without flattening the directory structure a subsequent
    * pruned merge depends on.
    */
  def compact(spark: SparkSession, path: String, targetFiles: Int): Unit = {
    val fs = fileSystem(spark)
    recoverIfCrashed(fs, path)
    recoverBucketSwap(fs, path)
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

  /** MERGE-upsert lifecycle in the gate: seed the table with 90% of the
    * keys, then apply one deterministic change batch — inserts (the
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
    upsert(spark, path, seeded, Seq("order_id"), "seq")
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
    upsert(spark, path, inserts.unionByName(updates).unionByName(deletes),
      Seq("order_id"), "seq")
    read(spark, path).select(col("order_id"), col("status"), col("seq"))
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

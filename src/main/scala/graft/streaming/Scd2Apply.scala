package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.VersionedLake

/** Streaming SCD TYPE 2 maintenance — the second half of the
  * reference's `AUTO CDC … STORED AS SCD TYPE 2` run as a STREAM (ref
  * cdc_customers_silver.sql:69-90; [[EventStreams.streamCdcApply]] is
  * the SCD1 twin): a CDC change feed arrives in microbatches in
  * ARBITRARY sequence order, and each batch incrementally maintains a
  * bucketed SCD2 HISTORY table whose final state must equal the batch
  * resolution over the whole feed — validity windows
  * (`__start_at`/`__end_at`/`__is_current`) included.
  *
  * Incremental shape: history versions are not independently mergeable
  * rows (an out-of-order change rewrites its NEIGHBORS' validity
  * windows), so the unit of maintenance is the KEY, co-located by hash
  * bucket. Each microbatch
  *
  *  1. hashes its keys to buckets (`pmod(hash(key), NB)`) — the
  *     touched set, ≤ NB ints through the driver;
  *  2. reads ONLY those buckets' live files, resolved from the tip
  *     manifest of the history table — a [[VersionedLake]] table (it
  *     stores the resolved history PLUS the DELETE closer rows,
  *     so the per-key change set is fully reconstructible: change =
  *     (key, op, value, props, seq=__start_at));
  *  3. splits the stored rows AT KEY GRAIN: rows of keys the batch
  *     touches re-resolve over (stored ∪ batch) changes with the SAME
  *     [[graft.operators.Cdc.scd2FromStaged]] the batch view uses —
  *     streaming and batch semantics cannot drift; exact replays
  *     dedupe on (key, sequence) — while rows of UNTOUCHED keys that
  *     merely share a bucket CARRY OVER VERBATIM (a broadcast
  *     anti-join against the batch's key set, never re-resolved —
  *     re-resolution cost is O(batch keys' history), not
  *     O(touched buckets' history));
  *  4. commits the touched buckets' new content as ONE version
  *     ([[VersionedLake.rewriteBuckets]]: one file per bucket, all
  *     buckets atomically, bucket-granular conflict detection), then
  *     vacuums to that version — the history keeps only its current
  *     state.
  *
  * Cost per batch is O(batch keys' history + batch) resolution work
  * plus O(touched buckets) rewrite IO, never O(table): the
  * streaming-CDC-into-SCD2 shape that holds at 100 TB (bucket count
  * scales with key cardinality so the rewrite term stays
  * change-proportional). Order independence is by construction —
  * re-resolution always sees every change of a batch key — and the
  * gate proves it by splitting the feed on sequence PARITY (maximally
  * out of order). Readers filter the DELETE closer rows; the oracle is
  * the batch SCD2 SQL.
  */
object Scd2Apply {

  // Bucket count is a TABLE property proportioned to key cardinality
  // (the rewrite term is O(touched buckets)); 16 suits the gate's ~1e5
  // history rows — per-batch fixed cost (staged files, footer stats,
  // manifest lines) scales with NB, so oversizing it buys nothing
  // until the per-bucket history outgrows a task.
  private[graft] val NB = 16

  /** One microbatch of staged changes into the history table. `nb` is
    * the table's bucket count (default: the gate's pinned [[NB]]; the
    * scale bench passes the production sizing — nb ∝ key cardinality —
    * so per-bucket history stays constant as the table grows). The
    * first commit stamps it as a table property; a later call with a
    * different `nb` is refused.
    */
  def applyBatch(spark: SparkSession, table: String,
      batch: DataFrame, nb: Int = NB): Unit = {
    val changes = batch.localCheckpoint(true) // one small batch, read thrice
    VersionedLake.rewriteBuckets(spark, table, changes, Seq("key_id"), nb) {
      (tagged, stored) =>
        // EAGERLY materialized because the key-grain split consumes it
        // twice (semi and anti branches of the same write job): a lazy
        // cache lets the branches race and re-read every touched
        // bucket — the double scan, not the join work, is what shows
        // up at bench grain. localCheckpoint pins the touched buckets'
        // rows in the block manager once, before the write job plans.
        val existing = stored.map(_.localCheckpoint(true))
        val batchKeys = tagged.select(col("key_id")).distinct()
        // key-grain pruning: only rows of BATCH keys enter re-resolution;
        // same-bucket rows of other keys are copied through untouched
        val carryOver = existing.map(
          _.join(broadcast(batchKeys), Seq("key_id"), "left_anti"))
        val storedChanges = existing.map(
          _.join(broadcast(batchKeys), Seq("key_id"), "left_semi")
            .select(col("key_id"), col("operation"), col("value"),
              col("props"), col("__start_at").as("sequence_number"),
              col("gbucket")))
        val batchChanges = tagged.select(
          col("key_id"), col("operation"), col("value"), col("props"),
          col("sequence_number"), col("gbucket"))
        val allChanges = storedChanges
          .map(_.unionByName(batchChanges)).getOrElse(batchChanges)
          .dropDuplicates("key_id", "sequence_number") // replay-idempotent
        val resolved = graft.operators.Cdc.scd2FromStaged(
            allChanges.drop("gbucket"))
          .withColumn("gbucket", pmod(hash(col("key_id")), lit(nb)))
        carryOver.map(c =>
            resolved.unionByName(c.select(resolved.columns.map(col): _*)))
          .getOrElse(resolved)
    }
    // the history keeps only its current state: superseded files go now
    VersionedLake.vacuum(spark, table, retainLast = 1)
  }

  /** Consumer view: the maintained history minus the DELETE closers. */
  def readHistory(spark: SparkSession, table: String): DataFrame =
    VersionedLake.read(spark, table).filter(col("operation") =!= "DELETE")

  def streamScd2Apply(spark: SparkSession, dir: String): DataFrame = {
    val checkpoint = Files.createTempDirectory("graft_scd2a_ckpt").toString
    val feed = graft.sources.Scratch.dir("scd2a_feed")
    val table = graft.sources.Scratch.dir("scd2a_hist")
    val staged = graft.operators.Cdc.stage(graft.Tables.events(spark, dir))
    // parity split ⇒ each key's changes scatter across microbatches in
    // maximally out-of-order sequence order
    staged.withColumn("b", pmod(col("sequence_number"), lit(3)))
      .repartition(1).write.partitionBy("b").parquet(feed)
    val feedSchema = spark.read.parquet(s"$feed/b=0").schema
    val q = spark.readStream.schema(feedSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$feed/b=*")
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatch(spark, table, batch.drop("b"))
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(checkpoint))
    readHistory(spark, table)
      .select(col("key_id"), col("value"), col("props"), col("operation"),
        col("__start_at"), col("__end_at"), col("__is_current"))
  }

  // ---- registry ------------------------------------------------------------
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_scd2_apply" -> ((s, d) =>
      streamScd2Apply(s, d).orderBy(col("key_id"), col("__start_at"))))

  def oracles: Map[String, String] = Map(
    "stream_scd2_apply" -> graft.operators.Cdc.scd2Sql)
}

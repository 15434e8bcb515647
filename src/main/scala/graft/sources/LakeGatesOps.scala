package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import LakeModel._

/** Registered end-to-end gate bodies, part 2: streaming source, write constraints, shallow clone, history, binpack, point lookup, manifest delta, prune/rename/generated/travel/vacuum-dry-run/cluster-by gates.
  *
  * One slice of the [[VersionedLake]] surface (r15 verdict task 6
  * split the 5.8k-line object into focused concern files with zero
  * behavior change); self-typed to the object so cross-concern calls
  * resolve exactly as before.
  */
trait LakeGatesOps { this: VersionedLake.type =>

  /** The STREAMING SOURCE as a gate row: the commit log of a lake table
    * is consumed by four Structured Streaming runs sharing one
    * checkpoint, proving the four properties a streaming source owes
    * its consumers:
    *
    *  1. run 1 (after v1 copy-on-write + v2 MOR) delivers both
    *     versions' change rows;
    *  2. a version committed BETWEEN runs (v3) is delivered by run 2
    *     ALONE — `resumed_only_new_version`: the checkpoint resumes
    *     incrementally, delivered rows = exactly the new version's
    *     accepted changes;
    *  3. a PURE POSITION-DELETE commit (v4, [[dvDelete]] of
    *     `key_id % 10 = 0`) — which appends NO data file — still
    *     delivers exactly one tombstone per doomed current row
    *     (`delete_delivered_tombstones`): the trickle-delete grain the
    *     r6 change log silently dropped;
    *  4. run 4, with nothing new committed, delivers ZERO rows —
    *     `replay_delivered_zero`: at-most-once per checkpoint.
    *
    * The accumulated stream output (a parquet sink with its own
    * exactly-once metadata log) is then resolved SCD1-style — winner
    * per key by (sequence, delete-wins-tie), tombstones dropped — and
    * must hash-match the full-feed-minus-deleted-keys oracle state:
    * the proof that the change stream carries ENOUGH to rebuild the
    * table, position deletes included. `n_change_rows` is
    * oracle-computed (one change row per distinct key per third, plus
    * one tombstone per deleted key), so over- or under-delivery fails
    * the gate numerically, not just boolean-ly.
    */
  def streamSourceGate(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val path = Scratch.dir("vlake_src")
    val ckpt = Scratch.dir("vlake_src_ckpt")
    val acc = Scratch.dir("vlake_src_acc")
    val staged = graft.operators.Cdc.stage(graft.Tables.events(spark, sfDir))
    val maxSeq = staged.agg(max(col("sequence_number"))).head().getLong(0)
    val t1 = maxSeq / 3
    val t2 = maxSeq * 2 / 3
    def asChanges(df: DataFrame): DataFrame =
      df.withColumn("_deleted", col("operation") === "DELETE")
        .drop("operation")
    upsert(spark, path,
      asChanges(staged.filter(col("sequence_number") <= t1)),
      Seq("key_id"), "sequence_number")
    dvUpsert(spark, path,
      asChanges(staged.filter(col("sequence_number") > t1 &&
        col("sequence_number") <= t2)),
      Seq("key_id"), "sequence_number")
    val schema = spark.read.parquet(s"$path/$ChangesDir/v000001").schema
    def runOnce(): Long = {
      val q = streamSource(spark, path, schema)
        .writeStream.format("parquet")
        .option("path", acc).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(acc).count()
    }
    val n1 = runOnce() // v1 + v2 change rows
    val third3 = asChanges(staged.filter(col("sequence_number") > t2))
      .localCheckpoint(true)
    dvUpsert(spark, path, third3, Seq("key_id"), "sequence_number")
    val n2 = runOnce() // resumes: v3's rows alone
    // v4: a PURE position delete — no data file appended, only a DV
    // sidecar; the change log must still carry its tombstones
    val doomKeys = staged.filter(pmod(col("key_id"), lit(10)) === 0)
      .select(col("key_id")).distinct().localCheckpoint(true)
    dvDelete(spark, path, doomKeys, Seq("key_id"))
    val n3 = runOnce() // v4's tombstones alone
    val n4 = runOnce() // replay: nothing new committed
    val d3 = third3.select(col("key_id")).distinct().count()
    val resumedOnlyNew = (n2 - n1) == d3
    val deleteDelivered = (n3 - n2) == doomKeys.count()
    val replayZero = n4 == n3
    // SCD1 resolution with DELETE-WINS-TIE: a dvDelete tombstone
    // carries the doomed row's own sequence, so at equal sequence the
    // tombstone supersedes the row it deletes
    val w = Window.partitionBy(col("key_id"))
      .orderBy(col("sequence_number").desc,
        coalesce(col("_deleted"), lit(false)).desc)
    spark.read.parquet(acc)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && !coalesce(col("_deleted"), lit(false)))
      .select(col("key_id"), col("value"), col("props"),
        col("sequence_number").as("last_sequence"))
      .withColumn("n_change_rows", lit(n3))
      .withColumn("resumed_only_new_version", lit(resumedOnlyNew))
      .withColumn("delete_delivered_tombstones", lit(deleteDelivered))
      .withColumn("replay_delivered_zero", lit(replayZero))
  }

  val streamSourceGateSql: String =
    """WITH stg AS (
         SELECT event_id AS sequence_number,
           CASE WHEN event_type = 'signup' THEN 'INSERT'
                WHEN event_type = 'error' THEN 'DELETE'
                ELSE 'UPDATE' END AS operation,
           user_id AS key_id, value, props
         FROM events
         WHERE user_id IS NOT NULL AND event_id IS NOT NULL
           AND event_type IS NOT NULL AND value IS NOT NULL),
       cut AS (SELECT MAX(sequence_number) // 3 AS t1,
                      MAX(sequence_number) * 2 // 3 AS t2 FROM stg),
       chg AS (
         SELECT
           (SELECT COUNT(DISTINCT key_id) FROM stg, cut
             WHERE sequence_number <= t1)
           + (SELECT COUNT(DISTINCT key_id) FROM stg, cut
               WHERE sequence_number > t1 AND sequence_number <= t2)
           + (SELECT COUNT(DISTINCT key_id) FROM stg, cut
               WHERE sequence_number > t2)
           + (SELECT COUNT(DISTINCT key_id) FROM stg
               WHERE key_id % 10 = 0) AS n),
       ranked AS (
         SELECT s.*, row_number() OVER (PARTITION BY key_id
           ORDER BY sequence_number DESC) AS rn
         FROM stg s)
       SELECT key_id, value, props, sequence_number AS last_sequence,
         (SELECT n FROM chg) AS n_change_rows,
         true AS resumed_only_new_version,
         true AS delete_delivered_tombstones,
         true AS replay_delivered_zero
       FROM ranked
       WHERE rn = 1 AND operation <> 'DELETE' AND key_id % 10 <> 0
       ORDER BY key_id"""

  /** CHECK constraints as a gate row. v1 lands the first third; a
    * `value IS NOT NULL` constraint is added (existing data validated
    * first), and then every enforcement property is exercised:
    *
    *  - an ADD whose predicate existing rows violate is itself
    *    rejected (`invalid_add_rejected`) — a constraint the table
    *    already breaks must never land;
    *  - a dirtied second third (nulls injected into `value` for
    *    `key_id % 3 = 0`) is rejected WHOLESALE by both the
    *    copy-on-write and the merge-on-read write paths
    *    (`cow_dirty_rejected` / `mor_dirty_rejected`);
    *  - both rejections are ATOMIC: the version chain is unchanged
    *    afterwards (`reject_was_atomic`) — no partial batch, no
    *    orphan manifest.
    *
    * The clean second and third thirds then commit through both paths,
    * and the final state hash-matches the full-feed SCD1 oracle — the
    * proof that enforcement never dropped or altered valid changes.
    * Enforcement itself is one change-scale job per write (see
    * [[enforceConstraints]]), the cost profile a 100 TB trickle
    * pipeline needs.
    */
  def writeConstraints(spark: SparkSession, sfDir: String): DataFrame = {
    val path = Scratch.dir("vlake_ck")
    val staged = graft.operators.Cdc.stage(graft.Tables.events(spark, sfDir))
    val maxSeq = staged.agg(max(col("sequence_number"))).head().getLong(0)
    val t1 = maxSeq / 3
    val t2 = maxSeq * 2 / 3
    def asChanges(df: DataFrame): DataFrame =
      df.withColumn("_deleted", col("operation") === "DELETE")
        .drop("operation")
    upsert(spark, path,
      asChanges(staged.filter(col("sequence_number") <= t1)),
      Seq("key_id"), "sequence_number")
    addConstraint(spark, path, "value_present", "value IS NOT NULL")
    val invalidAddRejected =
      try {
        addConstraint(spark, path, "value_below", "value < -1e18"); false
      } catch { case _: ConstraintViolation => true }
    val second = asChanges(staged.filter(col("sequence_number") > t1 &&
      col("sequence_number") <= t2)).localCheckpoint(true)
    val dirty = second.withColumn("value",
      when(col("key_id") % 3 === 0, lit(null).cast("double"))
        .otherwise(col("value")))
    val vBefore = versions(spark, path).last
    val cowRejected =
      try { upsert(spark, path, dirty, Seq("key_id"), "sequence_number"); false }
      catch { case _: ConstraintViolation => true }
    val morRejected =
      try {
        dvUpsert(spark, path, dirty, Seq("key_id"), "sequence_number"); false
      } catch { case _: ConstraintViolation => true }
    val atomic = versions(spark, path).last == vBefore
    upsert(spark, path, second, Seq("key_id"), "sequence_number")
    dvUpsert(spark, path,
      asChanges(staged.filter(col("sequence_number") > t2)),
      Seq("key_id"), "sequence_number")
    read(spark, path)
      .select(col("key_id"), col("value"), col("props"),
        col("sequence_number").as("last_sequence"))
      .withColumn("invalid_add_rejected", lit(invalidAddRejected))
      .withColumn("cow_dirty_rejected", lit(cowRejected))
      .withColumn("mor_dirty_rejected", lit(morRejected))
      .withColumn("reject_was_atomic", lit(atomic))
  }

  val writeConstraintsSql: String =
    """WITH stg AS (
         SELECT event_id AS sequence_number,
           CASE WHEN event_type = 'signup' THEN 'INSERT'
                WHEN event_type = 'error' THEN 'DELETE'
                ELSE 'UPDATE' END AS operation,
           user_id AS key_id, value, props
         FROM events
         WHERE user_id IS NOT NULL AND event_id IS NOT NULL
           AND event_type IS NOT NULL AND value IS NOT NULL),
       ranked AS (
         SELECT s.*, row_number() OVER (PARTITION BY key_id
           ORDER BY sequence_number DESC) AS rn
         FROM stg s)
       SELECT key_id, value, props, sequence_number AS last_sequence,
         true AS invalid_add_rejected, true AS cow_dirty_rejected,
         true AS mor_dirty_rejected, true AS reject_was_atomic
       FROM ranked
       WHERE rn = 1 AND operation <> 'DELETE'
       ORDER BY key_id"""

  /** SHALLOW CLONE as a gate row. The source lands two thirds of the
    * feed (v1, v2); [[cloneTable]] forks it; then both histories
    * diverge and every independence property is engine-asserted:
    *
    *  - `cloned_zero_copy`: every cloned data file shares its inode
    *    with the source (hard-link nlink ≥ 2) — O(#files) metadata,
    *    zero bytes;
    *  - `clone_write_isolated`: the clone absorbing the final third
    *    (MOR) leaves the source's manifest byte-identical;
    *  - `source_files_reclaimed`: the source is then poisoned (every
    *    key overwritten at higher sequence — would corrupt the clone
    *    if any path were shared) and VACUUMED down to the poisoned
    *    tip, which physically deletes every pre-clone file from the
    *    source directory — and the clone STILL reads intact (the
    *    links keep the shared inodes alive; Delta's path-based
    *    shallow clones break exactly here).
    *
    * The clone's final read hash-matches the full-feed SCD1 oracle;
    * the poison (value −99999 at shifted sequences) is chosen so any
    * leak across table boundaries fails the hash numerically.
    */
  def shallowClone(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Scratch.dir("vlake_cls")
    val dst = Scratch.dir("vlake_cld")
    val staged = graft.operators.Cdc.stage(graft.Tables.events(spark, sfDir))
      .localCheckpoint(true)
    val maxSeq = staged.agg(max(col("sequence_number"))).head().getLong(0)
    val t1 = maxSeq / 3
    val t2 = maxSeq * 2 / 3
    def asChanges(df: DataFrame): DataFrame =
      df.withColumn("_deleted", col("operation") === "DELETE")
        .drop("operation")
    upsert(spark, src,
      asChanges(staged.filter(col("sequence_number") <= t1)),
      Seq("key_id"), "sequence_number")
    upsert(spark, src,
      asChanges(staged.filter(col("sequence_number") > t1 &&
        col("sequence_number") <= t2)),
      Seq("key_id"), "sequence_number")
    cloneTable(spark, src, dst)
    val m1 = manifestEntries(spark, dst, 1)
    val zeroCopy = m1.data.forall { rel =>
      java.nio.file.Files.getAttribute(
        java.nio.file.Paths.get(new Path(s"$dst/$rel").toUri.getPath),
        "unix:nlink").asInstanceOf[Number].longValue >= 2
    }
    val srcTip = versions(spark, src).last
    val srcLines = manifestLines(spark, src, srcTip)
    dvUpsert(spark, dst,
      asChanges(staged.filter(col("sequence_number") > t2)),
      Seq("key_id"), "sequence_number")
    val writeIsolated = versions(spark, src).last == srcTip &&
      manifestLines(spark, src, srcTip) == srcLines
    // poison the source: every key overwritten at a winning sequence
    val poison = staged.select(col("key_id"),
      (col("sequence_number") + maxSeq).as("sequence_number"),
      lit(-99999.0).as("value"), col("props"))
      .withColumn("_deleted", lit(false))
    upsert(spark, src, poison, Seq("key_id"), "sequence_number")
    vacuum(spark, src, retainLast = 1)
    val f = fs(spark)
    val reclaimed = m1.data.forall(rel =>
      !f.exists(new Path(s"$src/$rel")))
    read(spark, dst)
      .select(col("key_id"), col("value"), col("props"),
        col("sequence_number").as("last_sequence"))
      .withColumn("cloned_zero_copy", lit(zeroCopy))
      .withColumn("clone_write_isolated", lit(writeIsolated))
      .withColumn("source_files_reclaimed", lit(reclaimed))
  }

  val shallowCloneSql: String =
    """WITH stg AS (
         SELECT event_id AS sequence_number,
           CASE WHEN event_type = 'signup' THEN 'INSERT'
                WHEN event_type = 'error' THEN 'DELETE'
                ELSE 'UPDATE' END AS operation,
           user_id AS key_id, value, props
         FROM events
         WHERE user_id IS NOT NULL AND event_id IS NOT NULL
           AND event_type IS NOT NULL AND value IS NOT NULL),
       ranked AS (
         SELECT s.*, row_number() OVER (PARTITION BY key_id
           ORDER BY sequence_number DESC) AS rn
         FROM stg s)
       SELECT key_id, value, props, sequence_number AS last_sequence,
         true AS cloned_zero_copy, true AS clone_write_isolated,
         true AS source_files_reclaimed
       FROM ranked
       WHERE rn = 1 AND operation <> 'DELETE'
       ORDER BY key_id"""

  /** DESCRIBE HISTORY as a gate row: one scripted pass drives every
    * commit path — COW merge, MOR merge, trickle delete, constraint
    * add, compaction, restore — and the audit must report each version
    * with its operation name AND the row count visible at that
    * version, all six of which the oracle derives independently from
    * the feed (counts c1/c2/c3 are the SCD1 cardinalities at the
    * sequence cutoffs, minus the `key_id % 7` delete wave). Time
    * travel supplies the per-version counts; the history itself is
    * metadata-scale.
    */
  def describeHistory(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val path = Scratch.dir("vlake_hist")
    val staged = graft.operators.Cdc.stage(graft.Tables.events(spark, sfDir))
    val maxSeq = staged.agg(max(col("sequence_number"))).head().getLong(0)
    val t1 = maxSeq / 3
    val t2 = maxSeq * 2 / 3
    def asChanges(df: DataFrame): DataFrame =
      df.withColumn("_deleted", col("operation") === "DELETE")
        .drop("operation")
    upsert(spark, path, // v1 MERGE
      asChanges(staged.filter(col("sequence_number") <= t1)),
      Seq("key_id"), "sequence_number")
    dvUpsert(spark, path, // v2 MERGE_MOR
      asChanges(staged.filter(col("sequence_number") > t1 &&
        col("sequence_number") <= t2)),
      Seq("key_id"), "sequence_number")
    val delKeys = read(spark, path)
      .filter(col("key_id") % 7 === 0).select(col("key_id"))
      .localCheckpoint(true)
    dvDelete(spark, path, delKeys, Seq("key_id")) // v3 DELETE
    addConstraint(spark, path, // v4 ADD_CONSTRAINT (metadata-only)
      "value_present", "value IS NOT NULL")
    compactDvs(spark, path) // v5 OPTIMIZE
    restore(spark, path, 1) // v6 RESTORE (by reference)
    val counts = versions(spark, path)
      .map(v => v -> read(spark, path, Some(v)).count()).toMap
    history(spark, path).select(col("version"), col("operation"))
      .as[(Int, String)].collect().toSeq
      .map { case (v, op) => (v, op, counts(v)) }
      .toDF("version", "operation", "n_live_rows")
  }

  val describeHistorySql: String =
    """WITH stg AS (
         SELECT event_id AS sequence_number,
           CASE WHEN event_type = 'signup' THEN 'INSERT'
                WHEN event_type = 'error' THEN 'DELETE'
                ELSE 'UPDATE' END AS operation,
           user_id AS key_id
         FROM events
         WHERE user_id IS NOT NULL AND event_id IS NOT NULL
           AND event_type IS NOT NULL AND value IS NOT NULL),
       cut AS (SELECT MAX(sequence_number) // 3 AS t1,
                      MAX(sequence_number) * 2 // 3 AS t2 FROM stg),
       r1 AS (
         SELECT s.*, row_number() OVER (PARTITION BY key_id
           ORDER BY sequence_number DESC) AS rn
         FROM stg s, cut c WHERE s.sequence_number <= c.t1),
       c1 AS (SELECT COUNT(*) AS n FROM r1
              WHERE rn = 1 AND operation <> 'DELETE'),
       r2 AS (
         SELECT s.*, row_number() OVER (PARTITION BY key_id
           ORDER BY sequence_number DESC) AS rn
         FROM stg s, cut c WHERE s.sequence_number <= c.t2),
       v2vis AS (SELECT key_id FROM r2
                 WHERE rn = 1 AND operation <> 'DELETE'),
       c2 AS (SELECT COUNT(*) AS n FROM v2vis),
       c3 AS (SELECT (SELECT n FROM c2) - COUNT(*) AS n
              FROM v2vis WHERE key_id % 7 = 0)
       SELECT * FROM (VALUES
         (1, 'MERGE',          (SELECT n FROM c1)),
         (2, 'MERGE_MOR',      (SELECT n FROM c2)),
         (3, 'DELETE',         (SELECT n FROM c3)),
         (4, 'ADD_CONSTRAINT', (SELECT n FROM c3)),
         (5, 'OPTIMIZE',       (SELECT n FROM c3)),
         (6, 'RESTORE',        (SELECT n FROM c1)))
         AS t(version, operation, n_live_rows)
       ORDER BY version"""

  /** OPTIMIZE as a gate row: the morUpsert fixture (v1 copy-on-write,
    * then three parity-split MOR batches) deliberately fragments the
    * table — multiple small files and DV mappings per bucket — and
    * [[optimizeSmallFiles]] must fold every bucket to exactly ONE
    * clean file (engine-asserted from the manifest), drop all DVs,
    * and leave the visible rows byte-identical (exceptAll both ways).
    * The final state hash-matches the full-feed SCD1 oracle.
    */
  def optimizeBinpack(spark: SparkSession, sfDir: String): DataFrame = {
    val path = Scratch.dir("vlake_opt")
    val staged = graft.operators.Cdc.stage(graft.Tables.events(spark, sfDir))
    val maxSeq = staged.agg(max(col("sequence_number"))).head().getLong(0)
    val t1 = maxSeq / 2
    def asChanges(df: DataFrame): DataFrame =
      df.withColumn("_deleted", col("operation") === "DELETE")
        .drop("operation")
    upsert(spark, path,
      asChanges(staged.filter(col("sequence_number") <= t1)),
      Seq("key_id"), "sequence_number")
    val second = staged.filter(col("sequence_number") > t1)
    (0 to 2).foreach { i =>
      dvUpsert(spark, path,
        asChanges(second.filter(pmod(col("sequence_number"), lit(3)) === i)),
        Seq("key_id"), "sequence_number")
    }
    val mBefore = manifestEntries(spark, path, versions(spark, path).last)
    val fragmented =
      mBefore.data.groupBy(bucketOf).exists(_._2.size > 1) &&
        mBefore.dv.nonEmpty
    val before = read(spark, path).localCheckpoint(true)
    optimizeSmallFiles(spark, path)
    val mAfter = manifestEntries(spark, path, versions(spark, path).last)
    val onePerBucket = mAfter.data.groupBy(bucketOf).forall(_._2.size == 1)
    val after = read(spark, path)
    val identical = graft.Dist.multisetEqual(before, after)
    after
      .select(col("key_id"), col("value"), col("props"),
        col("sequence_number").as("last_sequence"))
      .withColumn("was_fragmented", lit(fragmented))
      .withColumn("one_file_per_bucket", lit(onePerBucket))
      .withColumn("dv_free_after", lit(mAfter.dv.isEmpty))
      .withColumn("rows_identical", lit(identical))
  }

  val optimizeBinpackSql: String =
    """WITH stg AS (
         SELECT event_id AS sequence_number,
           CASE WHEN event_type = 'signup' THEN 'INSERT'
                WHEN event_type = 'error' THEN 'DELETE'
                ELSE 'UPDATE' END AS operation,
           user_id AS key_id, value, props
         FROM events
         WHERE user_id IS NOT NULL AND event_id IS NOT NULL
           AND event_type IS NOT NULL AND value IS NOT NULL),
       ranked AS (
         SELECT s.*, row_number() OVER (PARTITION BY key_id
           ORDER BY sequence_number DESC) AS rn
         FROM stg s)
       SELECT key_id, value, props, sequence_number AS last_sequence,
         true AS was_fragmented, true AS one_file_per_bucket,
         true AS dv_free_after, true AS rows_identical
       FROM ranked
       WHERE rn = 1 AND operation <> 'DELETE'
       ORDER BY key_id"""

  /** POINT LOOKUP as a gate row: over a 64-bucket table carrying both
    * MOR appends and DVs, [[readKeys]] serves a sparse key set
    * (`key_id % 11 = 0`) while scanning STRICTLY FEWER files than the
    * snapshot holds (`scan_pruned`, computed by the reader's own
    * [[keyBuckets]] over the manifest). Rows hash-match the oracle's
    * filtered SCD1 state — deletes honored, stale versions invisible.
    */
  def pointLookup(spark: SparkSession, sfDir: String): DataFrame = {
    val path = Scratch.dir("vlake_pt")
    val staged = graft.operators.Cdc.stage(graft.Tables.events(spark, sfDir))
    val maxSeq = staged.agg(max(col("sequence_number"))).head().getLong(0)
    val t1 = maxSeq / 2
    def asChanges(df: DataFrame): DataFrame =
      df.withColumn("_deleted", col("operation") === "DELETE")
        .drop("operation")
    upsert(spark, path,
      asChanges(staged.filter(col("sequence_number") <= t1)),
      Seq("key_id"), "sequence_number", numBuckets = 64)
    dvUpsert(spark, path,
      asChanges(staged.filter(col("sequence_number") > t1)),
      Seq("key_id"), "sequence_number")
    val lookup = staged.select(col("key_id")).distinct()
      .filter(col("key_id") % 11 === 0).localCheckpoint(true)
    val m = manifestEntries(spark, path, versions(spark, path).last)
    val buckets =
      keyBuckets(spark, path, m, lookup, Seq("key_id")).map(_._1).toSet
    val scanned = m.data.count(rel => buckets.contains(bucketOf(rel)))
    val pruned = scanned < m.data.size
    readKeys(spark, path, lookup, Seq("key_id"))
      .select(col("key_id"), col("value"), col("props"),
        col("sequence_number").as("last_sequence"))
      .withColumn("scan_pruned", lit(pruned))
  }

  val pointLookupSql: String =
    """WITH stg AS (
         SELECT event_id AS sequence_number,
           CASE WHEN event_type = 'signup' THEN 'INSERT'
                WHEN event_type = 'error' THEN 'DELETE'
                ELSE 'UPDATE' END AS operation,
           user_id AS key_id, value, props
         FROM events
         WHERE user_id IS NOT NULL AND event_id IS NOT NULL
           AND event_type IS NOT NULL AND value IS NOT NULL),
       ranked AS (
         SELECT s.*, row_number() OVER (PARTITION BY key_id
           ORDER BY sequence_number DESC) AS rn
         FROM stg s)
       SELECT key_id, value, props, sequence_number AS last_sequence,
         true AS scan_pruned
       FROM ranked
       WHERE rn = 1 AND operation <> 'DELETE' AND key_id % 11 = 0
       ORDER BY key_id"""

  /** MANIFEST DELTA ENCODING as a gate row: half the change feed lands
    * copy-on-write (v1, a full snapshot), the rest trickles in as
    * three MOR batches (v2..v4), and metadata commits (constraint
    * add/drop — realistic property churn, one validation job each at
    * most) climb the version counter past the checkpoint (v5..v9).
    * The engine asserts the metadata-write-scale claim directly on the
    * physical log: every between-checkpoint version stored as a delta,
    * the checkpoint version ([[ManifestCheckpointInterval]]) and v1
    * stored full, the last delta's PHYSICAL size under half its
    * resolved logical size (manifest writes are O(changed lines), not
    * O(table files)), a mid-chain time travel resolving to exactly the
    * SCD1 state of the feed prefix, and a vacuum past the checkpoint
    * re-rooting the oldest kept delta as a full snapshot so every
    * retained version still resolves — constraint props carried
    * through the re-root. The converged read hash-matches the SCD1
    * oracle.
    */
  def manifestDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val path = Scratch.dir("vlake_mdelta")
    // quarter of the key space: this gate proves the LOG ENCODING
    // (nine commits crossing a checkpoint), not data volume — the
    // full feed would spend its time re-scanning shards the encoding
    // claims never touch
    val staged = graft.operators.Cdc.stage(graft.Tables.events(spark, sfDir))
      .filter(pmod(col("key_id"), lit(4)) === 0)
    val maxSeq = staged.agg(max(col("sequence_number"))).head().getLong(0)
    val t1 = maxSeq / 2
    def asChanges(df: DataFrame): DataFrame =
      df.withColumn("_deleted", col("operation") === "DELETE")
        .drop("operation")
    upsert(spark, path, asChanges(staged.filter(col("sequence_number") <= t1)),
      Seq("key_id"), "sequence_number")
    val second = staged.filter(col("sequence_number") > t1)
      .localCheckpoint(true)
    // trickle MOR commits — record each batch's ACTUAL landed tip: a
    // regenerated small-SF feed can make a batch empty (or fully
    // rejected), in which case dvUpsert correctly commits NOTHING and
    // every later version number shifts. The r17 sf0.001 regeneration
    // hit exactly that: batch 1 was a no-op, the hard-coded
    // `Some(3)` time-travel read landed on batch 2's commit, and
    // `mid_chain_travel_exact` + `vacuum_rerooted_floor` flipped while
    // the engine was right. (Inherited-state fix, present at the
    // round-17 starting HEAD.)
    val batchTip = (0 to 2).map { i =>
      dvUpsert(spark, path,
        asChanges(second.filter(pmod(col("sequence_number"), lit(3)) === i)),
        Seq("key_id"), "sequence_number")
      versions(spark, path).last
    }
    // metadata commits v5..v9: cross the checkpoint with property churn
    addConstraint(spark, path, "ck1", "value IS NOT NULL") // v5
    dropConstraint(spark, path, "ck1") // v6
    addConstraint(spark, path, "ck2", "key_id IS NOT NULL") // v7
    dropConstraint(spark, path, "ck2") // v8 — the checkpoint
    addConstraint(spark, path, "ck3", "sequence_number IS NOT NULL") // v9
    val vs = versions(spark, path)
    def isDelta(v: Int): Boolean = rawManifestLines(spark, path, v)
      .headOption.exists(_.startsWith(DeltaHeaderPrefix))
    val K = ManifestCheckpointInterval
    val encodedRight = vs.forall { v =>
      if (v <= 1 || v % K == 0) !isDelta(v) else isDelta(v)
    }
    val lastDelta = vs.filter(v => v > 1 && v % K != 0).max
    val changeScale = rawManifestLines(spark, path, lastDelta).length * 2 <
      manifestLines(spark, path, lastDelta).length
    // mid-chain time travel: the tip after batch 1 = v1 + batches 0..1
    val w = Window.partitionBy(col("key_id"))
      .orderBy(col("sequence_number").desc)
    val expectedV3 = staged
      .filter(col("sequence_number") <= t1 ||
        pmod(col("sequence_number"), lit(3)) <= 1)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("operation") =!= "DELETE")
      .select(col("key_id"), col("value"), col("props"),
        col("sequence_number"))
    val gotV3 = read(spark, path, Some(batchTip(1)))
      .select(col("key_id"), col("value"), col("props"),
        col("sequence_number"))
    // signed-multiset equality in ONE job (exceptAll both ways is two)
    val travelExact = gotV3.withColumn("_sgn", lit(1))
      .unionByName(expectedV3.withColumn("_sgn", lit(-1)))
      .groupBy(col("key_id"), col("value"), col("props"),
        col("sequence_number"))
      .agg(sum(col("_sgn")).as("_d")).filter(col("_d") =!= 0).isEmpty
    // vacuum past the checkpoint: floor lands on a DELTA version (6),
    // which must be re-rooted to a full snapshot for the chain to
    // survive its ancestors' deletion
    // expected survivors derive from the ACTUAL committed chain (a
    // no-op trickle batch shifts every number): the last 4 versions
    val expectKept = versions(spark, path).takeRight(4)
    vacuum(spark, path, retainLast = 4)
    val kept = versions(spark, path)
    val rerooted = kept == expectKept && !isDelta(kept.head) &&
      kept.forall(v => manifestLines(spark, path, v).nonEmpty) &&
      manifestEntries(spark, path, kept.last).props
        .contains("constraint.ck3")
    read(spark, path)
      .select(col("key_id"), col("value"), col("props"),
        col("sequence_number").as("last_sequence"))
      .withColumn("delta_encoded_between_checkpoints", lit(encodedRight))
      .withColumn("delta_write_is_change_scale", lit(changeScale))
      .withColumn("mid_chain_travel_exact", lit(travelExact))
      .withColumn("vacuum_rerooted_floor", lit(rerooted))
  }

  val manifestDeltaSql: String =
    """WITH stg AS (
         SELECT event_id AS sequence_number,
           CASE WHEN event_type = 'signup' THEN 'INSERT'
                WHEN event_type = 'error' THEN 'DELETE'
                ELSE 'UPDATE' END AS operation,
           user_id AS key_id, value, props
         FROM events
         WHERE user_id IS NOT NULL AND event_id IS NOT NULL
           AND event_type IS NOT NULL AND value IS NOT NULL
           AND user_id % 4 = 0),
       ranked AS (
         SELECT s.*, row_number() OVER (PARTITION BY key_id
           ORDER BY sequence_number DESC) AS rn
         FROM stg s)
       SELECT key_id, value, props, sequence_number AS last_sequence,
         true AS delta_encoded_between_checkpoints,
         true AS delta_write_is_change_scale,
         true AS mid_chain_travel_exact,
         true AS vacuum_rerooted_floor
       FROM ranked
       WHERE rn = 1 AND operation <> 'DELETE'
       ORDER BY key_id"""

  /** DATA SKIPPING as a gate row: four equal key-range slices of
    * orders land as one COW snapshot plus three MOR appends, so each
    * commit's files hold exactly its slice — the arrival-order
    * correlation a trickle-ingested table has naturally. A range read
    * over the third slice must then prune to that commit's files: the
    * engine asserts every data file carries stats, the candidate set
    * is at most a third of the table's files, and the returned rows
    * hash-match the oracle's plain range filter over the same source.
    */
  def rangePrune(spark: SparkSession, sfDir: String): DataFrame = {
    val path = Scratch.dir("vlake_range")
    val orders = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val maxKey = orders.agg(max(col("o_orderkey"))).head().getLong(0)
    val q = maxKey / 4
    upsert(spark, path, orders.filter(col("o_orderkey") <= q),
      Seq("o_orderkey"), "o_orderkey", numBuckets = 8)
    (2 to 4).foreach { i =>
      val lo = (i - 1) * q
      val hi = if (i == 4) maxKey else i.toLong * q
      dvUpsert(spark, path,
        orders.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi),
        Seq("o_orderkey"), "o_orderkey")
    }
    val m = manifestEntries(spark, path, versions(spark, path).last)
    val statsComplete = m.data.forall(m.stats.contains)
    val lo = BigDecimal(2 * q + 1)
    val hi = BigDecimal(3 * q)
    val cand = rangeCandidates(spark, path, "o_orderkey", Some(lo), Some(hi))
    val pruned = cand.nonEmpty && cand.size * 3 <= m.data.size
    readRange(spark, path, "o_orderkey", Some(lo), Some(hi))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .withColumn("stats_cover_all_files", lit(statsComplete))
      .withColumn("scan_pruned", lit(pruned))
  }

  val rangePruneSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice,
         true AS stats_cover_all_files,
         true AS scan_pruned
       FROM orders
       WHERE o_orderkey > 2 * (SELECT MAX(o_orderkey) // 4 FROM orders)
         AND o_orderkey <= 3 * (SELECT MAX(o_orderkey) // 4 FROM orders)
       ORDER BY o_orderkey"""

  /** PREDICATE-EXTRACTED DATA SKIPPING as a gate row: two
    * arrival-correlated key slices (COW + MOR append), then one read
    * under a compound SQL WHERE clause. The engine must derive the
    * o_orderkey bound from the Catalyst expression tree itself —
    * nobody hands it a range — cut the candidate files to the second
    * slice (asserted ≥2×), and the surviving rows must hash-match the
    * oracle running the same WHERE clause verbatim.
    */
  def predicateSkip(spark: SparkSession, sfDir: String): DataFrame = {
    val path = Scratch.dir("vlake_pred")
    val orders = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val maxKey = orders.agg(max(col("o_orderkey"))).head().getLong(0)
    val half = maxKey / 2
    upsert(spark, path, orders.filter(col("o_orderkey") <= half),
      Seq("o_orderkey"), "o_orderkey", numBuckets = 8)
    val sliceOne = manifestEntries(spark, path, 1).data.toSet
    dvUpsert(spark, path, orders.filter(col("o_orderkey") > half),
      Seq("o_orderkey"), "o_orderkey")
    val pred = s"o_orderkey > $half AND o_totalprice >= 1000.0"
    val cand = predicateCandidates(spark, path, pred)
    // the extracted bound must cut EVERY first-slice file from the scan
    val pruned = cand.nonEmpty && cand.forall(!sliceOne.contains(_))
    readWhere(spark, path, pred)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .withColumn("scan_pruned", lit(pruned))
  }

  val predicateSkipSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, true AS scan_pruned
       FROM orders
       WHERE o_orderkey > (SELECT MAX(o_orderkey) // 2 FROM orders)
         AND o_totalprice >= 1000.0
       ORDER BY o_orderkey"""

  /** COLUMN MAPPING as a gate row: half the change feed lands under
    * the original schema, the column is renamed (metadata-only commit
    * — engine-asserts identical data lines across the rename), and the
    * rest of the feed trickles in SPEAKING THE NEW NAME via MOR
    * upserts that resolve against the old files through the mapping.
    * The converged read exposes the new logical name and hash-matches
    * the SCD1 oracle with the column aliased; time travel BEFORE the
    * rename still shows the old name (the mapping is versioned state).
    */
  def columnRename(spark: SparkSession, sfDir: String): DataFrame = {
    val path = Scratch.dir("vlake_rename")
    val staged = graft.operators.Cdc.stage(graft.Tables.events(spark, sfDir))
      .filter(pmod(col("key_id"), lit(2)) === 0)
    val maxSeq = staged.agg(max(col("sequence_number"))).head().getLong(0)
    val t1 = maxSeq / 2
    def asChanges(df: DataFrame): DataFrame =
      df.withColumn("_deleted", col("operation") === "DELETE")
        .drop("operation")
    upsert(spark, path, asChanges(staged.filter(col("sequence_number") <= t1)),
      Seq("key_id"), "sequence_number")
    val dataV1 = manifestEntries(spark, path, 1).data.toSet
    renameColumn(spark, path, "value", "amount")
    val v2 = manifestEntries(spark, path, 2)
    val zeroMotion = v2.data.toSet == dataV1
    val oldNameAtV1 = read(spark, path, Some(1)).columns.contains("value")
    // the rest of the feed arrives SPEAKING THE NEW NAME
    val second = staged.filter(col("sequence_number") > t1)
      .withColumnRenamed("value", "amount")
    (0 to 1).foreach { i =>
      dvUpsert(spark, path,
        asChanges(second.filter(pmod(col("sequence_number"), lit(2)) === i)),
        Seq("key_id"), "sequence_number")
    }
    val renamed = history(spark, path).collect()
      .exists(r => r.getString(1) == "RENAME_COLUMN")
    read(spark, path)
      .select(col("key_id"), col("amount"), col("props"),
        col("sequence_number").as("last_sequence"))
      .withColumn("rename_zero_data_motion", lit(zeroMotion))
      .withColumn("old_name_before_rename", lit(oldNameAtV1))
      .withColumn("history_records_rename", lit(renamed))
  }

  val columnRenameSql: String =
    """WITH stg AS (
         SELECT event_id AS sequence_number,
           CASE WHEN event_type = 'signup' THEN 'INSERT'
                WHEN event_type = 'error' THEN 'DELETE'
                ELSE 'UPDATE' END AS operation,
           user_id AS key_id, value, props
         FROM events
         WHERE user_id IS NOT NULL AND event_id IS NOT NULL
           AND event_type IS NOT NULL AND value IS NOT NULL
           AND user_id % 2 = 0),
       ranked AS (
         SELECT s.*, row_number() OVER (PARTITION BY key_id
           ORDER BY sequence_number DESC) AS rn
         FROM stg s)
       SELECT key_id, value AS amount, props,
         sequence_number AS last_sequence,
         true AS rename_zero_data_motion,
         true AS old_name_before_rename,
         true AS history_records_rename
       FROM ranked
       WHERE rn = 1 AND operation <> 'DELETE'
       ORDER BY key_id"""

  /** GENERATED COLUMNS as a gate row: half the feed lands before the
    * definition exists, the definition commits as metadata, and the
    * rest of the feed arrives WITHOUT the column — the writer computes
    * it from the stored expression. A batch that supplies a
    * contradicting value is rejected wholesale (engine-asserted: the
    * version counter does not move). The converged read shows the
    * honest retrofit semantic the oracle mirrors: keys whose current
    * row predates the definition read NULL (schema-evolution
    * backfill); keys rewritten since carry the computed value.
    */
  def generatedColumns(spark: SparkSession, sfDir: String): DataFrame = {
    val path = Scratch.dir("vlake_gen")
    val staged = graft.operators.Cdc.stage(graft.Tables.events(spark, sfDir))
      .filter(pmod(col("key_id"), lit(2)) === 0)
    val maxSeq = staged.agg(max(col("sequence_number"))).head().getLong(0)
    val t1 = maxSeq / 2
    def asChanges(df: DataFrame): DataFrame =
      df.withColumn("_deleted", col("operation") === "DELETE")
        .drop("operation")
    upsert(spark, path, asChanges(staged.filter(col("sequence_number") <= t1)),
      Seq("key_id"), "sequence_number")
    addGeneratedColumn(spark, path, "value_band",
      "CASE WHEN value >= 50.0 THEN 'hi' ELSE 'lo' END")
    val second = staged.filter(col("sequence_number") > t1)
      .localCheckpoint(true)
    (0 to 1).foreach { i => // writers OMIT the column — engine computes
      dvUpsert(spark, path,
        asChanges(second.filter(pmod(col("sequence_number"), lit(2)) === i)),
        Seq("key_id"), "sequence_number")
    }
    // a contradicting supplied value is rejected wholesale
    val before = versions(spark, path).last
    val rejected =
      try {
        dvUpsert(spark, path,
          asChanges(second.limit(5)).withColumn("value_band", lit("nope")),
          Seq("key_id"), "sequence_number")
        false
      } catch { case _: ConstraintViolation => true }
    val unmoved = versions(spark, path).last == before
    read(spark, path)
      .select(col("key_id"), col("value"), col("value_band"),
        col("sequence_number").as("last_sequence"))
      .withColumn("contradiction_rejected", lit(rejected && unmoved))
  }

  val generatedColumnsSql: String =
    """WITH stg AS (
         SELECT event_id AS sequence_number,
           CASE WHEN event_type = 'signup' THEN 'INSERT'
                WHEN event_type = 'error' THEN 'DELETE'
                ELSE 'UPDATE' END AS operation,
           user_id AS key_id, value, props
         FROM events
         WHERE user_id IS NOT NULL AND event_id IS NOT NULL
           AND event_type IS NOT NULL AND value IS NOT NULL
           AND user_id % 2 = 0),
       ranked AS (
         SELECT s.*, row_number() OVER (PARTITION BY key_id
           ORDER BY sequence_number DESC) AS rn
         FROM stg s)
       SELECT key_id, value,
         CASE WHEN sequence_number >
             (SELECT MAX(sequence_number) FROM stg) // 2
           THEN CASE WHEN value >= 50.0 THEN 'hi' ELSE 'lo' END
           ELSE NULL END AS value_band,
         sequence_number AS last_sequence,
         true AS contradiction_rejected
       FROM ranked
       WHERE rn = 1 AND operation <> 'DELETE'
       ORDER BY key_id"""

  /** TIMESTAMP AS OF as a gate row: three commits under an injected
    * deterministic clock (1000/2000/3000); the read resolves by
    * wall-clock to the last version at-or-before the target — the
    * between-commit instant and the exact-stamp instant both land on
    * v2, a pre-history instant is an error (engine-asserted).
    */
  def timeTravelTs(spark: SparkSession, sfDir: String): DataFrame = {
    val path = Scratch.dir("vlake_ts")
    val staged = graft.operators.Cdc.stage(graft.Tables.events(spark, sfDir))
      .filter(pmod(col("key_id"), lit(4)) === 0)
    val maxSeq = staged.agg(max(col("sequence_number"))).head().getLong(0)
    val (t1, t2) = (maxSeq / 3, maxSeq * 2 / 3)
    def asChanges(df: DataFrame): DataFrame =
      df.withColumn("_deleted", col("operation") === "DELETE")
        .drop("operation")
    try {
      var now = 0L
      setClockOverride(path, Some(() => now))
      now = 1000L
      upsert(spark, path,
        asChanges(staged.filter(col("sequence_number") <= t1)),
        Seq("key_id"), "sequence_number")
      now = 2000L
      dvUpsert(spark, path,
        asChanges(staged.filter(col("sequence_number") > t1 &&
          col("sequence_number") <= t2)),
        Seq("key_id"), "sequence_number")
      now = 3000L
      dvUpsert(spark, path,
        asChanges(staged.filter(col("sequence_number") > t2)),
        Seq("key_id"), "sequence_number")
      val betweenIsV2 = versionAtTimestamp(spark, path, 2500L) == 2
      val exactIsV2 = versionAtTimestamp(spark, path, 2000L) == 2
      val preHistoryRejected =
        try { versionAtTimestamp(spark, path, 999L); false }
        catch { case _: IllegalArgumentException => true }
      readAsOfTimestamp(spark, path, 2500L)
        .select(col("key_id"), col("value"), col("props"),
          col("sequence_number").as("last_sequence"))
        .withColumn("between_resolves_v2", lit(betweenIsV2))
        .withColumn("exact_stamp_resolves_v2", lit(exactIsV2))
        .withColumn("pre_history_rejected", lit(preHistoryRejected))
    } finally setClockOverride(path, None)
  }

  val timeTravelTsSql: String =
    """WITH stg AS (
         SELECT event_id AS sequence_number,
           CASE WHEN event_type = 'signup' THEN 'INSERT'
                WHEN event_type = 'error' THEN 'DELETE'
                ELSE 'UPDATE' END AS operation,
           user_id AS key_id, value, props
         FROM events
         WHERE user_id IS NOT NULL AND event_id IS NOT NULL
           AND event_type IS NOT NULL AND value IS NOT NULL
           AND user_id % 4 = 0),
       cut AS (
         SELECT * FROM stg
         WHERE sequence_number <=
           (SELECT MAX(sequence_number) FROM stg) * 2 // 3),
       ranked AS (
         SELECT c.*, row_number() OVER (PARTITION BY key_id
           ORDER BY sequence_number DESC) AS rn
         FROM cut c)
       SELECT key_id, value, props, sequence_number AS last_sequence,
         true AS between_resolves_v2,
         true AS exact_stamp_resolves_v2,
         true AS pre_history_rejected
       FROM ranked
       WHERE rn = 1 AND operation <> 'DELETE'
       ORDER BY key_id"""

  /** VACUUM DRY RUN as a gate row: a table whose history (COW + MOR +
    * compaction) leaves dead files behind, a read-only plan at
    * retention 1, then the real vacuum — the engine asserts the plan
    * was EXACT both ways: every planned path is gone afterwards, and
    * nothing outside the plan was touched (full before/after disk
    * walk). The surviving tip hash-matches the SCD1 oracle.
    */
  def vacuumDryRun(spark: SparkSession, sfDir: String): DataFrame = {
    val path = Scratch.dir("vlake_dryrun")
    val staged = graft.operators.Cdc.stage(graft.Tables.events(spark, sfDir))
      .filter(pmod(col("key_id"), lit(4)) === 0)
    val maxSeq = staged.agg(max(col("sequence_number"))).head().getLong(0)
    val t1 = maxSeq / 2
    def asChanges(df: DataFrame): DataFrame =
      df.withColumn("_deleted", col("operation") === "DELETE")
        .drop("operation")
    upsert(spark, path, asChanges(staged.filter(col("sequence_number") <= t1)),
      Seq("key_id"), "sequence_number")
    dvUpsert(spark, path, asChanges(staged.filter(col("sequence_number") > t1)),
      Seq("key_id"), "sequence_number")
    compactDvs(spark, path) // leaves v1/v2's files dead at retention 1
    val f = fs(spark)
    def walk(dir: Path, prefix: String): Seq[String] =
      if (!f.exists(dir)) Seq.empty
      else f.listStatus(dir).toSeq.flatMap { s =>
        val rel = if (prefix.isEmpty) s.getPath.getName
          else s"$prefix/${s.getPath.getName}"
        if (s.isDirectory) walk(s.getPath, rel) else Seq(rel)
      }
    val before = walk(new Path(path), "").toSet
    val plan = vacuumPlan(spark, path, retainLast = 1)
    val planPaths = plan.map(_._2).toSet
    vacuum(spark, path, retainLast = 1)
    val after = walk(new Path(path), "").toSet
    val gone = before.diff(after)
    // change_dir entries delete whole directories: expand against the
    // before-walk to compare at file grain
    val planned: Set[String] = planPaths.flatMap { p =>
      if (p.startsWith(ChangesDir)) before.filter(_.startsWith(p + "/")) + p
      else Set(p)
    }.intersect(before)
    val exact = gone == planned
    read(spark, path)
      .select(col("key_id"), col("value"), col("props"),
        col("sequence_number").as("last_sequence"))
      .withColumn("plan_executed_exactly", lit(exact))
      .withColumn("plan_nonempty", lit(plan.nonEmpty))
  }

  val vacuumDryRunSql: String =
    """WITH stg AS (
         SELECT event_id AS sequence_number,
           CASE WHEN event_type = 'signup' THEN 'INSERT'
                WHEN event_type = 'error' THEN 'DELETE'
                ELSE 'UPDATE' END AS operation,
           user_id AS key_id, value, props
         FROM events
         WHERE user_id IS NOT NULL AND event_id IS NOT NULL
           AND event_type IS NOT NULL AND value IS NOT NULL
           AND user_id % 4 = 0),
       ranked AS (
         SELECT s.*, row_number() OVER (PARTITION BY key_id
           ORDER BY sequence_number DESC) AS rn
         FROM stg s)
       SELECT key_id, value, props, sequence_number AS last_sequence,
         true AS plan_executed_exactly,
         true AS plan_nonempty
       FROM ranked
       WHERE rn = 1 AND operation <> 'DELETE'
       ORDER BY key_id"""

  /** CLUSTER BY as a gate row: two interleaved even/odd key slices
    * destroy arrival correlation (a narrow range read touches
    * essentially every file — engine-asserted), then one
    * [[optimizeCluster]] pass restores skipping power: the same range
    * read now prunes to at most half the files (engine-asserted) and
    * the rows hash-match the oracle's plain range filter.
    */
  def clusterBy(spark: SparkSession, sfDir: String): DataFrame = {
    val path = Scratch.dir("vlake_cluster")
    val orders = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val maxKey = orders.agg(max(col("o_orderkey"))).head().getLong(0)
    val q8 = maxKey / 8
    upsert(spark, path, orders.filter(pmod(col("o_orderkey"), lit(2)) === 0),
      Seq("o_orderkey"), "o_orderkey", numBuckets = 8)
    dvUpsert(spark, path,
      orders.filter(pmod(col("o_orderkey"), lit(2)) === 1),
      Seq("o_orderkey"), "o_orderkey")
    val lo = BigDecimal(3 * q8 + 1)
    val hi = BigDecimal(4 * q8)
    val totalBefore = manifestEntries(spark, path,
      versions(spark, path).last).data.size
    val candBefore = rangeCandidates(spark, path, "o_orderkey",
      Some(lo), Some(hi)).size
    val noPruneBefore = candBefore * 2 > totalBefore
    optimizeCluster(spark, path, "o_orderkey", slicesPerBucket = 4)
    val totalAfter = manifestEntries(spark, path,
      versions(spark, path).last).data.size
    val candAfter = rangeCandidates(spark, path, "o_orderkey",
      Some(lo), Some(hi)).size
    val prunesAfter = candAfter * 2 <= totalAfter && candAfter > 0
    readRange(spark, path, "o_orderkey", Some(lo), Some(hi))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .withColumn("unclustered_no_prune", lit(noPruneBefore))
      .withColumn("clustered_prunes", lit(prunesAfter))
  }

  val clusterBySql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice,
         true AS unclustered_no_prune,
         true AS clustered_prunes
       FROM orders
       WHERE o_orderkey > 3 * (SELECT MAX(o_orderkey) // 8 FROM orders)
         AND o_orderkey <= 4 * (SELECT MAX(o_orderkey) // 8 FROM orders)
       ORDER BY o_orderkey"""

  /** CLUSTER BY AUTO as a gate row. Orders land key-interleaved (even
    * keys COW, odd keys MOR — arrival correlates with nothing), then a
    * TWO-workload history accrues: three bounded reads on `o_custkey`
    * (the hot serving predicate) against one on `o_totalprice`.
    * [[clusterByAuto]] must elect `o_custkey` from that history
    * (`auto_chose_hot`), and the election must be OPTIMAL, not merely
    * popular: both candidate columns are manually clustered on shallow
    * clones sharing the exact same data files, and the auto table's
    * post-OPTIMIZE candidate fraction for the hot band must match the
    * best manual choice (`auto_matches_best` — equality with the
    * same-column clone, ≤ every other). The band read hash-matches the
    * oracle's plain filter.
    */
  def clusterByAutoGate(spark: SparkSession, sfDir: String): DataFrame = {
    val path = Scratch.dir("vlake_autoclu")
    val orders = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val maxCust = orders.agg(max(col("o_custkey"))).head().getLong(0)
    val q8 = maxCust / 8
    upsert(spark, path, orders.filter(pmod(col("o_orderkey"), lit(2)) === 0),
      Seq("o_orderkey"), "o_orderkey", numBuckets = 8)
    dvUpsert(spark, path,
      orders.filter(pmod(col("o_orderkey"), lit(2)) === 1),
      Seq("o_orderkey"), "o_orderkey")
    // manual-baseline clones BEFORE the workload/optimize: same files
    val candidateCols = Seq("o_custkey", "o_totalprice")
    val clones = candidateCols.map { c =>
      val dest = Scratch.dir(s"vlake_autoclu_m_${c.stripPrefix("o_")}")
      cloneTable(spark, path, dest)
      c -> dest
    }
    // the observed workload: custkey hot (3 bounded reads), price cold
    readRange(spark, path, "o_custkey", Some(BigDecimal(1)),
      Some(BigDecimal(q8))).count()
    readWhere(spark, path,
      s"o_custkey >= ${q8 + 1} AND o_custkey <= ${2 * q8}").count()
    readWhere(spark, path, s"o_custkey > ${5 * q8}").count()
    readWhere(spark, path, "o_totalprice <= 10000").count()
    val (chosen, _) = clusterByAuto(spark, path)
    val choseHot = chosen == "o_custkey"
    // hot-band prune factor: auto vs every manual candidate
    val lo = BigDecimal(3 * q8 + 1)
    val hi = BigDecimal(4 * q8)
    def candFrac(p: String): Double = {
      val m = manifestEntries(spark, p, versions(spark, p).last)
      rangeCandidates(spark, p, "o_custkey", Some(lo), Some(hi)).size
        .toDouble / m.data.size
    }
    val manualFracs = clones.map { case (c, dest) =>
      optimizeCluster(spark, dest, c, slicesPerBucket = 4)
      c -> candFrac(dest)
    }.toMap
    val autoFrac = candFrac(path)
    System.err.println(s"[autocluster] autoFrac=$autoFrac " +
      s"manual=${manualFracs.toSeq.sortBy(_._1)} " +
      s"files=${manifestEntries(spark, path,
        versions(spark, path).last).data.size}")
    // "matches best" within RANGE-SAMPLE NOISE: RangePartitioner seeds
    // its reservoir sample from the RDD id (byteswap32(-rdd.id-1)),
    // which depends on session history — so two optimizes of the SAME
    // bytes land file boundaries a few files apart between sessions
    // (measured: ±2-4 files on a ~40-file table). File-count equality
    // is therefore a coin flip; the assertion instead pins what the
    // election actually claims, with margins far wider than the noise
    // and far narrower than the choice gap: the auto key prunes within
    // 0.15 (absolute candidate fraction) of its manual twin, and at
    // ≤60% of the wrong column's fraction (the wrong clone scans ~every
    // file for the hot band — observed 1.0 vs ~0.3).
    val matchesBest =
      autoFrac <= manualFracs.values.min + 0.15 &&
        autoFrac <= manualFracs("o_totalprice") * 0.6
    readRange(spark, path, "o_custkey", Some(lo), Some(hi))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .withColumn("auto_chose_hot", lit(choseHot))
      .withColumn("auto_matches_best", lit(matchesBest))
  }

  val clusterByAutoSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice,
         true AS auto_chose_hot,
         true AS auto_matches_best
       FROM orders
       WHERE o_custkey > 3 * (SELECT MAX(o_custkey) // 8 FROM orders)
         AND o_custkey <= 4 * (SELECT MAX(o_custkey) // 8 FROM orders)
       ORDER BY o_orderkey"""

}

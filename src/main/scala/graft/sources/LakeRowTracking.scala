package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import LakeModel._

/** Row tracking, prepare/commit two-phase writes, change feed + streaming source, deletion vectors (dvDelete/dvUpsert/compactDvs), shallow clone.
  *
  * One slice of the [[VersionedLake]] surface (r15 verdict task 6
  * split the 5.8k-line object into focused concern files with zero
  * behavior change); self-typed to the object so cross-concern calls
  * resolve exactly as before.
  */
trait LakeRowTracking { this: VersionedLake.type =>

  // ---- row tracking --------------------------------------------------------
  //
  // Delta Row Tracking / Iceberg row-lineage semantics: once enabled
  // (`prop rowTracking true`, [[enableRowTracking]]), every live row
  // carries a STABLE engine-assigned identity in a hidden physical
  // column `_row_id`, preserved across every rewrite:
  //
  //  - COW upsert: the per-key winner INHERITS the key's existing id
  //    (a window max over the same key partitioning the merge already
  //    shuffles on — no extra shuffle); genuinely new keys draw fresh
  //    ids above the table's high-water mark (`prop rowid.hwm`).
  //  - MOR upsert: the appended winner inherits from the row version
  //    it supersedes (the id rides the same key join that finds the
  //    DV positions).
  //  - OPTIMIZE / CLUSTER BY / Z-ORDER / DV compaction: `_row_id` is a
  //    physical column in the files, so row-preserving rewrites carry
  //    it like any other column — zero code in those paths.
  //  - DV deletes: positions change nothing; ids survive trivially.
  //  - REPLACE: new content = new rows = fresh ids (Delta RTAS rule).
  //
  // The hwm is allocated read-modify-write: a commit that stamps a new
  // hwm declares it via [[PendingCommit.dropProps]], and the OCC loop
  // REFUSES to rebase over a concurrent hwm change — two writers can
  // never publish overlapping allocations (they serialize, which is
  // also Delta's answer). Fresh ids are assigned by a deterministic
  // (gbucket, key) ordering; the global row_number window runs over
  // NEW ROWS ONLY (batch-scale — at 100 TB the per-batch new-row set
  // is what trickles in, never the table).

  private[sources] def isTracked(m: TableManifest): Boolean =
    m.props.get("rowTracking").contains("true")

  private[sources] def rowIdHwm(m: TableManifest): Long =
    m.props.get("rowid.hwm").map(_.toLong).getOrElse(0L)

  private[sources] def withNullRowId(df: DataFrame): DataFrame =
    if (df.columns.contains("_row_id")) df
    else df.withColumn("_row_id", lit(null).cast("long"))

  /** Before winner resolution: every row of a key sees the key's
    * existing LIVE id, so the winner keeps it whichever input row wins
    * — except across a tombstone: a delete RETIRES the id (Delta's
    * rule: a re-insert is a new row), so only live rows donate, while
    * a carried tombstone keeps its own id (stable across bucket
    * rewrites, no allocation churn). Grouped by (gbucket, key), the
    * merge window's grouping, so it rides the same exchange.
    */
  private[sources] def inheritRowIds(all: DataFrame,
      keyColsP: Seq[String]): DataFrame = {
    val liveId = when(!coalesce(col("_deleted"), lit(false)),
      col("_row_id"))
    withNullRowId(all).withColumn("_row_id",
      coalesce(max(liveId).over(
        Window.partitionBy((col("gbucket") +: keyColsP.map(col)): _*)),
        col("_row_id")))
  }

  /** After resolution: rows with no inherited id (new keys) draw
    * consecutive ids above the high-water mark, ordered by
    * (gbucket, key) — deterministic, and partitioning-independent
    * because the checkpointed input is split exactly once. The
    * one-partition ranking window is the right cost at the
    * incremental-batch grain this path serves (fresh rows = the
    * batch's NEW keys; a sizing probe costs a job per commit — r14
    * measured it at ~10-25% on the multi-commit gates, all overhead);
    * a bulk initial load swaps in [[graft.Dist.globalRowNumber]] over
    * the same (gbucket, key) order — bit-identical ids (DistSpec
    * proves both forms equal on exactly this frame shape), pure cost
    * policy like the backfill note on [[enableRowTracking]].
    */
  private[sources] def assignFreshRowIds(resolved: DataFrame,
      keyColsP: Seq[String], hwm0: Long): DataFrame = {
    val base = withNullRowId(resolved).localCheckpoint(true)
    val fresh = base.filter(col("_row_id").isNull)
      .withColumn("_row_id", lit(hwm0) + row_number().over(
        Window.orderBy((col("gbucket") +: keyColsP.map(col)): _*))
        .cast("long"))
    base.filter(col("_row_id").isNotNull).unionByName(fresh)
  }

  /** The committed allocation ceiling: ids land in the files, so the
    * new hwm is read back from the adopted files' pruned `_row_id`
    * column (no extra pass over the merge output before the write).
    */
  private[sources] def adoptedMaxRowId(spark: SparkSession, path: String,
      adopted: Seq[String], hwm0: Long): Long = {
    if (adopted.isEmpty) hwm0
    else {
      val r = spark.read.parquet(adopted.map(rel => s"$path/$rel"): _*)
        .agg(max(col("_row_id"))).collect()(0)
      math.max(hwm0, if (r.isNullAt(0)) hwm0 else r.getLong(0))
    }
  }

  /** Enable row tracking on an existing table: one BACKFILL commit
    * rewrites the live data with ids assigned in (file, position)
    * order and stamps `rowTracking` + the initial hwm. Idempotent
    * refusal if already enabled. The one-partition ranking window is
    * acceptable here because backfill is a ONE-TIME migration commit;
    * a table too large for it could swap in
    * [[graft.Dist.globalRowNumber]] over the same (_rel, _pos) order —
    * bit-identical ids (DistSpec) — but the lake paths are window-only
    * by design today (batch-grain allocations are small); only
    * [[graft.operators.GraphAnn]]'s rank table switches adaptively.
    */
  def enableRowTracking(spark: SparkSession, path: String): CommitResult = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    val base = vs.last
    val m = manifestEntries(spark, path, base)
    require(!isTracked(m), s"row tracking already enabled at $path")
    // an empty table has nothing to backfill: a property stamp, valid
    // only while the tip is still untracked and empty
    if (m.data.isEmpty)
      return commitManifest(spark, path, "ROW_TRACKING_BACKFILL") { t =>
        require(!isTracked(t), s"row tracking already enabled at $path")
        require(t.data.isEmpty,
          s"$path gained data while row tracking was being enabled — re-run")
        t.copy(props = t.props ++
          Seq("rowTracking" -> "true", "rowid.hwm" -> "0"))
      }
    val df = loadWithDv(spark, path, m.data, m.dv, keepPos = true,
      widen = widenMap(m))
      .withColumn("_row_id", row_number().over(
        Window.orderBy(col("_rel"), col("_pos"))).cast("long"))
      .drop("_rel", "_pos")
    val (adopted, stats) = stageBuckets(spark, path, df)
    val touched = (m.data.map(bucketOf) ++ adopted.map(bucketOf)).toSet
    val hwm = adoptedMaxRowId(spark, path, adopted, 0L)
    commitPending(spark, path, PendingCommit(base, touched,
      TableManifest(adopted, Map.empty, stats = stats).lines ++
        Seq("prop\trowTracking\ttrue", s"prop\trowid.hwm\t$hwm"),
      adopted, op = "ROW_TRACKING_BACKFILL"))
  }

  /** [[read]] plus the tracked identity as a `row_id` output column. */
  def readWithRowIds(spark: SparkSession, path: String,
      asOfVersion: Option[Int] = None): DataFrame = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    val v = asOfVersion.getOrElse(vs.last)
    val m = manifestEntries(spark, path, v)
    require(isTracked(m), s"row tracking not enabled at $path")
    val df0 = loadWithDv(spark, path, m.data, m.dv, widen = widenMap(m))
      .drop("gbucket")
    val live =
      if (df0.columns.contains("_deleted"))
        df0.filter(!coalesce(col("_deleted"), lit(false))).drop("_deleted")
      else df0
    // surface under the public name BEFORE toLogicalDf hides `_row_id`
    toLogicalDf(live.withColumnRenamed("_row_id", "row_id"), m)
  }

  /** Phase 1 of an optimistic write: merge `updates` against the
    * CURRENT snapshot and adopt the resulting bucket files under
    * writer-unique immutable names. Nothing becomes visible — data
    * files are dead weight until a manifest references them (crash or
    * abort ⇒ orphans for [[vacuum]]). The returned [[PendingCommit]]
    * records the snapshot read (`baseVersion`) and the buckets whose
    * state the merge assumed (`touched`) — the facts conflict
    * detection needs.
    *
    * One job collects the touched buckets; then the touched buckets'
    * rows and the batch go through ONE bucket-keyed exchange, the
    * per-key resolution runs inside it, and each bucket's rewrite
    * lands as one file. The row-tracked path alone pays a second
    * exchange, after its global fresh-id window.
    */
  def prepare(spark: SparkSession, path: String, updates: DataFrame,
      keyCols: Seq[String], seqCol: String,
      numBuckets: Int = 16): PendingCommit = {
    val f = fs(spark)
    val vs = versions(spark, path)
    val prior0: TableManifest = vs.lastOption
      .map(v => manifestEntries(spark, path, v))
      .getOrElse(TableManifest(Seq.empty, Map.empty))
    // the bucket modulus is a TABLE property: the first commit stamps
    // it, every later writer uses the stored value (a mismatched
    // per-call argument would silently break key→bucket pruning)
    val buckets = prior0.numBuckets(numBuckets)
    // One write batch, up to three full computations before this
    // change: the constraint sweep, the touched-bucket collect and the
    // staged write each re-ran the caller's update subtree (often a
    // join/aggregate — a MERGE feed). Persist the batch for the
    // duration of the prepare so it is computed once (guide §1.2 "don't
    // compute things you throw away"); released right after the staged
    // write lands. Change-scale memory: the batch, never the table.
    // guard: only persist (and later release) when the CALLER has not —
    // unpersisting a frame the caller cached would silently drop its
    // cache for the rest of its own run (r16 ADVICE)
    val wePersist =
      updates.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (wePersist)
      updates.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    enforceConstraints(prior0, updates)
    val (updatesE, expectMeta) =
      applyExpectations(spark, path, prior0, updates)
    // callers speak logical names; files store the pinned physical ones
    val updatesP = toPhysicalDf(applyGenerated(prior0, updatesE), prior0)
    val keyColsP = keyCols.map(toPhysicalName(prior0, _))
    val seqColP = toPhysicalName(prior0, seqCol)
    val tagged0 = updatesP.withColumn("_is_update", lit(1))
    val tagged = withKeyBucket(spark, path, prior0,
      if (tagged0.columns.contains("_deleted")) tagged0
      else tagged0.withColumn("_deleted", lit(false)), keyColsP, buckets)
    // gbucket is a function of the key, so (gbucket, key) groups as
    // the key alone does — and the bucket-keyed exchange below already
    // satisfies it, leaving the window no exchange of its own
    def resolve(all: DataFrame): DataFrame = {
      val w = Window.partitionBy((col("gbucket") +: keyColsP.map(col)): _*)
        .orderBy(col(seqColP).desc, col("_is_update").desc)
      all.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .drop("_rn", "_is_update")
        .withColumn("_deleted", coalesce(col("_deleted"), lit(false)))
    }
    val prior = prior0
    // the buckets this merge WRITES (and whose prior state it read —
    // for a first commit that state is "empty", which a concurrent
    // writer can still invalidate, so touched is computed regardless)
    val touched = distinctValues(tagged, "gbucket", Encoders.scalaInt)
    val replaced = prior.data.filter(rel => touched.contains(bucketOf(rel)))
    val existing =
      if (replaced.isEmpty) None
      else Some(loadWithDv(spark, path, replaced, prior.dv,
        widen = widenMap(prior))
        .withColumn("_is_update", lit(0)))
    val tracked = isTracked(prior)
    // ONE bucket-keyed exchange of the (change + touched-bucket)-scale
    // rows: the merge window groups within it, and each bucket's
    // rewrite lands as ONE file — file counts derive from the bucket
    // layout, not from the core count (a key-hashed layout fans the
    // partitionBy write out to tasks × buckets files)
    val all = (existing match {
      case None => if (tracked) withNullRowId(tagged) else tagged
      case Some(ex) =>
        val withDel = if (ex.columns.contains("_deleted")) ex
          else ex.withColumn("_deleted", lit(false))
        withDel.unionByName(tagged, allowMissingColumns = true)
    }).repartition(col("gbucket"))
    // inherit ids pre-resolution: the winner keeps its key's id
    val merged0 = resolve(
      if (tracked && existing.nonEmpty) inheritRowIds(all, keyColsP) else all)
    // the fresh-id ranking is one global window, which undoes the
    // bucket layout: only the row-tracked path pays a second exchange
    val merged =
      if (tracked) assignFreshRowIds(merged0, keyColsP, rowIdHwm(prior))
        .repartition(col("gbucket"))
      else merged0
    val (adopted, stats) = stageBuckets(spark, path, merged)
    // ourLines = the touched buckets' complete new representation: the
    // adopted files, no DV lines (the rewrite materialized deletes).
    // Untouched-bucket lines are re-derived from whatever manifest the
    // commit ultimately lands on (base, or the winner's on rebase).
    // The first commit also stamps the table properties.
    val propLines =
      (if (vs.isEmpty) Seq(s"prop\tnumBuckets\t$buckets") else Seq.empty) ++
      (if (tracked) Seq("prop\trowid.hwm\t" +
        adoptedMaxRowId(spark, path, adopted, rowIdHwm(prior))) else Seq.empty)
    PendingCommit(vs.lastOption.getOrElse(0), touched,
      adopted ++ statsAsLines(stats) ++ propLines, adopted,
      metaExtra = expectMeta,
      dropProps = if (tracked) Seq("rowid.hwm") else Nil)
    } finally if (wePersist) updates.unpersist(blocking = false)
  }

  /** Rewrite the buckets the keys of `changes` hash to, with content
    * the caller derives — the commit path for merges whose resolution
    * is not [[upsert]]'s per-key last writer (an SCD2 change rewrites
    * its neighbours' validity windows). `rewrite` receives `changes`
    * tagged with `gbucket` and the stored rows of those buckets at the
    * tip (deletion vectors applied; None when they hold no file), and
    * returns the buckets' complete new content, `gbucket` included.
    * The output is staged through one bucket-keyed exchange (one file
    * per bucket) and committed by [[commitPending]] with the touched
    * buckets as the conflict granule. An output row in any other
    * bucket fails the write, checked from the adopted file names
    * without a job. Rows are read and written as stored, so a table
    * with column mapping, constraints, expectations, generated columns
    * or row tracking is refused.
    */
  def rewriteBuckets(spark: SparkSession, path: String, changes: DataFrame,
      keyCols: Seq[String], numBuckets: Int = 16)(
      rewrite: (DataFrame, Option[DataFrame]) => DataFrame): CommitResult = {
    val vs = versions(spark, path)
    val base = vs.lastOption.getOrElse(0)
    val m = vs.lastOption.map(manifestEntries(spark, path, _))
      .getOrElse(TableManifest(Seq.empty, Map.empty))
    val managed = m.props.keys.filter(k => k == "rowTracking" ||
      Seq("rename.", "dropped.", "constraint.", "expect.", "generated.")
        .exists(k.startsWith))
    require(managed.isEmpty, s"rewriteBuckets writes rows as stored; " +
      s"$path has ${managed.toSeq.sorted.mkString(", ")}")
    // `rewrite` buckets its own output rows, so it must hash with the
    // table's modulus
    require(m.numBuckets(numBuckets) == numBuckets, s"$path has " +
      s"${m.numBuckets(numBuckets)} buckets, not $numBuckets")
    val tagged = withKeyBucket(spark, path, m, changes, keyCols, numBuckets)
    val touched = distinctValues(tagged, "gbucket", Encoders.scalaInt)
    if (touched.isEmpty) return CommitResult(base, 0)
    val replaced = m.data.filter(rel => touched.contains(bucketOf(rel)))
    val stored =
      if (replaced.isEmpty) None
      else Some(loadWithDv(spark, path, replaced, m.dv, widen = widenMap(m)))
    val (adopted, stats) = stageBuckets(spark, path,
      rewrite(tagged, stored).repartition(col("gbucket")))
    val stray = adopted.map(bucketOf).toSet -- touched
    if (stray.nonEmpty) {
      val f = fs(spark)
      adopted.foreach(rel => f.delete(new Path(s"$path/$rel"), false))
      throw new IllegalStateException(s"rewriteBuckets at $path wrote " +
        s"buckets ${stray.toSeq.sorted.mkString(",")} outside the " +
        s"touched set ${touched.toSeq.sorted.mkString(",")}")
    }
    commitPending(spark, path, PendingCommit(base, touched,
      adopted ++ statsAsLines(stats) ++
        (if (vs.isEmpty) Seq(s"prop\tnumBuckets\t$numBuckets") else Nil),
      adopted))
  }

  /** Phase 2: the commit loop for STAGED DATA written against a base
    * snapshot — every data write, compaction and rewrite. (Changes
    * derived from the tip alone, with nothing staged, go through
    * [[commitManifest]], which re-derives them each round instead.)
    * Try the CAS at baseVersion + 1; on loss, classify the conflict
    * against what actually changed since the base snapshot:
    *
    *  - DISJOINT buckets — the winner's merge and ours commute (a
    *    key's resolution only ever reads its own bucket), so REBASE:
    *    re-point the untouched-bucket carryover at the winner's
    *    manifest and CAS the next slot. O(manifest) metadata per
    *    round, no data re-read, no re-merge.
    *  - OVERLAPPING buckets — our merge read state the winner
    *    replaced; its output is stale. Clean up the adopted files and
    *    raise [[ConcurrentWriteConflict]]; the caller re-merges from
    *    the new snapshot (plain [[upsert]] does).
    *
    * This is Delta/Iceberg commit-conflict semantics with the bucket
    * as the conflict granule. At 100 TB the rebase path is what makes
    * trickle writers scale: disjoint-shard ingest never re-reads data,
    * only re-lists the manifest. Gives up after [[MaxCommitRounds]]
    * rebase rounds.
    */
  def commitPending(spark: SparkSession, path: String,
      p: PendingCommit): CommitResult = {
    val baseLines: Set[String] =
      if (p.baseVersion == 0) Set.empty
      else manifestLines(spark, path, p.baseVersion).toSet
    def assemble(from: Seq[String]): Seq[String] = {
      val kept = from.filterNot { l =>
        if (isMetaLine(l)) true // per-version bookkeeping, never carries
        else if (isTxnLine(l)) // replace only OUR app's watermark
          p.txn.exists { case (app, _) => l.startsWith(s"txn\t$app\t") }
        else if (isPropLine(l)) // properties carry unless re-stamped
          p.dropProps.exists(k => l.startsWith(s"prop\t$k\t"))
        else p.touched.contains(bucketOfLine(l))
      }
      kept ++ p.ourLines ++
        p.txn.map { case (a, v) => s"txn\t$a\t$v" }.toSeq ++
        p.metaExtra :+
        s"meta\top\t${p.op}"
    }
    var base = p.baseVersion
    var manifest = assemble(baseLines.toSeq)
    var rounds = 0
    while (true) {
      if (casCommit(spark, path, base + 1, manifest)) {
        publishChangeLog(spark, path, base + 1, p.adopted)
        return CommitResult(base + 1, rounds)
      }
      val latest = versions(spark, path).last
      val latestLines = manifestLines(spark, path, latest)
      val changedBuckets =
        ((latestLines.toSet diff baseLines) ++
          (baseLines diff latestLines.toSet))
          .filterNot(l => // bookkeeping lines never conflict
            isTxnLine(l) || isPropLine(l) || isMetaLine(l))
          .map(bucketOfLine)
      val overlap = changedBuckets.intersect(p.touched)
      if (overlap.nonEmpty) {
        val f = fs(spark)
        p.adopted.foreach(rel => f.delete(new Path(s"$path/$rel"), false))
        throw new ConcurrentWriteConflict(
          s"lost commit of v${base + 1} at $path to a writer that " +
            s"changed buckets ${overlap.toSeq.sorted.mkString(",")} — " +
            "re-merge against the new snapshot")
      }
      // a re-stamped property is a read-modify-write: if the winner
      // changed the same key (e.g. both allocated row ids from one
      // hwm), rebasing would publish overlapping allocations — conflict
      val propConflict = p.dropProps.filter { k =>
        latestLines.filter(_.startsWith(s"prop\t$k\t")).toSet !=
          baseLines.filter(_.startsWith(s"prop\t$k\t"))
      }
      if (propConflict.nonEmpty) {
        val f = fs(spark)
        p.adopted.foreach(rel => f.delete(new Path(s"$path/$rel"), false))
        throw new ConcurrentWriteConflict(
          s"lost commit of v${base + 1} at $path to a writer that " +
            s"re-stamped ${propConflict.mkString(",")} — re-run against " +
            "the new snapshot")
      }
      rounds += 1
      if (rounds > MaxCommitRounds) throw new java.io.IOException(
        s"gave up after $MaxCommitRounds rebase rounds at $path")
      manifest = assemble(latestLines)
      base = latest
    }
    throw new IllegalStateException("unreachable")
  }

  /** Commit-time CHANGE LOG: hard-link each data file the committed
    * version ADDED into `_changes/v<N>/` — the structure that makes the
    * table a Structured Streaming SOURCE (see [[streamSource]]). Links
    * are metadata-scale (no bytes copied) and land strictly AFTER the
    * CAS, so a file appears in the log iff its commit won; conflicted
    * writers' adopted files are deleted before ever being linked. File
    * streams track progress by path, so the per-version directory plus
    * writer-nonced names give a checkpointed reader exactly-once
    * delivery across restarts.
    *
    * Grain contract: the log carries the rows each commit ACCEPTED.
    * For [[dvUpsert]] trickle commits that is exactly the appended
    * winners (tombstones included — a CDC stream); a pure
    * position-delete [[dvDelete]] commit appends no data file and
    * instead publishes its doomed rows as tombstones via
    * [[publishDeleteTombstones]] (same sequence, `_deleted=true`,
    * delete-wins-tie at the consumer); a
    * copy-on-write [[upsert]] or [[compactDvs]] rewrite re-delivers its
    * whole touched bucket, which sequence-resolving consumers absorb
    * idempotently (re-delivered rows lose or tie on the sequence).
    * [[restore]] commits by reference and so emits nothing — rollback
    * is a snapshot-level event, not a row-level one. A crash in the
    * window between CAS and link can omit a commit's links; the window
    * is one process step, and re-linking from the manifest diff is
    * idempotent (links are keyed by the immutable file name).
    */
  private[sources] def publishChangeLog(spark: SparkSession, path: String,
      version: Int, adopted: Seq[String]): Unit = {
    val dataFiles = adopted.filter(_.startsWith("gbucket="))
    if (dataFiles.isEmpty) return
    val f = fs(spark)
    val dir = new Path(f"$path/$ChangesDir/v$version%06d")
    f.mkdirs(dir)
    dataFiles.foreach { rel =>
      linkOrCopy(spark, new Path(s"$path/$rel"),
        new Path(dir, rel.replace('/', '_')))
    }
  }

  /** Durable marker for a change-feed GAP — a version whose change
    * files can never be published (see [[repairDeleteTombstones]]).
    * Underscore-prefixed so the `v*` parquet glob and Spark's file
    * index never read it as data; a FILE, so vacuum's change-DIRECTORY
    * sweep leaves it standing until its version falls below the
    * retention floor.
    */
  private[sources] def gapMarkerPath(path: String, version: Int): Path =
    new Path(f"$path/$ChangesDir/_gap_v$version%06d.txt")

  /** Versions with a recorded change-feed gap (oldest first). */
  def changeFeedGaps(spark: SparkSession, path: String): Seq[Int] = {
    val f = fs(spark)
    val chDir = new Path(s"$path/$ChangesDir")
    if (!f.exists(chDir)) Seq.empty
    else f.listStatus(chDir).filter(_.isFile).map(_.getPath.getName)
      .filter(n => n.startsWith("_gap_v") && n.endsWith(".txt"))
      .map(_.stripPrefix("_gap_v").stripSuffix(".txt").toInt)
      .sorted.toSeq
  }

  /** The table's commit log as a STREAMING SOURCE — the Delta
    * `readChangeFeed` streaming shape: a file stream over the
    * per-version change directories. The returned stream delivers every
    * appended row exactly once per checkpoint (Spark's file-stream seen-
    * files ledger), resumes incrementally after a restart (only
    * versions committed since the checkpoint arrive), and carries
    * tombstones so a downstream consumer can maintain SCD state. The
    * schema must be supplied (file streams cannot infer), normally from
    * `read(spark, path).schema` plus the bookkeeping columns.
    */
  def streamSource(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "64")
      .parquet(s"$path/$ChangesDir/v*")

  /** [[streamSource]] under the table's LOGICAL column names, with the
    * bookkeeping a change-feed consumer needs: `_deleted` tombstone
    * marks survive, and `_commit_version` (parsed from the per-version
    * change directory each file lives in) says which commit produced
    * each row. This is the plan `spark.readStream.table("graft_lake.
    * ns.t[.changes]")` resolves to (see [[CdfSql.ResolveLakeStreams]]):
    * the physical file schema comes from the NEWEST change directory —
    * older files missing later-added columns read as NULL (parquet
    * by-name) — and column-mapping renames/drops are applied from the
    * tip manifest, so the stream always speaks the current names.
    */
  def streamChanges(spark: SparkSession, path: String): DataFrame = {
    // Gap-freedom is checked at STREAM CONSTRUCTION only: a gap marker
    // written by repairDeleteTombstones AFTER the stream starts is not
    // observed until the next (re)start. This matches the marker's
    // causal window — a gap can only be recorded for a version whose
    // predecessor manifest a tag-pinned vacuum already removed, and
    // vacuum's retention floor is far older than any live microbatch,
    // so a RUNNING stream has necessarily already consumed (or will
    // consume, from still-present change files) the affected version.
    // Restart-time is therefore the correct enforcement point; checking
    // per microbatch would add a listing per trigger to re-verify
    // versions the checkpoint has already sealed.
    val gaps = changeFeedGaps(spark, path)
    require(gaps.isEmpty,
      s"change feed at $path has unpublishable gaps at version(s) " +
        s"${gaps.mkString(", ")} (delete tombstones lost to tag-pinned " +
        "vacuum retention) — a stream from here would silently miss " +
        "those deletes; re-seed the consumer from a snapshot instead")
    val f = fs(spark)
    val chDir = new Path(s"$path/$ChangesDir")
    val dirs =
      if (!f.exists(chDir)) Array.empty[Path]
      else f.listStatus(chDir).filter(_.isDirectory).map(_.getPath)
        .sortBy(_.getName)
    require(dirs.nonEmpty,
      s"no published change versions at $path — nothing to stream")
    val phys = spark.read.parquet(dirs.last.toString).schema
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    val m = manifestEntries(spark, path, vs.last)
    // anchor the version capture to the _changes directory — an
    // unanchored /v<digits>/ would match a path segment of the table
    // ROOT (e.g. a table under /data/v2/...) and stamp every row with
    // that foreign number
    toLogicalDf(streamSource(spark, path, phys), m)
      .withColumn("_commit_version",
        regexp_extract(input_file_name(),
          s"/$ChangesDir/v(\\d+)/", 1).cast("int"))
  }

  /** Land one DV sidecar: `hits` (file_rel, pos) unioned with the
    * affected files' existing DV rows, one parquet under [[DvDir]].
    * Returns (sidecar rel, affected data files); None when `hits` is
    * empty. The sidecar is deleted-rows-scale — metadata, not data.
    *
    * The union needs no distinct. `hits` are positions of LIVE rows,
    * which [[loadWithDv]] found by dropping every DV'd position, so no
    * hit is already in a prior sidecar; and each prior sidecar is read
    * only for the files its mapping names, so a stale row it keeps for
    * a since-remapped file never comes along. One job collects the
    * affected files and one writes the sidecar.
    */
  private[sources] def writeDvSidecar(spark: SparkSession, path: String,
      hits: DataFrame, m: TableManifest): Option[(String, Seq[String])] = {
    val f = fs(spark)
    val affected = distinctValues(hits, "file_rel", Encoders.STRING)
      .toSeq.sorted // metadata scale
    if (affected.isEmpty) return None
    val priors = affected.filter(m.dv.contains).groupBy(m.dv).toSeq
      .sortBy(_._1).map { case (sidecar, files) =>
        readDvSidecars(spark, path, Seq(sidecar))
          .filter(col("file_rel").isin(files: _*))
      }
    val merged = priors.foldLeft(hits)(_ unionByName _)
    val wid = nonce()
    val stage = path + s"_dvstage_$wid"
    merged.coalesce(1).write.mode(SaveMode.Overwrite).parquet(stage)
    f.mkdirs(new Path(s"$path/$DvDir"))
    val dvRel = s"$DvDir/w$wid.parquet"
    val part = f.listStatus(new Path(stage))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    require(part.length == 1, s"expected one DV part, got ${part.length}")
    if (!f.rename(part.head.getPath, new Path(s"$path/$dvRel")))
      throw new java.io.IOException(s"cannot adopt $dvRel")
    f.delete(new Path(stage), true)
    Some((dvRel, affected))
  }

  /** MERGE-ON-READ delete: mark the current rows of `deleteKeys` in a
    * deletion-vector sidecar instead of rewriting their data files —
    * Delta deletion vectors / Iceberg position deletes. The commit
    * touches ZERO data files: one metadata-scale scan finds the
    * (file_rel, row_index) positions, ONE sidecar parquet lands the
    * union of those positions with the affected files' existing DV
    * rows (DV sidecars are immutable too — a re-delete writes a new
    * sidecar and re-points the mapping), and the new manifest carries
    * the same data lines with updated `dv` mappings. At 100 TB with
    * trickle CDC this is the difference between O(rows-deleted) and
    * O(files-touched × file-size) per batch; the read-side cost (one
    * anti-join against |deleted rows|) is repaid at [[compactDvs]]
    * time. Same OCC loop as every commit: disjoint-bucket writers
    * rebase past us, overlapping ones conflict.
    */
  def dvDelete(spark: SparkSession, path: String, deleteKeys: DataFrame,
      keyCols: Seq[String], numBuckets: Int = 16): CommitResult = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    // heal any prior DELETE whose tombstone link was lost to a crash
    // before adding a new one (change-scale; see the method doc)
    repairDeleteTombstones(spark, path)
    val base = vs.last
    val m = manifestEntries(spark, path, base)
    // callers speak logical names; files store the pinned physical ones
    val deleteKeysP = toPhysicalDf(deleteKeys, m)
    val keyColsP = keyCols.map(toPhysicalName(m, _))
    val keysB = withKeyBucket(spark, path, m,
      deleteKeysP.select(keyColsP.map(col): _*), keyColsP,
      m.numBuckets(numBuckets), lookup = true)
    // BUCKET PRUNING: the keys' hash buckets bound which files can
    // hold their rows — the position scan reads only those, so a
    // trickle delete against a 100 TB table scans the touched shards,
    // not the table (≤ numBuckets ints through the driver)
    val touchedBuckets = distinctValues(keysB, "gbucket", Encoders.scalaInt)
    val candidates =
      m.data.filter(rel => touchedBuckets.contains(bucketOf(rel)))
    if (candidates.isEmpty) return CommitResult(base, 0)
    // the keys' CURRENT rows (already-deleted positions are excluded
    // by loadWithDv; re-marking them would be harmless) — one scan
    // over the touched shards; the result is change-scale
    val snap = loadWithDv(spark, path, candidates, m.dv, keepPos = true,
      widen = widenMap(m))
    val doomed = snap
      .join(keysB.drop("gbucket").distinct(), keyColsP, "left_semi")
      .localCheckpoint(true)
    val hits = doomed
      .select(col("_rel").as("file_rel"), col("_pos").as("pos"))
    writeDvSidecar(spark, path, hits, m) match {
      case None => CommitResult(base, 0)
      case Some((dvRel, affected)) =>
        val touched = affected.map(bucketOf).toSet
        // our touched buckets' lines: every base line of those buckets,
        // with the affected files' DV mappings re-pointed at the new
        // sidecar (data files UNCHANGED — that is the point)
        val newDv = m.dv ++ affected.map(_ -> dvRel)
        val ourLines = TableManifest(m.data, newDv, stats = m.stats).lines
          .filter(l => touched.contains(bucketOfLine(l)))
        // a pure position-delete commit appends NO data file, so
        // without tombstones it would be INVISIBLE to the change
        // stream: a downstream SCD consumer would retain deleted keys
        // forever. STAGE the tombstone file BEFORE the CAS — the Spark
        // write is the only slow step, so after the commit a
        // metadata-scale rename is all that remains of the old
        // post-CAS crash window; [[repairDeleteTombstones]] (run at
        // the top of this method) heals even that residue, so a
        // DELETE's change-stream entry can be late but never lost.
        val stagedTomb = stageDeleteTombstones(spark, path, doomed)
        val res =
          try commitPending(spark, path,
            PendingCommit(base, touched, ourLines, Seq(dvRel),
              op = "DELETE"))
          catch { case e: Throwable =>
            fs(spark).delete(stagedTomb.getParent, true) // lost commit
            throw e
          }
        linkDeleteTombstones(spark, path, res.version, stagedTomb)
        res
    }
  }

  /** Pre-CAS half of a delete commit's change-log entry: the doomed
    * rows as TOMBSTONES (`_deleted=true`, original sequence) written to
    * a writer-nonced staging dir — deleted-rows-scale, invisible until
    * [[linkDeleteTombstones]] renames the part into
    * `_changes/v<version>/`. Consumers resolve ties in favor of the
    * tombstone (a delete of the current row beats the row), which
    * [[streamSourceGate]] exercises and the `stream_lake_source`
    * oracle pins. Returns the staged parquet part's path.
    */
  private[sources] def stageDeleteTombstones(spark: SparkSession, path: String,
      doomed: DataFrame): Path = {
    val f = fs(spark)
    val tomb = doomed.drop("_rel", "_pos", "gbucket")
      .withColumn("_deleted", lit(true))
    val stage = path + s"_tombstage_${nonce()}"
    tomb.coalesce(1).write.mode(SaveMode.Overwrite).parquet(stage)
    val part = f.listStatus(new Path(stage))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    require(part.length == 1,
      s"expected one tombstone part, got ${part.length}")
    part.head.getPath
  }

  /** Post-CAS half: rename the staged tombstone part into the winning
    * version's change directory (metadata-scale).
    */
  private[sources] def linkDeleteTombstones(spark: SparkSession, path: String,
      version: Int, stagedPart: Path): Unit = {
    val f = fs(spark)
    val dir = new Path(f"$path/$ChangesDir/v$version%06d")
    f.mkdirs(dir)
    if (!f.rename(stagedPart,
        new Path(dir, s"tomb-${stagedPart.getParent.getName}.parquet")))
      throw new java.io.IOException(
        s"cannot publish delete tombstones for v$version at $path")
    f.delete(stagedPart.getParent, true)
  }

  /** Crash HEALING for the residual rename window: a DELETE-op commit
    * whose `_changes/v<N>/` directory is missing (the writer died
    * between its CAS and the tombstone link) is detectable precisely
    * because [[dvDelete]] never commits a zero-row delete — so every
    * DELETE version must have a change entry. Re-derive the doomed
    * rows from the commit's own immutable state: the rows of files
    * whose DV mapping changed at `v`, restricted to the positions the
    * new sidecar added — exactly the rows the lost tombstone file
    * carried — and publish them under the original version number.
    * Runs at the top of [[dvDelete]] (change-scale: only unpublished
    * DELETE versions are touched; the op probe reads raw manifest
    * heads, not resolved manifests).
    */
  private[sources] def repairDeleteTombstones(spark: SparkSession,
      path: String): Unit = {
    val f = fs(spark)
    val vs = versions(spark, path)
    if (vs.size < 2) return
    val chDir = new Path(s"$path/$ChangesDir")
    val published: Set[Int] =
      if (!f.exists(chDir)) Set.empty
      else f.listStatus(chDir).filter(_.isDirectory)
        .map(_.getPath.getName.stripPrefix("v").toInt).toSet
    val unpublished = vs.drop(1).filterNot(published.contains)
    unpublished.foreach { v =>
      // op from the RAW lines: delta manifests re-add their meta lines
      // (per-version bookkeeping never carries), so the probe is
      // change-scale even on delta-encoded logs
      val isDelete = rawManifestLines(spark, path, v)
        .exists(l => l == "meta\top\tDELETE" || l == "+\tmeta\top\tDELETE")
      // Tag-pinned vacuum retention is NON-contiguous: a kept DELETE
      // version can outlive its predecessor's manifest. Repair needs
      // v-1 to reconstruct the lost tombstones; without it, skip with
      // a warning instead of throwing — the alternative permanently
      // wedges every future dvDelete on this table behind an
      // unrepairable crash remnant.
      if (isDelete && !vs.contains(v - 1)) {
        // the gap is permanent — record it DURABLY so change-feed
        // consumers fail on it instead of silently missing the
        // version's tombstones (a log line is not a queryable signal)
        val marker = gapMarkerPath(path, v)
        if (!f.exists(marker)) {
          val out = f.create(marker, true)
          try out.write((s"delete tombstones for v$v are unpublishable: " +
            s"predecessor manifest v${v - 1} was vacuumed").getBytes("UTF-8"))
          finally out.close()
        }
        log.warn(s"cannot repair lost delete tombstones for v$v at " +
          s"$path: predecessor manifest v${v - 1} was vacuumed; " +
          s"gap recorded at $marker")
      } else if (isDelete) {
        val m = manifestEntries(spark, path, v)
        val mPrev = manifestEntries(spark, path, v - 1)
        val grew = m.data.filter(r => m.dv.get(r) != mPrev.dv.get(r))
        if (grew.nonEmpty) {
          // rows live at v-1 whose position the new sidecar added
          val rows = loadWithDv(spark, path, grew, mPrev.dv,
            keepPos = true, widen = widenMap(m))
          val newDels = readDvSidecars(spark, path,
              grew.flatMap(m.dv.get).distinct)
            .select(col("file_rel").as("_rel"), col("pos").as("_pos"))
          val doomed = rows.join(newDels, Seq("_rel", "_pos"), "left_semi")
          linkDeleteTombstones(spark, path, v,
            stageDeleteTombstones(spark, path, doomed))
        }
      }
    }
  }

  /** MERGE-ON-READ upsert — the MOR form of [[upsert]]'s MERGE: the
    * superseded versions of the changed keys are DV-marked and the
    * winning rows APPEND as new files; no existing data file is ever
    * rewritten. Per key the commit is O(changed rows), not
    * O(bucket-file size) — the write path a trickle-CDC feed needs at
    * 100 TB, with [[compactDvs]] amortizing the read-side anti-join.
    *
    * Semantics mirror [[upsert]] exactly: last-writer-wins on `seqCol`
    * with update-wins-tie (a change is ACCEPTED iff its sequence ≥ the
    * key's current row's), `_deleted` deletes append as TOMBSTONE rows
    * — retained, sequence and all, so a late-arriving OLDER change for
    * a deleted key is rejected by the same comparison (the
    * anti-resurrection contract), and readers filter them. Stale
    * changes are dropped.
    *
    * The batch is resolved against the table ONCE, with ONE exchange:
    *  - the batch is bucket-partitioned and its per-key winner picked
    *    inside that layout (gbucket is a function of the key);
    *  - one snapshot scan of the touched buckets finds the keys'
    *    current rows, and each winner is left-joined to its key's row
    *    (`_cur_seq`, `_rel`, `_pos`, live `_row_id`) by broadcast, so
    *    the bucket layout survives;
    *  - the accepted rows are checkpointed once; the DV hits are their
    *    current rows' positions, and the append lands one file per
    *    touched bucket straight from that layout.
    * Everything but the one scan is change-scale (the broadcasts carry
    * the batch's keys and their current rows, never the table).
    */
  def dvUpsert(spark: SparkSession, path: String, updates: DataFrame,
      keyCols: Seq[String], seqCol: String,
      numBuckets: Int = 16): CommitResult = {
    val vs = versions(spark, path)
    require(vs.nonEmpty,
      s"no committed versions at $path — land the initial snapshot with upsert")
    val base = vs.last
    val m = manifestEntries(spark, path, base)
    enforceConstraints(m, updates)
    val (updatesE, expectMeta) = applyExpectations(spark, path, m, updates)
    // callers speak logical names; files store the pinned physical ones
    val updatesP = toPhysicalDf(applyGenerated(m, updatesE), m)
    val keyCols2 = keyCols.map(toPhysicalName(m, _))
    val seqCol2 = toPhysicalName(m, seqCol)
    val tagged = withKeyBucket(spark, path, m,
      if (updatesP.columns.contains("_deleted")) updatesP
      else updatesP.withColumn("_deleted", lit(false)),
      keyCols2, m.numBuckets(numBuckets))
    // winner per key WITHIN the batch (same resolve as upsert), grouped
    // inside the commit's one bucket-keyed exchange
    val wInner = Window.partitionBy((col("gbucket") +: keyCols2.map(col)): _*)
      .orderBy(col(seqCol2).desc)
    val newRows = tagged.repartition(col("gbucket"))
      .withColumn("_rn", row_number().over(wInner))
      .filter(col("_rn") === 1).drop("_rn")
      .localCheckpoint(true)
    // BUCKET PRUNING: only the changed keys' hash buckets can hold
    // their current rows — the scan reads those shards, never the table
    val keyBuckets = distinctValues(newRows, "gbucket", Encoders.scalaInt)
    val candidates = m.data.filter(rel => keyBuckets.contains(bucketOf(rel)))
    val tracked = isTracked(m)
    // current rows (tombstones INCLUDED — they carry the sequence that
    // rejects late older changes) of the touched keys, with positions;
    // when tracked, the superseded row's id rides along so the appended
    // winner INHERITS the key's identity — but only a LIVE current row
    // donates: an accepted write over a tombstone is a re-insert and
    // draws fresh
    val current =
      if (candidates.isEmpty) None // no bucket holds these keys yet
      else Some(withNullRowId(loadWithDv(spark, path, candidates, m.dv,
          keepPos = true, widen = widenMap(m)))
        .join(broadcast(newRows.select(keyCols2.map(col): _*)), keyCols2,
          "left_semi")
        .select((keyCols2.map(col) ++ Seq(col(seqCol2).as("_cur_seq"),
          col("_rel"), col("_pos")) ++
          (if (tracked) Seq(when(!coalesce(col("_deleted"), lit(false)),
            col("_row_id")).as("_row_id")) else Nil)): _*))
    // accept iff no current row, or the new sequence wins (ties to the
    // update — upsert's (seq DESC, _is_update DESC) order)
    val accepted = current.fold(newRows)(cur => newRows
      .join(broadcast(cur), keyCols2, "left")
      .filter(col("_cur_seq").isNull || col(seqCol2) >= col("_cur_seq"))
      .localCheckpoint(true))
    // DV the superseded versions of accepted keys
    val dvOut = current.flatMap(_ => writeDvSidecar(spark, path,
      accepted.filter(col("_rel").isNotNull)
        .select(col("_rel").as("file_rel"), col("_pos").as("pos")), m))
    // append the winners (deletes as tombstone rows) as NEW files, one
    // per touched bucket: the rows are still in the bucket layout —
    // except when tracked, where the fresh-id ranking's global window
    // undoes it and one more exchange restores it (MOR appends compound
    // over commits, so per-append file count is the read path's
    // long-run file count)
    val winners = accepted.drop("_cur_seq", "_rel", "_pos")
    val out =
      if (tracked) assignFreshRowIds(winners, keyCols2, rowIdHwm(m))
        .repartition(col("gbucket"))
      else winners
    val (appended, appendedStats) = stageBuckets(spark, path, out)
    if (dvOut.isEmpty && appended.isEmpty) return CommitResult(base, 0)
    val dvAffected = dvOut.map(_._2).getOrElse(Seq.empty)
    val touched = (dvAffected.map(bucketOf) ++ appended.map(bucketOf)).toSet
    val newDv = m.dv ++ dvOut.toSeq.flatMap { case (rel, aff) =>
      aff.map(_ -> rel)
    }
    val ourLines = TableManifest(m.data ++ appended, newDv,
      stats = m.stats ++ appendedStats).lines
      .filter(l => touched.contains(bucketOfLine(l))) ++
      (if (tracked) Seq("prop\trowid.hwm\t" +
        adoptedMaxRowId(spark, path, appended, rowIdHwm(m))) else Seq.empty)
    commitPending(spark, path, PendingCommit(base, touched, ourLines,
      appended ++ dvOut.map(_._1).toSeq, op = "MERGE_MOR",
      metaExtra = expectMeta,
      dropProps = if (tracked) Seq("rowid.hwm") else Nil))
  }

  /** Fold deletion vectors back into data files: rewrite ONLY the
    * DV-carrying files with their deletes applied, carry every clean
    * file by reference, and commit a DV-free representation of the
    * touched buckets. This is the compaction half of the
    * merge-on-read bargain — reads pay the anti-join until compaction
    * amortizes it away. `numBuckets` is unused (the table's own
    * modulus governs); it stays for callers that pass it.
    */
  def compactDvs(spark: SparkSession, path: String,
      numBuckets: Int = 16): CommitResult = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    val base = vs.last
    val m = manifestEntries(spark, path, base)
    if (m.dv.isEmpty) return CommitResult(base, 0)
    val dvFiles = m.dv.keys.toSeq.sorted
    val touched = dvFiles.map(bucketOf).toSet
    val cleanCarried = m.data
      .filter(rel => touched.contains(bucketOf(rel)) && !m.dv.contains(rel))
    val df = loadWithDv(spark, path, dvFiles, m.dv, widen = widenMap(m))
    // bucket-keyed exchange: a touched bucket's DV-carrying files fold
    // into ONE new file (the per-input-file scan partitioning would
    // otherwise rewrite N files into N files — r17, guide §6). Its
    // clean files are not rewritten; they carry by reference, so the
    // bucket holds the new file beside them
    val (adopted, stats) =
      stageBuckets(spark, path, df.repartition(col("gbucket")))
    val carriedStats = m.stats.view
      .filterKeys(cleanCarried.toSet).toMap
    commitPending(spark, path, PendingCommit(base, touched,
      TableManifest(cleanCarried ++ adopted, Map.empty,
        stats = carriedStats ++ stats).lines,
      adopted, op = "OPTIMIZE"))
  }

  /** SHALLOW CLONE — Delta `CREATE TABLE ... SHALLOW CLONE` semantics:
    * `dest` becomes an independent table whose v1 references the
    * source tip's data and DV files with ZERO bytes copied. On a local
    * filesystem the references are HARD LINKS (one directory entry per
    * file — the inode is shared, so the clone stays readable even
    * after the source rewrites and vacuums those files: the link keeps
    * the data alive, which is strictly safer than Delta's path-based
    * shallow clones, where a source VACUUM breaks the clone); object
    * stores fall back to server-side copy. Table properties (bucket
    * modulus, constraints) carry — the clone must merge with the same
    * key→bucket mapping or its pruning would be wrong. The transaction
    * ledger does NOT carry: a clone is a NEW table and a streaming
    * writer's watermarks on the source say nothing about batches
    * applied to the clone.
    *
    * After the clone, the two tables' histories are fully independent:
    * each has its own `_log/`, OCC version chain, change log, and
    * vacuum lifecycle. This is the zero-cost dev/test-sandbox and
    * what-if-experiment primitive a 100 TB table needs — cloning it
    * costs O(#files) metadata operations, not O(bytes).
    */
  def cloneTable(spark: SparkSession, source: String,
      dest: String, atVersion: Option[Int] = None): CommitResult = {
    val f = fs(spark)
    val vs = versions(spark, source)
    require(vs.nonEmpty, s"no committed versions at $source")
    // a caller that also RECORDS the cloned version (createBranch's
    // branch.base) must pin it here — re-reading the tip in two places
    // races a concurrent commit into a fork point that never existed
    val cloneV = atVersion.getOrElse(vs.last)
    require(vs.contains(cloneV),
      s"clone source version $cloneV is not committed at $source")
    require(versions(spark, dest).isEmpty,
      s"$dest already has committed versions — clone targets a fresh path")
    val m = manifestEntries(spark, source, cloneV)
    (m.data ++ m.dv.values.toSeq.distinct).foreach { rel =>
      val dst = new Path(s"$dest/$rel")
      f.mkdirs(dst.getParent)
      linkOrCopy(spark, new Path(s"$source/$rel"), dst)
    }
    val lines = TableManifest(m.data, m.dv, Map.empty, m.props,
      m.stats).lines :+ "meta\top\tCLONE"
    if (!casCommit(spark, dest, 1, lines))
      throw new java.io.IOException(
        s"clone race: another writer created $dest concurrently")
    // the clone's v1 "appends" its whole snapshot as far as a change-
    // stream consumer of the NEW table is concerned
    publishChangeLog(spark, dest, 1, m.data)
    CommitResult(1, 0)
  }

}

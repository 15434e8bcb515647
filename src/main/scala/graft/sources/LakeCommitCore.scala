package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import LakeModel._

/** Core commit machinery: versions, manifest resolution (checkpoint + delta chain), CAS commit point, metadata relations (partitions/files/snapshots), stats skipping.
  *
  * One slice of the [[VersionedLake]] surface (r15 verdict task 6
  * split the 5.8k-line object into focused concern files with zero
  * behavior change); self-typed to the object so cross-concern calls
  * resolve exactly as before.
  */
trait LakeCommitCore { this: VersionedLake.type =>


  private[sources] lazy val log =
    org.slf4j.LoggerFactory.getLogger(VersionedLake.getClass)

  private[sources] val LogDir = "_log"
  private[sources] val DvDir = "_dv"
  private[sources] val ChangesDir = "_changes"

  /** Every Nth version is stored as a FULL manifest snapshot (a
    * checkpoint); the versions between store line DELTAS against their
    * parent. Bounds delta-chain resolution to < N metadata reads while
    * keeping trickle-commit manifest WRITES at O(changed lines) — the
    * Delta-log commit-plus-checkpoint discipline. A 100 TB table is
    * ~10⁶ data files; without deltas every one-row trickle commit
    * rewrites a million-line manifest.
    */
  val ManifestCheckpointInterval = 8

  /** Commit-time clock, injectable for deterministic tests/gates: every
    * CAS winner stamps `meta\tts\t<millis>` into its manifest, which
    * [[readAsOfTimestamp]] and [[history]] read back. Monotonicity is
    * not assumed — AS OF picks the LAST version at-or-before the
    * target, exactly Delta's TIMESTAMP AS OF resolution.
    *
    * The override is scoped PER TABLE PATH (not process-global): a gate
    * injecting a fake clock for its own table cannot corrupt the
    * TIMESTAMP AS OF stamps of a concurrently committing table in the
    * same JVM.
    */
  @volatile private[sources] var clockOverrides: Map[String, () => Long] = Map.empty

  /** Install (Some) or clear (None) the commit clock for one table. */
  def setClockOverride(path: String, c: Option[() => Long]): Unit =
    synchronized {
      clockOverrides = c match {
        case Some(f) => clockOverrides + (path -> f)
        case None => clockOverrides - path
      }
    }

  private[sources] def clockFor(path: String): Long =
    clockOverrides.get(path).map(_()).getOrElse(System.currentTimeMillis())

  private[sources] def fs(spark: SparkSession): FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private[sources] def manifestPath(path: String, v: Int): Path =
    new Path(f"$path/$LogDir/v$v%06d.txt")

  /** Durable full-snapshot SIDECAR for a vacuum-re-rooted retention
    * floor on stores whose rename cannot atomically replace: readers
    * prefer it over the (possibly delta-encoded) primary, so the
    * re-root never has to delete the primary first — there is no
    * instant with no readable floor (the metadata-loss window a
    * delete-then-rename would open).
    */
  private[sources] def fullSidecarPath(path: String, v: Int): Path =
    new Path(f"$path/$LogDir/v$v%06d.full")

  private[sources] def bucketOf(rel: String): Int =
    rel.split("/")(0).stripPrefix("gbucket=").toInt

  /** Short per-writer nonce: staging dirs, in-flight temp manifests and
    * adopted data-file names all embed it, so two concurrent writers
    * can never collide on ANY physical name — the only contended
    * resource left is the version slot itself, and that is settled by
    * the CAS.
    */
  private[sources] def nonce(): String =
    java.util.UUID.randomUUID().toString.substring(0, 8)

  // ---- the commit protocol ---------------------------------------------------
  //
  // Every lake commit lands through one of two loops over [[casCommit]]:
  // [[commitPending]] for staged data written against a base snapshot,
  // [[commitManifest]] for commits derived from the tip alone. Only the
  // single-shot commits (a fast-forward, a clone's v1) CAS directly.

  /** CAS rounds either commit loop tries before it gives up. */
  private[sources] val MaxCommitRounds = 10

  /** Create `dst` holding `lines` iff no file exists there yet — the
    * compare-and-swap every lake and transaction-group commit
    * publishes with. The content goes to a writer-private temp file
    * first, then is PUBLISHED with an operation that atomically fails
    * if `dst` exists; the losing temp is removed, so a lost race
    * leaves no litter.
    *
    * Publish primitive by filesystem: on local files, `link(2)` via
    * `Files.createLink` — POSIX guarantees EEXIST atomically, and the
    * link exposes the COMPLETE temp content in one step (a plain
    * `rename(2)` would silently REPLACE an existing file — exactly the
    * lost-update race this exists to close). On HDFS-like stores,
    * `rename` itself refuses an existing destination atomically, so it
    * is the CAS.
    */
  private[sources] def createIfAbsent(spark: SparkSession, dst: Path,
      lines: Seq[String]): Boolean = {
    val f = fs(spark)
    f.mkdirs(dst.getParent)
    val tmp = new Path(dst.getParent,
      s".${dst.getName.stripSuffix(".txt")}-${nonce()}.tmp")
    val out = f.create(tmp, true)
    try out.write(lines.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    if (f.getUri.getScheme == "file") {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        f.delete(tmp, false)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          f.delete(tmp, false); false
      }
    } else {
      // HDFS rename is atomic and refuses an existing destination
      if (f.exists(dst)) { f.delete(tmp, false); false }
      else {
        val won = f.rename(tmp, dst)
        if (!won) f.delete(tmp, false)
        won
      }
    }
  }

  /** Choose the physical encoding for a manifest about to land as
    * `version`: a delta against the parent slot when that is smaller,
    * a full snapshot on checkpoint versions, for v1, when the parent is
    * unreadable, or when line multiplicity would make set-diff lossy.
    */
  private[sources] def encodeManifest(spark: SparkSession, path: String,
      version: Int, sorted: Seq[String]): Seq[String] = {
    if (version <= 1 || version % ManifestCheckpointInterval == 0)
      return sorted
    scala.util.Try(manifestLines(spark, path, version - 1)).toOption match {
      case None => sorted
      case Some(parent) =>
        val pSet = parent.toSet
        val cSet = sorted.toSet
        if (pSet.size != parent.length || cSet.size != sorted.length) sorted
        else {
          val removed = parent.filterNot(cSet)
          val added = sorted.filterNot(pSet)
          val delta = s"$DeltaHeaderPrefix${version - 1}" +:
            (removed.map("-\t" + _) ++ added.map("+\t" + _))
          if (delta.length < sorted.length) delta else sorted
        }
    }
  }

  /** Compare-and-swap commit of the full manifest `files` at `version`
    * — Delta-style optimistic concurrency, where the version slot is
    * the lock. Stamps the commit time, encodes the manifest
    * ([[encodeManifest]]) and publishes it with [[createIfAbsent]].
    * Returns false when another writer owns the version (the caller
    * rebases, re-derives or aborts).
    */
  private[sources] def casCommit(spark: SparkSession, path: String, version: Int,
      files: Seq[String]): Boolean =
    // central commit-time stamp: every commit path flows through here
    createIfAbsent(spark, manifestPath(path, version),
      encodeManifest(spark, path, version,
        (files.filterNot(_.startsWith("meta\tts\t")) :+
          s"meta\tts\t${clockFor(path)}").sorted))

  /** The commit loop for changes DERIVED FROM THE TIP ALONE — a tag, a
    * constraint or expectation, a column-mapping change, a restore, a
    * property stamp. Each round reads the tip manifest, runs `edit` on
    * it and CASes the result, with `meta op <op>`, as the next
    * version. `edit` re-derives the change from that tip and its
    * `require`s re-validate against it, so a lost round never
    * overwrites what the winner committed: it starts over on the new
    * tip, where a now-invalid change (a tag or constraint name the
    * winner took) fails. There is no staged data to rebase and no
    * bucket to conflict on; staged data goes through [[commitPending]].
    * Gives up after [[MaxCommitRounds]] lost rounds.
    */
  private[sources] def commitManifest(spark: SparkSession, path: String,
      op: String)(edit: TableManifest => TableManifest): CommitResult = {
    var rounds = 0
    while (rounds <= MaxCommitRounds) {
      val vs = versions(spark, path)
      require(vs.nonEmpty, s"no committed versions at $path")
      val tip = vs.last
      val lines = edit(manifestEntries(spark, path, tip)).lines :+
        s"meta\top\t$op"
      if (casCommit(spark, path, tip + 1, lines))
        return CommitResult(tip + 1, rounds)
      rounds += 1
    }
    throw new java.io.IOException(
      s"gave up committing $op at $path after $MaxCommitRounds CAS rounds")
  }

  /** Reference the immutable file `src` at `dst` without copying its
    * bytes where the store allows: a HARD LINK on local files (the
    * inode is shared, so `dst` outlives a vacuum of `src`); object
    * stores have no links, so they fall back to a copy. The parent of
    * `dst` must exist.
    */
  private[sources] def linkOrCopy(spark: SparkSession, src: Path,
      dst: Path): Unit = {
    val f = fs(spark)
    if (f.getUri.getScheme == "file")
      java.nio.file.Files.createLink(
        java.nio.file.Paths.get(dst.toUri.getPath),
        java.nio.file.Paths.get(src.toUri.getPath))
    else
      org.apache.hadoop.fs.FileUtil.copy(f, src, f, dst, false,
        spark.sparkContext.hadoopConfiguration)
  }

  /** Write `df` (which carries `gbucket`) partitioned by bucket into a
    * writer-private staging directory beside the table, then adopt
    * every staged file under an immutable writer-nonced name
    * (`gbucket=N/w<nonce>-<i>.parquet`); returns the adopted relative
    * paths and their footer statistics ([[computeStats]]). Staging
    * never touches live data, no two writers can collide on a physical
    * name, and a write that throws leaves no staging directory behind.
    * Adopted files stay invisible until a manifest references them.
    */
  private[sources] def stageBuckets(spark: SparkSession, path: String,
      df: DataFrame): (Seq[String], Map[String, String]) = {
    val f = fs(spark)
    val wid = nonce()
    val stage = new Path(path + s"_stage_$wid")
    try df.write.partitionBy("gbucket").mode(SaveMode.Overwrite)
      .parquet(stage.toString)
    catch { case e: Throwable => f.delete(stage, true); throw e }
    val adopted = f.listStatus(stage).filter(_.isDirectory).toSeq.flatMap { d =>
      val bucketDir = d.getPath.getName // gbucket=N
      f.mkdirs(new Path(s"$path/$bucketDir"))
      f.listStatus(d.getPath)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .toSeq.zipWithIndex.map { case (s, i) =>
          val rel = f"$bucketDir/w$wid-$i%04d.parquet"
          if (!f.rename(s.getPath, new Path(s"$path/$rel")))
            throw new java.io.IOException(s"cannot adopt $rel")
          rel
        }
    }
    f.delete(stage, true)
    (adopted, computeStats(spark, path, adopted))
  }

  /** Committed versions, ascending (empty → table does not exist). */
  def versions(spark: SparkSession, path: String): Seq[Int] = {
    val dir = new Path(s"$path/$LogDir")
    val f = fs(spark)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".txt"))
      .map(n => n.stripPrefix("v").stripSuffix(".txt").toInt)
      .sorted.toSeq
  }

  /** Physical bytes of the version file, line-split — either a FULL
    * snapshot (legacy format: the logical lines verbatim) or a DELTA
    * (`format\tdelta\t<parent>` header + `+\t`/`-\t` edit lines).
    */
  private[sources] def rawManifestLines(spark: SparkSession, path: String,
      version: Int): Seq[String] = {
    val f = fs(spark)
    // a vacuum re-root on a non-atomic-replace store leaves the full
    // snapshot as a sidecar; it is authoritative when present
    val side = fullSidecarPath(path, version)
    val in = f.open(if (f.exists(side)) side else manifestPath(path, version))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  private[sources] val DeltaHeaderPrefix = "format\tdelta\t"

  /** LOGICAL manifest lines at `version` — resolves delta-encoded
    * manifests against their parent chain. Every commit between two
    * checkpoints stores only its edit set (O(changed lines), not
    * O(table files) — the property that keeps trickle-commit metadata
    * writes at change scale on a million-file table); resolution walks
    * parents until the nearest full snapshot, which
    * [[ManifestCheckpointInterval]] bounds to a constant chain length.
    */
  private[sources] def manifestLines(spark: SparkSession, path: String,
      version: Int): Seq[String] = {
    val raw = rawManifestLines(spark, path, version)
    raw.headOption match {
      case Some(h) if h.startsWith(DeltaHeaderPrefix) =>
        val parent = h.stripPrefix(DeltaHeaderPrefix).toInt
        require(parent < version, s"delta manifest v$version of $path " +
          s"points forward to v$parent — corrupt log")
        val base = manifestLines(spark, path, parent).toSet
        val removed = raw.collect {
          case l if l.startsWith("-\t") => l.substring(2) }.toSet
        val added = raw.collect {
          case l if l.startsWith("+\t") => l.substring(2) }
        ((base -- removed) ++ added).toSeq.sorted
      case _ => raw
    }
  }

  /** The logical manifest at `version`, public for tests and tooling:
    * the physical file may be a delta, but callers always see the
    * resolved full line set.
    */
  def resolvedManifest(spark: SparkSession, path: String,
      version: Int): Seq[String] = manifestLines(spark, path, version)

  /** Parsed manifest at `version`. */
  private[sources] def manifestEntries(spark: SparkSession, path: String,
      version: Int): TableManifest =
    parseManifest(manifestLines(spark, path, version))

  private[sources] def parseManifest(lines0: Seq[String]): TableManifest = {
    // meta lines (per-version operation record — see [[history]]) are
    // commit bookkeeping, not table state: stripped here, never carried
    val lines = lines0.filterNot(isMetaLine)
    val (statsLines, lines1) = lines.partition(_.startsWith("stats\t"))
    val (propLines, rest0) = lines1.partition(_.startsWith("prop\t"))
    val (txnLines, rest) = rest0.partition(_.startsWith("txn\t"))
    val (dvLines, dataLines) = rest.partition(_.startsWith("dv\t"))
    TableManifest(dataLines,
      dvLines.map { l =>
        val a = l.split("\t"); a(1) -> a(2)
      }.toMap,
      txnLines.map { l =>
        val a = l.split("\t"); a(1) -> a(2).toLong
      }.toMap,
      propLines.map { l => // value may contain anything but tab/newline
        val a = l.split("\t", 3); a(1) -> a(2)
      }.toMap,
      statsLines.map { l =>
        val a = l.split("\t", 3); a(1) -> a(2)
      }.toMap)
  }

  private[sources] def isTxnLine(l: String): Boolean = l.startsWith("txn\t")
  private[sources] def isPropLine(l: String): Boolean = l.startsWith("prop\t")
  private[sources] def isMetaLine(l: String): Boolean = l.startsWith("meta\t")

  private[sources] def bucketOfLine(line: String): Int =
    if (line.startsWith("dv\t") || line.startsWith("stats\t"))
      bucketOf(line.split("\t")(1))
    else bucketOf(line)

  /** `gbucket=N/<name>` of the file a row came from — the manifest-
    * relative identity DV sidecars record (relocatable, unlike the
    * absolute `_metadata.file_path`).
    */
  private[sources] def relCol: org.apache.spark.sql.Column = {
    val parts = split(col("_metadata.file_path"), "/")
    concat(element_at(parts, -2), lit("/"), element_at(parts, -1))
  }

  /** The (file_rel, pos) rows of the given sidecars (table-relative),
    * read with the one schema every sidecar is written with: parquet
    * schema inference would cost a Spark job per read.
    */
  private[sources] def readDvSidecars(spark: SparkSession, path: String,
      sidecars: Seq[String]): DataFrame =
    spark.read.schema("file_rel STRING, pos LONG")
      .parquet(sidecars.map(r => s"$path/$r"): _*)

  /** The distinct values of one column of a change-scale frame, for a
    * driver-side decision (touched buckets, affected files). Each
    * partition de-duplicates its own values and the driver merges the
    * sets: one job, no exchange, at most partitions × distinct values
    * through the driver.
    */
  private[sources] def distinctValues[T](df: DataFrame, c: String,
      enc: org.apache.spark.sql.Encoder[T]): Set[T] =
    df.select(col(c)).as(enc).mapPartitions(_.toSet.iterator)(enc)
      .collect().toSet

  /** Per-file min/max statistics for every NUMERIC column of freshly
    * adopted data files — the Delta/Iceberg data-skipping substrate,
    * carried as `stats\t<file>\t<col>:<lo>:<hi>|...` manifest lines.
    * Read from the PARQUET FOOTERS on the driver (row-group column
    * statistics merged per file): zero Spark jobs, milliseconds per
    * adopted file, change-scale by construction — a trickle commit
    * stats its own appends, never the table. Floats are recorded as
    * their EXACT binary expansion, so a recorded bound can never
    * narrow the true range; a column whose row groups lack stats (or
    * carry NaN/∞) is dropped for that file and the file is
    * conservatively kept at prune time. DV'd rows may widen a file's
    * stored range beyond its live rows — also conservative.
    */
  private def computeStats(spark: SparkSession, path: String,
      adopted: Seq[String]): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val dataFiles = adopted.filter(_.startsWith("gbucket="))
    val conf = spark.sparkContext.hadoopConfiguration
    dataFiles.flatMap { rel =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(s"$path/$rel"), conf))
      try {
        // this footer is open anyway — warm the read path's schema
        // cache so a freshly adopted file is never re-opened just for
        // its schema (r17; the schema-from-commit-metadata posture)
        FooterSchemas.put(s"$path/$rel", FooterSchemas.fromFooter(spark,
          reader.getFooter.getFileMetaData))
        // per-column accumulated (min, max); a column survives only if
        // EVERY row group carries stats for it (a gap would make the
        // recorded range a lie about uncovered rows)
        val acc = scala.collection.mutable.LinkedHashMap[String,
          Option[(BigDecimal, BigDecimal)]]()
        // file row count + may-hold-tombstones flag, for the
        // metadata-only COUNT(*) path ([[metadataCount]]): a file whose
        // `_deleted` boolean stats prove max=false (or whose rows never
        // carried the column / only nulls — both read as not-deleted)
        // contributes its footer row count without being opened
        var totalRows = 0L
        var tombSeen = false
        var tombUnknown = false
        reader.getFooter.getBlocks.asScala.foreach { block =>
          totalRows += block.getRowCount
          block.getColumns.asScala.foreach { c =>
            if (c.getPath.size == 1 && c.getPath.toDotString == "_deleted") {
              val st = c.getStatistics
              if (st == null || st.isEmpty) tombUnknown = true
              else if (!st.hasNonNullValue) () // all null ⇒ not deleted
              else c.getPrimitiveType.getPrimitiveTypeName match {
                case BOOLEAN =>
                  if (st.genericGetMax.asInstanceOf[java.lang.Boolean]
                    .booleanValue()) tombSeen = true
                case _ => tombUnknown = true
              }
            }
          }
        }
        val tombFlag = if (tombUnknown || tombSeen) 1 else 0
        reader.getFooter.getBlocks.asScala.foreach { block =>
          block.getColumns.asScala.foreach { c =>
            // "__meta" guard: defense in depth beside the toPhysicalDf
            // reservation — never let a column shadow the bookkeeping
            if (c.getPath.size == 1 &&
              c.getPath.toDotString != "__meta") {
              val name = c.getPath.toDotString
              val st = c.getStatistics
              // exact BINARY expansion for floats (BigDecimal(double)),
              // so a recorded bound never narrows the true range the
              // way a shortest-string rendering could
              // Stats must live in the LOGICAL value space the query's
              // literals speak: an INT32/INT64 column annotated DECIMAL
              // stores the UNSCALED integer (12.34 as 1234), so record
              // it rescaled by 10^-scale; an UNSIGNED annotation makes
              // the raw signed min/max a misread — skip the column
              // (conservative: the file is always kept at prune time).
              import org.apache.parquet.schema.LogicalTypeAnnotation.{
                DecimalLogicalTypeAnnotation, IntLogicalTypeAnnotation}
              val ann = c.getPrimitiveType.getLogicalTypeAnnotation
              val decScale: Option[Int] = ann match {
                case d: DecimalLogicalTypeAnnotation => Some(d.getScale)
                case _ => None
              }
              val unsigned = ann match {
                case i: IntLogicalTypeAnnotation => !i.isSigned
                case _ => false
              }
              def scaled(v: Long): BigDecimal = decScale match {
                case Some(s) =>
                  BigDecimal(java.math.BigDecimal.valueOf(v, s))
                case None => BigDecimal(v)
              }
              val mm: Option[(BigDecimal, BigDecimal)] =
                if (st == null || st.isEmpty || !st.hasNonNullValue ||
                  unsigned) None
                else c.getPrimitiveType.getPrimitiveTypeName match {
                  case INT32 => Some((
                    scaled(st.genericGetMin.asInstanceOf[Integer].toLong),
                    scaled(st.genericGetMax.asInstanceOf[Integer].toLong)))
                  case INT64 => Some((
                    scaled(st.genericGetMin.asInstanceOf[java.lang.Long]
                      .toLong),
                    scaled(st.genericGetMax.asInstanceOf[java.lang.Long]
                      .toLong)))
                  case DOUBLE =>
                    val lo = st.genericGetMin
                      .asInstanceOf[java.lang.Double].toDouble
                    val hi = st.genericGetMax
                      .asInstanceOf[java.lang.Double].toDouble
                    if (lo.isNaN || hi.isNaN || lo.isInfinite ||
                      hi.isInfinite) None
                    else Some((BigDecimal(new java.math.BigDecimal(lo)),
                      BigDecimal(new java.math.BigDecimal(hi))))
                  case FLOAT =>
                    val lo = st.genericGetMin
                      .asInstanceOf[java.lang.Float].toFloat
                    val hi = st.genericGetMax
                      .asInstanceOf[java.lang.Float].toFloat
                    if (lo.isNaN || hi.isNaN || lo.isInfinite ||
                      hi.isInfinite) None
                    else Some((
                      BigDecimal(new java.math.BigDecimal(lo.toDouble)),
                      BigDecimal(new java.math.BigDecimal(hi.toDouble))))
                  case _ => None
                }
              val merged: Option[(BigDecimal, BigDecimal)] =
                if (!acc.contains(name)) mm
                else for ((alo, ahi) <- acc(name); (blo, bhi) <- mm)
                  yield (alo min blo, ahi max bhi)
              acc(name) = merged
            }
          }
        }
        val colPayload = acc.flatMap {
          case (name, Some((lo, hi))) =>
            // ':' and '|' are the payload separators; plain decimal
            // renderings of numeric bounds never contain either
            Some(s"$name:${lo.underlying.toPlainString}:" +
              hi.underlying.toPlainString)
          case _ => None
        }
        // pseudo-column entry; never matches a query column name
        val payload = (Seq(s"__meta:$totalRows:$tombFlag") ++ colPayload)
          .mkString("|")
        Some(rel -> payload)
      } finally reader.close()
    }.toMap
  }

  /** Exact COUNT(*) of the live snapshot at METADATA COST where the
    * manifest proves it, scanning only the files it cannot: a data
    * file contributes its footer row count (recorded at write time in
    * the `__meta` stats entry) when it has NO deletion vector and its
    * `_deleted` stats prove it holds no tombstones; DV-carrying or
    * tombstone-possible files are counted by a scan restricted to
    * exactly them. A trickle-maintained 100 TB table answers COUNT(*)
    * from its manifest plus a sliver of recently-deleted files —
    * Delta's numRecords-from-stats fast path. Returns None when any
    * file predates the `__meta` record (conservative: caller falls
    * back to a full count).
    */
  def metadataCount(spark: SparkSession, path: String,
      asOfVersion: Option[Int] = None): Option[Long] = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    val m = manifestEntries(spark, path, asOfVersion.getOrElse(vs.last))
    def metaOf(rel: String): Option[(Long, Int)] =
      m.stats.get(rel).flatMap(_.split('|').collectFirst {
        case t if t.startsWith("__meta:") =>
          val a = t.split(':'); (a(1).toLong, a(2).toInt)
      })
    if (m.data.isEmpty) return Some(0L)
    val metas = m.data.map(rel => rel -> metaOf(rel)).toMap
    if (metas.valuesIterator.exists(_.isEmpty)) return None
    val (mustScan, clean) = m.data.partition(rel =>
      m.dv.contains(rel) || metas(rel).get._2 == 1)
    val cleanRows = clean.iterator.map(rel => metas(rel).get._1).sum
    val scannedRows =
      if (mustScan.isEmpty) 0L
      else {
        val df0 = loadWithDv(spark, path, mustScan, m.dv,
          widen = widenMap(m))
        val live =
          if (df0.columns.contains("_deleted"))
            df0.filter(!coalesce(col("_deleted"), lit(false)))
          else df0
        live.count()
      }
    Some(cleanRows + scannedRows)
  }

  /** Iceberg `partitions`-style metadata relation: one row per hash
    * bucket of the CURRENT version — file count, physical record count
    * (from the per-file `__meta` stats entries; NULL when any of the
    * bucket's files predates the stats format — conservative, never
    * wrong), and how many files carry a deletion vector. Metadata-
    * scale: manifests only, never data.
    */
  def partitionsMeta(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    val m = manifestEntries(spark, path, vs.last)
    def rowsOf(rel: String): Option[Long] =
      m.stats.get(rel).flatMap(_.split('|').collectFirst {
        case t if t.startsWith("__meta:") => t.split(':')(1).toLong
      })
    m.data.groupBy(bucketOf).toSeq.sortBy(_._1).map { case (b, files) =>
      val rcs = files.map(rowsOf)
      (b, files.size.toLong,
        if (rcs.exists(_.isEmpty)) None else Some(rcs.flatten.sum),
        files.count(m.dv.contains).toLong)
    }.toDF("bucket", "file_count", "record_count", "dv_file_count")
  }

  /** Iceberg-style `files` metadata table: one row per LIVE data file
    * of the tip (or `asOf`) snapshot — path, bucket, footer row count
    * (from the manifest's stats payload, null for pre-stats files),
    * the number of position-deleted rows its DV sidecar holds, and
    * the recorded per-column min/max bounds. Manifest-scale except the
    * DV counts, which read only the (change-scale) sidecar parquet —
    * the table-maintenance view every compaction runbook queries.
    */
  def filesMeta(spark: SparkSession, path: String,
      asOf: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    val m = manifestEntries(spark, path, asOf.getOrElse(vs.last))
    // per mapped (file → sidecar) pair: rows of THAT sidecar for THAT
    // file; other sidecars' stale rows for a remapped file don't
    // count. ONE job over all sidecars (input_file_name ⋈ broadcast
    // mapping), not a job per sidecar — a trickle table can carry many
    val dvCounts: Map[String, Long] =
      if (m.dv.isEmpty) Map.empty
      else {
        import spark.implicits._
        val mapping = m.dv.toSeq.map { case (file, sidecar) =>
          (file, new Path(s"$path/$sidecar").toUri.getPath)
        }.toDF("_m_file", "_sidecar")
        val dvRows = readDvSidecars(spark, path, m.dv.values.toSeq.distinct)
          .withColumn("_src", input_file_name())
        dvRows.join(broadcast(mapping),
            dvRows("file_rel") === mapping("_m_file") &&
              dvRows("_src").contains(mapping("_sidecar")), "left_semi")
          .groupBy(col("file_rel")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      }
    m.data.sorted.map { rel =>
      val payload = m.stats.get(rel)
      val rows = payload.flatMap(_.split('|').collectFirst {
        case t if t.startsWith("__meta:") => t.split(':')(1).toLong
      })
      val bounds = payload.map(_.split('|').toSeq
        .filterNot(_.startsWith("__meta:")).mkString("|"))
        .filter(_.nonEmpty)
      (rel, bucketOf(rel), rows, dvCounts.getOrElse(rel, 0L), bounds)
    }.toDF("file_path", "bucket", "record_count", "dv_row_count",
      "bounds")
  }

  /** Iceberg-style `snapshots` metadata table: one row per committed
    * version — operation, commit wall-clock, the file delta against
    * the previous version, and the snapshot's total footer row count
    * (null when any live file predates stats). Pure manifest reads.
    */
  def snapshotsMeta(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    var prev = Set.empty[String]
    val first = vs.headOption
    vs.map { v =>
      val m = manifestEntries(spark, path, v)
      val cur = m.data.toSet
      val added = (cur -- prev).size.toLong
      val removed = (prev -- cur).size.toLong
      prev = cur
      val lines = manifestLines(spark, path, v)
      val op = lines.find(_.startsWith("meta\top\t"))
        .map(_.split("\t", 3)(2)).getOrElse("UNKNOWN")
      val ts = lines.find(_.startsWith("meta\tts\t"))
        .map(_.split("\t")(2).toLong).getOrElse(-1L)
      val rcs = m.data.map(rel => m.stats.get(rel)
        .flatMap(_.split('|').collectFirst {
          case t if t.startsWith("__meta:") => t.split(':')(1).toLong
        }))
      val records =
        if (first.contains(v) && m.data.isEmpty) Some(0L)
        else if (rcs.exists(_.isEmpty)) None
        else Some(rcs.flatten.sum)
      (v, op, ts, added, removed, records)
    }.toDF("version", "operation", "commit_ts", "files_added",
      "files_removed", "record_count")
  }

  private[sources] def statsAsLines(stats: Map[String, String]): Seq[String] =
    stats.toSeq.sorted.map { case (f, p) => s"stats\t$f\t$p" }

  /** Can `rel` hold a row with `column` in [lo, hi]? False only when
    * the file's recorded range and the query range are provably
    * disjoint; missing or unparseable stats keep the file.
    */
  private[sources] def fileMayMatch(m: TableManifest, rel: String, column: String,
      lo: Option[BigDecimal], hi: Option[BigDecimal]): Boolean =
    fileMayMatchBound(m, rel, column, ColBound(lo, false, hi, false))

  private[sources] def fileMayMatchBound(m: TableManifest, rel: String,
      column: String, b: ColBound): Boolean =
    m.stats.get(rel).flatMap { payload =>
      // stats format versioning: payloads without the leading __meta
      // entry predate the decimal-rescale fix (r7) — their
      // decimal-column bounds live in UNSCALED space, and nothing in
      // the payload says which columns those are, so legacy stats are
      // ignored wholesale (conservative keep; re-stat by rewriting)
      if (!payload.startsWith("__meta:")) Some(true)
      else payload.split('|').collectFirst {
        case t if t.startsWith(column + ":") =>
          val a = t.split(':')
          scala.util.Try {
            val fLo = BigDecimal(a(1)); val fHi = BigDecimal(a(2))
            b.lo.forall(v => if (b.loStrict) v < fHi else v <= fHi) &&
              b.hi.forall(v => if (b.hiStrict) v > fLo else v >= fLo)
          }.getOrElse(true)
      }
    }.getOrElse(true)

  /** The data files a `[lo, hi]` range predicate on `column` can
    * touch at `asOfVersion` — public so callers (and the gate) can
    * assert the pruning itself.
    */
  def rangeCandidates(spark: SparkSession, path: String, column: String,
      lo: Option[BigDecimal], hi: Option[BigDecimal],
      asOfVersion: Option[Int] = None): Seq[String] = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    val m = manifestEntries(spark, path, asOfVersion.getOrElse(vs.last))
    val columnP = toPhysicalName(m, column)
    m.data.filter(rel => fileMayMatch(m, rel, columnP, lo, hi))
  }

}

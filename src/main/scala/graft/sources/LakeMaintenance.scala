package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import LakeModel._

/** Clustering maintenance: CLUSTER BY (AUTO), Z-order, tags, vacuum planning/execution, keyed point reads.
  *
  * One slice of the [[VersionedLake]] surface (r15 verdict task 6
  * split the 5.8k-line object into focused concern files with zero
  * behavior change); self-typed to the object so cross-concern calls
  * resolve exactly as before.
  */
trait LakeMaintenance { this: VersionedLake.type =>

  // ---- CLUSTER BY AUTO -----------------------------------------------------

  private[sources] val PredLogDir = "_predlog"

  /** Record the columns a predicate read actually BOUNDED — one tiny
    * file per read under `_predlog/`, the raw material for
    * [[clusterByAuto]]'s key selection (Databricks' CLUSTER BY AUTO
    * mines the query history the same way; a production deployment
    * would batch or sample the writes, the format is the contract).
    * Recording is metadata-scale, never on the row path, and BEST
    * EFFORT: a read must never fail because telemetry could not be
    * written (read-only storage, read-only credentials, a full disk),
    * so IO failures here are swallowed. [[vacuum]] compacts the log
    * (one aggregated `c-*.txt` replaces the per-read files), bounding
    * growth to one tiny file per vacuum cycle plus reads since.
    */
  private[sources] def recordPredicateUse(spark: SparkSession, path: String,
      cols: Seq[String]): Unit = if (cols.nonEmpty) {
    try {
      val f = fs(spark)
      val dir = new Path(s"$path/$PredLogDir")
      f.mkdirs(dir)
      val out = f.create(new Path(dir, s"p-${nonce()}.txt"), false)
      try out.write(cols.distinct.sorted.mkString("\n").getBytes("UTF-8"))
      finally out.close()
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** The recorded predicate history: bounded column → read count.
    * Two line formats coexist: per-read files carry one bare column
    * name per line (count 1 each); vacuum-compacted files carry
    * `column<TAB>count` aggregates.
    */
  def predicateHistory(spark: SparkSession,
      path: String): Map[String, Long] = {
    val f = fs(spark)
    val dir = new Path(s"$path/$PredLogDir")
    if (!f.exists(dir)) return Map.empty
    f.listStatus(dir).filter(_.isFile).toSeq.flatMap { s =>
      val in = f.open(s.getPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }.filter(_.nonEmpty).map { line =>
      line.split('\t') match {
        case Array(c, n) => c -> n.toLong
        case _ => line -> 1L
      }
    }.groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).sum }
  }

  /** Compact `_predlog/` to a single aggregated file. Lists first,
    * then deletes EXACTLY the listed files, so a concurrent read's
    * fresh `p-*.txt` landing mid-compaction survives untouched; the
    * aggregate lands before any delete, so a crash anywhere leaves
    * counts over-complete (duplicate aggregation of a not-yet-deleted
    * file inflates a count until the next vacuum), never lost — the
    * acceptable direction for telemetry that only elects cluster keys.
    */
  private[sources] def compactPredLog(spark: SparkSession, path: String): Unit = {
    try {
      val f = fs(spark)
      val dir = new Path(s"$path/$PredLogDir")
      if (!f.exists(dir)) return
      val files = f.listStatus(dir).filter(_.isFile).map(_.getPath).toSeq
      if (files.size <= 1) return
      val counts = files.flatMap { p =>
        val in = f.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      }.filter(_.nonEmpty).map { line =>
        line.split('\t') match {
          case Array(c, n) => c -> n.toLong
          case _ => line -> 1L
        }
      }.groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).sum }
      val out = f.create(new Path(dir, s"c-${nonce()}.txt"), false)
      try out.write(counts.toSeq.sorted
        .map { case (c, n) => s"$c\t$n" }.mkString("\n").getBytes("UTF-8"))
      finally out.close()
      files.foreach(p => f.delete(p, false))
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** CLUSTER BY AUTO — clustering-key selection from the table's OWN
    * observed workload, then delegation to [[optimizeCluster]]: the
    * reference's gold tables declare `CLUSTER BY AUTO` (ref
    * src/pipelines/gold/monthly_orders.sql) and let the platform pick
    * the key from predicate history; here the history is the
    * `_predlog` record of which columns [[readWhere]]/[[readRange]]
    * actually bounded, the candidate set is restricted to columns of
    * the CURRENT logical schema (a renamed/dropped column's history
    * cannot elect it), and the most-frequently-bounded column wins
    * (ties to the lexicographically smaller — deterministic).
    * Returns the chosen column with the OPTIMIZE commit. The gate
    * proves the choice is not just plausible but OPTIMAL on a
    * two-workload fixture: the auto key's post-OPTIMIZE prune factor
    * equals the best manual choice over every candidate column,
    * measured on shallow clones that share the exact same data files.
    */
  def clusterByAuto(spark: SparkSession, path: String,
      slicesPerBucket: Int = 4): (String, CommitResult) = {
    val hist = predicateHistory(spark, path)
    require(hist.nonEmpty,
      s"no predicate history at $path — CLUSTER BY AUTO needs observed " +
        "readWhere/readRange workloads to choose a key")
    val schema = read(spark, path).schema.fieldNames.toSet
    val eligible = hist.filter { case (c, _) => schema.contains(c) }
    require(eligible.nonEmpty,
      s"predicate history at $path names no current column " +
        s"(history: ${hist.keys.toSeq.sorted.mkString(", ")})")
    val chosen = eligible.toSeq.sortBy { case (c, n) => (-n, c) }.head._1
    (chosen, optimizeCluster(spark, path, chosen, slicesPerBucket))
  }

  /** OPTIMIZE ZORDER BY — TWO-dimensional clustering rewrite (Delta
    * `OPTIMIZE … ZORDER BY (a, b)`): each bucket's rows are laid out
    * along the Morton curve of the two columns' rank-normalized values
    * (the same codegen'd [[ZOrder.interleave16]] expression the
    * standalone z-order path uses), so per-file stats become narrow on
    * BOTH dimensions and [[readRange]]/[[readWhere]] prune files for
    * predicates on EITHER — the multi-column form of
    * [[optimizeCluster]], which can only serve one. The Morton key is
    * a transient layout expression (never stored); DVs are applied,
    * tombstones carried, same OCC commit loop as every write.
    */
  def optimizeZorder(spark: SparkSession, path: String, colA: String,
      colB: String, slicesPerBucket: Int = 16): CommitResult = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    val base = vs.last
    val m = manifestEntries(spark, path, base)
    val (aP, bP) = (toPhysicalName(m, colA), toPhysicalName(m, colB))
    val nb = m.numBuckets(16)
    val touched = m.data.map(bucketOf).toSet
    val df0 = loadWithDv(spark, path, m.data, m.dv, widen = widenMap(m))
    val (aD, bD) = (col(aP).cast("double"), col(bP).cast("double"))
    // rank-normalization bounds: one tiny aggregate of table metadata
    val bnd = df0.agg(min(aD), max(aD), min(bD), max(bD)).head()
    // a constant dimension contributes nothing to the curve — and
    // norm16's (v-lo)/(hi-lo) would be 0/0 = NaN, which the INT cast
    // rejects under ANSI mode — so it collapses to a zero key
    def rank(c: org.apache.spark.sql.Column, lo: Double,
        hi: Double): org.apache.spark.sql.Column =
      if (hi > lo) ZOrder.norm16(c, lo, hi) else lit(0)
    val z = ZOrder.interleave16(
      rank(aD, bnd.getDouble(0), bnd.getDouble(1)),
      rank(bD, bnd.getDouble(2), bnd.getDouble(3)))
    val clustered = df0.withColumn("_zkey", z)
      .repartitionByRange(nb * slicesPerBucket, col("gbucket"), col("_zkey"))
      .drop("_zkey")
    val (adopted, stats) = stageBuckets(spark, path, clustered)
    commitPending(spark, path, PendingCommit(base, touched,
      TableManifest(adopted, Map.empty, stats = stats).lines,
      adopted, op = "OPTIMIZE"))
  }

  /** OPTIMIZE ZORDER as a gate row: orders land key-interleaved (even
    * keys copy-on-write, odd keys MOR — arrival order correlates with
    * NEITHER query dimension), so narrow bands on `o_custkey` and on
    * `o_totalprice` both scan ~every file. One [[optimizeZorder]] on
    * (o_custkey, o_totalprice) later, BOTH dimensions prune
    * (engine-asserted: custkey candidates ≥1.5× cut, totalprice ≥2× —
    * the single-column [[clusterBy]] can only ever serve one), and the
    * custkey-band read hash-matches the oracle's plain filter.
    */
  def zorderOptimize(spark: SparkSession, sfDir: String): DataFrame = {
    val path = Scratch.dir("vlake_zorder")
    val orders = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    upsert(spark, path, orders.filter(pmod(col("o_orderkey"), lit(2)) === 0),
      Seq("o_orderkey"), "o_orderkey", numBuckets = 8)
    dvUpsert(spark, path,
      orders.filter(pmod(col("o_orderkey"), lit(2)) === 1),
      Seq("o_orderkey"), "o_orderkey")
    val maxCust = orders.agg(max(col("o_custkey"))).head().getLong(0)
    val custHi = BigDecimal(maxCust / 8)
    val pb = orders.agg(min(col("o_totalprice")), max(col("o_totalprice")))
      .head()
    val (pLo, pHi) = (BigDecimal(pb.getDouble(0)),
      BigDecimal(pb.getDouble(0) + (pb.getDouble(1) - pb.getDouble(0)) / 8))
    def cands(column: String, lo: BigDecimal, hi: BigDecimal): Int =
      rangeCandidates(spark, path, column, Some(lo), Some(hi)).size
    val totalBefore = manifestEntries(spark, path,
      versions(spark, path).last).data.size
    val custBefore = cands("o_custkey", BigDecimal(0), custHi)
    val priceBefore = cands("o_totalprice", pLo, pHi)
    optimizeZorder(spark, path, "o_custkey", "o_totalprice")
    val totalAfter = manifestEntries(spark, path,
      versions(spark, path).last).data.size
    val custAfter = cands("o_custkey", BigDecimal(0), custHi)
    val priceAfter = cands("o_totalprice", pLo, pHi)
    val noPruneBefore = custBefore * 2 > totalBefore &&
      priceBefore * 2 > totalBefore
    val custPrunes = custAfter * 3 <= totalAfter * 2 && custAfter > 0
    val pricePrunes = priceAfter * 2 <= totalAfter && priceAfter > 0
    readRange(spark, path, "o_custkey", Some(BigDecimal(0)), Some(custHi))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .withColumn("unzordered_no_prune", lit(noPruneBefore))
      .withColumn("custkey_prunes", lit(custPrunes))
      .withColumn("price_prunes", lit(pricePrunes))
  }

  val zorderOptimizeSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice,
         true AS unzordered_no_prune,
         true AS custkey_prunes,
         true AS price_prunes
       FROM orders
       WHERE o_custkey <= (SELECT MAX(o_custkey) // 8 FROM orders)
       ORDER BY o_orderkey"""

  /** TAGS as a gate row: three sequence-ranged commits, then v1 is
    * tagged `audit_baseline` and the table is vacuumed to
    * `retainLast=1`. The tag is a RETENTION ROOT: v1's manifest and
    * files survive while untagged v2/v3 drop (engine-asserted from the
    * version list), and `readTag` — time travel by NAME — returns
    * exactly the first-third SCD1 state the oracle computes. Dropping
    * the tag releases the pin: the next vacuum removes v1
    * (engine-asserted). The returned frame is the tag read, checkpointed
    * before the pin is released.
    */
  def tagsGate(spark: SparkSession, sfDir: String): DataFrame = {
    val path = Scratch.dir("vlake_tags")
    val staged = graft.operators.Cdc.stage(graft.Tables.events(spark, sfDir))
    val maxSeq = staged.agg(max(col("sequence_number"))).head().getLong(0)
    val (t1, t2) = (maxSeq / 3, maxSeq * 2 / 3)
    def asChanges(df: DataFrame): DataFrame =
      df.withColumn("_deleted", col("operation") === "DELETE")
        .drop("operation")
    Seq(
      staged.filter(col("sequence_number") <= t1),
      staged.filter(col("sequence_number") > t1 &&
        col("sequence_number") <= t2),
      staged.filter(col("sequence_number") > t2)).foreach { b =>
      upsert(spark, path, asChanges(b), Seq("key_id"), "sequence_number")
    }
    createTag(spark, path, "audit_baseline", version = 1)
    vacuum(spark, path, retainLast = 1)
    val after = versions(spark, path)
    val taggedSurvives = after.contains(1) && !after.contains(2) &&
      !after.contains(3)
    val tagRead = readTag(spark, path, "audit_baseline")
      .select(col("key_id"), col("value"), col("props"),
        col("sequence_number").as("last_sequence"))
      .localCheckpoint(true) // materialize before the pin is released
    dropTag(spark, path, "audit_baseline")
    vacuum(spark, path, retainLast = 1)
    val releasedAfterDrop = !versions(spark, path).contains(1)
    tagRead
      .withColumn("tagged_survives_vacuum", lit(taggedSurvives))
      .withColumn("drop_releases_retention", lit(releasedAfterDrop))
  }

  val tagsGateSql: String =
    """WITH stg AS (
         SELECT event_id AS sequence_number,
           CASE WHEN event_type = 'signup' THEN 'INSERT'
                WHEN event_type = 'error' THEN 'DELETE'
                ELSE 'UPDATE' END AS operation,
           user_id AS key_id, value, props
         FROM events
         WHERE user_id IS NOT NULL AND event_id IS NOT NULL
           AND event_type IS NOT NULL AND value IS NOT NULL),
       cutoff AS (SELECT MAX(sequence_number) // 3 AS t1 FROM stg),
       ranked AS (
         SELECT s.*, row_number() OVER (PARTITION BY key_id
           ORDER BY sequence_number DESC) AS rn
         FROM stg s, cutoff c
         WHERE s.sequence_number <= c.t1)
       SELECT key_id, value, props, sequence_number AS last_sequence,
         true AS tagged_survives_vacuum, true AS drop_releases_retention
       FROM ranked
       WHERE rn = 1 AND operation <> 'DELETE'
       ORDER BY key_id"""

  /** POINT LOOKUP — read only the hash buckets that can hold `keys`:
    * the serving-path read. The same modulus every writer used (a
    * table property) bounds each key to one bucket, so a lookup of k
    * keys against a 100 TB table scans ≤ k shards — manifest-resolved,
    * no directory listing, no full scan. DVs and tombstones are
    * honored exactly as in [[read]].
    *
    * The keys come to the driver: [[keyBuckets]] collects them once
    * (no job for a local frame, one otherwise), casts them to the
    * table's stored key types, drops null and repeated keys and hashes
    * each one to its bucket. A broadcast semi-join would bring the
    * same keys to the driver. The candidate files are then scanned
    * under one `isin` predicate on the key column, or on the struct of
    * the key columns for a composite key. So a lookup costs one scan
    * job, plus one job when its files carry DVs, with no join and no
    * exchange.
    */
  def readKeys(spark: SparkSession, path: String, keys: DataFrame,
      keyCols: Seq[String], asOfVersion: Option[Int] = None): DataFrame = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    val v = asOfVersion.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs (vacuumed or never committed)")
    val m = manifestEntries(spark, path, v)
    // callers speak logical names; files and the bucket hash use the
    // pinned physical names
    val keyColsP = keyCols.map(toPhysicalName(m, _))
    val wanted = keyBuckets(spark, path, m, toPhysicalDf(keys, m), keyColsP)
    val buckets = wanted.map(_._1).toSet
    val candidates = m.data.filter(rel => buckets.contains(bucketOf(rel)))
    if (candidates.isEmpty) return read(spark, path, Some(v)).filter(lit(false))
    val scanned = loadWithDv(spark, path, candidates, m.dv,
      widen = widenMap(m))
    // one predicate on the key, or on the struct of a composite key
    def key(parts: Seq[Column]) =
      if (parts.size == 1) parts.head
      else struct(parts.zip(keyColsP).map { case (p, c) => p.as(c) }: _*)
    val types = scanned.select(keyColsP.map(col): _*).schema.map(_.dataType)
    val lits = wanted.map { case (_, r) =>
      key(types.zipWithIndex.map { case (t, i) => lit(r.get(i)).cast(t) })
    }
    val df0 = scanned.filter(key(keyColsP.map(col)).isin(lits: _*))
      .drop("gbucket")
    val live =
      if (df0.columns.contains("_deleted"))
        df0.filter(!coalesce(col("_deleted"), lit(false))).drop("_deleted")
      else df0
    toLogicalDf(live, m)
  }

  /** Snapshot read — latest version, or time travel to `asOfVersion`.
    * Tombstones filtered; bucket/bookkeeping columns dropped.
    */
  def read(spark: SparkSession, path: String,
      asOfVersion: Option[Int] = None): DataFrame = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    val v = asOfVersion.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs (vacuumed or never committed)")
    val m = manifestEntries(spark, path, v)
    val df0 = loadWithDv(spark, path, m.data, m.dv, widen = widenMap(m))
      .drop("gbucket")
    val live =
      if (df0.columns.contains("_deleted"))
        df0.filter(!coalesce(col("_deleted"), lit(false))).drop("_deleted")
      else df0
    toLogicalDf(live, m)
  }

  // ---- tags (named version refs) -------------------------------------------

  /** CREATE TAG — an Iceberg-style NAMED REF pinning a committed
    * version (`prop tag.<name> <version>`, a metadata-only commit).
    * Tags make a snapshot addressable by meaning ("v2024-audit",
    * "pre-migration") instead of number, and — the part that matters
    * operationally — they are RETENTION ROOTS: [[vacuum]] keeps a
    * tagged version's manifest and files alive past the retainLast
    * horizon until the tag is dropped, so an audit snapshot cannot be
    * garbage-collected out from under its name.
    */
  def createTag(spark: SparkSession, path: String, name: String,
      version: Int): CommitResult = {
    require(name.matches("[A-Za-z0-9_-]+"), s"bad tag name: $name")
    require(versions(spark, path).contains(version),
      s"cannot tag version $version of $path — not committed (or vacuumed)")
    commitManifest(spark, path, "CREATE_TAG") { m =>
      require(!m.props.contains(s"tag.$name"),
        s"tag $name already exists at $path — drop it first")
      m.copy(props = m.props + (s"tag.$name" -> version.toString))
    }
  }

  /** DROP TAG — releases the name AND the retention pin. Dropping a
    * tag that does not exist is refused: a silently-successful no-op
    * here would leave the REAL tag (typo'd name) pinning files
    * forever with no error anywhere.
    */
  def dropTag(spark: SparkSession, path: String,
      name: String): CommitResult =
    commitManifest(spark, path, "DROP_TAG") { m =>
      require(m.props.contains(s"tag.$name"),
        s"no tag $name at $path (tags: " + m.props.keys.toSeq.sorted
          .collect { case k if k.startsWith("tag.") =>
            k.stripPrefix("tag.") }.mkString(", ") + ")")
      m.copy(props = m.props - s"tag.$name")
    }

  /** The tip's tag table: name → pinned version. */
  def tags(spark: SparkSession, path: String): Map[String, Int] = {
    val vs = versions(spark, path)
    if (vs.isEmpty) Map.empty
    else manifestEntries(spark, path, vs.last).props.collect {
      case (k, v) if k.startsWith("tag.") => k.stripPrefix("tag.") -> v.toInt
    }
  }

  /** Snapshot read by TAG name (time travel by meaning). */
  def readTag(spark: SparkSession, path: String, name: String): DataFrame = {
    val t = tags(spark, path)
    val v = t.getOrElse(name, throw new IllegalArgumentException(
      s"no tag $name at $path (tags: ${t.keys.toSeq.sorted.mkString(", ")})"))
    read(spark, path, Some(v))
  }

  /** Versions protected from [[vacuum]]: the retainLast newest PLUS
    * every version pinned by a tip tag.
    */
  private[sources] def retainedVersions(spark: SparkSession, path: String,
      retainLast: Int): Seq[Int] = {
    val vs = versions(spark, path)
    val tagged = tags(spark, path).values.toSet
    (vs.takeRight(math.max(retainLast, 1)).toSet ++
      tagged.filter(vs.contains)).toSeq.sorted
  }

  /** Retention: keep `retainLast` newest versions (plus tag-pinned
    * ones); delete every data file referenced ONLY by dropped manifests
    * (plus crash-orphaned files no manifest references at all), then
    * drop the old manifests.
    */
  /** VACUUM DRY RUN — the exact deletion plan [[vacuum]] would execute
    * (unreferenced data files, DV sidecars, expiring manifests and
    * change-log dirs), computed read-only: the operational safety
    * valve before an irreversible retention pass. Returns
    * (category, relative-path) pairs.
    */
  def vacuumPlan(spark: SparkSession, path: String,
      retainLast: Int): Seq[(String, String)] = {
    val f = fs(spark)
    val vs = versions(spark, path)
    val keep = retainedVersions(spark, path, retainLast)
    val live: Set[String] =
      keep.flatMap(v => manifestEntries(spark, path, v).allFiles).toSet
    val dataDead = f.listStatus(new Path(path))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("gbucket="))
      .flatMap(d => f.listStatus(d.getPath).filter(_.isFile)
        .map(s => s"${d.getPath.getName}/${s.getPath.getName}"))
      .filterNot(live.contains).map("data_file" -> _).toSeq
    val dvDir = new Path(s"$path/$DvDir")
    val dvDead =
      if (!f.exists(dvDir)) Seq.empty
      else f.listStatus(dvDir).filter(_.isFile)
        .map(s => s"$DvDir/${s.getPath.getName}")
        .filterNot(live.contains).map("dv_file" -> _).toSeq
    val manifestsDead = vs.filterNot(keep.contains)
      .flatMap { v =>
        // the plan lists the `.full` re-root sidecar alongside its
        // primary — vacuum deletes both, so the dry run must show both
        val side = fullSidecarPath(path, v)
        Seq("manifest" -> f"$LogDir/v$v%06d.txt") ++
          (if (f.exists(side)) Seq("manifest" -> f"$LogDir/v$v%06d.full")
           else Seq.empty)
      }
    // crash-orphaned sidecars: a `.full` whose `.txt` primary is gone
    // (an earlier vacuum died between the two deletes) — versions()
    // lists only primaries, so without this sweep the orphan would
    // never be revisited
    val logDir = new Path(s"$path/$LogDir")
    val orphanSidecars =
      if (!f.exists(logDir)) Seq.empty
      else f.listStatus(logDir).filter(_.isFile)
        .map(_.getPath.getName)
        .filter(n => n.endsWith(".full") &&
          !f.exists(new Path(logDir, n.stripSuffix(".full") + ".txt")))
        .map(n => "manifest" -> s"$LogDir/$n").toSeq
    val chDir = new Path(s"$path/$ChangesDir")
    val chDead =
      if (!f.exists(chDir)) Seq.empty
      else f.listStatus(chDir).filter(_.isDirectory)
        .map(_.getPath.getName)
        .filter(n => !keep.contains(n.stripPrefix("v").toInt))
        .map(n => "change_dir" -> s"$ChangesDir/$n").toSeq
    dataDead ++ dvDead ++ manifestsDead ++ orphanSidecars ++ chDead
  }

  def vacuum(spark: SparkSession, path: String, retainLast: Int): Unit = {
    val f = fs(spark)
    val vs = versions(spark, path)
    val keep = retainedVersions(spark, path, retainLast)
    val live: Set[String] =
      keep.flatMap(v => manifestEntries(spark, path, v).allFiles).toSet
    f.listStatus(new Path(path))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("gbucket="))
      .foreach { d =>
        f.listStatus(d.getPath).filter(_.isFile).foreach { s =>
          val rel = s"${d.getPath.getName}/${s.getPath.getName}"
          if (!live.contains(rel)) f.delete(s.getPath, false)
        }
      }
    val dvDir = new Path(s"$path/$DvDir")
    if (f.exists(dvDir))
      f.listStatus(dvDir).filter(_.isFile).foreach { s =>
        val rel = s"$DvDir/${s.getPath.getName}"
        if (!live.contains(rel)) f.delete(s.getPath, false)
      }
    // re-root the retained chain before dropping ancestors: a kept
    // version may be delta-encoded against a manifest this vacuum is
    // about to delete — the oldest kept one always was, and with TAG
    // pins the kept set can be non-contiguous, so EVERY kept delta
    // whose parent is dropped materializes as a full snapshot first
    // (logical content identical — an atomic in-place re-encode; every
    // newer delta's parent chain then terminates inside the kept set)
    val keptSet = keep.toSet
    keep.foreach { floor =>
      val raw = rawManifestLines(spark, path, floor)
      val deltaParent = raw.headOption
        .filter(_.startsWith(DeltaHeaderPrefix))
        .map(_.stripPrefix(DeltaHeaderPrefix).toInt)
      if (deltaParent.exists(p => !keptSet.contains(p))) {
        val resolved = manifestLines(spark, path, floor)
        val tmp = new Path(s"$path/$LogDir/.v$floor-${nonce()}.reroot")
        val out = f.create(tmp, true)
        try out.write(resolved.mkString("\n").getBytes("UTF-8"))
        finally out.close()
        val dst = manifestPath(path, floor)
        if (f.getUri.getScheme == "file")
          java.nio.file.Files.move(
            java.nio.file.Paths.get(tmp.toUri.getPath),
            java.nio.file.Paths.get(dst.toUri.getPath),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        else {
          // object stores: rename cannot atomically replace, and a
          // delete-then-rename would open a window with NO readable
          // floor (a crash there strands every newer delta's parent
          // chain). Instead the snapshot lands as a durable `.full`
          // sidecar that rawManifestLines prefers; the delta primary
          // is never deleted, so the floor is readable at every instant
          val side = fullSidecarPath(path, floor)
          if (f.exists(side)) f.delete(side, false) // stale crash remnant
          if (!f.rename(tmp, side)) throw new java.io.IOException(
            s"cannot re-root manifest v$floor at $path")
        }
      }
    }
    vs.filterNot(keep.contains).foreach { v =>
      // SIDECAR FIRST: versions() lists only `.txt` primaries, so a
      // crash after deleting the primary would orphan the sidecar
      // forever; crashing after the sidecar delete leaves the primary
      // listed and the next vacuum retries both
      f.delete(fullSidecarPath(path, v), false) // no-op when absent
      f.delete(manifestPath(path, v), false)
    }
    // and sweep orphans older crashes may have left (a `.full` whose
    // `.txt` is already gone is unreachable by the loop above)
    val logDir = new Path(s"$path/$LogDir")
    if (f.exists(logDir))
      f.listStatus(logDir).filter(_.isFile).map(_.getPath.getName)
        .filter(n => n.endsWith(".full") &&
          !f.exists(new Path(logDir, n.stripSuffix(".full") + ".txt")))
        .foreach(n => f.delete(new Path(logDir, n), false))
    // change-log retention follows version retention: consumers lagging
    // behind the vacuum floor lose history, exactly as in Delta CDF
    val chDir = new Path(s"$path/$ChangesDir")
    if (f.exists(chDir)) {
      f.listStatus(chDir).filter(_.isDirectory).foreach { d =>
        val v = d.getPath.getName.stripPrefix("v").toInt
        if (!keep.contains(v)) f.delete(d.getPath, true)
      }
      // gap markers expire with their version: below the retention
      // floor the gap is ordinary lost-history, not a silent hole
      changeFeedGaps(spark, path).filterNot(keep.contains)
        .foreach(v => f.delete(gapMarkerPath(path, v), false))
    }
    // quarantine side outputs follow version retention too (and the
    // sweep collects crash/conflict orphans no manifest references)
    val qDir = new Path(s"$path/$QuarantineDir")
    if (f.exists(qDir)) {
      val referenced = keep.flatMap(v =>
        rawManifestLines(spark, path, v)
          .map(l => if (l.startsWith("+\t")) l.stripPrefix("+\t") else l)
          .collectFirst {
            case l if l.startsWith("meta\texpectq\t") => l.split("\t")(2)
          }).toSet
      f.listStatus(qDir).filter(_.isDirectory).map(_.getPath.getName)
        .filterNot(referenced.contains)
        .foreach(n => f.delete(new Path(qDir, n), true))
    }
    // predicate-telemetry log: fold the per-read files into one
    // aggregate so the log stops growing one-file-per-read-forever
    compactPredLog(spark, path)
  }

}

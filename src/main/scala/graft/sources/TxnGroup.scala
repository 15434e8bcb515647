package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** MULTI-TABLE ATOMIC TRANSACTIONS over the versioned lake — the
  * capability Delta scopes to one table and Iceberg delegates to a
  * multi-table-CAS catalog (Nessie / Unity commit coordinators): a
  * write that spans several tables becomes visible ALL-OR-NOTHING.
  *
  * Design: a transaction GROUP owns a tiny manifest chain of its own
  * (`_glog/v%06d.txt`), each version mapping every member table to a
  * PUBLISHED table version (`tbl\t<name>\t<version>` lines beside
  * immutable `member\t<name>\t<path>` registrations). Group readers
  * resolve a member through the group tip and time-travel the table
  * to exactly that version — so the single compare-and-swap of the
  * next group file is the transaction's ONLY visibility point:
  *
  *  1. each member write lands on its table chain through the normal
  *     [[VersionedLake.upsert]] (full OCC, constraints, expectations,
  *     CDF, row tracking — no parallel write path), WAP-style: the
  *     chain advances, but group readers cannot see it yet;
  *  2. the group CAS publishes every member's new version in one
  *     atomic file creation (same link/rename discipline as the table
  *     commit);
  *  3. a writer that loses the CAS re-reads the tip: disjoint-table
  *     winners REBASE (carry the winner's entries, re-CAS — no data
  *     work); a winner that touched one of OUR tables forces a full
  *     retry from the new snapshot.
  *
  * Crash / abort safety is RESTORE-ON-WRITE: a failed or crashed
  * transaction leaves orphan versions on member chains that no group
  * version references. The next writer of that table finds chain tip
  * ≠ published version and first commits a [[VersionedLake.restore]]
  * to the published version — rolling the junk back BY REFERENCE
  * before merging, so abandoned writes can never leak into a
  * published state (also why a concurrent writer's in-flight chain
  * commits cannot contaminate ours: whichever group CAS wins, the
  * loser's chain versions get restored away before reuse).
  *
  * At 100 TB: the group file is O(members) lines; commit adds one
  * metadata CAS to the member writes it coordinates; reads pay one
  * extra small-file read to resolve versions. Contention serializes
  * only transactions, not table IO.
  *
  * Reference analog: the medallion pipeline updates orders + items +
  * gold tables as one logical refresh (ref resources/olist_jobs.yml
  * task chain) — downstream consumers should never observe half of
  * it.
  */
object TxnGroup {

  private val LogDir = "_glog"

  /** `tableVersions` = members this commit ADVANCED; `publishedVersions`
    * = the full member→version map the winning CAS published (advanced +
    * carried) — callers reporting the commit must use this snapshot, not
    * a fresh [[tip]] read (a concurrent commit landing between the CAS
    * and the re-read would make the report internally inconsistent).
    */
  final case class GroupCommitResult(groupVersion: Int,
    tableVersions: Map[String, Int], retries: Int,
    publishedVersions: Map[String, Int] = Map.empty)

  final class ConcurrentTxnConflict(msg: String)
    extends RuntimeException(msg)

  private def gPath(groupPath: String, v: Int): Path =
    new Path(f"$groupPath/$LogDir/v$v%06d.txt")

  /** Transactions are observable through the same SQL surface as
    * pipeline runs: every begin/commit appends to the
    * [[graft.plans.EventLog]] ledger under `txn:<group>`, so
    * `SELECT * FROM event_log('txn:<group>')` serves the group's
    * lifecycle (the reference's event_log discipline applied to the
    * multi-table refresh chain).
    */
  private def logEvent(groupPath: String, eventType: String,
      member: String, status: String, version: Int, msg: String): Unit =
    graft.plans.EventLog.record(
      "txn:" + new Path(groupPath).getName, eventType,
      tableName = member, status = status, message = msg,
      metricName = "version", metricValue = version.toLong)

  def groupVersions(spark: SparkSession, groupPath: String): Seq[Int] = {
    val dir = new Path(s"$groupPath/$LogDir")
    val f = VersionedLake.fs(spark)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".txt"))
      .map(n => n.stripPrefix("v").stripSuffix(".txt").toInt)
      .sorted.toSeq
  }

  private def linesAt(spark: SparkSession, groupPath: String,
      v: Int): Seq[String] = {
    val in = VersionedLake.fs(spark).open(gPath(groupPath, v))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  /** (member → table path) — immutable after [[create]]. */
  def members(spark: SparkSession, groupPath: String): Map[String, String] = {
    val vs = groupVersions(spark, groupPath)
    require(vs.nonEmpty, s"no transaction group at $groupPath")
    linesAt(spark, groupPath, vs.head).collect {
      case l if l.startsWith("member\t") =>
        val a = l.split("\t", 3); a(1) -> a(2)
    }.toMap
  }

  /** (member → published table version) at a given group version. */
  def tipAt(spark: SparkSession, groupPath: String,
      v: Int): Map[String, Int] =
    linesAt(spark, groupPath, v).collect {
      case l if l.startsWith("tbl\t") =>
        val a = l.split("\t"); a(1) -> a(2).toInt
    }.toMap

  /** (group version, member → published table version). */
  def tip(spark: SparkSession, groupPath: String): (Int, Map[String, Int]) = {
    val vs = groupVersions(spark, groupPath)
    require(vs.nonEmpty, s"no transaction group at $groupPath")
    (vs.last, tipAt(spark, groupPath, vs.last))
  }

  /** Register a group over EXISTING tables; each member's current
    * chain tip becomes its first published version (members join with
    * their content visible — a group over unseeded tables would have
    * no restore anchor for first-write junk).
    */
  def create(spark: SparkSession, groupPath: String,
      tables: Map[String, String]): Unit = {
    require(tables.nonEmpty, "a transaction group needs members")
    val entries = tables.toSeq.sorted.map { case (name, path) =>
      val vs = VersionedLake.versions(spark, path)
      require(vs.nonEmpty,
        s"member $name at $path has no committed versions — seed it first")
      (name, path, vs.last)
    }
    val lines =
      entries.map { case (n, p, _) => s"member\t$n\t$p" } ++
        entries.map { case (n, _, v) => s"tbl\t$n\t$v" } :+
        "meta\top\tCREATE"
    require(VersionedLake.createIfAbsent(spark, gPath(groupPath, 1), lines),
      s"transaction group already exists at $groupPath")
  }

  /** Read a member THROUGH the group tip — the only read that gets
    * the all-or-nothing guarantee.
    */
  def read(spark: SparkSession, groupPath: String,
      name: String): DataFrame = {
    val (_, map) = tip(spark, groupPath)
    val path = members(spark, groupPath).getOrElse(name,
      throw new IllegalArgumentException(s"no member $name"))
    VersionedLake.read(spark, path, Some(map(name)))
  }

  /** Commit `writes` to their member tables ATOMICALLY: every batch
    * lands on its table chain, then ONE group CAS publishes all the
    * new versions. `keys(name) = (keyCols, seqCol)` is each member's
    * merge contract.
    */
  def commit(spark: SparkSession, groupPath: String,
      writes: Map[String, DataFrame],
      keys: Map[String, (Seq[String], String)],
      maxRetries: Int = 5): GroupCommitResult = {
    val mem = members(spark, groupPath)
    writes.keys.foreach { n =>
      require(mem.contains(n), s"no member $n in group $groupPath") }
    var retries = 0
    while (retries <= maxRetries) {
      val (gv, base) = tip(spark, groupPath)
      // land each member write WAP-style, rolling back any orphan
      // chain versions a failed/crashed transaction left behind
      val written = writes.toSeq.sortBy(_._1).map { case (name, df) =>
        val path = mem(name)
        val pub = base(name)
        if (VersionedLake.versions(spark, path).last != pub)
          VersionedLake.restore(spark, path, pub)
        val (kc, sc) = keys(name)
        name -> VersionedLake.upsert(spark, path, df, kc, sc).version
      }.toMap
      // publish: one CAS, rebasing over disjoint-table winners only
      var attemptBase = base
      var attemptV = gv
      var rebasing = true
      while (rebasing) {
        val newMap = attemptBase ++ written
        val lines =
          mem.toSeq.sorted.map { case (n, p) => s"member\t$n\t$p" } ++
            newMap.toSeq.sorted.map { case (n, v) => s"tbl\t$n\t$v" } :+
            "meta\top\tTXN"
        if (VersionedLake.createIfAbsent(spark,
            gPath(groupPath, attemptV + 1), lines)) {
          newMap.toSeq.sorted.foreach { case (n, v) =>
            logEvent(groupPath, "txn_commit", n,
              if (written.contains(n)) "advanced" else "carried", v,
              s"group_version=${attemptV + 1} retries=$retries")
          }
          return GroupCommitResult(attemptV + 1, written, retries, newMap)
        }
        val (lv, latest) = tip(spark, groupPath)
        val changed = latest.keySet.filter(k =>
          latest(k) != attemptBase.getOrElse(k, -1))
        if (changed.intersect(writes.keySet).nonEmpty) rebasing = false
        else { attemptBase = latest; attemptV = lv }
      }
      // a winner touched one of our tables: our chain versions are
      // now orphans (the retry's restore step reclaims them)
      retries += 1
    }
    throw new ConcurrentTxnConflict(
      s"gave up after $maxRetries retries at $groupPath")
  }

  /** SQL-transaction PROLOGUE: roll every member whose chain tip is
    * not its published version back BY REFERENCE (the restore-on-write
    * rule run eagerly), so the statements that follow start from the
    * published state and orphans of failed transactions are reclaimed.
    * Returns (member, published version, whether a restore landed).
    */
  def begin(spark: SparkSession,
      groupPath: String): Seq[(String, Int, Boolean)] = {
    val mem = members(spark, groupPath)
    val (_, pub) = tip(spark, groupPath)
    mem.toSeq.sorted.map { case (name, path) =>
      val p = pub(name)
      val dirty = VersionedLake.versions(spark, path).last != p
      if (dirty) VersionedLake.restore(spark, path, p)
      logEvent(groupPath, "txn_begin", name,
        if (dirty) "restored" else "clean", p,
        if (dirty) "orphan chain versions reclaimed" else "")
      (name, p, dirty)
    }
  }

  /** SQL-transaction EPILOGUE: publish every member's CURRENT chain
    * tip in one group CAS — the all-or-nothing visibility point for
    * writes that landed through ordinary SQL DML between [[begin]] and
    * here. Losers rebase over winners that touched only OTHER members;
    * a winner that moved one of the tables this transaction advanced
    * is a real conflict and throws ([[ConcurrentTxnConflict]]) — the
    * caller's next [[begin]] restores the junk away and the
    * transaction replays.
    */
  def commitTips(spark: SparkSession,
      groupPath: String): GroupCommitResult = {
    val mem = members(spark, groupPath)
    val current = mem.map { case (n, p) =>
      n -> VersionedLake.versions(spark, p).last }
    var (attemptV, attemptBase) = tip(spark, groupPath)
    val written = current.filter { case (n, v) => v != attemptBase(n) }
    while (true) {
      val newMap = attemptBase ++ written
      val lines =
        mem.toSeq.sorted.map { case (n, p) => s"member\t$n\t$p" } ++
          newMap.toSeq.sorted.map { case (n, v) => s"tbl\t$n\t$v" } :+
          "meta\top\tTXN"
      if (VersionedLake.createIfAbsent(spark,
          gPath(groupPath, attemptV + 1), lines)) {
        newMap.toSeq.sorted.foreach { case (n, v) =>
          logEvent(groupPath, "txn_commit", n,
            if (written.contains(n)) "advanced" else "carried", v,
            s"group_version=${attemptV + 1}")
        }
        return GroupCommitResult(attemptV + 1, written, 0, newMap)
      }
      val (lv, latest) = tip(spark, groupPath)
      val changed = latest.keySet.filter(k =>
        latest(k) != attemptBase.getOrElse(k, -1))
      if (changed.intersect(written.keySet).nonEmpty)
        throw new ConcurrentTxnConflict(
          s"a concurrent transaction advanced ${changed.mkString(", ")} " +
            s"at $groupPath — begin again and replay")
      attemptBase = latest; attemptV = lv
    }
    sys.error("unreachable")
  }

  // ---- gate ----------------------------------------------------------------

  /** Multi-table atomicity as a gate row. Two member tables (orders,
    * their line items) seeded half-full; one transaction lands the
    * other half of BOTH atomically; a direct chain write (simulated
    * crashed transaction: a poisoned order with o_totalprice −1) must
    * stay INVISIBLE to group readers; the next transaction (a +1.00
    * touch-up of low-key orders) must first RESTORE the junk away and
    * publish clean. Emitted booleans pin: isolation (the poison never
    * visible through the group), rollback (a RESTORE commit appears on
    * the orders chain and the poison is absent at the end), and
    * single-CAS atomicity (exactly three group files — CREATE, TXN,
    * TXN — each advancing BOTH member entries together). Content
    * converges to the joined orders⋈lines oracle.
    */
  def multiTxn(spark: SparkSession, sfDir: String): DataFrame = {
    val root = Scratch.dir("vlake_group")
    val pa = s"$root/orders_t"
    val pb = s"$root/lines_t"
    val orders = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"))
    // testdata line numbers repeat within an order, and an upsert key
    // must be unique — pre-aggregate to the (order, line) grain
    // (DECIMAL-exact qty) before the member write
    val lines = graft.Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2)))
        .cast(DecimalType(18, 2)).as("qty"))
    def withSeq(df: DataFrame, s: Int): DataFrame =
      df.withColumn("seq", lit(s.toLong))
    // seed: even keys published at group creation
    VersionedLake.upsert(spark, pa,
      withSeq(orders.filter(pmod(col("o_orderkey"), lit(2)) === 0), 1),
      Seq("o_orderkey"), "seq")
    VersionedLake.upsert(spark, pb,
      withSeq(lines.filter(pmod(col("l_orderkey"), lit(2)) === 0), 1),
      Seq("l_orderkey", "l_linenumber"), "seq")
    create(spark, root, Map("orders" -> pa, "lines" -> pb))
    val contracts = Map(
      "orders" -> (Seq("o_orderkey"), "seq"),
      "lines" -> (Seq("l_orderkey", "l_linenumber"), "seq"))
    // txn 1: the odd half of BOTH tables, atomically
    commit(spark, root, Map(
      "orders" -> withSeq(orders.filter(pmod(col("o_orderkey"), lit(2)) === 1), 2),
      "lines" -> withSeq(lines.filter(pmod(col("l_orderkey"), lit(2)) === 1), 2)),
      contracts)
    // simulated crashed transaction: lands on the chain, not the group
    import spark.implicits._
    VersionedLake.upsert(spark, pa,
      Seq((-999L, -1.0, 3L)).toDF("o_orderkey", "o_totalprice", "seq"),
      Seq("o_orderkey"), "seq")
    val poisonSeenPreTxn2 = read(spark, root, "orders")
      .filter(col("o_orderkey") === -999L).count()
    val isolated = poisonSeenPreTxn2 == 0L
    // The oracle pins this flag true — a flip must be a LOUD error with
    // the evidence attached, never a forensically-opaque hash mismatch
    // (r10 verdict task 1).
    if (!isolated) throw new IllegalStateException(
      s"txn_isolated flipped: group read at $root sees $poisonSeenPreTxn2 " +
        s"poison row(s) pre-commit; group tip=${tip(spark, root)}, " +
        s"orders chain=${VersionedLake.versions(spark, pa)}")
    // txn 2: touch-up through the group — must restore the junk first
    val touch = read(spark, root, "orders")
      .filter(col("o_orderkey") < 500)
      .select(col("o_orderkey"),
        (col("o_totalprice") + lit(1.0)).as("o_totalprice"))
    commit(spark, root, Map("orders" -> withSeq(touch, 4)), contracts)
    val poisonSeenFinal = read(spark, root, "orders")
      .filter(col("o_orderkey") === -999L).count()
    val restoreCommits = VersionedLake.history(spark, pa)
      .filter(col("operation") === "RESTORE").count()
    val rolledBack = poisonSeenFinal == 0L && restoreCommits >= 1
    if (!rolledBack) throw new IllegalStateException(
      s"junk_rolled_back flipped: poisonSeenFinal=$poisonSeenFinal " +
        s"restoreCommits=$restoreCommits group tip=${tip(spark, root)} " +
        s"orders chain=${VersionedLake.versions(spark, pa)}")
    // structural atomicity: 3 group files; both members move in txn 1
    val gvs = groupVersions(spark, root)
    val m1 = linesAt(spark, root, 1).filter(_.startsWith("tbl\t")).toSet
    val m2 = linesAt(spark, root, 2).filter(_.startsWith("tbl\t")).toSet
    val atomic = gvs == Seq(1, 2, 3) &&
      (m1.map(_.split("\t")(1)) diff m2.map(_.split("\t")(1))).isEmpty &&
      m1.intersect(m2).isEmpty // every member advanced in the one CAS
    if (!atomic) throw new IllegalStateException(
      s"atomic_single_cas flipped: gvs=$gvs v1tbl=$m1 v2tbl=$m2")
    // the gate's group name is random — release its ledger window
    graft.plans.EventLog.clear("txn:" + new Path(root).getName)
    val lo = read(spark, root, "lines")
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("line_count"),
        sum(col("qty")).cast(DecimalType(18, 2)).as("sum_qty"))
    // o_totalprice is a raw DOUBLE after the lake round-trips. The r13
    // bisect proved the penny VALUES identical across engines
    // (diag_fp green) while every DECIMAL(18,2)-carrying slice failed
    // the driver's type-tagged hash — so the COMPARED output ships
    // integer CENTS as BIGINT on both sides (r13 verdict task 1); all
    // decimal arithmetic stays internal to the gate.
    val base = read(spark, root, "orders")
      .join(lo, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("o_totalprice_cents"),
        col("line_count"),
        (col("sum_qty") * 100).cast("long").as("sum_qty_cents"))
      .withColumn("txn_isolated", lit(isolated))
      .withColumn("junk_rolled_back", lit(rolledBack))
      .withColumn("atomic_single_cas", lit(atomic))
    withColumnFingerprints(spark, base)
  }

  /** FNV-prime keyed per-column fingerprints, appended as extra rows.
    *
    * The two txn gates are the only gates whose compared output carries
    * a per-row fact column through lake round-trips, and r10/r11 showed
    * that a DRIVER-side hash mismatch on them is forensically opaque:
    * the artifact says "hash differs" and nothing else, while every
    * local reproduction passes. Each appended row pins ONE data column
    * to `SUM((o_orderkey % P) * (value % P) % P) % P` (P = the 32-bit
    * FNV prime 16777619), and the DuckDB oracle recomputes the
    * identical integer arithmetic — so a future mismatch names its
    * column in the artifact itself instead of demanding forensics
    * (r11 verdict task 3). Since r14 every tracked column is already
    * BIGINT cents (r13 verdict task 1), so fingerprints and data share
    * one domain. Data rows carry NULL `fp_col`/`fp`; fingerprint rows
    * sort first on their sentinel keys and hold zero values elsewhere.
    */
  def withColumnFingerprints(spark: SparkSession, out: DataFrame)
      : DataFrame = {
    import spark.implicits._
    val P = 16777619L
    val key = pmod(col("o_orderkey").cast("long"), lit(P))
    def term(v: org.apache.spark.sql.Column) =
      pmod(key * pmod(v, lit(P)), lit(P))
    val tracked: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "o_orderkey" -> col("o_orderkey").cast("long"),
      "o_totalprice_cents" -> col("o_totalprice_cents"),
      "line_count" -> col("line_count").cast("long"),
      "sum_qty_cents" -> col("sum_qty_cents"))
    // coalesce: on an empty base sum() is NULL and getAs[Long] would
    // null-unbox to 0 by accident while the oracle's SUM stays NULL —
    // pin the degenerate case to 0 EXPLICITLY on both sides (r12 advice)
    val aggs = tracked.map { case (n, v) =>
      coalesce(pmod(sum(term(v)), lit(P)), lit(0L)).as(n)
    }
    val sums = out.agg(aggs.head, aggs.tail: _*).head()
    val flagNames = out.columns.filter(c =>
      out.schema(c).dataType == org.apache.spark.sql.types.BooleanType)
    val fpBase = tracked.zipWithIndex.map { case ((n, _), i) =>
      (-900001L - i, n, sums.getAs[Long](n))
    }.toDF("o_orderkey", "fp_col", "fp")
      .withColumn("o_totalprice_cents", lit(0L))
      .withColumn("line_count", lit(0L))
      .withColumn("sum_qty_cents", lit(0L))
    val fpRows = flagNames.foldLeft(fpBase)((d, f) =>
      d.withColumn(f, lit(true)))
    val dataRows = out
      .withColumn("fp_col", lit(null).cast("string"))
      .withColumn("fp", lit(null).cast("long"))
    dataRows.unionByName(fpRows.select(dataRows.columns.map(col): _*))
  }

  /** The oracle half of [[withColumnFingerprints]]: SQL fragments the
    * two txn oracles share, parameterized by their flag columns. `base`
    * must expose o_orderkey, o_totalprice_cents, line_count,
    * sum_qty_cents — all BIGINT (integer cents since r14).
    */
  /** The tracked columns' SQL forms, in sentinel-key order
    * (fingerprint row i carries key -900001-i).
    */
  private val trackedSql: Seq[(String, String)] = Seq(
    "o_orderkey" -> "o_orderkey",
    "o_totalprice_cents" -> "o_totalprice_cents",
    "line_count" -> "line_count",
    "sum_qty_cents" -> "sum_qty_cents")

  /** One column fingerprint over `base`, same COALESCE(…, 0) empty-set
    * pin as the Spark side. The outer CAST is load-bearing: DuckDB's
    * SUM(BIGINT) is HUGEINT, and un-cast it infects the unioned `fp`
    * column's type (BIGINT NULLs ∪ HUGEINT → HUGEINT) — value-equal to
    * Spark's int64 under pandas comparison (both → float64) but NOT
    * under a type-tagged hash. r12 shipped the fingerprint rows without
    * this cast, which is the prime suspect for the driver-only
    * hash_match=false on both txn gates (every other oracle follows §3
    * and CASTs its SUMs; the r13 diag_fp slice caught this one the
    * moment the fp column stood alone).
    */
  private def fpSql(v: String): String = {
    val P = "16777619"
    s"CAST(COALESCE((SELECT SUM((o_orderkey % $P) * ($v % $P) % $P) % $P " +
      s"FROM base), 0) AS BIGINT)"
  }

  def fingerprintSql(flagCols: String): String = {
    val fpRows = trackedSql.zipWithIndex.map { case ((n, v), i) =>
      s"""SELECT CAST(${-900001 - i} AS BIGINT), CAST(0 AS BIGINT),
         CAST(0 AS BIGINT), CAST(0 AS BIGINT), $flagCols,
         '$n', ${fpSql(v)}"""
    }.mkString("\n       UNION ALL\n       ")
    s"""SELECT o_orderkey, o_totalprice_cents, line_count, sum_qty_cents,
         $flagCols,
         CAST(NULL AS VARCHAR) AS fp_col, CAST(NULL AS BIGINT) AS fp
       FROM base
       UNION ALL
       $fpRows
       ORDER BY o_orderkey"""
  }

  /** Both txn gates converge to the SAME oracle data: orders⋈lines
    * with +1.00 touched onto low-key orders — shared CTE block.
    */
  val txnBaseCtes: String =
    """li AS (
         SELECT l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2))
             AS qty
         FROM lineitem GROUP BY 1, 2),
       lo AS (
         SELECT l_orderkey, COUNT(*) AS line_count,
           CAST(SUM(qty) AS DECIMAL(18,2)) AS sum_qty
         FROM li GROUP BY 1),
       base AS (
         SELECT o_orderkey,
           CAST(CAST(o_totalprice +
                CAST(CASE WHEN o_orderkey < 500
                     THEN 1.0 ELSE 0.0 END AS DOUBLE)
             AS DECIMAL(18,2)) * 100 AS BIGINT) AS o_totalprice_cents,
           line_count,
           CAST(sum_qty * 100 AS BIGINT) AS sum_qty_cents
         FROM orders JOIN lo ON o_orderkey = l_orderkey)"""

  val multiTxnSql: String =
    s"""WITH $txnBaseCtes
       ${fingerprintSql(
        "true AS txn_isolated, true AS junk_rolled_back, " +
          "true AS atomic_single_cas")}"""

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("lake_multi_txn" -> ((s, d) =>
      multiTxn(s, d).orderBy(col("o_orderkey"))))

  def oracles: Map[String, String] =
    Map("lake_multi_txn" -> multiTxnSql)
}

package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.Cdc
import graft.sources.{SqlCatalog, VersionedLake}

/** `lake_cdc`: a seeded change feed over two key spaces (customer-sized
  * 15k, part-sized 20k) goes through `Cdc.stage`, then
  * `VersionedLake.upsert` into a copy-on-write table and
  * `VersionedLake.dvUpsert` into a merge-on-read table. Most writes are
  * trickle batches; of every five, one is bulk and one is maintenance
  * (`compactDvs` plus `vacuum`). A read is a fixed set of point
  * lookups, a filtered SQL aggregate on the `graft_lake` catalog and a
  * `VERSION AS OF` read within retention.
  */
final class LakeCdc(ctx: Ctx) extends Workload {
  import ctx.spark

  private val PartBase = 100000L
  private val Spaces = Seq((0L, 15000), (PartBase, 20000))
  private val Trickle = FeedGen.HourRows
  private val Bulk = FeedGen.DayRows
  private val Retain = 6
  private val Buckets = 4
  private val Table = s"${SqlCatalog.CatalogName}.bench.cdc_cow"

  private var cow = ""
  private var mor = ""
  private var batches: IndexedSeq[(Seq[Event], java.nio.file.Path)] = IndexedSeq.empty
  private var next = 0
  private var model = new CdcModel
  // COW version -> model state after it
  private val snapshots = mutable.LinkedHashMap.empty[Int, Map[Long, Cur]]
  private var lastCow = 0
  private var lastRead: (Seq[Scd1Row], Seq[Scd1Row], Row, Row, Int) = null
  private val lookupDfs = mutable.ArrayBuffer.empty[DataFrame]
  private val cas = mutable.ArrayBuffer.empty[Int]
  private var dropped = 0L
  private var keyRnd = new java.util.SplittableRandom(ctx.seed ^ 0x5eedL)

  /** One round: 5 writes (3 trickle, 1 bulk, 1 maintenance) and 2 reads,
    * about 26 s on 4 cores. The two heavy writes fall on either side of
    * the trickle latency (bulk above, maintenance below), so the write
    * median is a trickle commit.
    */
  def round: Seq[String] = Seq(
    "write:trickle", "read", "write:trickle", "write:bulk",
    "write:maintenance", "write:trickle", "read")
  def rounds(seconds: Int): Int = math.max(1, math.round(seconds / 26.0).toInt)
  // set-up already ran both write paths; the read path warms here
  private val warmUpOps = Seq("read")

  def setup(): Unit = {
    cow = ctx.dir("lake/tables/cow")
    mor = ctx.dir("lake/tables/mor")
    Util.deleteTree(cow); Util.deleteTree(mor)
    val gen = new FeedGen(ctx.seed, Spaces)
    // initial load: one bulk batch of the feed
    val snap = gen.batch(Bulk)
    // warm-up and measured batches, all made up front
    val kinds = (warmUpOps ++ (0 until rounds(ctx.seconds)).flatMap(_ => round))
      .filter(_.startsWith("write:"))
    val bs = kinds.filter(_ != "write:maintenance").map(k =>
      gen.batch(if (k == "write:bulk") Bulk else Trickle))
    val files = Gen.writeBatches(spark, snap +: bs, ctx.dir("lake/feed").toString + "/batches")
    batches = (snap +: bs).zip(files).toIndexedSeq
    model = new CdcModel
    snapshots.clear(); cas.clear(); next = 0
    keyRnd = new java.util.SplittableRandom(ctx.seed ^ 0x5eedL)
    // the MOR table loads in two halves, the second through dvUpsert, so
    // set-up runs both commit paths once before anything is timed
    val init = changes(0)
    VersionedLake.upsert(spark, cow, init, Seq("key_id"), "sequence_number", Buckets)
    VersionedLake.upsert(spark, mor, init.filter(col("key_id") % 2 === 0),
      Seq("key_id"), "sequence_number", Buckets)
    VersionedLake.dvUpsert(spark, mor, init.filter(col("key_id") % 2 === 1),
      Seq("key_id"), "sequence_number", Buckets)
    model.apply(batches(0)._1)
    lastCow = VersionedLake.versions(spark, cow).last
    snapshots(lastCow) = model.snapshot
    next = 1
    SqlCatalog.install(spark)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ${SqlCatalog.CatalogName}.bench")
    spark.sql(s"DROP TABLE IF EXISTS $Table")
    spark.sql(s"""CREATE TABLE $Table (key_id BIGINT, value DOUBLE, props STRING,
      sequence_number BIGINT) USING graft LOCATION '$cow'""")
  }

  def warmUp(): Unit = {
    untimed(warmUpOps)
    cas.clear(); lookupDfs.clear(); dropped = 0
  }

  private def changes(i: Int): DataFrame = {
    val raw = spark.read.schema(Gen.eventSchema).parquet(batches(i)._2.toString)
    ctx.tracer.span("operators.Cdc.stage")(Cdc.stage(raw))
      .withColumn("_deleted", col("operation") === "DELETE").drop("operation")
  }

  def write(sub: String): WriteInput = sub match {
    case "maintenance" =>
      val r = ctx.tracer.span("sources.VersionedLake.compactDvs") {
        VersionedLake.compactDvs(spark, mor, Buckets) }
      cas += r.rebaseRounds + 1
      ctx.tracer.span("sources.VersionedLake.vacuum") {
        VersionedLake.vacuum(spark, cow, Retain)
        VersionedLake.vacuum(spark, mor, Retain)
      }
      WriteInput(0, 0)
    case _ =>
      val i = next; next += 1
      val ch = changes(i)
      val r1 = ctx.tracer.span("sources.VersionedLake.upsert") {
        VersionedLake.upsert(spark, cow, ch, Seq("key_id"), "sequence_number", Buckets) }
      val r2 = ctx.tracer.span("sources.VersionedLake.dvUpsert") {
        VersionedLake.dvUpsert(spark, mor, ch, Seq("key_id"), "sequence_number", Buckets) }
      cas += r1.rebaseRounds + 1; cas += r2.rebaseRounds + 1
      model.apply(batches(i)._1)
      dropped += batches(i)._1.count(!_.valid)
      lastCow = r1.version
      snapshots(lastCow) = model.snapshot
      WriteInput(batches(i)._1.size, java.nio.file.Files.size(batches(i)._2))
  }

  private def rows(df: DataFrame): Seq[Scd1Row] =
    df.select("key_id", "value", "props", "sequence_number").collect()
      .map(r => Scd1Row(r.getLong(0), r.getDouble(1), r.getString(2), r.getLong(3))).toSeq

  def checkWrite(sub: String): Option[String] = {
    val s = model.snapshot
    Checks.scd1(s, rows(VersionedLake.read(spark, cow))).map("cow: " + _)
      .orElse(Checks.scd1(s, rows(VersionedLake.read(spark, mor))).map("mor: " + _))
  }

  /** 32 keys per read: hot keys, random keys of both spaces, and keys
    * the model holds as deleted.
    */
  private def lookupKeys(): Seq[Long] = {
    val dead = model.snapshot.collect { case (k, c) if c.deleted => k }.toSeq.sorted
    val hot = (0 until 8).map(_ => Spaces(keyRnd.nextInt(2)) match {
      case (b, n) => b + keyRnd.nextInt(n / 100) })
    val any = (0 until 20).map(_ => Spaces(keyRnd.nextInt(2)) match {
      case (b, n) => b + keyRnd.nextInt(n) })
    val gone = (0 until 4).flatMap(_ =>
      if (dead.isEmpty) None else Some(dead(keyRnd.nextInt(dead.size))))
    (hot ++ any ++ gone).distinct
  }

  private var lastKeys: Seq[Long] = Nil

  def read(): Unit = {
    import spark.implicits._
    lastKeys = lookupKeys()
    val keys = lastKeys.toDF("key_id")
    // two commits back, or the initial load when there are fewer
    val asOf = math.max(snapshots.keys.min, lastCow - 2)
    val l1 = ctx.tracer.span("sources.VersionedLake.readKeys") {
      VersionedLake.readKeys(spark, cow, keys, Seq("key_id")) }
    val l2 = ctx.tracer.span("sources.VersionedLake.readKeys") {
      VersionedLake.readKeys(spark, mor, keys, Seq("key_id")) }
    val p1 = ctx.tracer.span("lake.point_lookup")(rows(l1))
    val p2 = ctx.tracer.span("lake.point_lookup")(rows(l2))
    val agg = ctx.tracer.span("lake.sql_agg") {
      spark.sql(s"""SELECT count(*), sum(key_id), sum(value) FROM $Table
        WHERE key_id >= $PartBase AND value > 100""").collect().head }
    val tt = ctx.tracer.span("lake.time_travel") {
      spark.sql(s"SELECT count(*), sum(key_id), sum(value) FROM $Table VERSION AS OF $asOf")
        .collect().head }
    if (ctx.tracer.enabled) lookupDfs ++= Seq(l1, l2)
    lastRead = (p1, p2, agg, tt, asOf)
  }

  def checkRead(): Option[String] = {
    val (p1, p2, agg, tt, asOf) = lastRead
    val live = model.live
    val ks = lastKeys.toSet
    def sums(m: Map[Long, Cur]) =
      Map("n_rows" -> m.size.toDouble, "n_keys" -> m.keys.sum.toDouble,
        "sum_value" -> m.values.map(_.value).sum)
    def got(r: Row) = Map("n_rows" -> r.getLong(0).toDouble,
      "n_keys" -> Util.dbl(r, 1), "sum_value" -> Util.dbl(r, 2))
    val old = snapshots.get(asOf).map(_.filter(!_._2.deleted))
    Checks.scd1(model.snapshot, p1, Some(ks)).map("cow lookup: " + _)
      .orElse(Checks.scd1(model.snapshot, p2, Some(ks)).map("mor lookup: " + _))
      .orElse(Checks.fingerprint("sql_agg",
        sums(live.filter { case (k, c) => k >= PartBase && c.value > 100 }), got(agg)))
      .orElse(old match {
        case None => Some(s"no model snapshot for version $asOf")
        case Some(o) => Checks.fingerprint(s"version_as_of_$asOf", sums(o), got(tt))
      })
  }

  def tableDirs: Seq[String] = Seq(cow, mor)

  def layerMetrics(ops: Seq[OpRec], sc: SparkCounters): Map[String, Double] = {
    val writes = ops.filter(_.kind == "write")
    // trickle commits only: the last tenth's median over the first tenth's
    val trickle = writes.filter(_.sub == "trickle")
    val tenth = math.max(1, trickle.size / 10)
    val growth = Util.median(trickle.takeRight(tenth).map(_.ms)) /
      Util.median(trickle.take(tenth).map(_.ms))
    val commits = writes.filter(_.sub != "maintenance")
    val (logFiles, logBytes) = Seq(cow, mor).map(t =>
      Util.countFiles(s"$t/_log", _ => true)).reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    val live = Seq(cow, mor).map(t => VersionedLake.read(spark, t).inputFiles.length).sum
    val scanned = lookupDfs.map(_.inputFiles.length.toDouble).toSeq
    Map(
      "lake.upsert_ms" -> Util.median(Util.spanMs(ctx.tracer, "sources.VersionedLake.upsert")),
      "lake.dv_upsert_ms" -> Util.median(Util.spanMs(ctx.tracer, "sources.VersionedLake.dvUpsert")),
      "lake.maintenance_ms" -> Util.median(writes.filter(_.sub == "maintenance").map(_.ms)),
      "lake.write_growth" -> growth,
      "lake.cas_rounds" -> (if (cas.isEmpty) 0.0 else cas.sum.toDouble / cas.size),
      "lake.files_added_per_write" -> Util.median(commits.map(_.filesAdded.toDouble)),
      "lake.bytes_added_per_write" -> Util.median(commits.map(_.bytesAdded.toDouble)),
      "lake.log_files" -> logFiles.toDouble,
      "lake.log_bytes" -> logBytes.toDouble,
      "lake.point_lookup_ms" -> Util.perOpSpanMs(ctx.tracer, Set("lake.point_lookup",
        "sources.VersionedLake.readKeys")),
      "lake.sql_agg_ms" -> Util.median(Util.spanMs(ctx.tracer, "lake.sql_agg")),
      "lake.time_travel_ms" -> Util.median(Util.spanMs(ctx.tracer, "lake.time_travel")),
      "lake.live_files" -> live.toDouble,
      "lake.files_scanned_per_read" -> Util.median(scanned),
      "operators.dq_dropped_rows" -> dropped.toDouble)
  }
}

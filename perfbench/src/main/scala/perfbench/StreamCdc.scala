package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.operators.Cdc
import graft.sources.LakeWriter
import graft.streaming.{EventStreams, Scd2Apply}

/** `stream_cdc`: one feed file per micro-batch drives two streaming
  * flows, one after the other: SCD1 through `EventStreams.streamingScd1`
  * (LakeWriter's rename-swap protocol) and SCD2 through a `foreachBatch`
  * that calls `Scd2Apply.applyBatch` (dynamic partition overwrite).
  * A write lands the file in the SCD1 feed, waits in
  * `processAllAvailable()`, then does the same for the SCD2 feed. A read
  * is current-state lookups on the SCD1 table and an as-of query on the
  * SCD2 history.
  */
final class StreamCdc(ctx: Ctx) extends Workload {
  import ctx.spark

  private val Spaces = Seq((0L, 15000))
  private val Trickle = FeedGen.HourRows

  private var scd1 = ""
  private var hist = ""
  private var feed1 = ""
  private var feed2 = ""
  private var files: IndexedSeq[(Seq[Event], java.nio.file.Path)] = IndexedSeq.empty
  private var next = 0
  private var model = new CdcModel
  private var q1: StreamingQuery = null
  private var q2: StreamingQuery = null
  private var keyRnd = new java.util.SplittableRandom(ctx.seed ^ 0x5eedL)
  private var lastRead: (Seq[Scd1Row], Seq[Scd2Row], Long, Long) = null
  private var lastKeys: Seq[Long] = Nil
  private var lastSeqs = List.empty[Long] // max sequence of recent batches
  private var dropped = 0L
  // per write: (landing ms of flow 1, landing ms of flow 2)
  private val landings = mutable.ArrayBuffer.empty[(Long, Long)]
  private val progress = mutable.ArrayBuffer.empty[(StreamingQueryProgress, StreamingQueryProgress)]

  /** One round: two micro-batch writes and two reads, about 12 s on 4 cores. */
  def round: Seq[String] = Seq("write:batch", "read", "write:batch", "read")
  def rounds(seconds: Int): Int = math.max(1, math.round(seconds / 12.0).toInt)
  // the initial load already ran both flows; the read path warms here
  private val warmUpOps = Seq("read")

  def setup(): Unit = {
    teardown()
    val base = ctx.dir("stream")
    Seq("tables", "feed1", "feed2", "ckpt").foreach(d => Util.deleteTree(s"$base/$d"))
    scd1 = s"$base/tables/scd1"
    hist = s"$base/tables/scd2"
    feed1 = ctx.dir("stream/feed1")
    feed2 = ctx.dir("stream/feed2")
    val gen = new FeedGen(ctx.seed, Spaces)
    val n = (warmUpOps ++ (0 until rounds(ctx.seconds)).flatMap(_ => round))
      .count(_ != "read")
    val all = gen.snapshot() +: (0 until n).map(_ => gen.batch(Trickle))
    files = all.zip(Gen.writeBatches(spark, all, s"$base/batches")).toIndexedSeq
    model = new CdcModel
    next = 0; lastSeqs = Nil
    keyRnd = new java.util.SplittableRandom(ctx.seed ^ 0x5eedL)
    def src(dir: String): DataFrame = Cdc.stage(spark.readStream
      .schema(Gen.eventSchema).option("maxFilesPerTrigger", 1).parquet(dir))
    q1 = EventStreams.streamingScd1(src(feed1), scd1, Seq("key_id"),
      "sequence_number", "operation", s"$base/ckpt/scd1")
    val table = hist
    val tracer = ctx.tracer
    q2 = src(feed2).writeStream
      .option("checkpointLocation", s"$base/ckpt/scd2")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        tracer.span("streaming.Scd2Apply.applyBatch") {
          Scd2Apply.applyBatch(batch.sparkSession, table, batch) }
        ()
      }
      .start()
    // initial load
    write("batch"); checkWrite("batch").foreach(e => throw new IllegalStateException(e))
  }

  def warmUp(): Unit = {
    untimed(warmUpOps)
    landings.clear(); progress.clear(); dropped = 0
  }

  override def teardown(): Unit = {
    Seq(q1, q2).filter(_ != null).foreach { q => q.stop(); q.awaitTermination() }
    q1 = null; q2 = null
  }

  /** Atomic landing: hard-link under a hidden name (the file source skips
    * names starting with `.`), then rename into place.
    */
  private def land(i: Int, dir: String): Long = {
    val name = f"f_$i%05d.parquet"
    val tmp = Paths.get(dir, "." + name)
    Files.createLink(tmp, files(i)._2)
    val t = System.currentTimeMillis()
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
    t
  }

  private def newest(q: StreamingQuery): StreamingQueryProgress =
    q.recentProgress.filter(_.numInputRows > 0).maxBy(_.batchId)

  def write(sub: String): WriteInput = {
    val i = next; next += 1
    val t1 = land(i, feed1)
    ctx.tracer.span("streaming.EventStreams.streamingScd1")(q1.processAllAvailable())
    val t2 = land(i, feed2)
    ctx.tracer.span("streaming.Scd2Apply.foreachBatch")(q2.processAllAvailable())
    landings += ((t1, t2))
    model.apply(files(i)._1)
    dropped += files(i)._1.count(!_.valid)
    lastSeqs = (files(i)._1.map(_.eventId).max :: lastSeqs).take(3)
    WriteInput(files(i)._1.size, Files.size(files(i)._2))
  }

  private def scd1Rows(df: DataFrame): Seq[Scd1Row] =
    df.select("key_id", "value", "props", "sequence_number").collect()
      .map(r => Scd1Row(r.getLong(0), r.getDouble(1), r.getString(2), r.getLong(3))).toSeq

  private def scd2Rows(df: DataFrame): Seq[Scd2Row] =
    df.select("key_id", "value", "props", "__start_at", "__end_at", "__is_current")
      .collect().map(r => Scd2Row(r.getLong(0), r.getDouble(1), r.getString(2),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getBoolean(5)))
      .toSeq

  def checkWrite(sub: String): Option[String] = {
    if (ctx.tracer.enabled) progress += ((newest(q1), newest(q2)))
    Checks.scd1(model.snapshot, scd1Rows(LakeWriter.read(spark, scd1))).map("scd1: " + _)
      .orElse(Checks.scd2(model.history, scd2Rows(Scd2Apply.readHistory(spark, hist)))
        .map("scd2: " + _))
  }

  def read(): Unit = {
    val keys = (0 until 32).map(_ => keyRnd.nextInt(15000).toLong).distinct
    lastKeys = keys
    // as of the newest sequence two batches back (or the oldest kept)
    val s = lastSeqs.last
    val cur = ctx.tracer.span("streaming.scd1_lookup") {
      scd1Rows(LakeWriter.read(spark, scd1).filter(col("key_id").isin(keys: _*))) }
    val h = Scd2Apply.readHistory(spark, hist)
      .filter(col("__start_at") <= s && (col("__end_at").isNull || col("__end_at") > s))
    val at = ctx.tracer.span("streaming.scd2_as_of") {
      scd2Rows(h.filter(col("key_id").isin(keys: _*))) }
    val n = ctx.tracer.span("streaming.scd2_as_of") { h.count() }
    lastRead = (cur, at, n, s)
  }

  def checkRead(): Option[String] = {
    val (cur, at, n, s) = lastRead
    val exp = model.asOf(s)
    val ks = lastKeys.toSet
    Checks.scd1(model.snapshot, cur, Some(ks)).map("scd1 lookup: " + _)
      .orElse(Checks.rowsEqual(exp.filter(r => ks(r.key)), at).map("scd2 as-of: " + _))
      .orElse(if (n == exp.size) None else Some(s"scd2 as-of $s: $n rows, expected ${exp.size}"))
  }

  def tableDirs: Seq[String] = Seq(scd1, hist)

  def layerMetrics(ops: Seq[OpRec], sc: SparkCounters): Map[String, Double] = {
    val ps = progress.toSeq.flatMap { case (a, b) => Seq(a, b) }
    def dur(k: String) = Util.median(ps.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val pickup = progress.toSeq.zip(landings).flatMap { case ((a, b), (l1, l2)) =>
      Seq(Instant.parse(a.timestamp).toEpochMilli - l1,
        Instant.parse(b.timestamp).toEpochMilli - l2).map(_.toDouble)
    }
    Map(
      "streaming.trigger_ms" -> dur("triggerExecution"),
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.get_batch_ms" -> dur("getBatch"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.pickup_ms" -> Util.median(pickup),
      "streaming.scd1_add_batch_ms" -> Util.median(progress.toSeq.map(p =>
        p._1.durationMs.get("addBatch").doubleValue)),
      "streaming.scd2_add_batch_ms" -> Util.median(progress.toSeq.map(p =>
        p._2.durationMs.get("addBatch").doubleValue)),
      "streaming.scd2_files" -> Util.countFiles(hist, _.toString.endsWith(".parquet"))._1.toDouble,
      "streaming.history_rows" -> Scd2Apply.readHistory(spark, hist).count().toDouble,
      "operators.dq_dropped_rows" -> dropped.toDouble)
  }
}

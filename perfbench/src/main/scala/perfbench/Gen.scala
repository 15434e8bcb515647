package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Zipfian choice of a rank in [0, n): rank 0 is the hottest. YCSB's
  * generator (Cooper et al., "Benchmarking Cloud Serving Systems with
  * YCSB", SoCC 2010) with its default constant 0.99, after Gray et al.,
  * "Quickly Generating Billion-Record Synthetic Databases", SIGMOD 1994.
  */
final class Zipf(n: Int, theta: Double = 0.99) {
  private val zetaN = (1 to n).map(i => 1.0 / math.pow(i, theta)).sum
  private val zeta2 = 1.0 + math.pow(0.5, theta)
  private val alpha = 1.0 / (1.0 - theta)
  private val eta = (1 - math.pow(2.0 / n, 1 - theta)) / (1 - zeta2 / zetaN)

  def next(u: Double): Int = {
    val uz = u * zetaN
    if (uz < 1.0) 0
    else if (uz < zeta2) 1 min (n - 1)
    else math.min(n - 1, (n * math.pow(eta * u - eta + 1, alpha)).toInt)
  }
}

/** Seeded change feed in the `events` shape.
  *
  *  - values: exponential with mean 50, and `props` `{"k": 0..99}`, as
  *    in the testdata;
  *  - ops: each of `signup` (INSERT), `error` (DELETE), `click`, `view`
  *    and `purchase` (UPDATE) is a fifth of the changes, as in the
  *    shipped `events` testdata (see README.md);
  *  - keys: one or more key spaces (base, size); a space is picked in
  *    proportion to its size, a key within it by [[Zipf]], so the lowest
  *    ids are the hottest. The testdata's own users are near-uniform;
  *    the skew is YCSB's;
  *  - late: the first change of each batch is held back and lands with
  *    the next batch, older than every change applied in between;
  *  - invalid: one change per batch carries a null value, which
  *    `Cdc.stage` drops.
  *
  * Late and invalid changes are one per batch, for coverage: the
  * testdata has neither. Sequence numbers (`event_id`) are unique across
  * the whole feed.
  */
final class FeedGen(seed: Long, spaces: Seq[(Long, Int)],
    firstSeq: Long = 1000000L) {
  private val rnd = new SplittableRandom(seed)
  private var nextSeq = firstSeq
  private var held: Option[Event] = None
  private val total = spaces.map(_._2).sum
  private val zipf = spaces.map { case (_, n) => new Zipf(n) }

  def key(): Long = {
    var r = rnd.nextInt(total)
    val i = spaces.indexWhere { case (_, n) => val hit = r < n; if (!hit) r -= n; hit }
    spaces(i)._1 + zipf(i).next(rnd.nextDouble())
  }

  /** Exponential with mean 50, in cents, as the testdata's `value`. */
  private def value(): Double =
    math.round(-50.0 * math.log(1.0 - rnd.nextDouble()) * 100) / 100.0

  private def event(seq: Long, k: Long, valid: Boolean): Event = {
    val tpe = FeedGen.Types(rnd.nextInt(FeedGen.Types.size))
    val v = if (valid) Some(value()) else None
    Event(seq, 1704067200000000L + seq * 1000L, k, tpe, v,
      s"""{"k": ${rnd.nextInt(100)}}""")
  }

  /** Next batch of `size` rows: the change held back from the previous
    * batch, then fresh changes but the first, which is held for the next.
    */
  def batch(size: Int): Seq[Event] = {
    val bad = rnd.nextInt(size)
    val fresh = (0 until size).map { i =>
      val e = event(nextSeq, key(), i != bad); nextSeq += 1; e
    }
    val out = held.toSeq ++ fresh.tail
    held = Some(fresh.head)
    out
  }

  /** One INSERT per key of every space: the initial snapshot. */
  def snapshot(firstSeqOfSnapshot: Long = 0L): Seq[Event] = {
    var s = firstSeqOfSnapshot
    spaces.flatMap { case (base, n) => (0 until n).map { i =>
      val e = Event(s, 1704067200000000L, base + i, "signup",
        Some(value()),
        s"""{"k": ${rnd.nextInt(100)}}""")
      s += 1; e
    }}
  }
}

object FeedGen {
  val Types: IndexedSeq[String] = IndexedSeq("signup", "error", "click", "view", "purchase")
  /** Batch sizes from the `events` testdata at sf0.1: the median number
    * of events per hour (trickle) and per day (bulk).
    */
  val HourRows = 139
  val DayRows = 3336
}

object Gen {
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private val parquetSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    """message event {
      optional int64 event_id;
      optional int64 ts (TIMESTAMP(MICROS,true));
      optional int64 user_id;
      optional binary event_type (STRING);
      optional double value;
      optional binary props (STRING);
    }""")

  /** Write each batch as one parquet file `<dir>/batch-<i>.parquet` with
    * the parquet library directly: no Spark job, so making the inputs
    * costs milliseconds, not a cold write path.
    */
  def writeBatches(spark: SparkSession, batches: Seq[Seq[Event]],
      dir: String): IndexedSeq[java.nio.file.Path] = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val conf = spark.sparkContext.hadoopConfiguration
    val groups = new SimpleGroupFactory(parquetSchema)
    batches.zipWithIndex.map { case (b, i) =>
      val p = java.nio.file.Paths.get(dir, f"batch-$i%05d.parquet")
      val w = ExampleParquetWriter.builder(
          new org.apache.hadoop.fs.Path(p.toUri)).withConf(conf)
        .withType(parquetSchema).build()
      try b.foreach { e =>
        val g = groups.newGroup()
          .append("event_id", e.eventId).append("ts", e.tsUs)
          .append("user_id", e.userId).append("event_type", e.eventType)
        e.value.foreach(v => g.append("value", v))
        w.write(g.append("props", e.props))
      } finally w.close()
      p
    }.toIndexedSeq
  }
}

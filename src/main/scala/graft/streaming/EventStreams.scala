package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.Tables
import graft.sources.VersionedLake
import graft.operators.Medallion.dsum

/** Structured-Streaming operators over the events feed — the engine
  * analogue of the reference's streaming tables (`CREATE OR REFRESH
  * STREAMING TABLE … FROM STREAM read_files(…)`,
  * ref /root/reference/src/pipelines/bronze/orders.sql:10-27).
  *
  * Scale notes: the windowed aggregation is watermark-ready (bounded
  * state on an unbounded feed); sessionization keeps one small state
  * object per active user key and emits sessions on gap timeout —
  * state size is O(active users), not O(events).
  */
object EventStreams {

  /** File-source schema for events.parquet (TIMESTAMP(MICROS), no UTC
    * flag → TIMESTAMP_NTZ; the session is pinned UTC so the NTZ→TZ
    * cast below is bit-exact on the stored micros).
    */
  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Hourly windowed aggregation, run as a REAL streaming query: file
    * source → groupBy(window) → memory sink, processed to completion.
    * Complete output mode ⇒ result equals the batch aggregation, so the
    * same DuckDB oracle applies. (In production this would run in
    * append mode with `withWatermark("ts_utc", "1 hour")` bounding
    * state; complete mode here lets the finite fixture flush every
    * window.)
    */
  def windowedAgg(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val checkpoint = Files.createTempDirectory("graft_stream_ckpt").toString
    val queryName = s"stream_windowed_agg_${System.identityHashCode(spark)}"
    val src = spark.readStream.schema(eventSchema)
      .option("pathGlobFilter", "events.parquet") // file source needs a dir
      .parquet(dir)
      .withColumn("ts_utc", col("ts").cast(TimestampType))
    val agg = src
      .groupBy(window(col("ts_utc"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .start()
    try q.processAllAvailable() finally q.stop()
    // detach the result from the session-scoped memory sink and clean up
    // (repeated calls would otherwise leak a temp view + checkpoint
    // each); localCheckpoint materializes eagerly and is GC-released,
    // unlike cache() which would pin a CacheManager entry forever
    val out = spark.table(queryName).localCheckpoint(eager = true)
    spark.catalog.dropTempView(queryName)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(checkpoint))
    out
  }

  val windowedAggSql: String =
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
       FROM events
       GROUP BY 1, 2
       ORDER BY 1, 2"""

  val SessionGapUs: Long = 30L * 60 * 1000 * 1000 // 30 min in µs

  /** Batch sessionization via gap windows: a new session starts after a
    * >30 min silence. Single shuffle on user_id; the running sum over
    * the gap flags is the session index. Works in the exact microsecond
    * domain (`ts_us`) for cross-engine parity.
    */
  def sessionizeBatch(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val flagged = events
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts_us") - col("prev_ts") > SessionGapUs, 1L).otherwise(0L))
      .withColumn("session_idx",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)))
    flagged.groupBy(col("user_id"), col("session_idx"))
      .agg(
        min(col("event_id")).as("first_event_id"),
        max(col("event_id")).as("last_event_id"),
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("session_value"),
        ((max(col("ts_us")) - min(col("ts_us"))).cast("double") / lit(1.0e6))
          .as("duration_sec"))
  }

  val sessionizeSql: String =
    """WITH flagged AS (
         SELECT user_id, event_id, value, epoch_us(ts) AS tsu,
           CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                THEN 1 ELSE 0 END AS new_session
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
       sessions AS (
         SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
           ORDER BY tsu, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_idx
         FROM flagged)
       SELECT user_id, session_idx,
         MIN(event_id) AS first_event_id,
         MAX(event_id) AS last_event_id,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS session_value,
         CAST(MAX(tsu) - MIN(tsu) AS DOUBLE) / 1000000.0 AS duration_sec
       FROM sessions
       GROUP BY user_id, session_idx
       ORDER BY user_id, session_idx"""

  // ---- stateful streaming sessionizer -------------------------------------
  /** `ts` is epoch MICROS (the [[graft.Tables.events]] `ts_us` domain). */
  final case class Ev(event_id: Long, ts: Long, user_id: Long, value: Double)
  final case class SessionState(startId: Long, lastId: Long, lastTs: Long,
      minTs: Long, n: Long, value: Double, idx: Long)
  final case class SessionOut(user_id: Long, session_idx: Long,
      first_event_id: Long, last_event_id: Long, n_events: Long,
      duration_sec: Double)

  /** Streaming sessionizer: one state object per user, sessions emitted
    * when the gap closes them. Used with MemoryStream in tests; the
    * same function serves a production `readStream`.
    *
    * Note: within a micro-batch, events for a key arrive as an
    * iterator — sorted here because cross-batch order is only
    * guaranteed per batch (fine for bounded fixtures and for
    * watermark-ordered feeds).
    */
  def sessionizeStreaming(events: Dataset[Ev]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[List[SessionState]]) =>
          val sorted = evs.toSeq.sortBy(e => (e.ts, e.event_id))
          var open = state.getOption.flatMap(_.headOption)
          var closed = List.empty[SessionOut]
          var nextIdx = open.map(_.idx).getOrElse(0L)
          sorted.foreach { e =>
            open match {
              case Some(s) if e.ts - s.lastTs <= SessionGapUs =>
                open = Some(s.copy(lastId = e.event_id, lastTs = e.ts,
                  n = s.n + 1, value = s.value + e.value))
              case Some(s) =>
                closed ::= SessionOut(userId, s.idx, s.startId, s.lastId,
                  s.n, (s.lastTs - s.minTs).toDouble / 1.0e6)
                nextIdx = s.idx + 1
                open = Some(SessionState(e.event_id, e.event_id, e.ts, e.ts,
                  1L, e.value, nextIdx))
              case None =>
                nextIdx += 1
                open = Some(SessionState(e.event_id, e.event_id, e.ts, e.ts,
                  1L, e.value, nextIdx))
            }
          }
          state.update(open.toList)
          closed.reverseIterator
      }
  }

  /** Streaming AUTO CDC SCD1: per-microbatch MERGE into the lake table —
    * the engine analogue of `CREATE FLOW … AS AUTO CDC INTO target …
    * STORED AS SCD TYPE 1` (ref cdc_customers_silver.sql:55-66). Each
    * batch commits one version through
    * [[graft.sources.VersionedLake.upsert]], whose one per-key window
    * (sequence descending, updates winning ties) resolves the batch's
    * own changes and the table's rows together, so the table converges
    * to the same state as the batch SCD1 regardless of how the feed is
    * chopped into batches. A batch that fails commits nothing. Each
    * commit is followed by a vacuum to that version: the table keeps
    * only its current state.
    *
    * @param feed streaming frame with key/seq/op columns
    */
  def streamingScd1(feed: DataFrame, path: String, keys: Seq[String],
      seqCol: String, opCol: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    feed.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // DELETE rows ride along as tombstone markers; the upsert's own
        // per-key window picks the latest change across batch and table
        VersionedLake.upsert(batch.sparkSession, path,
          batch.withColumn("_deleted", col(opCol) === "DELETE").drop(opCol),
          keys, seqCol)
        VersionedLake.vacuum(batch.sparkSession, path, retainLast = 1)
        ()
      }
      .start()
  }

  /** End-to-end streaming medallion in one query — the engine analogue
    * of a DLT gold materialized view refreshed from a streaming table
    * (ref gold/daily_orders.sql over streaming bronze): file-source
    * stream → validated transform (silver payments domain) → daily
    * revenue aggregation → foreachBatch DYNAMIC-PARTITION-OVERWRITE
    * into a partitioned gold lake table (each refresh rewrites only the
    * days it recomputed — the incremental-refresh shape) → read the
    * table back. Complete output mode on the bounded fixture makes the
    * final table equal the batch aggregation, so a plain SQL oracle
    * applies. The partition value is written pre-stringified (hive dir
    * values are strings) and parsed back to DATE on read.
    */
  def streamGoldDaily(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val checkpoint = Files.createTempDirectory("graft_sgold_ckpt").toString
    val path = graft.sources.Scratch.dir("stream_gold")
    val src = spark.readStream.schema(eventSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .withColumn("ts_utc", col("ts").cast(TimestampType))
    val agg = src
      .filter(col("event_id").isNotNull && col("user_id").isNotNull &&
        col("value").isNotNull && col("value") >= 0 &&
        col("event_type").isin("click", "error", "purchase", "signup", "view"))
      .withColumn("day_str", to_date(col("ts_utc")).cast("string"))
      .withColumn("payment_category",
        when(col("event_type") === "purchase", "revenue")
          .when(col("event_type") === "signup", "acquisition")
          .when(col("event_type").isin("click", "view"), "engagement")
          .otherwise("ops"))
      .groupBy(col("day_str"), col("payment_category"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.LakeWriter.writePartitioned(batch, path, Seq("day_str"))
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(checkpoint))
    spark.read.parquet(path)
      .select(to_date(col("day_str")).as("day"), col("payment_category"),
        col("n_events"), col("total_value"))
  }

  val streamGoldDailySql: String =
    """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       CASE WHEN event_type = 'purchase' THEN 'revenue'
            WHEN event_type = 'signup' THEN 'acquisition'
            WHEN event_type IN ('click', 'view') THEN 'engagement'
            ELSE 'ops' END AS payment_category,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
       FROM events
       WHERE event_id IS NOT NULL AND user_id IS NOT NULL
         AND value IS NOT NULL AND value >= 0
         AND event_type IN ('click', 'error', 'purchase', 'signup', 'view')
       GROUP BY 1, 2
       ORDER BY 1, 2"""

  /** Incremental materialized-view maintenance — the scale-correct
    * alternative to [[streamGoldDaily]]'s complete-mode refresh (whose
    * in-memory aggregation state grows with the key space forever): each
    * microbatch computes only its DELTA aggregate, then additively
    * merges it into the gold table by rewriting ONLY the day partitions
    * the batch touched (read touched days + union delta + re-aggregate
    * + dynamic-partition overwrite). State lives in the table, not the
    * stream — per batch the work is O(delta + touched partitions),
    * independent of table history. This is the DLT materialized-view
    * incremental-refresh shape (ref gold/daily_orders.sql refreshed
    * from a streaming source). A stream-static broadcast join enriches
    * each event with its customer segment before aggregating.
    *
    * Exactness: partial sums are kept as DECIMAL in the table and only
    * cast to double on the final read — additive double merges would
    * diverge from the batch oracle. The touched-day collect is
    * partition metadata (distinct days per batch), same class as the
    * upsert bucket set.
    */
  def streamIncrGold(spark: SparkSession, dir: String): DataFrame = {
    val checkpoint = Files.createTempDirectory("graft_incr_ckpt").toString
    val feed = graft.sources.Scratch.dir("incr_feed")
    val path = graft.sources.Scratch.dir("incr_gold")
    val ev = Tables.events(spark, dir)
    // time-ranged feed files: streams arrive roughly time-ordered, so
    // each microbatch touches a contiguous slice of day partitions —
    // the locality the partition-pruned refresh is designed around
    // (contrast streamCdcApply, which hash-scatters on purpose)
    ev.repartitionByRange(3, col("ts_utc")).write.parquet(feed)
    val feedSchema = spark.read.parquet(feed).schema
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val fsys = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    val q = spark.readStream.schema(feedSchema)
      .option("maxFilesPerTrigger", 1).parquet(feed)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val delta = batch
          .filter(col("event_id").isNotNull && col("user_id").isNotNull &&
            col("value").isNotNull && col("value") >= 0)
          .join(broadcast(dim), col("user_id") === col("c_custkey"))
          .withColumn("day_str", to_date(col("ts_utc")).cast("string"))
          .groupBy(col("day_str"), col("c_mktsegment"))
          .agg(sum(col("value")
            .cast(org.apache.spark.sql.types.DecimalType(18, 4))).as("sum_dec"),
            count(lit(1)).as("n_events"))
        val days = delta.select(col("day_str")).distinct()
          .collect().map(_.getString(0)).toSeq // partition METADATA only
        val merged =
          if (!fsys.exists(new org.apache.hadoop.fs.Path(path))) delta
          else spark.read.parquet(path)
            .filter(col("day_str").isin(days: _*)) // partition pruning
            .unionByName(delta, allowMissingColumns = false)
            .groupBy(col("day_str"), col("c_mktsegment"))
            .agg(sum(col("sum_dec")).as("sum_dec"),
              sum(col("n_events")).as("n_events"))
        // pin the stored decimal type: sum() widens precision per merge
        // round, and mixed per-file decimal schemas break later reads
        graft.sources.LakeWriter.writePartitioned(
          merged.withColumn("sum_dec",
            col("sum_dec").cast(org.apache.spark.sql.types.DecimalType(30, 4))),
          path, Seq("day_str"))
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(checkpoint))
    spark.read.parquet(path)
      .select(to_date(col("day_str")).as("day"),
        col("c_mktsegment"), col("n_events"),
        col("sum_dec").cast("double").as("total_value"))
  }

  val streamIncrGoldSql: String =
    """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       c_mktsegment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
       FROM events
       JOIN customer ON user_id = c_custkey
       WHERE event_id IS NOT NULL AND user_id IS NOT NULL
         AND value IS NOT NULL AND value >= 0
       GROUP BY 1, 2
       ORDER BY 1, 2"""

  /** Streaming CDC apply — the engine analogue of the reference's
    * `AUTO CDC INTO … KEYS … SEQUENCE BY … STORED AS SCD TYPE 1` run as
    * a STREAM (ref cdc_customers_silver.sql:55-66 applies the change
    * feed continuously, not as a batch window pass): the staged change
    * feed is split into microbatches that arrive in ARBITRARY sequence
    * order, each batch is merged into a versioned lake table by
    * [[streamingScd1]] (one bucket-pruned [[VersionedLake.upsert]]
    * commit per batch), and the final table must equal the batch SCD1
    * resolution.
    *
    * This is the convergence proof for the sink's CDC semantics:
    * per-key max-sequence merge + delete tombstones make the result
    * independent of batch boundaries and batch ORDER — a late batch
    * carrying older sequences cannot overwrite newer state, and a
    * DELETE arriving before the INSERT it supersedes is resolved by
    * sequence, not arrival. The oracle is the batch SCD1 SQL, so the
    * equivalence is hash-checked, not just row-counted.
    *
    * Scale shape: state lives in the bucketed table, not the stream
    * (no streaming state store at all); each merge reads/rewrites only
    * the hash buckets its batch touches. At 100 TB the bucket count
    * scales with the table so a microbatch touching u keys rewrites
    * ≤ min(u, numBuckets) buckets, never the full table.
    */
  def streamCdcApply(spark: SparkSession, dir: String): DataFrame = {
    val checkpoint = Files.createTempDirectory("graft_cdcapply_ckpt").toString
    val feed = graft.sources.Scratch.dir("cdc_feed")
    val table = graft.sources.Scratch.dir("cdc_applied")
    // stage once in batch, then re-serve it as a file stream: 4 feed
    // files ≈ 4 microbatches; hash repartition scatters each key's
    // changes across batches, exercising the out-of-order path
    val staged = graft.operators.Cdc.stage(Tables.events(spark, dir))
    staged.repartition(4).write.parquet(feed)
    val q = streamingScd1(spark.readStream.schema(staged.schema)
        .option("maxFilesPerTrigger", 1).parquet(feed),
      table, Seq("key_id"), "sequence_number", "operation", checkpoint)
    try q.processAllAvailable() finally q.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(checkpoint))
    VersionedLake.read(spark, table)
      .select(col("key_id"), col("value"), col("props"),
        col("sequence_number").as("last_sequence"))
  }

  /** The PRODUCTION form of the windowed aggregation: `withWatermark` +
    * APPEND mode, where a window is emitted exactly once — when the
    * watermark passes its end — and its state is then dropped. Unlike
    * [[windowedAgg]]'s complete mode (state = every window ever seen,
    * unbounded on an unbounded feed), state here is O(windows inside
    * the watermark horizon): the shape that survives an unbounded
    * 100 TB feed. The bounded fixture needs one trick: a single
    * SENTINEL event far past the data's time domain, served strictly
    * last (explicit mtime ordering of the feed files), advances the
    * watermark beyond every real window so append mode flushes them
    * all; the sentinel's own (still-open) window is excluded by a time
    * bound the oracle shares.
    */
  def windowedAppend(spark0: SparkSession, dir: String): DataFrame = {
    // scoped state parallelism — see [[streamStreamJoin]]
    val spark = spark0.newSession()
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val checkpoint = Files.createTempDirectory("graft_wapp_ckpt").toString
    val feed = graft.sources.Scratch.dir("wapp_feed")
    val out = graft.sources.Scratch.dir("wapp_out")
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts_utc"), col("event_type"), col("value"))
    // One file ⇒ one microbatch for all real data: the watermark only
    // advances AFTER that batch, so no real event can be late-dropped
    // regardless of intra-feed ordering. (Multi-file would process in
    // mtime order — arbitrary within a write — and a file containing
    // older events processed after a newer one would lose rows.)
    ev.coalesce(1).write.parquet(s"$feed/batch0")
    val sentinelTs = java.sql.Timestamp.valueOf("2100-01-01 00:00:00")
    Seq((-1L, sentinelTs, "sentinel", 0.0))
      .toDF("event_id", "ts_utc", "event_type", "value")
      .coalesce(1).write.parquet(s"$feed/batch1")
    // file-source order is by modification time: force the sentinel last
    val fsDir = new java.io.File(feed)
    new java.io.File(fsDir, "batch1").listFiles().foreach(f =>
      f.setLastModified(System.currentTimeMillis() + 600000))
    val feedSchema = spark.read.parquet(s"$feed/batch0").schema
    val q = spark.readStream.schema(feedSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$feed/*")
      .withWatermark("ts_utc", "1 hour")
      .groupBy(window(col("ts_utc"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(out)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(checkpoint))
    spark.read.parquet(out)
      .filter(col("window_start") < lit("2099-01-01").cast("timestamp"))
  }

  val windowedAppendSql: String =
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
       FROM events
       GROUP BY 1, 2
       ORDER BY 1, 2"""

  /** Stream-stream interval join — click→purchase attribution where
    * BOTH sides are unbounded streams: each purchase joins every click
    * by the same user in the preceding hour. This is the shape batch
    * engines can't run on live data; Spark keeps both sides' recent
    * rows in join state and the `withWatermark` + time-range condition
    * lets it EVICT state older than the interval, so memory is
    * O(events per user-hour), not O(stream). Matches emit as soon as
    * both rows have arrived (append mode, no sentinel needed — inner
    * join emission is match-driven, not watermark-gated). The join
    * condition runs in the microsecond domain on both engines (Spark
    * µs timestamps vs the oracle's `epoch_us`), and the output carries
    * ids only, so no timestamp-precision parity risk.
    */
  def streamStreamJoin(spark0: SparkSession, dir: String): DataFrame = {
    // Stream-stream joins keep FOUR state stores per shuffle partition;
    // at 32 partitions that is 128 store commits (delta file + metadata)
    // per microbatch — pure fixed overhead at demo scale. A cloned
    // session scopes a smaller state parallelism to THIS query without
    // touching the caller's conf (on a real cluster you would size this
    // to executor count; state partition count is fixed at the first
    // batch by this setting).
    val spark = spark0.newSession()
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val checkpoint = Files.createTempDirectory("graft_ssj_ckpt").toString
    val feed = graft.sources.Scratch.dir("ssj_feed")
    val queryName = s"stream_ssj_${System.identityHashCode(spark)}"
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts_utc"), col("user_id"), col("event_type"))
      // only the two joined types can ever match — push the filter into
      // the feed itself so each side scans 40% of the events, not 100%
      .filter(col("event_type").isin("click", "purchase"))
    ev.coalesce(1).write.parquet(feed)
    val schema = spark.read.parquet(feed).schema
    def side(t: String, idAs: String, tsAs: String, userAs: String) =
      spark.readStream.schema(schema).parquet(feed)
        .filter(col("event_type") === t)
        .select(col("event_id").as(idAs), col("ts_utc").as(tsAs),
          col("user_id").as(userAs))
        .withWatermark(tsAs, "1 hour")
    val clicks = side("click", "click_id", "click_ts", "user_id")
    val buys = side("purchase", "purchase_id", "purchase_ts", "p_user")
    val joined = clicks.join(buys,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("purchase_id"), col("user_id"))
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table(queryName).localCheckpoint(eager = true)
    spark.catalog.dropTempView(queryName)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(checkpoint))
    out
  }

  val streamStreamJoinSql: String =
    """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
       FROM events c JOIN events p
         ON c.user_id = p.user_id
        AND c.event_type = 'click' AND p.event_type = 'purchase'
        AND epoch_us(p.ts) >= epoch_us(c.ts)
        AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
       ORDER BY 1, 2"""

  /** LEFT OUTER stream-stream join — the semantics [[streamStreamJoin]]
    * cannot show: a click with NO purchase in its attribution window
    * must still emit (purchase_id −1 here; NULL avoided only for
    * gate dtype parity). The engine can only declare a left row
    * unmatched once the WATERMARK proves no future purchase can fall
    * inside the row's window, so unmatched rows emit on watermark
    * advancement, not on arrival — the fixture forces that final
    * advancement with a far-future sentinel on both sides, delivered
    * as a second file processed after all real data (mtime order).
    * With the feed fully drained the answer equals the batch LEFT
    * JOIN, which is the oracle.
    *
    * Scale: same state shape as the inner join (four stores per
    * partition, rows evicted at `click_ts + 1h` behind the watermark);
    * the outer emission adds no state — it changes only WHEN an
    * evicted row is emitted (with nulls) instead of dropped.
    */
  def streamOuterJoin(spark0: SparkSession, dir: String): DataFrame = {
    // scoped state parallelism — see [[streamStreamJoin]]
    val spark = spark0.newSession()
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val checkpoint = Files.createTempDirectory("graft_soj_ckpt").toString
    val feed = graft.sources.Scratch.dir("soj_feed")
    val queryName = s"stream_soj_${System.identityHashCode(spark)}"
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts_utc"), col("user_id"), col("event_type"))
      .filter(col("event_type").isin("click", "purchase") &&
        col("user_id").isNotNull)
    ev.coalesce(1).write.parquet(s"$feed/batch0")
    // one sentinel per side, both beyond every real timestamp: the
    // query watermark is min over inputs, so BOTH sides must advance
    // for the join state to flush its unmatched rows
    val sentinelTs = java.sql.Timestamp.valueOf("2100-01-01 00:00:00")
    Seq((-1L, sentinelTs, -1L, "click"), (-2L, sentinelTs, -2L, "purchase"))
      .toDF("event_id", "ts_utc", "user_id", "event_type")
      .coalesce(1).write.parquet(s"$feed/batch1")
    val fsDir = new java.io.File(feed)
    new java.io.File(fsDir, "batch1").listFiles().foreach(f =>
      f.setLastModified(System.currentTimeMillis() + 600000))
    val feedSchema = spark.read.parquet(s"$feed/batch0").schema
    def side(t: String, idAs: String, tsAs: String, userAs: String) =
      spark.readStream.schema(feedSchema)
        .option("maxFilesPerTrigger", 1).parquet(s"$feed/*")
        .filter(col("event_type") === t)
        .select(col("event_id").as(idAs), col("ts_utc").as(tsAs),
          col("user_id").as(userAs))
        .withWatermark(tsAs, "1 hour")
    val clicks = side("click", "click_id", "click_ts", "user_id")
    val buys = side("purchase", "purchase_id", "purchase_ts", "p_user")
    val joined = clicks.join(buys,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
        "leftOuter")
      .select(col("click_id"), col("user_id"),
        coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"))
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table(queryName)
      .filter(col("click_id") >= 0) // drop the sentinel's own row
      .localCheckpoint(eager = true)
    spark.catalog.dropTempView(queryName)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(checkpoint))
    out
  }

  val streamOuterJoinSql: String =
    """SELECT c.event_id AS click_id, c.user_id,
         COALESCE(p.event_id, -1) AS purchase_id
       FROM events c LEFT JOIN events p
         ON c.user_id = p.user_id
        AND p.event_type = 'purchase'
        AND epoch_us(p.ts) >= epoch_us(c.ts)
        AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
       WHERE c.event_type = 'click' AND c.user_id IS NOT NULL
       ORDER BY 1, 3"""

  /** Cross-batch streaming deduplication, end-to-end: the feed is
    * re-served with ~10% hash-selected duplicate rows scattered across
    * three microbatches, `dropDuplicates(event_id)` removes them across batch
    * boundaries (state = seen-key set; in production bounded with
    * `withWatermark` + event-time key), and the appended sink must
    * equal the original table exactly. This is the streaming half of
    * exactly-once ingest: at-least-once delivery upstream + keyed
    * dedup = effectively-once in the sink (the reference gets this
    * from Auto Loader / DLT streaming-table semantics,
    * ref bronze/orders.sql:10-27).
    */
  def streamDedup(spark0: SparkSession, dir: String): DataFrame = {
    // scoped state parallelism — see [[streamStreamJoin]]; dedup keeps
    // one key store per partition across THREE microbatches here
    val spark = spark0.newSession()
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val checkpoint = Files.createTempDirectory("graft_sdedup_ckpt").toString
    val feed = graft.sources.Scratch.dir("dedup_feed")
    val out = graft.sources.Scratch.dir("dedup_out")
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val dups = ev.filter(pmod(graft.functions.Fingerprint.fnv1a64(spark,
      concat(lit("dup:"), col("event_id").cast("string"))), lit(10L)) === 0)
    ev.unionByName(dups).repartition(3).write.parquet(feed)
    val feedSchema = spark.read.parquet(feed).schema
    val q = spark.readStream.schema(feedSchema)
      .option("maxFilesPerTrigger", 1).parquet(feed)
      .dropDuplicates("event_id")
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(out)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(checkpoint))
    spark.read.parquet(out)
  }

  val streamDedupSql: String =
    """SELECT event_id, user_id, event_type, value
       FROM events
       ORDER BY event_id"""

  /** Exactly-once across a RESTART: the fault-tolerance contract that
    * makes streaming ingestion trustworthy. A first query processes
    * half the feed and is STOPPED (planned maintenance / crash stand-
    * in); the remaining files — which re-send rows already ingested
    * before the stop, plus genuinely new ones — arrive while nothing
    * runs; a SECOND query starts from the same checkpoint. If the
    * dedup state and source offsets really persist, the pre-restart
    * duplicates are still recognized and dropped, and the sink holds
    * every event exactly once — the plain SELECT the oracle runs. The
    * sink writes one parquet dir per batch id, so a replayed batch
    * overwrites itself instead of double-appending (idempotent-by-
    * batchId, the foreachBatch exactly-once recipe).
    */
  def checkpointResume(spark0: SparkSession, dir: String): DataFrame = {
    // scoped state parallelism — see [[streamStreamJoin]]
    val spark = spark0.newSession()
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val checkpoint = Files.createTempDirectory("graft_resume_ckpt").toString
    val feed = graft.sources.Scratch.dir("resume_feed")
    val out = graft.sources.Scratch.dir("resume_out")
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val firstHalf = ev.filter(pmod(col("event_id"), lit(2)) === 0)
    firstHalf.coalesce(1).write.parquet(s"$feed/batch0")
    val feedSchema = spark.read.parquet(s"$feed/batch0").schema
    def runStream(): Unit = {
      val q = spark.readStream.schema(feedSchema)
        .option("maxFilesPerTrigger", 1).parquet(s"$feed/*")
        .dropDuplicates("event_id")
        .writeStream
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          batch.write.mode("overwrite").parquet(f"$out/v$id%04d")
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    runStream() // first life: evens only, then a clean stop
    // while the stream is DOWN: re-sends of already-ingested evens
    // (the cross-restart duplicates) mixed with the new odd half
    ev.filter(pmod(col("event_id"), lit(2)) === 1)
      .unionByName(firstHalf.filter(pmod(col("event_id"), lit(10)) === 0))
      .coalesce(1).write.parquet(s"$feed/batch1")
    new java.io.File(new java.io.File(feed), "batch1").listFiles().foreach(f =>
      f.setLastModified(System.currentTimeMillis() + 600000L))
    runStream() // second life: same checkpoint, restored state
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(checkpoint))
    spark.read.parquet(s"$out/v*")
  }

  val checkpointResumeSql: String =
    """SELECT event_id, user_id, event_type, value
       FROM events
       ORDER BY event_id"""

  /** Late-data DROP semantics, pinned down empirically: Spark filters
    * an input row as late iff its event time trails the PREVIOUS
    * batch's eviction watermark (the watermark lags one batch — a row
    * arriving in the same batch that evicts its window still merges
    * into the state, and a never-evicted window admits stragglers).
    * So a fixture that wants a guaranteed drop must put TWO batches
    * between the on-time data and the late data:
    *
    *  - batch 0: the even-event_id half of January (no eviction yet —
    *    the watermark is still at epoch);
    *  - batch 1: an "advance" row at Mar 1 — processed under batch 0's
    *    watermark, it evicts and emits (almost all) even windows;
    *  - batch 2: a second advance row at Mar 2 — after it, the
    *    LATE-filter watermark for the next batch is Mar 1 − 1h, weeks
    *    past every January timestamp (no boundary ambiguity), and the
    *    remaining even windows have been evicted;
    *  - batch 3: the odd half arrives. Every odd row trails the filter
    *    watermark by > 4 weeks against a 1h allowed lateness — all of
    *    them MUST drop;
    *  - batch 4: a year-2100 sentinel flushes the advance windows
    *    (filtered from the result, as are the advance rows).
    *
    * The compared output is therefore the hourly aggregate of ONLY the
    * even half — exactly what the oracle computes with an event_id
    * parity filter. An engine that failed to drop the late half would
    * emit extra or fatter windows and hash-mismatch. The spec
    * additionally asserts the numRowsDroppedByWatermark metric equals
    * the distinct late (window, type) group count (the state operator
    * sees partial-aggregated rows) — the drops are observed, not
    * assumed.
    */
  def lateDrop(spark0: SparkSession, dir: String): DataFrame =
    lateDropWithMetrics(spark0, dir)._1

  /** [[lateDrop]] plus (rowsDroppedByWatermark, lateRowCount) from the
    * stream's progress metrics, for spec assertions.
    */
  def lateDropWithMetrics(spark0: SparkSession,
      dir: String): (DataFrame, Long, Long) = {
    // scoped state parallelism — see [[streamStreamJoin]]
    val spark = spark0.newSession()
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val checkpoint = Files.createTempDirectory("graft_late_ckpt").toString
    val feed = graft.sources.Scratch.dir("late_feed")
    val out = graft.sources.Scratch.dir("late_out")
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts_utc"), col("event_type"), col("value"))
    val odd = ev.filter(pmod(col("event_id"), lit(2)) === 1)
    val oddCount = odd.count()
    ev.filter(pmod(col("event_id"), lit(2)) === 0)
      .coalesce(1).write.parquet(s"$feed/batch0")
    def oneRow(id: Long, ts: String, tpe: String, b: String): Unit =
      Seq((id, java.sql.Timestamp.valueOf(ts), tpe, 0.0))
        .toDF("event_id", "ts_utc", "event_type", "value")
        .coalesce(1).write.parquet(s"$feed/$b")
    oneRow(-2L, "2024-03-01 00:00:00", "advance", "batch1")
    oneRow(-3L, "2024-03-02 00:00:00", "advance", "batch2")
    odd.coalesce(1).write.parquet(s"$feed/batch3")
    oneRow(-1L, "2100-01-01 00:00:00", "sentinel", "batch4")
    // file-source order is by modification time: evens → advance ×2 →
    // late odds → sentinel, so the lateness relationship is fixed
    val now = System.currentTimeMillis()
    (0 to 4).foreach { i =>
      new java.io.File(new java.io.File(feed), s"batch$i").listFiles()
        .foreach(f => f.setLastModified(now + i * 600000L))
    }
    val feedSchema = spark.read.parquet(s"$feed/batch0").schema
    val q = spark.readStream.schema(feedSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$feed/*")
      .withWatermark("ts_utc", "1 hour")
      .groupBy(window(col("ts_utc"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(out)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val dropped = q.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
      .map(_.numRowsDroppedByWatermark).sum
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(checkpoint))
    (spark.read.parquet(out)
      .filter(col("window_start") < lit("2099-01-01").cast("timestamp") &&
        col("event_type") =!= "advance"),
      dropped, oddCount)
  }

  val lateDropSql: String =
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
       FROM events
       WHERE event_id % 2 = 0
       GROUP BY 1, 2
       ORDER BY 1, 2"""

  // ---- registry ------------------------------------------------------------
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_windowed_agg" -> ((s, d) =>
      windowedAgg(s, d).orderBy(col("window_start"), col("event_type"))),
    "stream_sessionize" -> ((s, d) =>
      sessionizeBatch(Tables.events(s, d))
        .orderBy(col("user_id"), col("session_idx"))),
    "stream_gold_daily" -> ((s, d) =>
      streamGoldDaily(s, d).orderBy(col("day"), col("payment_category"))),
    "stream_cdc_apply" -> ((s, d) =>
      streamCdcApply(s, d).orderBy(col("key_id"))),
    "stream_incr_gold" -> ((s, d) =>
      streamIncrGold(s, d).orderBy(col("day"), col("c_mktsegment"))),
    "stream_dedup" -> ((s, d) =>
      streamDedup(s, d).orderBy(col("event_id"))),
    "stream_windowed_append" -> ((s, d) =>
      windowedAppend(s, d).orderBy(col("window_start"), col("event_type"))),
    "stream_stream_join" -> ((s, d) =>
      streamStreamJoin(s, d).orderBy(col("click_id"), col("purchase_id"))),
    "stream_outer_join" -> ((s, d) =>
      streamOuterJoin(s, d).orderBy(col("click_id"), col("purchase_id"))),
    "stream_late_drop" -> ((s, d) =>
      lateDrop(s, d).orderBy(col("window_start"), col("event_type"))),
    "stream_checkpoint_resume" -> ((s, d) =>
      checkpointResume(s, d).orderBy(col("event_id"))))

  def oracles: Map[String, String] = Map(
    "stream_windowed_agg" -> windowedAggSql,
    "stream_sessionize" -> sessionizeSql,
    "stream_gold_daily" -> streamGoldDailySql,
    "stream_cdc_apply" -> graft.operators.Cdc.scd1Sql,
    "stream_incr_gold" -> streamIncrGoldSql,
    "stream_dedup" -> streamDedupSql,
    "stream_windowed_append" -> windowedAppendSql,
    "stream_stream_join" -> streamStreamJoinSql,
    "stream_outer_join" -> streamOuterJoinSql,
    "stream_late_drop" -> lateDropSql,
    "stream_checkpoint_resume" -> checkpointResumeSql)
}

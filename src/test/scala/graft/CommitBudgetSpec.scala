package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VersionedLake

/** Counter budgets for the versioned lake's commit paths: how many Spark
  * jobs one trickle commit runs, and how many data files it lands.
  * Both are plan properties — they do not move with machine load — so
  * a regression in the commit path's shape (an extra scan, collect,
  * checkpoint or exchange) fails here however fast the box is.
  *
  * The shape is the benchmark's `lake_cdc` trickle: a 4-bucket table of
  * 10k keys fed a 139-row change batch (updates, inserts and deletes,
  * one key repeated) read from parquet.
  */
class CommitBudgetSpec extends AnyFunSuite {
  import TestSpark._

  private val Buckets = 4
  private val TableKeys = 10000L
  private val TrickleRows = 139

  /** Jobs started under a private job group while `body` runs. The
    * listener bus is FIFO, so once a later sentinel job's end has been
    * delivered, every job start of `body` has been counted too.
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = "budget-" + java.util.UUID.randomUUID
    val sentinel = group + "-sentinel"
    val counted = new AtomicInteger
    val sentinelDone = new java.util.concurrent.CountDownLatch(1)
    def groupOf(p: java.util.Properties) =
      Option(p).flatMap(q => Option(q.getProperty("spark.jobGroup.id")))
    val sentinelJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groupOf(e.properties) match {
          case Some(`group`) => counted.incrementAndGet()
          case Some(`sentinel`) => sentinelJobs.add(e.jobId)
          case _ => ()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (sentinelJobs.contains(e.jobId)) sentinelDone.countDown()
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "commit budget")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "commit budget sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(sentinelDone.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus never delivered the sentinel job")
      (out, counted.get)
    } finally sc.removeSparkListener(l)
  }

  private def table(tag: String): String = {
    val path = graft.sources.Scratch.dir(tag)
    val init = spark.range(TableKeys).select(col("id").as("k"),
      (col("id") % 97).cast("double").as("v"), lit(1L).as("seq"))
    VersionedLake.upsert(spark, path, init, Seq("k"), "seq", Buckets)
    path
  }

  /** A trickle change batch landed as parquet and read back lazily, the
    * way a CDC feed reaches the lake: 60% updates, 20% inserts of new
    * keys, 20% deletes, plus one key changed twice.
    */
  private def trickle(tag: String, seq: Long): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seq)
    val rows = (0 until TrickleRows - 1).map { i =>
      val r = rnd.nextInt(10)
      val k = if (r < 2) TableKeys + seq * 1000 + i
        else rnd.nextInt(TableKeys.toInt).toLong
      (k, rnd.nextInt(10000) / 100.0, seq * 1000 + i, r >= 8)
    }
    val dup = rows.head.copy(_2 = -1.0, _3 = seq * 1000 + TrickleRows)
    val dir = graft.sources.Scratch.dir(tag + "_feed")
    (rows :+ dup).toDF("k", "v", "seq", "_deleted").coalesce(1)
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def dataFiles(path: String): Seq[String] =
    VersionedLake.resolvedManifest(spark, path,
      VersionedLake.versions(spark, path).last)
      .filter(l => l.startsWith("gbucket=") && !l.contains("\t"))

  private def bucketOf(rel: String): Int =
    rel.stripPrefix("gbucket=").takeWhile(_ != '/').toInt

  /** Files one commit added, per bucket. */
  private def addedPerBucket(before: Seq[String],
      after: Seq[String]): Map[Int, Int] =
    after.diff(before).groupBy(bucketOf).view.mapValues(_.size).toMap

  test("trickle dvUpsert: at most 12 jobs and one file per touched bucket") {
    val path = table("budget_mor")
    (1 to 2).foreach { i =>
      val batch = trickle(s"budget_mor$i", 10L + i)
      val before = dataFiles(path)
      val (_, jobs) = jobsOf(VersionedLake.dvUpsert(spark, path, batch,
        Seq("k"), "seq", Buckets))
      assert(jobs <= 12, s"dvUpsert #$i ran $jobs Spark jobs (budget 12)")
      val added = addedPerBucket(before, dataFiles(path))
      assert(added.nonEmpty && added.values.forall(_ == 1),
        s"dvUpsert #$i added files per bucket: $added")
    }
  }

  test("trickle upsert: at most 4 jobs and one file per touched bucket") {
    val path = table("budget_cow")
    (1 to 2).foreach { i =>
      val batch = trickle(s"budget_cow$i", 10L + i)
      val before = dataFiles(path)
      val (_, jobs) = jobsOf(VersionedLake.upsert(spark, path, batch,
        Seq("k"), "seq", Buckets))
      assert(jobs <= 4, s"upsert #$i ran $jobs Spark jobs (budget 4)")
      val after = dataFiles(path)
      val added = addedPerBucket(before, after)
      assert(added.nonEmpty && added.values.forall(_ == 1),
        s"upsert #$i added files per bucket: $added")
      // copy-on-write: each touched bucket is exactly its one new file
      assert(after.groupBy(bucketOf).view.mapValues(_.size).toMap
        .forall(_._2 == 1), s"upsert #$i left buckets with several files")
    }
  }

  /** The benchmark's lookup shape: 32 keys in a local frame, some of
    * them absent from the table.
    */
  private def lookupKeys: Seq[Long] =
    (0L until 32L).map(i => i * 331 % (TableKeys + 500))

  private def lookupRows(df: DataFrame): Seq[(Long, Double, Long)] =
    df.select("k", "v", "seq").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq.sorted

  private def lookupWithin(path: String, budget: Int): Unit = {
    import spark.implicits._
    val keys = lookupKeys
    val (got, jobs) = jobsOf(lookupRows(VersionedLake.readKeys(spark, path,
      keys.toDF("k"), Seq("k"))))
    assert(jobs <= budget, s"32-key lookup ran $jobs Spark jobs (budget $budget)")
    assert(got.nonEmpty)
    assert(got == lookupRows(VersionedLake.read(spark, path)
      .filter(col("k").isin(keys: _*))))
  }

  test("32-key lookup on the 4-bucket table: at most 1 job") {
    lookupWithin(table("budget_lookup"), 1)
  }

  test("32-key lookup on a table whose files carry DVs: at most 3 jobs") {
    val path = table("budget_lookup_dv")
    VersionedLake.dvUpsert(spark, path, trickle("budget_lookup_dv", 30L),
      Seq("k"), "seq", Buckets)
    val m = VersionedLake.resolvedManifest(spark, path,
      VersionedLake.versions(spark, path).last)
    assert(m.exists(_.startsWith("dv\t")), "fixture carries no DVs")
    lookupWithin(path, 3)
  }

  test("two-column-key lookup returns what read + filter returns") {
    import spark.implicits._
    val path = graft.sources.Scratch.dir("budget_lookup_pair")
    VersionedLake.upsert(spark, path,
      (0L until 400L).map(i => (i % 20, s"r${i / 20}", i.toDouble, 1L))
        .toDF("a", "b", "v", "seq"), Seq("a", "b"), "seq", Buckets)
    VersionedLake.dvDelete(spark, path, Seq((3L, "r4")).toDF("a", "b"),
      Seq("a", "b"), Buckets)
    // hits, a deleted key, absent keys, a null part and a repeat
    val keys = Seq[(java.lang.Long, String)]((1L, "r2"), (3L, "r4"),
      (7L, "r19"), (7L, "r20"), (25L, "r1"), (null, "r3"), (1L, "r2"))
    val (got, jobs) = jobsOf(VersionedLake.readKeys(spark, path,
      keys.toDF("a", "b"), Seq("a", "b")).select("a", "b", "v").as[(Long,
      String, Double)].collect().toSeq.sorted)
    val want = VersionedLake.read(spark, path)
      .filter(keys.filter(_._1 != null)
        .map { case (a, b) => col("a") === a && col("b") === b }.reduce(_ || _))
      .select("a", "b", "v").as[(Long, String, Double)].collect().toSeq.sorted
    assert(got == want && got.map(k => (k._1, k._2)) == Seq((1L, "r2"),
      (7L, "r19")), s"got $got, want $want")
    assert(jobs <= 3, s"two-column lookup ran $jobs Spark jobs")
  }

  test("compactDvs rewrites each DV-carrying bucket into one file") {
    import spark.implicits._
    // position deletes only: every bucket's one file carries a DV
    val path = table("budget_compact")
    VersionedLake.dvDelete(spark, path,
      (0L until 400L by 7).toDF("k"), Seq("k"), Buckets)
    val before = dataFiles(path)
    VersionedLake.compactDvs(spark, path, Buckets)
    val after = dataFiles(path)
    assert(after.groupBy(bucketOf).view.mapValues(_.size).toMap ==
      (0 until Buckets).map(_ -> 1).toMap, s"after compaction: $after")
    assert(after.intersect(before).isEmpty)
    val m = VersionedLake.resolvedManifest(spark, path,
      VersionedLake.versions(spark, path).last)
    assert(!m.exists(_.startsWith("dv\t")), "compaction left DV mappings")
    // after a MOR append, the rewrite is one file per touched bucket
    // beside the clean appended files it carries
    VersionedLake.dvUpsert(spark, path, trickle("budget_compact", 20L),
      Seq("k"), "seq", Buckets)
    val mid = dataFiles(path)
    VersionedLake.compactDvs(spark, path, Buckets)
    val added = addedPerBucket(mid, dataFiles(path))
    assert(added.nonEmpty && added.values.forall(_ == 1),
      s"compactDvs added files per bucket: $added")
    assert(VersionedLake.read(spark, path).count() ==
      VersionedLake.read(spark, path, Some(VersionedLake.versions(spark,
        path).last - 1)).count())
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Skew
import graft.sources.{LakeWriter, VersionedLake}

class LakeSpec extends AnyFunSuite {
  import TestSpark._

  test("partitioned write produces hive-style partitions, dynamic overwrite") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lake").toString + "/t1"
    val df = Seq((1, "2024-01-01", 10.0), (2, "2024-01-02", 20.0))
      .toDF("id", "d", "v")
    LakeWriter.writePartitioned(df, dir, Seq("d"))
    assert(new java.io.File(dir, "d=2024-01-01").exists())
    // dynamic overwrite: rewriting one partition leaves the other intact
    val df2 = Seq((3, "2024-01-02", 99.0)).toDF("id", "d", "v")
    LakeWriter.writePartitioned(df2, dir, Seq("d"))
    val back = spark.read.parquet(dir)
    assert(back.count() == 2)
    assert(back.filter(col("d") === "2024-01-02").head().getAs[Double]("v") == 99.0)
  }

  test("partitioned write leaves the session's overwrite mode alone") {
    // own session: the shared one may carry state from earlier suites
    val s2 = spark.newSession()
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = s2.conf.get(key)
    val base = Files.createTempDirectory("graft_lake").toString
    val df = s2.createDataFrame(Seq((1, "a"), (2, "b"))).toDF("id", "p")
    LakeWriter.writePartitioned(df, s"$base/t", Seq("p"))
    assert(s2.conf.get(key) == before)
    // a later plain partitioned overwrite in the same session stays
    // static: it replaces the whole table, not just the touched partition
    df.write.partitionBy("p").mode("overwrite").parquet(s"$base/u")
    df.filter(col("p") === "a").write.partitionBy("p").mode("overwrite")
      .parquet(s"$base/u")
    assert(s2.read.parquet(s"$base/u").count() == 1)
  }

  test("upsert merges by key with last-writer-wins and delete support") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lake").toString + "/t2"
    val base = Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L))
      .toDF("id", "payload", "seq")
    VersionedLake.upsert(spark, dir, base, Seq("id"), "seq")
    val upd = Seq((2L, "b2", 2L, false), (3L, "c", 2L, true), (4L, "d", 2L, false))
      .toDF("id", "payload", "seq", "_deleted")
    VersionedLake.upsert(spark, dir, upd, Seq("id"), "seq")
    val out = LakeWriter.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("payload")))
    assert(out.toSeq == Seq((1L, "a"), (2L, "b2"), (4L, "d")))
    // tombstone semantics: a late update with an OLDER sequence must not
    // resurrect the deleted key
    val late = Seq((3L, "c-late", 1L, false)).toDF("id", "payload", "seq", "_deleted")
    VersionedLake.upsert(spark, dir, late, Seq("id"), "seq")
    val ids = LakeWriter.read(spark, dir).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(!ids.contains(3L), "late stale update resurrected a deleted key")
  }

  test("crashed compact swap: the next compact restores the backup") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lake").toString + "/t2c"
    (1 to 100).toDF("x").repartition(4).write.parquet(dir)
    // simulate a crash between moving the live dir aside and moving the
    // compacted dir in: only path_old exists
    val f = new java.io.File(dir)
    val old = new java.io.File(dir + "_old")
    assert(f.renameTo(old))
    // the next compact restores the backup, then compacts it
    LakeWriter.compact(spark, dir, 1)
    assert(f.exists() && !old.exists())
    assert(f.listFiles().count(_.getName.endsWith(".parquet")) == 1)
    assert(spark.read.parquet(dir).count() == 100)
  }

  test("compact preserves the partition layout of a partitioned directory") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lake").toString + "/t6"
    val df = (1 to 100).map(i => (i, s"p${i % 4}")).toDF("id", "p")
    df.repartition(8).write.partitionBy("p").parquet(dir)
    LakeWriter.compact(spark, dir, 2)
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("p=")).map(_.getName).toSet
    assert(parts.size == 4, s"compact flattened the partition layout: $parts")
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("p="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(files.forall(_ == 1), s"files per partition: ${files.toSeq}")
    assert(spark.read.parquet(dir).count() == 100)
  }

  test("compact reduces file count") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lake").toString + "/t3"
    (1 to 100).toDF("x").repartition(16).write.parquet(dir)
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet")) > 1)
    LakeWriter.compact(spark, dir, 1)
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet")) == 1)
    assert(spark.read.parquet(dir).count() == 100)
  }

  test("partition filters prune partitions at the scan") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lake").toString + "/t4"
    val df = (1 to 100).map(i => (i, s"2024-01-${i % 4 + 1}")).toDF("id", "d")
    LakeWriter.writePartitioned(df, dir, Seq("d"), clusterCols = Seq("id"))
    val q = spark.read.parquet(dir).filter(col("d") === "2024-01-02")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.contains("2024-01-02"), s"partition filter not pushed:\n$scan")
    assert(q.count() == df.filter(col("d") === "2024-01-02").count())
  }

  test("salted aggregation equals direct aggregation") {
    val li = Tables.lineitem(spark, sf)
    val direct = li.groupBy(col("l_suppkey"))
      .agg(operators.Medallion.dsum(col("l_extendedprice")).as("total"),
        count(lit(1)).as("n"))
      .orderBy(col("l_suppkey")).collect()
    val salted = Skew.saltedAgg(li, Seq(col("l_suppkey")), saltBuckets = 8,
      partials = Seq(
        sum(col("l_extendedprice").cast("decimal(18,4)")).as("ps"),
        count(lit(1)).as("pn")),
      merges = Seq(
        sum(col("ps")).cast("double").as("total"),
        sum(col("pn")).as("n")))
      .orderBy(col("l_suppkey")).collect()
    assert(direct.length == salted.length)
    direct.zip(salted).foreach { case (d, s) =>
      assert(d.getAs[Long]("l_suppkey") == s.getAs[Long]("l_suppkey"))
      assert(d.getAs[Double]("total") == s.getAs[Double]("total"))
      assert(d.getAs[Long]("n") == s.getAs[Long]("n"))
    }
  }

  test("stats-pruned read skips files yet equals the full-scan filter") {
    import graft.sources.StatsSkipping
    val path = graft.sources.Scratch.dir("stats_spec")
    StatsSkipping.writeClustered(Tables.lineitem(spark, sf), path,
      "l_shipdate", numFiles = 8)
    val (kept, total) = StatsSkipping.selectFiles(spark, path,
      "l_shipdate", StatsSkipping.Lo, StatsSkipping.Hi)
    // a ~6-month window over a ~7-year clustered domain must prune
    assert(total == 8, s"expected 8 manifest entries, got $total")
    assert(kept.nonEmpty && kept.size < total,
      s"no pruning: kept ${kept.size} of $total")
    val pruned = StatsSkipping.prunedRead(spark, path, "l_shipdate",
      StatsSkipping.Lo, StatsSkipping.Hi)
      .orderBy("l_orderkey", "l_linenumber").collect()
    val full = spark.read.parquet(path)
      .filter(col("l_shipdate") >= lit(StatsSkipping.Lo).cast("timestamp") &&
        col("l_shipdate") <= lit(StatsSkipping.Hi).cast("timestamp"))
      .orderBy("l_orderkey", "l_linenumber").collect()
    assert(pruned.length == full.length && pruned.sameElements(full))
  }

  test("z-order layout prunes files on BOTH clustered dimensions") {
    import graft.sources.{StatsSkipping, ZOrder}
    val path = graft.sources.Scratch.dir("zorder_spec")
    ZOrder.writeZOrdered(Tables.lineitem(spark, sf), path,
      "l_shipdate", "l_extendedprice", numFiles = 16)
    val (keptDate, total) = StatsSkipping.selectFiles(spark, path,
      "l_shipdate", "1995-01-01 00:00:00", "1995-06-30 23:59:59")
    val (keptPrice, _) = StatsSkipping.selectFiles(spark, path,
      "l_extendedprice", ZOrder.PriceLo, ZOrder.PriceHi)
    assert(total == 16, s"expected 16 manifest entries, got $total")
    assert(keptDate.nonEmpty && keptDate.size < total,
      s"date predicate pruned nothing: ${keptDate.size}/$total")
    assert(keptPrice.nonEmpty && keptPrice.size < total,
      s"price predicate pruned nothing: ${keptPrice.size}/$total")
    // pruned read equals full-scan filter on the non-leading dimension
    val pruned = StatsSkipping.prunedRead(spark, path, "l_extendedprice",
      ZOrder.PriceLo, ZOrder.PriceHi).count()
    val full = spark.read.parquet(path)
      .filter(col("l_extendedprice") >= ZOrder.PriceLo.toDouble &&
        col("l_extendedprice") <= ZOrder.PriceHi.toDouble).count()
    assert(pruned == full)
  }

  test("fnv1a64 is callable from SQL via GraftExtensions") {
    val r = spark.sql("SELECT fnv1a64('foobar') AS h").head()
    assert(r.getLong(0) == 0x85944171f73967e8L)
  }
}

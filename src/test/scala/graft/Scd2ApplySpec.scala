package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Scd2Apply

/** Incremental SCD2 maintenance: out-of-order batches, neighbor-window
  * rewrites, replay idempotence, and delete-closer semantics.
  */
class Scd2ApplySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def chg(rows: (Long, String, Double, Long)*) =
    rows.map { case (k, op, v, s) => (k, op, v, s"p$k", s) }
      .toDF("key_id", "operation", "value", "props", "sequence_number")

  private def hist(table: String): Seq[(Long, Double, Long, Option[Long],
      Boolean)] =
    Scd2Apply.readHistory(spark, table).collect()
      .map(r => (r.getAs[Long]("key_id"), r.getAs[Double]("value"),
        r.getAs[Long]("__start_at"),
        Option(r.getAs[java.lang.Long]("__end_at")).map(_.toLong),
        r.getAs[Boolean]("__is_current")))
      .sortBy(t => (t._1, t._3)).toSeq

  test("out-of-order batch rewrites the neighbor's validity window") {
    val table = graft.sources.Scratch.dir("scd2a_spec")
    Scd2Apply.applyBatch(spark, table,
      chg((1L, "INSERT", 1.0, 10L), (1L, "UPDATE", 3.0, 30L)))
    assert(hist(table) == Seq(
      (1L, 1.0, 10L, Some(30L), false), (1L, 3.0, 30L, None, true)))
    // a LATE change lands BETWEEN the two versions: the first row's
    // window must shrink to end at 20
    Scd2Apply.applyBatch(spark, table, chg((1L, "UPDATE", 2.0, 20L)))
    assert(hist(table) == Seq(
      (1L, 1.0, 10L, Some(20L), false), (1L, 2.0, 20L, Some(30L), false),
      (1L, 3.0, 30L, None, true)))
  }

  test("replayed batches are idempotent; deletes close without a row") {
    val table = graft.sources.Scratch.dir("scd2a_spec2")
    val b1 = chg((5L, "INSERT", 1.0, 1L), (5L, "DELETE", 0.0, 9L))
    Scd2Apply.applyBatch(spark, table, b1)
    val after1 = hist(table)
    // the delete CLOSES version 1 and emits no visible row
    assert(after1 == Seq((5L, 1.0, 1L, Some(9L), false)), after1.toString)
    Scd2Apply.applyBatch(spark, table, b1) // verbatim replay
    assert(hist(table) == after1, "replay changed the history")
    // a post-delete re-insert opens a new current version
    Scd2Apply.applyBatch(spark, table, chg((5L, "INSERT", 7.0, 20L)))
    assert(hist(table) == Seq(
      (5L, 1.0, 1L, Some(9L), false), (5L, 7.0, 20L, None, true)))
  }

  private def bucketOf(k: Long): Int = spark.range(1).select(
    pmod(hash(lit(k)), lit(Scd2Apply.NB))).head().getInt(0)

  test("untouched buckets are not rewritten") {
    val table = graft.sources.Scratch.dir("scd2a_spec3")
    // two keys in DIFFERENT buckets
    val k2 = (2L to 200L).find(bucketOf(_) != bucketOf(1L)).get
    Scd2Apply.applyBatch(spark, table,
      chg((1L, "INSERT", 1.0, 1L), (k2, "INSERT", 2.0, 1L)))
    val b2 = bucketOf(k2)
    def mtimes(b: Int): Map[String, Long] =
      new java.io.File(s"$table/gbucket=$b").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    val before = mtimes(b2)
    Thread.sleep(1100)
    Scd2Apply.applyBatch(spark, table, chg((1L, "UPDATE", 9.0, 5L)))
    assert(mtimes(b2) == before,
      s"a batch touching only key 1 rewrote key $k2's bucket")
  }

  test("untouched key in a TOUCHED bucket carries over verbatim") {
    val table = graft.sources.Scratch.dir("scd2a_spec4")
    // two keys in the SAME bucket: one gets the update, the other must
    // carry over row-identically (never re-resolved)
    val k2 = (2L to 2000L).find(bucketOf(_) == bucketOf(1L)).getOrElse(
      fail(s"no second key found in bucket ${bucketOf(1L)}"))
    Scd2Apply.applyBatch(spark, table,
      chg((1L, "INSERT", 1.0, 10L), (k2, "INSERT", 2.0, 10L),
        (k2, "UPDATE", 4.0, 20L)))
    def rowsOf(k: Long): Seq[String] =
      spark.read.parquet(table).filter(col("key_id") === k)
        .drop("gbucket").collect().map(_.toString).sorted.toSeq
    val before = rowsOf(k2)
    assert(before.size == 2, before.toString)
    Scd2Apply.applyBatch(spark, table, chg((1L, "UPDATE", 9.0, 30L)))
    assert(rowsOf(k2) == before,
      s"untouched key $k2 in the touched bucket was altered")
    assert(rowsOf(1L).size == 2, "the batch key was not re-resolved")
  }

  test("three batches leave one live file per bucket and one version") {
    val table = graft.sources.Scratch.dir("scd2a_spec5")
    val keys = 1L to 200L
    Scd2Apply.applyBatch(spark, table,
      chg(keys.map(k => (k, "INSERT", k.toDouble, 10L)): _*))
    Scd2Apply.applyBatch(spark, table,
      chg(keys.filter(_ % 2 == 0).map(k => (k, "UPDATE", -1.0, 30L)): _*))
    // out of order: lands between the two earlier versions
    Scd2Apply.applyBatch(spark, table,
      chg(keys.filter(_ % 4 == 0).map(k => (k, "UPDATE", -2.0, 20L)): _*))
    val dirs = new java.io.File(table).listFiles()
      .filter(_.getName.startsWith("gbucket="))
    assert(dirs.length == Scd2Apply.NB, dirs.map(_.getName).toSeq.sorted)
    val perBucket = dirs.map(d =>
      d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    assert(perBucket.values.forall(_ == 1), perBucket.toSeq.sorted.toString)
    assert(graft.sources.VersionedLake.versions(spark, table).size == 1)
    val h = hist(table)
    assert(h.size == 200 + 100 + 50)
    assert(h.filter(_._1 == 4L) == Seq((4L, 4.0, 10L, Some(20L), false),
      (4L, -2.0, 20L, Some(30L), false), (4L, -1.0, 30L, None, true)))
  }
}

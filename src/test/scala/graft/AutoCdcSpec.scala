package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Cdc

final case class Chg(id: Long, seq: Long, op: String, payload: String)

class AutoCdcSpec extends AnyFunSuite {
  import TestSpark._

  private val feed = Seq(
    Chg(1, 1, "INSERT", "a1"),
    Chg(1, 3, "UPDATE", "a3"),
    Chg(1, 2, "UPDATE", "a2"),     // out-of-order: must NOT win
    Chg(2, 1, "INSERT", "b1"),
    Chg(2, 2, "DELETE", ""),
    Chg(2, 3, "INSERT", "b3"),     // reinsert after delete
    Chg(3, 1, "INSERT", "c1"),
    Chg(3, 2, "DELETE", ""))       // key 3 ends deleted

  test("applyChanges SCD1 resolves out-of-order, delete, and reinsert") {
    import spark.implicits._
    val out = Cdc.applyChanges(feed.toDF(), Seq("id"), "seq", "op", Cdc.ScdType1)
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("payload")))
    assert(out.toSeq == Seq((1L, "a3"), (2L, "b3")))
  }

  test("applyChanges SCD2 opens a fresh version after delete+reinsert") {
    import spark.implicits._
    val hist = Cdc.applyChanges(feed.toDF(), Seq("id"), "seq", "op", Cdc.ScdType2)
      .orderBy("id", "__start_at").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("payload"),
        r.getAs[Long]("__start_at"),
        Option(r.getAs[java.lang.Long]("__end_at")).map(_.toLong),
        r.getAs[Boolean]("__is_current")))
    assert(hist.toSeq == Seq(
      (1L, "a1", 1L, Some(2L), false),
      (1L, "a2", 2L, Some(3L), false),
      (1L, "a3", 3L, None, true),
      (2L, "b1", 1L, Some(2L), false),
      (2L, "b3", 3L, None, true),
      (3L, "c1", 1L, Some(2L), false)))
  }

  test("streaming SCD1 converges to batch SCD1 across arbitrary batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_autocdc").toString
    val path = s"$dir/t"
    val ckpt = s"$dir/ckpt"

    val mem = MemoryStream[Chg]
    val q = streaming.EventStreams.streamingScd1(
      mem.toDF(), path, Seq("id"), "seq", "op", ckpt)
    try {
      mem.addData(feed.take(4)) // batch 1
      q.processAllAvailable()
      mem.addData(feed.drop(4)) // batch 2
      q.processAllAvailable()
    } finally q.stop()

    val streamed = sources.LakeWriter.read(spark, path)
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("payload")))
    assert(streamed.toSeq == Seq((1L, "a3"), (2L, "b3")))
  }

  test("a micro-batch whose write throws leaves the table at its prior state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_autocdc_fail").toString
    val path = s"$dir/t"
    // a generated column that raises for id 9: the batch's bucket
    // collect never evaluates it, so the staged write itself fails
    // (adaptive execution off, so the write job, not an earlier
    // exchange job, is the one that fails — after staging began)
    val aqe = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    val mem = MemoryStream[Chg]
    val q = try streaming.EventStreams.streamingScd1(
      mem.toDF(), path, Seq("id"), "seq", "op", s"$dir/ckpt")
      finally spark.conf.set(aqe, prev)
    val before = try {
      mem.addData(feed)
      q.processAllAvailable()
      sources.VersionedLake.addGeneratedColumn(spark, path, "g",
        "CASE WHEN id = 9 THEN raise_error('boom') ELSE id * 2 END")
      val rows = sources.LakeWriter.read(spark, path).collect().toSet
      mem.addData(Chg(1, 4, "UPDATE", "a4"), Chg(9, 1, "INSERT", "i1"))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      rows
    } finally q.stop()
    assert(sources.LakeWriter.read(spark, path).collect().toSet == before)
    val left = new java.io.File(dir).list().filter(_.startsWith("t_"))
    assert(left.isEmpty, s"left behind: ${left.mkString(", ")}")
  }

  test("generated adversarial feed resolves per the tie-break contract") {
    val rows = operators.CdcGen.convergence(spark).collect()
      .map(r => r.getAs[Long]("key_id") ->
        (r.getAs[Boolean]("is_live"), Option(r.getAs[java.lang.Long]("current_value"))))
      .toMap
    assert(rows.size == operators.CdcGen.Keys)
    // delete-before-insert (k % 11 = 0, reopened by later batches): live
    assert(rows(11L)._1 && rows(22L)._1)
    // ends deleted (k % 5 = 0, no tie row): dropped from SCD1
    assert(!rows(5L)._1 && !rows(10L)._1)
    // same-sequence tie row wins for k % 7 = 0: value carries the +5000
    assert(rows(7L)._1 && rows(7L)._2.exists(_ >= 5000L))
    // k % 35 = 0: the tie UPDATE contends with that batch's DELETE at the
    // SAME sequence — operation DESC keeps the key alive
    assert(rows(35L)._1 && rows(35L)._2.exists(_ >= 5000L))
    assert(rows(0L)._1 && rows(0L)._2.exists(_ >= 5000L))
  }
}

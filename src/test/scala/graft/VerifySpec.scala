package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class VerifySpec extends AnyFunSuite {
  import TestSpark._

  private def assertErrorMarker(out: String, name: String,
      message: String): Unit = {
    val marker = spark.read.parquet(s"$out/$name")
    assert(marker.columns.toSeq == Seq("_graft_error"))
    assert(marker.count() == 0)
    val stack = Files.readString(Paths.get(s"$out/_errors/$name.txt"))
    assert(stack.contains(message), stack)
  }

  test("a query that throws while building lands as an error marker") {
    val out = Files.createTempDirectory("graft_verify").toString
    Verify.dump(spark, "boom", sys.error("failure at plan time"), out)
    assertErrorMarker(out, "boom", "failure at plan time")
  }

  test("a query that throws while executing lands as an error marker") {
    val out = Files.createTempDirectory("graft_verify").toString
    val fail = udf { (x: Long) =>
      if (x >= 0) throw new IllegalStateException("failure at run time")
      x
    }
    Verify.dump(spark, "late", spark.range(3).select(fail(col("id"))), out)
    assertErrorMarker(out, "late", "failure at run time")
  }

  test("a working query dumps its rows and no error file") {
    val out = Files.createTempDirectory("graft_verify").toString
    Verify.dump(spark, "ok", spark.range(5).toDF("n"), out)
    assert(spark.read.parquet(s"$out/ok").count() == 5)
    assert(!Files.exists(Paths.get(s"$out/_errors")))
  }
}

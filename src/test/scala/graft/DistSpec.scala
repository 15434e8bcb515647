package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DistSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("globalRowNumber == the one-partition window, skew + multi-col") {
    // skewed, shuffled, multi-column order (unique per row), fewer
    // rows than partitions in one bucket — every offset edge case
    val rows = (1L to 997L).map(i => (i % 7, i * 31 % 1009, s"k$i"))
    val df = rows.toDF("a", "b", "k").repartition(13)
    val order = Seq(col("a"), col("b"), col("k"))
    val slow = df.withColumn("rn",
      row_number().over(Window.orderBy(order: _*)).cast("long"))
    val fast = Dist.globalRowNumber(df, order, 16, "rn")
    assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty)
    // more partitions than rows
    val tiny = rows.take(5).toDF("a", "b", "k")
    val tinySlow = tiny.withColumn("rn",
      row_number().over(Window.orderBy(order: _*)).cast("long"))
    val tinyFast = Dist.globalRowNumber(tiny, order, 16, "rn")
    assert(tinyFast.exceptAll(tinySlow).isEmpty &&
      tinySlow.exceptAll(tinyFast).isEmpty)
  }

  test("globalNtile == ntile over the one-partition window") {
    // every (n mod k) residue, n < k, and a skewed multi-col order —
    // the r17 customer_rfm distributed-quartile equivalence
    val order = Seq(col("a"), col("b"), col("k"))
    for (n <- Seq(3L, 4L, 5L, 997L, 1000L); k <- Seq(4, 7)) {
      val rows = (1L to n).map(i => (i % 5, i * 31 % 1009, s"k$i"))
      val df = rows.toDF("a", "b", "k").repartition(7)
      val slow = df.withColumn("q",
        ntile(k).over(Window.orderBy(order: _*)))
      val fast = Dist.globalNtile(df, order, k, 16, "q")
      assert(Dist.multisetEqual(fast, slow), s"ntile($k) over n=$n")
    }
  }

  test("globalRunningSum == running-sum window, decimal-exact") {
    // the r17 supplier_pareto distributed form: rank + running decimal
    // sum + grand total, bit-identical to the single-partition window
    import org.apache.spark.sql.types.DecimalType
    val rows = (1L to 503L).map(i =>
      (i, BigDecimal(i * 7919 % 100000) / 100))
    val df = rows.toDF("k", "v0")
      .withColumn("v", col("v0").cast(DecimalType(28, 4))).drop("v0")
      .repartition(11)
    val order = Seq(col("v").desc, col("k"))
    val byV = Window.orderBy(order: _*)
    val slow = df
      .withColumn("rnk", row_number().over(byV).cast("long"))
      .withColumn("cum", sum(col("v")).over(
        byV.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum(col("v")).over(Window.partitionBy()))
    val fast = Dist.globalRunningSum(df, order, col("v"), 16,
      "rnk", "cum", "total")
    // data types must match exactly (the decimal window-sum result
    // type); nullability may differ on the total literal — the gate's
    // FINAL schema is pinned in InsightsSpec instead
    assert(slow.schema.map(f => (f.name, f.dataType)) ==
      fast.schema.map(f => (f.name, f.dataType)),
      s"schema drift: ${slow.schema} vs ${fast.schema}")
    assert(Dist.multisetEqual(fast, slow))
  }

  test("multisetEqual == exceptAll both ways") {
    val a = Seq((1, "x"), (1, "x"), (2, "y")).toDF("n", "s")
    val b = Seq((1, "x"), (2, "y"), (1, "x")).toDF("n", "s")
    val c = Seq((1, "x"), (2, "y")).toDF("n", "s") // multiplicity differs
    assert(Dist.multisetEqual(a, b))
    assert(!Dist.multisetEqual(a, c) && !Dist.multisetEqual(c, a))
  }

  test("multisetEqual rejects frames whose column sets differ") {
    val a = Seq((1, "x")).toDF("n", "s")
    val b = Seq((1, "x", 0)).toDF("n", "s", "stray")
    intercept[IllegalArgumentException](Dist.multisetEqual(a, b))
    intercept[IllegalArgumentException](Dist.multisetEqual(b, a))
  }

  test("globalRunningSum refuses a non-DECIMAL value, naming its type") {
    val df = (1L to 10L).map(i => (i, i * 3)).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      Dist.globalRunningSum(df, Seq(col("k")), col("v"), 4,
        "rnk", "cum", "total")
    }
    assert(e.getMessage.contains("bigint"), e.getMessage)
  }

  test("multisetEqual compares input columns named like its helpers") {
    // frames that differ only in a column named `_sgn` (or `_d`) must
    // compare unequal, and identical ones equal: helper columns never
    // replace or shadow an input column
    for (name <- Seq("_sgn", "_SGN", "_d")) {
      val a = Seq((1, 5), (2, 6)).toDF("n", name)
      val b = Seq((1, 5), (2, 7)).toDF("n", name)
      assert(!Dist.multisetEqual(a, b), name)
      assert(Dist.multisetEqual(a, a.orderBy(col("n").desc)), name)
    }
  }

  test("hitsAndTotal compares an input column named like its helper") {
    val out = Seq((1L, 1), (2L, 0)).toDF("p", "_h")
    val truth = Seq((1L, 1), (2L, 1)).toDF("p", "_h")
    val (h, t) = Dist.hitsAndTotal(out, truth)
    assert(h == out.intersect(truth).count() && t == truth.count())
    assert(h == 1L && t == 2L)
  }

  test("globalRowNumber and globalNtile keep an input column named _grn_pid") {
    val rows = (1L to 97L).map(i => (i, i * 31 % 1009, i % 5))
    val df = rows.toDF("a", "b", "_grn_pid").repartition(5)
    val order = Seq(col("b"), col("a"))
    val rn = Dist.globalRowNumber(df, order, 8, "rn")
    assert(Dist.multisetEqual(rn, df.withColumn("rn",
      row_number().over(Window.orderBy(order: _*)).cast("long"))))
    val q = Dist.globalNtile(df, order, 4, 8, "q")
    assert(Dist.multisetEqual(q, df.withColumn("q",
      ntile(4).over(Window.orderBy(order: _*)))))
  }

  test("globalRunningSum keeps an input column named _grs_v") {
    import org.apache.spark.sql.types.DecimalType
    val df = (1L to 97L).map(i => (i, BigDecimal(i * 7919 % 1000) / 10))
      .toDF("k", "v0")
      .withColumn("_grs_v", col("v0").cast(DecimalType(18, 2))).drop("v0")
      .repartition(5)
    val order = Seq(col("_grs_v").desc, col("k"))
    val byV = Window.orderBy(order: _*)
    val slow = df
      .withColumn("rnk", row_number().over(byV).cast("long"))
      .withColumn("cum", sum(col("_grs_v")).over(
        byV.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum(col("_grs_v")).over(Window.partitionBy()))
    val fast = Dist.globalRunningSum(df, order, col("_grs_v"), 8,
      "rnk", "cum", "total")
    assert(Dist.multisetEqual(fast, slow))
  }

  test("hitsAndTotal == intersect().count() + truth.count()") {
    val out = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("p", "n")
    val truth = Seq((1L, 10L), (2L, 10L), (2L, 12L)).toDF("p", "n")
    val (h, t) = Dist.hitsAndTotal(out, truth)
    assert(h == out.intersect(truth).count() && t == truth.count())
    assert(h == 2L && t == 3L)
  }

  test("hitsAndTotal matches NULL-keyed rows as intersect does") {
    val out = Seq((Some(1L), 10L), (None, 11L), (Some(3L), 13L))
      .toDF("p", "n")
    val truth = Seq((Some(1L), 10L), (None, 11L), (Some(2L), 12L))
      .toDF("p", "n")
    val (h, t) = Dist.hitsAndTotal(out, truth)
    assert(h == out.intersect(truth).count() && t == truth.count())
    assert(h == 2L && t == 3L)
  }

  test("lake fresh-id allocation is threshold-independent") {
    // the adaptive switch in assignFreshRowIds is pure cost policy:
    // drive one upsert through each branch and prove the SAME ids land
    // in the files. The threshold is exercised by temporarily forcing
    // the distributed branch via a tiny synthetic threshold — not
    // possible without a knob, so instead prove the two ranking forms
    // agree on exactly the frame shape the allocator ranks
    // ((gbucket, key), post-resolution fresh rows).
    val fresh = (1L to 500L).map(i => (i % 16, i, s"v$i"))
      .toDF("gbucket", "k", "v").repartition(9)
    val order = Seq(col("gbucket"), col("k"))
    val hwm0 = 1234L
    val viaWindow = fresh.withColumn("_row_id", lit(hwm0) +
      row_number().over(Window.orderBy(order: _*)).cast("long"))
    val viaDist = Dist.globalRowNumber(fresh, order, 32, "_grn")
      .withColumn("_row_id", lit(hwm0) + col("_grn")).drop("_grn")
    assert(viaDist.exceptAll(viaWindow).isEmpty &&
      viaWindow.exceptAll(viaDist).isEmpty)
  }
}

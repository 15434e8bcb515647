package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed equivalents of driver-serializing constructs.
  *
  * [[globalRowNumber]] replaces `row_number().over(Window.orderBy(…))`
  * — which moves the WHOLE frame through one partition — with
  * range-partition + within-partition rank + driver-side partition
  * offsets (`parts` longs through the driver, centroid-scale). Ranks
  * depend only on the global order, which range partitioning preserves
  * (every row in partition i sorts before partition i+1), so the
  * output is bit-identical to the global window at any partition
  * count — provided the order columns are unique per row (ties would
  * make BOTH forms partition-dependent). Sole caller today: the
  * graph-ANN long-link rank table, above
  * [[graft.operators.GraphAnn]]'s `RankDistThreshold` (small corpora
  * keep the one-partition window, which is cheaper than a shuffle at
  * gate scale). The lake's fresh row-id allocation stays window-only
  * by design — its allocations are batch-grain, never corpus-grain.
  */
object Dist {

  /** A column-name prefix no column of `cols` starts with (Spark
    * resolves names case-insensitively, so neither may a differently
    * cased one): helper columns named `<prefix><anything>` can never
    * replace or shadow an input column.
    */
  private def freshPrefix(cols: Seq[String]): String = {
    val lower = cols.map(_.toLowerCase(java.util.Locale.ROOT))
    Iterator.from(0).map(i => s"_dist$i")
      .find(p => !lower.exists(_.startsWith(p))).get
  }

  /** Multiset equality of two same-schema frames in ONE Spark job —
    * the signed-multiset trick the manifest-delta gate pioneered
    * (LakeGatesOps `travelExact`): union with ±1 signs, group by every
    * column, any non-zero sign-sum means the multisets differ. Exactly
    * equivalent to `a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty`
    * (both-directions-empty ⟺ equal multiplicities for every row),
    * which costs TWO jobs, each re-executing both subtrees (r17
    * optimization: the lake gates assert set equality 9 times per
    * board run — guide §1.2 "don't compute things you throw away").
    * Columns are matched by NAME; both frames must expose the same
    * column set, or the call throws — a stray column on either side is
    * a caller bug, never silently projected away.
    */
  def multisetEqual(a: DataFrame, b: DataFrame): Boolean = {
    require(a.columns.toSet == b.columns.toSet,
      s"multisetEqual needs equal column sets: ${a.columns.mkString(",")} " +
        s"vs ${b.columns.mkString(",")}")
    val cols = a.columns.toSeq
    val p = freshPrefix(cols)
    val (sgn, d) = (s"${p}_sgn", s"${p}_d")
    a.withColumn(sgn, lit(1))
      .unionByName(b.select(cols.map(col): _*).withColumn(sgn, lit(-1)))
      .groupBy(cols.map(col): _*)
      .agg(sum(col(sgn)).as(d))
      .filter(col(d) =!= 0)
      .isEmpty
  }

  /** (|distinct(out) ∩ distinct(truth)|, |truth|) in ONE job — the
    * recall-honesty pattern `out.intersect(truth).count()` +
    * `truth.count()` costs TWO jobs, each re-executing the expensive
    * exact-truth subtree (r17; guide §1.2). Equivalent by
    * construction: the left join flags which truth rows appear in
    * `out`, countDistinct dedups exactly as intersect does, count(*)
    * is the raw truth cardinality. Columns matched by name, NULL-safe
    * (`<=>`) as intersect matches them: a NULL in a compared column
    * still counts as a hit.
    */
  def hitsAndTotal(out: DataFrame, truth: DataFrame): (Long, Long) = {
    val cols = truth.columns.toSeq
    val p = freshPrefix(cols)
    val outCols = cols.indices.map(i => s"${p}_out$i")
    val h = s"${p}_h"
    val hits = out.select(cols.zip(outCols).map { case (c, o) =>
        col(c).as(o) }: _*).distinct().withColumn(h, lit(1))
    val r = truth.join(hits,
        cols.zip(outCols).map { case (c, o) => col(c) <=> col(o) }
          .reduce(_ && _), "left")
      .agg(
        countDistinct(when(col(h) === 1,
          struct(cols.map(col): _*))).as("hits"),
        count(lit(1)).as("total")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** `df` plus `out` = the 1-based global row number under `order`.
    * Requires `order` to be unique per row (see object doc).
    */
  def globalRowNumber(df: DataFrame, order: Seq[Column], parts: Int,
      out: String): DataFrame = {
    val pid = freshPrefix(df.columns.toSeq :+ out) + "_pid"
    val p = df.repartitionByRange(parts, order: _*)
      .withColumn(pid, spark_partition_id())
    Caching.withCached(p) {
      val counts = p.groupBy(col(pid)).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val offsets = (0 until parts).map { i =>
        (i, (0 until i).map(counts.getOrElse(_, 0L)).sum)
      }
      val offsetExpr = offsets.foldLeft(lit(0L)) { case (e, (i, off)) =>
        when(col(pid) === i, lit(off)).otherwise(e)
      }
      val pw = Window.partitionBy(col(pid)).orderBy(order: _*)
      p.withColumn(out,
          row_number().over(pw).cast("long") + offsetExpr)
        .drop(pid)
    }
  }

  /** `df` plus `out` = `ntile(k)` under the GLOBAL `order`, computed
    * without a single-partition window: [[globalRowNumber]] plus the
    * closed-form SQL NTILE bucket rule (the first n % k buckets get
    * ⌈n/k⌉ rows, the rest ⌊n/k⌋ — Spark's and DuckDB's shared
    * definition), with n taken from the rank pass's own partition
    * counts (no extra job). Bit-identical to
    * `ntile(k).over(Window.orderBy(order))` for any per-row-unique
    * `order` (DistSpec pins it), INT result like Spark's ntile.
    */
  def globalNtile(df: DataFrame, order: Seq[Column], k: Int, parts: Int,
      out: String): DataFrame = {
    val r = freshPrefix(df.columns.toSeq :+ out) + "_r"
    val ranked = globalRowNumber(df, order, parts, r)
    // n from a cheap count over the already-checkpointed rank frame
    // (globalRowNumber materializes via withCached)
    val n = ranked.count()
    val nBig = n % k // buckets holding one extra row
    val bigSz = n / k + 1
    val smallSz = math.max(n / k, 1L) // guarded: unused when n < k
    val cut = nBig * bigSz
    // exact integer division: (a - a mod b) / b — the numerator is an
    // exact multiple of b, so the IEEE division is exact below 2^53
    def idiv(a: org.apache.spark.sql.Column, b: Long) =
      ((a - pmod(a, lit(b))) / lit(b)).cast("long")
    val r0 = col(r) - 1 // 0-based rank
    val bucket = when(r0 < cut, idiv(r0, bigSz))
      .otherwise(lit(nBig) + idiv(r0 - lit(cut), smallSz))
    ranked.withColumn(out, (bucket + 1).cast("int")).drop(r)
  }

  /** `df` plus 1-based global rank (`rankOut`) and the RUNNING SUM of
    * `value` under the global `order` (`cumOut`), plus the grand total
    * as a literal column (`totalOut`) — the Pareto/concentration shape
    * without the single-partition window: range partition on `order`,
    * per-partition running sums, and a driver-side prefix of the
    * partition sums (`parts` decimals through the driver). Exact for
    * DECIMAL values (the offsets ride as BigDecimal literals); the cum
    * column is cast to `sum(value)`'s own window result type so both
    * forms are type- and bit-identical (DistSpec pins it). DECIMAL
    * only: any other value type is refused up front.
    */
  def globalRunningSum(df: DataFrame, order: Seq[Column],
      value: org.apache.spark.sql.Column, parts: Int, rankOut: String,
      cumOut: String, totalOut: String): DataFrame = {
    val valueType = df.select(value).schema.head.dataType
    require(valueType.isInstanceOf[org.apache.spark.sql.types.DecimalType],
      s"globalRunningSum sums DECIMAL values only; got " +
        s"${valueType.simpleString} — cast the value to a DECIMAL first")
    val h = freshPrefix(df.columns.toSeq ++ Seq(rankOut, cumOut, totalOut))
    val (pid, v) = (s"${h}_pid", s"${h}_v")
    val p = df.repartitionByRange(parts, order: _*)
      .withColumn(pid, spark_partition_id())
      .withColumn(v, value)
    Caching.withCached(p) {
      val sums = p.groupBy(col(pid))
        .agg(count(lit(1)).as("_n"), sum(col(v)).as("_s"))
        .collect().map(r => r.getInt(0) ->
          ((r.getLong(1), Option(r.getDecimal(2))
            .map(BigDecimal(_)).getOrElse(BigDecimal(0)))))
        .toMap
      val cntOff = (0 until parts).map { i =>
        (i, (0 until i).map(j => sums.get(j).map(_._1).getOrElse(0L)).sum)
      }
      val sumOff = (0 until parts).map { i =>
        (i, (0 until i).map(j => sums.get(j).map(_._2)
          .getOrElse(BigDecimal(0))).sum)
      }
      val total = sums.values.map(_._2).foldLeft(BigDecimal(0))(_ + _)
      val cntExpr = cntOff.foldLeft(lit(0L)) { case (e, (i, off)) =>
        when(col(pid) === i, lit(off)).otherwise(e)
      }
      val sumExpr = sumOff.foldLeft(lit(BigDecimal(0)).cast(
        org.apache.spark.sql.types.DecimalType(38, 18))) {
        case (e, (i, off)) =>
          when(col(pid) === i, lit(off.underlying())).otherwise(e)
      }
      val pw = Window.partitionBy(col(pid)).orderBy(order: _*)
      // the window-sum result type (e.g. Decimal(38,4) over a (28,4)
      // input) is what the single-window form produces — pin it
      val sumType = df.select(sum(value)
        .over(Window.partitionBy(lit(1)).orderBy(order: _*))).schema
        .head.dataType
      p.withColumn(rankOut,
          row_number().over(pw).cast("long") + cntExpr)
        .withColumn(cumOut,
          (sum(col(v)).over(pw.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)) +
            sumExpr).cast(sumType))
        .withColumn(totalOut, lit(total.underlying()).cast(sumType))
        .drop(pid, v)
    }
  }
}

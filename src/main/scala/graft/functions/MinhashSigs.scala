package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The full LSH index row in one kernel: all k minhash signatures
  * `sig_j = min_g ((pmod(g, P) · a_j + b_j) mod P)` in ONE pass over a
  * document's gram hash array, folded straight into their BAND HASHES —
  * `band_i = fnv1a64("s_lo,…,s_hi")` over the ","-joined decimal
  * signatures of the band's rows, exactly the
  * `fnv1a64(concat_ws(",", sig_lo..sig_hi))` column formulation.
  *
  * A per-row kernel inside whole-stage codegen: no explode, no
  * exchange. Banding happens inside the kernel because exposing the
  * signature ARRAY and slicing it with k `element_at` projections
  * re-evaluates the kernel once per projection after CollapseProject
  * inlines it; here there is ONE evaluation per row, and the caller
  * `posexplode`s the result — a Generate evaluates its child once.
  * Values are bit-identical to the DuckDB oracle's unnest+MIN mirror.
  *
  * Null/empty contract: an EMPTY gram array yields null (such a doc
  * has no signature — callers filter nulls before banding), and a null
  * element poisons the row to null rather than a wrong signature.
  */
case class MinhashBands(child: Expression, a: Array[Long], b: Array[Long],
    bands: Int) extends UnaryExpression {

  require(a.length == b.length && a.length % bands == 0,
    "k must be a multiple of bands")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true

  override protected def nullSafeEval(grams: Any): Any =
    MinhashSigs.bandHashes(grams.asInstanceOf[ArrayData], a, b, bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", a, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", b, "long[]")
    nullSafeCodeGen(ctx, ev, g => {
      val r = ctx.freshName("minhashBands")
      s"""org.apache.spark.sql.catalyst.util.ArrayData $r =
         |  graft.functions.MinhashSigs.bandHashes($g, $aRef, $bRef, $bands);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashBands =
    copy(child = newChild)

  override def prettyName: String = "minhash_bands"
}

object MinhashSigs {
  /** 2^31 − 1, the Mersenne prime shared with the DuckDB oracle. */
  final val Prime = 2147483647L

  private def sigArray(g: ArrayData, a: Array[Long],
      b: Array[Long]): Array[Long] = {
    val n = g.numElements()
    if (n == 0) return null
    val k = a.length
    val out = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (g.isNullAt(i)) return null
      val h = ((g.getLong(i) % Prime) + Prime) % Prime
      var j = 0
      while (j < k) {
        val v = (h * a(j) + b(j)) % Prime
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    out
  }

  /** Called from generated code: band hashes of the ","-joined decimal
    * signature slices (bit-equal to
    * `fnv1a64(concat_ws(",", sig_lo..sig_hi))`).
    */
  def bandHashes(g: ArrayData, a: Array[Long], b: Array[Long],
      bands: Int): ArrayData = {
    val sig = sigArray(g, a, b)
    if (sig == null) return null
    val rows = sig.length / bands
    val out = new Array[Long](bands)
    val sb = new java.lang.StringBuilder(rows * 11)
    var bi = 0
    while (bi < bands) {
      sb.setLength(0)
      var j = bi * rows
      while (j < (bi + 1) * rows) {
        if (j > bi * rows) sb.append(',')
        sb.append(sig(j))
        j += 1
      }
      out(bi) = Fnv1a64.hashBytes(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      bi += 1
    }
    new GenericArrayData(out)
  }
}
